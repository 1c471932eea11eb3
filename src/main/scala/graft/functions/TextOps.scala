package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives with the exact semantics of the reference engine's
  * tokenizer/normalizer, expressed as codegen-friendly Catalyst built-ins
  * (no UDFs anywhere — every helper returns a `Column` tree that stays
  * inside whole-stage codegen).
  *
  * Reference semantics (see `/root/reference/src/tema1.cpp`):
  *  - tokenize: split on space/tab/newline ONLY (`" \n\t"`, tema1.cpp:144);
  *    punctuation and hyphens do NOT split words.
  *  - normalize: delete every non-ASCII-alpha byte, lowercase the rest
  *    (tema1.cpp:88-99): `don't`->`dont`, `end.Begin`->`endbegin`.
  *  - empty-after-normalize tokens are filtered out, never null
  *    (tema1.cpp:148-151).
  */
object TextOps {
  /** Reference split set: space, tab, newline — NOT `\s` (tema1.cpp:144). */
  val TokenSplitRe = "[ \t\n]+"

  /** `text -> array<string>` raw tokens. */
  def tokenize(text: Column): Column = split(text, TokenSplitRe)

  /** Strip non-alpha bytes + lowercase (tema1.cpp:88-99). */
  def normalize(token: Column): Column =
    lower(regexp_replace(token, "[^a-zA-Z]", ""))

  /** `text -> array<string>` of normalized non-empty words. */
  def words(text: Column): Column =
    filter(transform(tokenize(text), normalize _), w => length(w) > 0)

  /** Row-wise word stream: `keep... , word` — one row per normalized
    * non-empty word of `text`. Prefer this over
    * `explode(words(text))` in aggregation pipelines: the array
    * higher-order functions are interpreted (CodegenFallback), while
    * explode(split) -> regexp_replace -> filter runs entirely inside
    * whole-stage codegen. Identical word-stream semantics.
    */
  def explodedWords(df: org.apache.spark.sql.DataFrame, keep: Column*)
      : org.apache.spark.sql.DataFrame =
    df.select(keep :+ explode(tokenize(col("text"))).as("tok"): _*)
      .select(keep :+ normalize(col("tok")).as("word"): _*)
      .filter(length(col("word")) > 0)

  /** Whitespace token count (cheap, single pass, no explode). */
  def tokenCount(text: Column): Column =
    size(filter(tokenize(text), t => length(t) > 0))

  /** BPE-ish subword count: alpha runs, digit runs, and single
    * punctuation marks each count as one token — a deterministic proxy
    * for byte-pair tokenizers that needs no vocabulary.
    */
  def bpeishTokenCount(text: Column): Column =
    size(filter(
      split(text, "(?<=[^a-zA-Z0-9])|(?=[^a-zA-Z0-9])"),
      t => length(trim(t)) > 0))

  /** Character k-shingles of the normalized word stream, the near-dup
    * dedup unit: join words with a single space, then slide a k-char
    * window. Returns `array<string>` (possibly empty for short docs).
    */
  def charShingles(text: Column, k: Int): Column = {
    val joined = array_join(words(text), " ")
    val n = length(joined) - (k - 1)
    when(n > 0,
      transform(sequence(lit(1), n), i => joined.substr(i, lit(k))))
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-grams as joined strings, e.g. n=3 -> "a b c". */
  def wordNgrams(text: Column, n: Int): Column = {
    val ws = words(text)
    val cnt = size(ws) - (n - 1)
    when(cnt > 0,
      transform(sequence(lit(0), cnt - 1),
        i => array_join(slice(ws, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** The normalized word stream as one space-joined string — provably
    * equal to `array_join(words(text), " ")` (property-tested) but
    * computed with pure regex/string ops that stay inside whole-stage
    * codegen: strip non-alpha keeping separators, lowercase, collapse
    * separator runs (which also swallows tokens that normalized to
    * empty), trim the ends.
    */
  def normalizedStream(text: Column): Column =
    trim(regexp_replace(
      lower(regexp_replace(text, "[^a-zA-Z \t\n]", "")),
      "[ \t\n]+", " "))

  /** Deterministic 64-bit fingerprint of the normalized word stream —
    * a content hash that ignores punctuation/case/whitespace layout,
    * the exact-dedup key for noisy text.
    */
  def fingerprint(text: Column): Column =
    xxhash64(normalizedStream(text))

  /** Stopword ratio over a fixed small English set (quality signal). */
  private val Stopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "on", "for", "it", "that", "this", "with", "as", "by", "at")

  /** Takes a precomputed word array — higher-order array
    * functions are interpreted (CodegenFallback), so callers computing
    * several stats should materialize `words(text)` once and use the
    * `*Of` forms.
    */
  def stopwordRatioOf(ws: Column): Column = {
    val stops = filter(ws, w => w.isin(Stopwords.map(x => x: Any): _*))
    when(size(ws) > 0, size(stops).cast("double") / size(ws).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Punctuation density: non-alnum-non-space chars / total chars. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      length(regexp_replace(text, "[a-zA-Z0-9 \t\n]", "")).cast("double") /
        length(text).cast("double"))
      .otherwise(lit(0.0))

  /** Mean word length of the normalized stream. */
  def meanWordLenOf(ws: Column): Column =
    when(size(ws) > 0,
      aggregate(ws, lit(0L), (acc, w) => acc + length(w).cast("long"))
        .cast("double") / size(ws).cast("double"))
      .otherwise(lit(0.0))

  /** Composite quality score in [0,1]: rewards moderate length, low
    * punctuation density, and a natural stopword ratio. Deterministic,
    * single pass.
    */
  def qualityScoreOf(text: Column, ws: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 4.0, lit(1.0))
    val stopScore = lit(1.0) - abs(stopwordRatioOf(ws) - lit(0.35)) * 2.0
    round((lenScore + punctScore + greatest(stopScore, lit(0.0))) / 3.0, 4)
  }

  def qualityScore(text: Column): Column = qualityScoreOf(text, words(text))
}
