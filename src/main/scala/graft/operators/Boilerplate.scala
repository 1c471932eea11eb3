package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** HTML/markup boilerplate removal — the trafilatura/jusText-shaped
  * pre-cleaning stage every crawl-fed pipeline runs BEFORE the text
  * batteries ([[TextQuality]]) ever see a document: strip markup,
  * score each block's link density, and extract the main content,
  * dropping navigation chrome, footers, and link-farm lines
  * (Kohlschuetter et al. 2010 "Boilerplate Detection Using Shallow
  * Text Features"; Pomikalek 2011 jusText). The verdict unit is the
  * BLOCK (a block-level element's visible text), exactly the unit the
  * line-level machinery downstream (C4 line rules, line_dedup)
  * consumes.
  *
  * The synthetic corpus carries no markup, so — the media-family
  * pattern ([[Multimodal.wavMediaTable]]) — [[htmlView]] wraps each
  * document's relineated lines into a deterministic closed-form page:
  * head + title (outside body — extraction must skip it), a nav block
  * of pure links, one `<p>` per line (every (doc_id+idx)%5==2 line
  * gets a trailing "read more" anchor, every (doc_id+idx)%13==5 line
  * an entity-escaped token " a&lt;b"), and a footer mixing text,
  * anchors, and an `&amp;` entity. Line text is entity-ESCAPED into
  * the page, so the extractor must unescape to reproduce it — the
  * oracle predicts every verdict from the closed form in SQL, and
  * only a parser that walks the body, strips tags, decodes entities,
  * and measures anchor text can match it.
  *
  * Verdicts, exactly (so a second engine can replay them): per block,
  * visible = entity-decoded tag-stripped inner text, text = trim
  * (visible), n_words = whitespace tokens of text, link_len = decoded
  * anchor-text length, link_density = link_len / text_len (1.0 for
  * empty text — a pure-markup block is all boilerplate). A block is
  * CONTENT iff it is a `<p>` with n_words >= 5 and link_len * 100 <=
  * text_len * 33 — the density gate decided in INTEGER arithmetic so
  * the boundary never depends on float rounding (the reported
  * link_density column is informational, rounded to 6 dp).
  *
  * Scale shape: pure per-row projection end to end — parse, strip,
  * score, and verdict are narrow codegen'd expressions; one
  * posexplode per page (the page's own blocks); no shuffle until the
  * presentation sort. At 100 TB this runs at scan speed, which is
  * precisely why real pipelines run boilerplate removal first.
  */
object Boilerplate {

  /** Entity-escape for synthesis: &, <, > — ampersand FIRST. */
  private def esc(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))

  /** Entity-decode for extraction: &lt;/&gt; first, &amp; LAST (the
    * standard order — decoding & first would double-decode).
    */
  private def unesc(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      lit("&lt;"), lit("<")), lit("&gt;"), lit(">")), lit("&amp;"), lit("&"))

  private val Nav =
    """<nav><a href="/">home</a> <a href="/a">about us</a></nav>"""
  private val Footer =
    """<footer>copyright 2024 <a href="/p">privacy</a> &amp; """ +
      """<a href="/t">terms</a></footer>"""

  /** The deterministic HTML page over `docs`' relineated lines —
    * (doc_id, html). Every structural choice is integer arithmetic on
    * (doc_id, line index), so DuckDB re-derives the byte-identical
    * page and every extraction rule has planted violators at every
    * scale factor.
    */
  private[graft] def htmlView(docs: DataFrame): DataFrame =
    TextQuality.relineated(docs)
      .withColumn("lines", split(col("text"), "\n"))
      .select(col("doc_id"),
        concat(
          lit("<html><head><title>Document "), col("doc_id"),
          lit("</title></head><body>\n"), lit(Nav), lit("\n"),
          array_join(transform(col("lines"), (l, i) => concat(
            lit("<p>"), esc(l),
            when(pmod(col("doc_id") + i, lit(13)) === 5,
              " a&lt;b").otherwise(""),
            when(pmod(col("doc_id") + i, lit(5)) === 2,
              """ <a href="/m">read more</a>""").otherwise(""),
            lit("</p>"))), "\n"),
          lit("\n"), lit(Footer), lit("\n</body></html>")).as("html"))

  /** Per-block boilerplate verdicts over the page table: walk the
    * body's block elements in document order, strip tags, decode
    * entities, measure anchor text. (doc_id, block_idx, tag, n_words,
    * text_len, link_len, link_density, keep).
    *
    * Malformed-input contract (the codec-seam posture — a crawl
    * inevitably contains junk, and a pipeline drops it, it does not
    * die): a page with no `<body>` yields zero blocks (the doc is
    * absent), an UNCLOSED block element never matches the walk and is
    * skipped while well-formed siblings still extract, and arbitrary
    * bytes never throw — the extraction is pure regex + string
    * projection, total on any input. [[graft.BoilerplateSpec]] pins
    * each corner.
    */
  def blockVerdicts(pages: DataFrame): DataFrame = {
    val body = regexp_extract(col("html"), "(?s)<body>(.*)</body>", 1)
    val visible = unesc(regexp_replace(col("inner"), "<[^>]*>", ""))
    val linkRaw = array_join(regexp_extract_all(col("inner"),
      lit("<a[^>]*>(.*?)</a>"), lit(1)), "")
    pages
      .select(col("doc_id"),
        posexplode(regexp_extract_all(body,
          lit("(?s)<(p|nav|footer)>.*?</\\1>"), lit(0)))
          .as(Seq("block_idx", "blk")))
      .select(col("doc_id"), col("block_idx"),
        regexp_extract(col("blk"), "^<([a-z]+)>", 1).as("tag"),
        regexp_replace(col("blk"), "^<[a-z]+>|</[a-z]+>$", "").as("inner"))
      .select(col("doc_id"), col("block_idx"), col("tag"),
        trim(visible).as("text"), length(unesc(linkRaw)).as("link_len"))
      .select(col("doc_id"), col("block_idx").cast("int").as("block_idx"),
        col("tag"),
        size(filter(split(col("text"), "[ \t]+"), w => length(w) > 0))
          .cast("long").as("n_words"),
        length(col("text")).cast("long").as("text_len"),
        col("link_len").cast("long").as("link_len"),
        col("text"))
      .withColumn("link_density",
        when(col("text_len") === 0, 1.0)
          .otherwise(round(col("link_len").cast("double") /
            col("text_len").cast("double"), 6)))
      .withColumn("keep",
        col("tag") === "p" && col("n_words") >= 5L &&
          col("link_len") * 100 <= col("text_len") * 33)
  }

  /** Registry: per-block verdicts, presentation order. */
  def boilerplateBlocks(spark: SparkSession, dir: String): DataFrame =
    blockVerdicts(htmlView(Tables.documents(spark, dir)))
      .drop("text")
      .localCheckpoint(eager = false)
      .orderBy(col("doc_id"), col("block_idx"))

  /** The extracted main content as a (doc_id, text) corpus — kept
    * blocks' text joined by newline in document order (empty string
    * when nothing survives; every synthesized page has blocks, so
    * every doc appears). This is the hand-off surface to the
    * downstream text batteries.
    */
  private[graft] def extractedCorpus(v: DataFrame): DataFrame =
    v.groupBy(col("doc_id")).agg(keptTextAgg.as("text"))

  /** THE kept-text assembly — kept blocks' text joined by newline in
    * block order, empty string when nothing survives. One definition
    * shared by [[extractedCorpus]] (the html_curated hand-off) and
    * [[boilerplateFilter]]'s clean_md5, so the digest contract and the
    * downstream bytes can never silently drift apart.
    */
  private def keptTextAgg: Column =
    coalesce(
      array_join(
        filter(
          transform(
            array_sort(collect_list(struct(col("block_idx"),
              col("keep"), col("text")))),
            s => when(s.getField("keep"), s.getField("text"))),
          x => x.isNotNull),
        "\n"), lit(""))

  /** Registry: the COMPOSED pipeline stage — the C4 quality battery
    * ([[TextQuality.c4Filter]]) over the boilerplate-EXTRACTED main
    * content, exactly the order a real crawl pipeline runs them
    * (markup removal first, line-level quality rules on what
    * survives). The composition is semantically load-bearing, not a
    * rerun: extraction changes the downstream verdicts (a planted C4
    * violator line that boilerplate already dropped — the 4-word
    * brace trailer — no longer trips has_brace), and the oracle
    * replays BOTH stages in SQL, so only an engine whose extraction
    * feeds its quality rules the same bytes matches.
    */
  def htmlCurated(spark: SparkSession, dir: String): DataFrame =
    TextQuality.c4Filter(extractedCorpus(
      blockVerdicts(htmlView(Tables.documents(spark, dir)))))

  /** Registry: the per-doc main-content extraction digest — block
    * counts, kept ratio, and the md5 of the extracted content (kept
    * blocks' text joined by newline in document order) as the
    * provenance record a downstream stage verifies against, the
    * [[TextQuality.c4Filter]] clean_md5 convention. keep = the doc
    * retains at least 3 content blocks.
    */
  def boilerplateFilter(spark: SparkSession, dir: String): DataFrame = {
    val v = blockVerdicts(htmlView(Tables.documents(spark, dir)))
    v.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(keptTextAgg).as("clean_md5"))
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        round(col("n_kept").cast("double") /
          col("n_blocks").cast("double"), 4).as("kept_ratio"),
        col("clean_md5"),
        (col("n_kept") >= 3L).as("keep"))
      .localCheckpoint(eager = false)
      .orderBy(col("doc_id"))
  }

  /** Shared by boilerplate_blocks and boilerplate_filter: per-block
    * signals predicted from the closed-form HTML page
    * ([[graft.operators.Boilerplate.htmlView]] — nav at block 0, one
    * `<p>` per relineated line with the planted entity token and
    * "read more" anchor, footer last). The oracle never parses HTML:
    * it derives each block's visible text, word count, and anchor-text
    * length directly from the integer arithmetic the page was built
    * with, so only an extractor that actually walks the body, strips
    * tags, and decodes entities can match it.
    */
  private val BoilerSigCte: String = TextQuality.RelineatedCte + """,
    |ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM structured),
    |lb AS (
    |  SELECT doc_id, i AS block_idx, 'p' AS tag,
    |    ls[i]
    |      || CASE WHEN (doc_id + i - 1) % 13 = 5 THEN ' a<b' ELSE '' END
    |      || CASE WHEN (doc_id + i - 1) % 5 = 2 THEN ' read more' ELSE '' END AS vis,
    |    CASE WHEN (doc_id + i - 1) % 5 = 2 THEN 9 ELSE 0 END AS link_len
    |  FROM ls, unnest(range(1, len(ls) + 1)) AS t(i)),
    |nv AS (
    |  SELECT doc_id, 0 AS block_idx, 'nav' AS tag,
    |    'home about us' AS vis, 12 AS link_len
    |  FROM structured),
    |ft AS (
    |  SELECT doc_id, len(ls) + 1 AS block_idx, 'footer' AS tag,
    |    'copyright 2024 privacy & terms' AS vis, 12 AS link_len
    |  FROM ls),
    |blocks AS (
    |  SELECT * FROM nv UNION ALL SELECT * FROM lb UNION ALL SELECT * FROM ft),
    |sig AS (
    |  SELECT doc_id, CAST(block_idx AS INT) AS block_idx, tag,
    |    CAST(len(list_filter(string_split_regex(trim(vis), '[ \t]+'),
    |      w -> length(w) > 0)) AS BIGINT) AS n_words,
    |    CAST(length(trim(vis)) AS BIGINT) AS text_len,
    |    CAST(link_len AS BIGINT) AS link_len,
    |    trim(vis) AS text
    |  FROM blocks),
    |verd AS (
    |  SELECT *,
    |    CASE WHEN text_len = 0 THEN 1.0
    |         ELSE round(CAST(link_len AS DOUBLE) / text_len, 6)
    |    END AS link_density,
    |    (tag = 'p' AND n_words >= 5
    |      AND link_len * 100 <= text_len * 33) AS keep
    |  FROM sig)""".stripMargin

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    // trafilatura/jusText-shaped markup removal over the closed-form
    // HTML page view: tag strip + entity decode + per-block link
    // density; verdicts and the extracted-content digest replay in SQL
    // boilerplate removal: every block verdict predicted from the
    // closed-form page — see BoilerSigCte
    Query("boilerplate_blocks", (s, d) => boilerplateBlocks(s, d),
      (BoilerSigCte + """
        |SELECT doc_id, block_idx, tag, n_words, text_len, link_len,
        |  link_density, keep
        |FROM verd ORDER BY doc_id, block_idx""".stripMargin)),
    Query("boilerplate_filter", (s, d) => boilerplateFilter(s, d),
      (BoilerSigCte + """,
        |per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    md5(coalesce(string_agg(CASE WHEN keep THEN text END,
        |      chr(10) ORDER BY block_idx), '')) AS clean_md5
        |  FROM verd GROUP BY doc_id)
        |SELECT doc_id, n_blocks, n_kept,
        |  round(CAST(n_kept AS DOUBLE) / n_blocks, 4) AS kept_ratio,
        |  clean_md5, n_kept >= 3 AS keep
        |FROM per ORDER BY doc_id""".stripMargin)),
    // the composed crawl-pipeline stage: C4 line rules over the
    // boilerplate-EXTRACTED main content — both stages replayed in SQL
    // html_curated: BOTH pipeline stages replayed — the extracted
    // main content (kept blocks joined in document order) becomes the
    // corpus the c4_filter rules run over
    Query("html_curated", (s, d) => htmlCurated(s, d),
      (BoilerSigCte + """,
        |cleaned AS (
        |  SELECT doc_id, coalesce(string_agg(CASE WHEN keep THEN text END,
        |    chr(10) ORDER BY block_idx), '') AS text
        |  FROM verd GROUP BY doc_id),
        |base AS (
        |  SELECT doc_id, text,
        |    string_split(text, chr(10)) AS lines,
        |    list_filter(string_split(text, chr(10)), l ->
        |      regexp_matches(trim(l), '[.!?"]$')
        |      AND len(list_filter(string_split_regex(trim(l), '[ \t]+'), w -> length(w) > 0)) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS kept,
        |    list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0) AS ws
        |  FROM cleaned),
        |csig AS (
        |  SELECT doc_id,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |    round(CASE WHEN len(lines) = 0 THEN 0.0 ELSE CAST(len(kept) AS DOUBLE) / len(lines) END, 4) AS kept_ratio,
        |    CAST(len(regexp_extract_all(coalesce(array_to_string(kept, chr(10)), ''), '[.!?]')) AS BIGINT) AS n_sentences,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem,
        |    contains(text, '{') AS has_brace,
        |    (list_contains(ws, 'viagra') OR list_contains(ws, 'casino')
        |      OR list_contains(ws, 'xxx')) AS has_blocked,
        |    md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
        |  FROM base)
        |SELECT *,
        |  n_sentences >= 3 AND NOT has_lorem AND NOT has_brace
        |    AND NOT has_blocked AS keep
        |FROM csig ORDER BY doc_id""".stripMargin)))
}
