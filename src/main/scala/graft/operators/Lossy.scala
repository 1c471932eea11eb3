package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import Multimodal.{Codec, MediaRecord, RasterHash}

/** A LOSSY codec through the media seam — the property none of the
  * container families (WAV/BMP/PNG/GIF, all bit-exact) could prove:
  * decode ≠ the encoded source, yet the PERCEPTUAL fingerprint family
  * survives the re-encode. This is the JPEG shape — quantize, store
  * coefficients, dequantize — reduced to its deterministic core so the
  * oracle can replay every decoded byte in closed-form SQL (the round's
  * "simpler deterministic quantizer" option): no DCT, but a real
  * quantization seam where the stored scan bytes are `p / q` and the
  * reconstruction is the bucket midpoint `(p/q)*q + q/2`, so no byte of
  * the decode equals the payload for q > 1 and information is genuinely
  * destroyed (two source pixels in one bucket decode identically).
  *
  * Container: JPEG-shaped marker segments, big-endian u16 lengths that
  * INCLUDE the two length bytes (the JPEG convention), SOI first, EOI
  * last: SOI (FFD8) · APP0-ish skip segment (FFE0, variable body — the
  * ancillary-walk test) · DQT (FFDB) carrying the one-byte quantizer ·
  * SOF0-ish frame header (FFC0, u16 height THEN u16 width — JPEG's
  * order) · SOS (FFDA) followed by exactly w*h coefficient bytes · EOI.
  * Contract on bad input: empty decode, never a throw; no truncation
  * salvage (the PNG/GIF posture — a cut coefficient stream lies about
  * the declared geometry). [[graft.LossySpec]] pins each corner.
  *
  * Why it matters at 100 TB: crawl pipelines re-encode every image at
  * ingest; exact hashes (sha/md5) are useless across that boundary.
  * The demonstration here is END-TO-END: the original and a lossy
  * re-encode of every image run through the SAME decode → dHash →
  * chunk-blocked hamming join machinery as [[Multimodal.mediaNearDup]],
  * and the (original, re-encoded) pairs come out — quantization is
  * monotone non-decreasing, so a brightness gradient never REVERSES
  * under it (a `>` can only collapse to `=`), which is exactly why a
  * gradient hash survives lossy compression while byte hashes die.
  */
object Lossy {

  /** Quantizer for a doc: 1 (lossless), 4, or 16 by doc_id % 3 —
    * exercises the identity path and two real compression levels.
    */
  private[graft] def qFor(docId: Long): Int = (docId % 3) match {
    case 0 => 1
    case 1 => 4
    case _ => 16
  }

  /** [[qFor]] as a Column — one definition for every table builder. */
  private def qCol: org.apache.spark.sql.Column =
    when(col("doc_id") % 3 === 0, 1)
      .when(col("doc_id") % 3 === 1, 4).otherwise(16)

  /** Dequantized value of source byte `a` under quantizer `q` —
    * THE closed form the oracle replays: bucket midpoint, integer
    * arithmetic only. Monotone non-decreasing in `a`.
    */
  private[graft] def dq(a: Int, q: Int): Int =
    if (q == 1) a else math.min(255, a / q * q + q / 2)

  object JpegishCodec extends Codec {

    /** Geometry-aware decode — (width, height, dequantized pixels);
      * (0, 0, empty) on any malformation (the PngCodec.decodeRaster
      * contract — the perceptual family needs the raster shape).
      */
    def decodeRaster(p: Array[Byte]): (Int, Int, Array[Byte]) = {
      def u16(i: Int): Int = (p(i) & 0xff) << 8 | (p(i + 1) & 0xff)
      val bad = (0, 0, Array.emptyByteArray)
      if (p.length < 4 || (p(0) & 0xff) != 0xff || (p(1) & 0xff) != 0xd8)
        return bad
      var off = 2
      var q = 0; var w = 0; var h = 0
      var sawSof = false
      // segment walk: every segment is FF <marker> <u16 len incl. len
      // bytes> until SOS, whose scan data is raw
      while (true) {
        if (off + 2 > p.length) return bad
        if ((p(off) & 0xff) != 0xff) return bad
        val marker = p(off + 1) & 0xff
        off += 2
        marker match {
          case 0xda => // SOS: len, then exactly w*h scan bytes, then EOI
            if (off + 2 > p.length || u16(off) != 2) return bad
            off += 2
            if (!sawSof || q == 0) return bad
            val n = w * h
            if (off + n + 2 != p.length) return bad // no salvage, no slack
            if ((p(off + n) & 0xff) != 0xff ||
                (p(off + n + 1) & 0xff) != 0xd9) return bad
            val out = new Array[Byte](n)
            var i = 0
            while (i < n) {
              // the scan byte IS the coefficient k = source/q; the
              // reconstruction is k*q + q/2 (so dq(a, q) = decode of
              // encode of a — the spec pins the composition)
              val k = p(off + i) & 0xff
              out(i) = (if (q == 1) k
                        else math.min(255, k * q + q / 2)).toByte
              i += 1
            }
            return (w, h, out)
          case 0xdb => // DQT: one byte, before SOF, exactly once
            if (off + 2 > p.length || u16(off) != 3 || off + 3 > p.length ||
                q != 0 || sawSof) return bad
            q = p(off + 2) & 0xff
            if (q < 1 || q > 64) return bad
            off += 3
          case 0xc0 => // SOF0-ish: u16 height, u16 width (JPEG order)
            if (off + 6 > p.length || u16(off) != 6 || sawSof || q == 0)
              return bad
            sawSof = true
            h = u16(off + 2); w = u16(off + 4)
            // Long-math geometry guard BEFORE any allocation (the PNG
            // Int-overflow lesson): u16*u16 can exceed Int.MaxValue
            if (w <= 0 || h <= 0 || w.toLong * h > Int.MaxValue) return bad
            off += 6
          case m if m >= 0xe0 && m <= 0xef => // APPn: skip (ancillary)
            if (off + 2 > p.length) return bad
            val len = u16(off)
            if (len < 2 || off + len > p.length) return bad
            off += len
          case _ => return bad
        }
      }
      bad // unreachable
    }

    override def decode(p: Array[Byte]): Array[Byte] = decodeRaster(p)._3
  }

  /** Encode `s`'s bytes as a JPEG-ish image: width (len % 5) + 2 —
    * ALWAYS >= 2, so every nonempty doc has a defined dHash — final row
    * space-padded (decoded stream = the dequantization of
    * `rpad(s, w*ceil(len/w), ' ')`, the WAV/BMP/PNG/GIF closed-form
    * convention), scan bytes = source / q. The APP0 body length varies
    * with the doc so the skip is load-bearing. `malformed` corrupts
    * the SOI marker.
    */
  def jpegishEncode(s: String, q: Int, malformed: Boolean = false)
      : Array[Byte] = {
    require(q >= 1 && q <= 64, s"quantizer out of range: $q")
    val px = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val w = (px.length % 5) + 2
    val h = (px.length + w - 1) / w
    val out = new java.io.ByteArrayOutputStream()
    def m(b: Int): Unit = { out.write(0xff); out.write(b) }
    def u16(v: Int): Unit = { out.write(v >> 8 & 0xff); out.write(v & 0xff) }
    out.write(if (malformed) 0x00 else 0xff); out.write(0xd8) // SOI
    val app = ("JFIFISH\u0000" + "x" * (px.length % 7))
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    m(0xe0); u16(2 + app.length); out.write(app, 0, app.length)
    m(0xdb); u16(3); out.write(q) // DQT
    m(0xc0); u16(6); u16(h); u16(w) // SOF0-ish: height first
    m(0xda); u16(2) // SOS
    var i = 0
    while (i < w * h) {
      val a = if (i < px.length) px(i) & 0xff else ' '.toInt
      out.write(a / q)
      i += 1
    }
    m(0xd9) // EOI
    out.toByteArray
  }

  /** Synthetic JPEG-ish media table: each doc's printable projection at
    * its own quantizer ([[qFor]]); every 23rd-ish doc (doc_id % 23 == 5)
    * is corrupted — the oracle predicts those rows decode empty.
    */
  def jpegishMediaTable(spark: SparkSession, dir: String): DataFrame = {
    val enc = udf((s: String, q: Int, bad: Boolean) =>
      jpegishEncode(s, q, bad))
    Tables.documents(spark, dir)
      .select(col("doc_id"), lit("image").as("kind"),
        enc(regexp_replace(col("text"), "[^ -~]", ""), qCol,
          col("doc_id") % 23 === 5).as("payload"))
  }

  /** Registry entry: the feature battery over [[JpegishCodec]] — every
    * column is a property of the DEQUANTIZED stream, which the oracle
    * rebuilds byte-for-byte from `documents.text` via the [[dq]] closed
    * form, so only a decoder that walks the marker segments, validates
    * the quantizer, and reconstructs bucket midpoints matches; the
    * corrupted subset must decode empty.
    */
  def mediaJpegish(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = jpegishMediaTable(spark, dir).as[MediaRecord]
    Multimodal.extractFeatures(ds, JpegishCodec)
      .toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"),
        col("entropy"), col("frames_sampled"),
        hex(col("preview")).as("preview_hex"))
      .orderBy(col("doc_id"))
  }

  /** Offset separating re-encoded ids from original ids in the lossy
    * pair graph — far above any testdata doc_id.
    */
  private[graft] val ReencodedIdOffset = 10000000L

  /** Per-image dHash fingerprints of BOTH encodes of every clean doc —
    * the original (q=1, lossless) as doc_id, the doc's own lossy
    * re-encode as doc_id + [[ReencodedIdOffset]] — each decoded and
    * hashed through the codec seam, batched per partition (one codec
    * boundary, narrow mapPartitions, no shuffle).
    */
  def lossyFingerprints(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[RasterHash] = {
    import spark.implicits._
    val enc = udf((s: String, q: Int, bad: Boolean) =>
      jpegishEncode(s, q, bad))
    val both = Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_replace(col("text"), "[^ -~]", "").as("s"),
        qCol.as("q"),
        (col("doc_id") % 23 === 5).as("bad"))
      .select(explode(array(
        struct(col("doc_id"), lit("image").as("kind"),
          enc(col("s"), lit(1), col("bad")).as("payload")),
        struct((col("doc_id") + ReencodedIdOffset).as("doc_id"),
          lit("image").as("kind"),
          enc(col("s"), col("q"), col("bad")).as("payload")))).as("r"))
      .select(col("r.doc_id"), col("r.kind"), col("r.payload"))
      .as[MediaRecord]
    both.mapPartitions { recs =>
      recs.flatMap { r =>
        val (w, h, px) = JpegishCodec.decodeRaster(r.payload)
        Multimodal.dHashChunks(w, h, px).map { case (a, b, c, d) =>
          RasterHash(r.doc_id, a, b, c, d)
        }
      }
    }
  }

  /** Registry entry: near-dup pairs ACROSS the lossy re-encode boundary
    * — the chunk-blocked hamming join ([[Multimodal.hammingPairs]])
    * over originals and re-encodes together. A pair (i, i + offset) is
    * the survival proof: the image's gradient hash outlived its own
    * quantization. q=1 docs pair at hamming 0 (identity path); q=4/16
    * docs pair wherever fewer than 4 sampled gradients collapsed —
    * which gradients collapse is a property of the bytes, and the
    * oracle replays it exactly.
    */
  def mediaLossyNearDup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    Multimodal.hammingPairs(
      lossyFingerprints(spark, dir).toDF().localCheckpoint(), maxHamming)

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    // LOSSY codec through the media seam (JPEG-shaped quantize /
    // dequantize): feature battery over the dequantized stream, and
    // near-dup pairs across the original -> lossy-re-encode boundary
    // (the perceptual family's reason to exist); corrupted subset
    // decodes empty
    // media_jpegish: the decoded stream is the DEQUANTIZATION of the
    // padded printable projection — byte i decodes to (a//q)*q + q//2
    // (bucket midpoint; identity at q=1 since q//2=0), q = 1/4/16 by
    // doc_id % 3, geometry w = (len % 5) + 2. The oracle rebuilds the
    // decoded string per char, so only a decoder that walks the marker
    // segments, validates the quantizer, and reconstructs midpoints
    // matches; the corrupted subset (doc_id % 23 = 5) decodes empty.
    Query("media_jpegish", (s, d) => mediaJpegish(s, d),
      """WITH cl AS (
        |  SELECT doc_id, 'image' AS kind,
        |         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 4 ELSE 16 END AS q,
        |         CASE WHEN doc_id % 23 = 5 THEN ''
        |              ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS s
        |  FROM documents),
        |pad AS (
        |  SELECT doc_id, kind, q,
        |         CASE WHEN length(s) = 0 THEN ''
        |              ELSE rpad(s, CAST(((length(s) % 5) + 2)
        |                * ((length(s) + (length(s) % 5) + 1)
        |                   // ((length(s) % 5) + 2)) AS INTEGER), ' ')
        |         END AS ds0
        |  FROM cl),
        |dq AS (
        |  SELECT doc_id, kind,
        |         CASE WHEN length(ds0) = 0 THEN ''
        |              ELSE list_aggregate([chr(CAST((ascii(c)//q)*q + q//2 AS INTEGER))
        |                     FOR c IN string_split(ds0, '')], 'string_agg', '')
        |         END AS ds
        |  FROM pad),
        |m AS (
        |  SELECT doc_id, kind, hex(encode(ds)) AS hx,
        |         octet_length(encode(ds)) AS n
        |  FROM dq),
        |nib AS (
        |  SELECT m.doc_id, substr(m.hx, 2*t.i + 1, 1) AS hi, count(*) AS c
        |  FROM m, UNNEST(range(m.n)) AS t(i)
        |  GROUP BY 1, 2),
        |ent AS (
        |  SELECT nib.doc_id,
        |         round(-SUM((c::DOUBLE / m.n) * ln(c::DOUBLE / m.n)) / ln(2), 6) AS entropy
        |  FROM nib JOIN m USING (doc_id)
        |  GROUP BY 1)
        |SELECT m.doc_id, m.kind, CAST(m.n AS BIGINT) AS n_bytes,
        |       COALESCE(ent.entropy, 0.0) AS entropy,
        |       CAST(CASE WHEN m.n = 0 THEN 0 ELSE (m.n - 1) // 64 + 1 END AS INT) AS frames_sampled,
        |       CASE WHEN m.n = 0 THEN repeat('00', 16)
        |            ELSE list_aggregate([substr(m.hx, 2*CAST(i * m.n // 16 AS BIGINT) + 1, 2) FOR i IN range(16)], 'string_agg', '')
        |       END AS preview_hex
        |FROM m LEFT JOIN ent USING (doc_id)
        |ORDER BY m.doc_id""".stripMargin),
    // media_lossy_near_dup: dHash pairs across the lossy re-encode
    // boundary. Side A (id = doc_id) hashes the original raster (q=1),
    // side B (id = doc_id + 10000000) hashes the doc's dequantized
    // raster ((a//q)*q + q//2, q = 1/4/16 by doc_id % 3) — quantization
    // is monotone, so gradients collapse but never reverse, and the
    // oracle's brute-force join equals the engine's chunk-blocked join
    // by the hamming<=3 pigeonhole. Corrupted docs (doc_id % 23 = 5)
    // decode empty and are absent; w = (len % 5) + 2 is always >= 2.
    Query("media_lossy_near_dup", (s, d) => mediaLossyNearDup(s, d),
      """WITH cl AS (
        |  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS s,
        |         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 4 ELSE 16 END AS q
        |  FROM documents WHERE doc_id % 23 <> 5),
        |geo AS (
        |  SELECT doc_id, s, q, (length(s) % 5) + 2 AS w,
        |    (length(s) + (length(s) % 5) + 1) // ((length(s) % 5) + 2) AS h
        |  FROM cl WHERE length(s) > 0),
        |ras AS (
        |  SELECT doc_id, q, w, h, rpad(s, CAST(w * h AS INTEGER), ' ') AS r
        |  FROM geo),
        |sides AS (
        |  SELECT doc_id AS id, 1 AS q, w, h, r FROM ras
        |  UNION ALL
        |  SELECT doc_id + 10000000, q, w, h, r FROM ras),
        |grid AS (
        |  SELECT id, q, w, r, (t1.j * 8 + t2.i) AS bit,
        |    (t1.j * h) // 8 AS y, (t2.i * w) // 9 AS x0,
        |    ((t2.i + 1) * w) // 9 AS x1
        |  FROM sides, unnest(range(8)) AS t1(j), unnest(range(8)) AS t2(i)),
        |ck AS (
        |  SELECT id, bit // 16 AS chunk,
        |    CAST(sum(CASE WHEN
        |        (ascii(substr(r, CAST(y * w + x1 + 1 AS INTEGER), 1))//q)*q + q//2 >
        |        (ascii(substr(r, CAST(y * w + x0 + 1 AS INTEGER), 1))//q)*q + q//2
        |      THEN 1 << (bit % 16) ELSE 0 END) AS INTEGER) AS ck
        |  FROM grid GROUP BY id, bit // 16),
        |h4 AS (
        |  SELECT id,
        |    max(CASE WHEN chunk = 0 THEN ck END) AS c0,
        |    max(CASE WHEN chunk = 1 THEN ck END) AS c1,
        |    max(CASE WHEN chunk = 2 THEN ck END) AS c2,
        |    max(CASE WHEN chunk = 3 THEN ck END) AS c3
        |  FROM ck GROUP BY id)
        |SELECT * FROM (
        |  SELECT a.id AS doc_id_1, b.id AS doc_id_2,
        |    CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
        |         bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3))
        |      AS INTEGER) AS hamming
        |  FROM h4 a JOIN h4 b ON a.id < b.id)
        |WHERE hamming <= 3
        |ORDER BY doc_id_1, doc_id_2""".stripMargin))
}
