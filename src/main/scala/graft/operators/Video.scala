package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import Multimodal.{MediaRecord, RasterHash}

/** Video-shaped multi-frame near-dup — the last modality on the codec
  * seam (text/image/audio already have dedup families). A "clip" is an
  * ANIMATED GIF89a: several full-frame images in one container, each
  * its own variable-width LZW stream, with a graphics-control extension
  * (delay, disposal) between frames that the walk must skip. The clip
  * fingerprint is the standard published shape (Coskun et al.-style
  * temporally-robust video hashing, collapsed to our 64-bit dHash
  * unit): hash EVERY decoded frame, then MAJORITY-VOTE each bit across
  * frames — one outlier frame (a title card, an encoder glitch, an
  * inserted ad frame) cannot move the clip fingerprint of a 3+-frame
  * clip, which is precisely why per-frame voting beats hashing the
  * first frame or the byte stream. Pairing and transitive clustering
  * then reuse the SAME chunk-blocked hamming join + connected-
  * components machinery as images, audio, and text.
  *
  * Synthetic clips (the media-family closed form, so the oracle can
  * replay every bit in SQL): F = (len % 3) + 2 frames at geometry
  * w = (len % 6) + 2 (always >= 2 — every nonempty doc has a defined
  * dHash). Frames 0..F-2 are the document raster brightened by +f per
  * frame — a uniform shift never reorders a gradient, so each content
  * frame dHashes identically (the invariance dHash exists for, now
  * exercised ACROSS frames); frame F-1 is the REVERSED raster (the
  * title-card outlier). Majority: bit set iff 2*count > F, so 3- and
  * 4-frame clips vote the outlier away, while a 2-frame clip keeps
  * only the bits both frames agree on (ties break 0) — the oracle
  * replays this as content-hash for F >= 3 and content AND reversed
  * for F = 2. Every 29th-ish doc (doc_id % 29 == 11) is corrupted and
  * must decode to NO frames.
  *
  * Contract on bad input: zero frames, never a throw, and NO partial
  * salvage — a clip whose trailer or any frame is damaged yields
  * nothing (a cut LZW stream has no trustworthy prefix, and a clip
  * fingerprint over half the frames is a different fingerprint).
  */
object Video {

  /** minCodeSize 8 (full-byte alphabet): content frames carry pixel
    * values up to 126 + 2 = 128, past minCode 7's 0..127 alphabet.
    */
  private val MinCode = 8

  object AnimGifCodec {

    /** (width, height, frames) — (0, 0, empty) on ANY malformation.
      * All-or-nothing: every frame must decode and the trailer must
      * close the container.
      */
    def decodeFrames(p: Array[Byte]): (Int, Int, Array[Array[Byte]]) = {
      def u16(i: Int): Int = (p(i) & 0xff) | (p(i + 1) & 0xff) << 8
      val bad = (0, 0, Array.empty[Array[Byte]])
      if (p.length < 13) return bad
      val sig = new String(p, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
      if (sig != "GIF89a" && sig != "GIF87a") return bad
      val w = u16(6); val h = u16(8)
      val packed = p(10) & 0xff
      if (w <= 0 || h <= 0 || w.toLong * h > Int.MaxValue) return bad
      var off = 13
      if ((packed & 0x80) != 0) off += 3 * (1 << ((packed & 7) + 1))
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      while (off < p.length && (p(off) & 0xff) != 0x3b) {
        // skip any extension blocks (GCE, comment, application)
        while (off < p.length && (p(off) & 0xff) == 0x21) {
          off += 2
          while (off < p.length && p(off) != 0) off += 1 + (p(off) & 0xff)
          off += 1
        }
        if (off + 10 > p.length || (p(off) & 0xff) != 0x2c) return bad
        val iw = u16(off + 5); val ih = u16(off + 7)
        val ipacked = p(off + 9) & 0xff
        if (iw != w || ih != h || u16(off + 1) != 0 || u16(off + 3) != 0)
          return bad // full-frame clips only, the GifCodec posture
        val interlaced = (ipacked & 0x40) != 0
        off += 10
        if ((ipacked & 0x80) != 0) off += 3 * (1 << ((ipacked & 7) + 1))
        if (off >= p.length) return bad
        val minCode = p(off) & 0xff
        if (minCode < 2 || minCode > 8) return bad
        off += 1
        val data = new java.io.ByteArrayOutputStream()
        var sawTerminator = false
        while (off < p.length && !sawTerminator) {
          val len = p(off) & 0xff
          if (len == 0) sawTerminator = true
          else {
            if (off + 1 + len > p.length) return bad
            data.write(p, off + 1, len)
          }
          off += 1 + len
        }
        if (!sawTerminator) return bad
        val raster = Multimodal.lzwDecode(data.toByteArray, minCode, w * h)
        if (raster == null || raster.length != w * h) return bad
        frames += (if (interlaced) Multimodal.deinterlace(raster, w, h)
                   else raster)
      }
      // trailer required, at least one frame required
      if (off >= p.length || (p(off) & 0xff) != 0x3b || frames.isEmpty)
        return bad
      (w, h, frames.toArray)
    }
  }

  /** Encode `s` as an animated clip per the closed form above.
    * `malformed` corrupts the signature.
    */
  def animGifEncode(s: String, malformed: Boolean = false): Array[Byte] = {
    val px = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val nFrames = (px.length % 3) + 2
    val w = (px.length % 6) + 2
    val h = (px.length + w - 1) / w
    val base = new Array[Byte](w * h)
    java.util.Arrays.fill(base, ' '.toByte)
    System.arraycopy(px, 0, base, 0, px.length)
    val out = new java.io.ByteArrayOutputStream()
    out.write((if (malformed) "XIF89a" else "GIF89a")
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 6)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write(v >> 8 & 0xff) }
    w16(w); w16(h)
    out.write(0xf7) // global table present, 256 entries
    out.write(0); out.write(0)
    (0 until 256).foreach { c => out.write(c); out.write(c); out.write(c) }
    var f = 0
    while (f < nFrames) {
      // graphics-control extension per frame (delay = frame index) —
      // the skip test between frames
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0); w16(f); out.write(0); out.write(0)
      out.write(0x2c) // image descriptor: full frame, non-interlaced
      w16(0); w16(0); w16(w); w16(h)
      out.write(0x00)
      val frame =
        if (f == nFrames - 1) base.reverse // title-card outlier
        else base.map(b => (b + f).toByte) // uniform brightness shift
      val z = Multimodal.lzwCompress(frame, MinCode)
      out.write(MinCode)
      // sub-block split: length-dependent first boundary (the GifCodec
      // convention), maximal 255-byte blocks after
      val first = math.min(z.length, (px.length % 11) + 1)
      var pos = 0
      var blockLen = first
      while (pos < z.length) {
        val n = math.min(blockLen, z.length - pos)
        if (n > 0) { out.write(n); out.write(z, pos, n) }
        pos += n
        blockLen = 255
      }
      out.write(0)
      f += 1
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** Synthetic clip table: every 29th-ish doc (doc_id % 29 == 11) is
    * corrupted — the oracle predicts those clips decode to no frames.
    */
  def videoMediaTable(spark: SparkSession, dir: String): DataFrame = {
    val enc = udf((s: String, bad: Boolean) => animGifEncode(s, bad))
    Tables.documents(spark, dir)
      .select(col("doc_id"), lit("video").as("kind"),
        enc(regexp_replace(col("text"), "[^ -~]", ""),
          col("doc_id") % 29 === 11).as("payload"))
  }

  /** Majority-vote clip fingerprint from per-frame dHash chunks: bit
    * set iff strictly more than half the frames set it (ties -> 0).
    * Generic over ACTUAL decoded frames — no closed-form shortcut.
    */
  private[graft] def majorityChunks(frames: Seq[(Int, Int, Int, Int)])
      : Option[(Int, Int, Int, Int)] =
    if (frames.isEmpty) None
    else {
      val n = frames.size
      val out = new Array[Int](4)
      var c = 0
      while (c < 4) {
        var b = 0
        while (b < 16) {
          val cnt = frames.count { fr =>
            val ck = c match {
              case 0 => fr._1; case 1 => fr._2; case 2 => fr._3
              case _ => fr._4
            }
            (ck >> b & 1) != 0
          }
          if (2 * cnt > n) out(c) |= 1 << b
          b += 1
        }
        c += 1
      }
      Some((out(0), out(1), out(2), out(3)))
    }

  /** Per-clip majority fingerprints — decode ALL frames, dHash each,
    * vote; batched per partition (one codec boundary, narrow
    * mapPartitions, no shuffle). Corrupted clips decode to no frames
    * and degenerate geometries hash to None, so both are absent.
    */
  def videoFingerprints(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[RasterHash] = {
    import spark.implicits._
    videoMediaTable(spark, dir).as[MediaRecord].mapPartitions { recs =>
      recs.flatMap { r =>
        val (w, h, frames) = AnimGifCodec.decodeFrames(r.payload)
        val hashes = frames.toSeq.flatMap(Multimodal.dHashChunks(w, h, _))
        // all-or-nothing: a frame whose hash is undefined (w < 2 never
        // happens by construction; h = 0 clips decode no frames) would
        // make the vote count ambiguous — require every frame hashed
        if (hashes.size != frames.length) None
        else majorityChunks(hashes).map { case (a, b, c, d) =>
          RasterHash(r.doc_id, a, b, c, d)
        }
      }
    }
  }

  /** Registry: clip near-dup pairs — the shared chunk-blocked hamming
    * join over majority fingerprints.
    */
  def videoNearDup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    Multimodal.hammingPairs(
      videoFingerprints(spark, dir).toDF().localCheckpoint(), maxHamming)

  /** Registry: transitive clip groups — the same connected-components
    * closure as text/image/audio dedup.
    */
  def videoDupClusters(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    Dedup.connectedComponents(
      videoNearDup(spark, dir, maxHamming)
        .select(col("doc_id_1"), col("doc_id_2")))
      .withColumnRenamed("node", "doc_id")
      .orderBy(col("doc_id"))

  /** Shared by video_near_dup and video_dup_clusters: per-clip 4x16-bit
    * MAJORITY-VOTE fingerprint chunks, recomputed from the animated-GIF
    * closed form (geometry w = (len % 6) + 2; F = (len % 3) + 2 frames:
    * F-1 content frames whose uniform +f brightness shift preserves
    * every gradient — so they share the base raster's dHash — plus one
    * reversed-raster outlier). Majority (bit set iff 2*count > F)
    * therefore reduces to: content hash for F >= 3, content AND
    * reversed for F = 2. Corrupted subset (doc_id % 29 = 11) decodes
    * to no frames and is excluded by construction.
    */
  private val VideoH4Cte: String =
    """WITH cl AS (
      |  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS s
      |  FROM documents WHERE doc_id % 29 <> 11),
      |geo AS (
      |  SELECT doc_id, s, (length(s) % 3) + 2 AS nf,
      |    (length(s) % 6) + 2 AS w,
      |    (length(s) + (length(s) % 6) + 1) // ((length(s) % 6) + 2) AS h
      |  FROM cl WHERE length(s) > 0),
      |sides AS (
      |  SELECT doc_id, w, h, 0 AS side,
      |         rpad(s, CAST(w * h AS INTEGER), ' ') AS r FROM geo
      |  UNION ALL
      |  SELECT doc_id, w, h, 1,
      |         reverse(rpad(s, CAST(w * h AS INTEGER), ' ')) FROM geo),
      |grid AS (
      |  SELECT doc_id, side, w, r, (t1.j * 8 + t2.i) AS bit,
      |    (t1.j * h) // 8 AS y, (t2.i * w) // 9 AS x0,
      |    ((t2.i + 1) * w) // 9 AS x1
      |  FROM sides, unnest(range(8)) AS t1(j), unnest(range(8)) AS t2(i)),
      |ck AS (
      |  SELECT doc_id, side, bit // 16 AS chunk,
      |    CAST(sum(CASE WHEN
      |        ascii(substr(r, CAST(y * w + x1 + 1 AS INTEGER), 1)) >
      |        ascii(substr(r, CAST(y * w + x0 + 1 AS INTEGER), 1))
      |      THEN 1 << (bit % 16) ELSE 0 END) AS INTEGER) AS ck
      |  FROM grid GROUP BY doc_id, side, bit // 16),
      |piv AS (
      |  SELECT ck.doc_id, chunk,
      |    max(CASE WHEN side = 0 THEN ck END) AS cc,
      |    max(CASE WHEN side = 1 THEN ck END) AS cd
      |  FROM ck GROUP BY ck.doc_id, chunk),
      |vote AS (
      |  SELECT piv.doc_id, chunk,
      |    CASE WHEN g.nf = 2 THEN piv.cc & piv.cd ELSE piv.cc END AS ck
      |  FROM piv JOIN geo g ON piv.doc_id = g.doc_id),
      |h4 AS (
      |  SELECT doc_id,
      |    max(CASE WHEN chunk = 0 THEN ck END) AS c0,
      |    max(CASE WHEN chunk = 1 THEN ck END) AS c1,
      |    max(CASE WHEN chunk = 2 THEN ck END) AS c2,
      |    max(CASE WHEN chunk = 3 THEN ck END) AS c3
      |  FROM vote GROUP BY doc_id)""".stripMargin

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    // video-shaped clips (animated GIF, multi-frame LZW + GCE skip):
    // per-frame dHash, majority-vote clip fingerprint, the shared
    // chunk-blocked pair join + CC closure; corrupted clips decode to
    // no frames
    // video_near_dup: majority-vote clip fingerprints over the animated
    // closed form (see VideoH4Cte), brute-force pair join — equal to
    // the engine's chunk-blocked join by the hamming<=3 pigeonhole
    Query("video_near_dup", (s, d) => videoNearDup(s, d),
      (VideoH4Cte + """
        |SELECT * FROM (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |    CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
        |         bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3))
        |      AS INTEGER) AS hamming
        |  FROM h4 a JOIN h4 b ON a.doc_id < b.doc_id)
        |WHERE hamming <= 3
        |ORDER BY doc_id_1, doc_id_2""".stripMargin)),
    // video_dup_clusters: the same pair graph, closed transitively —
    // the media_dup_clusters recursive-CTE pattern over clip pairs
    Query("video_dup_clusters", (s, d) => videoDupClusters(s, d),
      ("WITH RECURSIVE" + VideoH4Cte.stripPrefix("WITH") + """,
        |p AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM h4 a JOIN h4 b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
        |        bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3),
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM p
        |  UNION ALL SELECT d2, d1 FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r2.src, e.dst FROM reach r2 JOIN edges e ON r2.dst = e.src)
        |SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin)))
}
