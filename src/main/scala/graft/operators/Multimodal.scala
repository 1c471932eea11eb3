package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / frame-sample
  * stages shaped the way a real image/audio pipeline runs on Spark.
  *
  * The actual codec is STUBBED (this environment has no image/audio
  * libraries): `Codec.decode` produces a deterministic fake raster from
  * the bytes. Everything around it is real and tested — the schema, the
  * per-partition batch iteration (one codec instance per partition, not
  * per row — the Scala analog of a batched Pandas UDF), the binary
  * statistics (size/hash/entropy are true byte computations), and the
  * frame sampling.
  *
  * Scale notes: binary payloads ride the normal columnar path (parquet
  * binary columns, no driver materialization). Feature extraction is a
  * narrow mapPartitions — no shuffle — and the expensive decode sits
  * AFTER any metadata filter so pushdown prunes undecoded rows.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, kind: String, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Long,
      entropy: Double, histogram: Array[Double], frames_sampled: Int,
      preview: Array[Byte])

  /** STUB boundary: a real deployment swaps this for an actual codec
    * (libjpeg/ffmpeg/...). Deterministic fake: interprets bytes as a
    * square "raster". The pipeline treats the output as opaque decoded
    * media, so swapping implementations cannot change plan shape.
    */
  trait Codec extends Serializable {
    def decode(payload: Array[Byte]): Array[Byte]
  }
  object StubCodec extends Codec {
    override def decode(payload: Array[Byte]): Array[Byte] = payload
  }

  /** A NON-identity codec with a fully-specified format, so the batched
    * decode path is tested against a codec that actually transforms
    * bytes (the stub proves only plumbing): the payload is a sequence
    * of (runLength, value) byte pairs and decode expands each run —
    * the run-length-encoded "raster" is the simplest decode whose
    * output length, byte distribution, and sampled bytes all differ
    * from the payload's, which is exactly what the oracle needs to
    * re-derive independently (see SparkEntry's media_decode SQL: it
    * rebuilds the decoded stream from `documents.text` arithmetic, so
    * a codec that mis-expanded a run mismatches on every column).
    * A trailing odd byte is ill-formed and ignored, like a truncated
    * media file's last packet.
    */
  object RleCodec extends Codec {
    override def decode(payload: Array[Byte]): Array[Byte] = {
      val out = new scala.collection.mutable.ArrayBuilder.ofByte
      var i = 0
      while (i + 1 < payload.length) {
        val rl = payload(i) & 0xff
        val v = payload(i + 1)
        var j = 0
        while (j < rl) { out += v; j += 1 }
        i += 2
      }
      out.result()
    }
  }

  /** RLE-encode a printable-ASCII string: char at 0-based index i
    * becomes the pair (((i+1) % 5) + 1, byte) — run lengths cycle
    * through 1..5 by position, so the decoded stream is a genuine
    * position-dependent expansion (~3x on average, never uniformly
    * 1:1) yet every decoded quantity stays a closed-form function of
    * (position, char) that SQL replays.
    */
  def rleEncode(s: String): Array[Byte] = {
    val out = new Array[Byte](2 * s.length)
    var i = 0
    while (i < s.length) {
      out(2 * i) = ((((i + 1) % 5) + 1)).toByte
      out(2 * i + 1) = s.charAt(i).toByte
      i += 1
    }
    out
  }

  /** A REAL container format through the same codec seam: canonical
    * RIFF/WAVE PCM. [[RleCodec]] proved the decode stage transforms
    * bytes; this proves it against a genuine variable-length container
    * — magic validation, little-endian sizes, a chunk WALK (the
    * encoder plants a variable-length JUNK chunk before `data`, so a
    * fixed-44-byte-offset shortcut reads garbage), word alignment
    * (odd-sized chunks pad to even, pad excluded from the declared
    * size), and malformed-input handling. Contract on bad input: an
    * empty decode (zero-length media), never a throw — a pipeline
    * drops undecodable records, it does not die mid-job. Truncated
    * `data` is salvaged up to the available bytes (a cut-off download
    * still yields its leading samples — the RleCodec trailing-byte
    * precedent); every other malformation (bad magic, no WAVE tag,
    * `data` before a valid PCM `fmt `, chunk sizes past the declared
    * RIFF extent, missing `data`) decodes empty. [[graft
    * .MultimodalSpec]] pins each corner.
    */
  object WavCodec extends Codec {
    override def decode(p: Array[Byte]): Array[Byte] = {
      def u32(i: Long): Long =
        (p(i.toInt) & 0xffL) | (p(i.toInt + 1) & 0xffL) << 8 |
          (p(i.toInt + 2) & 0xffL) << 16 | (p(i.toInt + 3) & 0xffL) << 24
      def u16(i: Long): Int =
        (p(i.toInt) & 0xff) | (p(i.toInt + 1) & 0xff) << 8
      def tag(i: Long): String =
        new String(p, i.toInt, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (p.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE")
        return Array.emptyByteArray
      // the walk is bounded by BOTH the declared RIFF extent and the
      // physical buffer — whichever is shorter
      val end = math.min(p.length.toLong, 8L + u32(4))
      var off = 12L
      var pcm = false
      while (off + 8 <= end) {
        val id = tag(off)
        val sz = u32(off + 4)
        val body = off + 8
        if (id == "fmt " && sz >= 16 && body + 16 <= end)
          pcm = u16(body) == 1 // PCM; bit depth/channels ride the header
        else if (id == "data") {
          if (!pcm) return Array.emptyByteArray
          // a data size running past the DECLARED RIFF extent is the
          // container lying about itself — decode empty (salvage is
          // only for PHYSICAL truncation, where the declared layout is
          // consistent but the tail bytes are missing); bounding by
          // p.length alone would salvage bytes outside the container
          if (body + sz > 8L + u32(4)) return Array.emptyByteArray
          val n = math.max(0L, math.min(sz, p.length - body)).toInt
          return java.util.Arrays.copyOfRange(p, body.toInt, body.toInt + n)
        }
        off = body + sz + (sz % 2) // chunks are word-aligned
      }
      Array.emptyByteArray // no data chunk inside the declared extent
    }
  }

  /** Synthesize a canonical PCM WAV holding `s`'s bytes as 8-bit mono
    * samples, with a variable-length JUNK filler chunk ((len(s) % 7)
    * + 1 bytes — odd half the time, exercising the pad rule) between
    * `fmt ` and `data`. `malformed` corrupts the RIFF magic — the
    * "not actually a wav" record a crawl inevitably contains.
    */
  def wavEncode(s: String, malformed: Boolean = false): Array[Byte] = {
    val samples = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val junkLen = (s.length % 7) + 1
    val junkPad = junkLen % 2
    val dataPad = samples.length % 2
    val total = 12 + (8 + 16) + (8 + junkLen + junkPad) +
      (8 + samples.length + dataPad)
    val b = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put((if (malformed) "RIFX" else "RIFF").getBytes("US-ASCII"))
    b.putInt(total - 8).put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1).putShort(1) // PCM, mono
    b.putInt(8000).putInt(8000) // sample rate, byte rate (8-bit mono)
    b.putShort(1).putShort(8) // block align, bits/sample
    b.put("JUNK".getBytes("US-ASCII")).putInt(junkLen)
    (0 until junkLen + junkPad).foreach(_ => b.put(0x55.toByte))
    b.put("data".getBytes("US-ASCII")).putInt(samples.length).put(samples)
    if (dataPad == 1) b.put(0.toByte)
    b.array()
  }

  /** Synthetic WAV media table: each document's printable-ASCII
    * projection as PCM samples inside a real RIFF container; every
    * 11th-ish doc (doc_id % 11 == 7) is corrupted — the oracle
    * predicts those rows decode empty.
    */
  def wavMediaTable(spark: SparkSession, dir: String): DataFrame = {
    val enc = udf((s: String, bad: Boolean) => wavEncode(s, bad))
    Tables.documents(spark, dir)
      .select(col("doc_id"), lit("audio").as("kind"),
        enc(regexp_replace(col("text"), "[^ -~]", ""),
          col("doc_id") % 11 === 7).as("payload"))
  }

  /** Registry entry: the feature battery over [[WavCodec]] — the
    * oracle rebuilds every column from `documents.text` (the samples
    * ARE the printable projection; the container is opaque to SQL), so
    * only a correct chunk walk past the variable JUNK chunk — and a
    * correct empty decode on the corrupted subset — matches.
    */
  def mediaWav(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = wavMediaTable(spark, dir).as[MediaRecord]
    extractFeatures(ds, WavCodec)
      .toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"),
        col("entropy"), col("frames_sampled"),
        hex(col("preview")).as("preview_hex"))
      .orderBy(col("doc_id"))
  }

  /** A SECOND real container family through the same codec seam: BMP
    * (BITMAPFILEHEADER + BITMAPINFOHEADER, 8-bit palette, BI_RGB).
    * WAV proved a chunk WALK; BMP proves the other header-walk
    * pathologies a raster container has — offset INDIRECTION (pixel
    * data lives wherever the declared `bfOffBits` says, past a palette
    * and a variable-length gap, so a fixed-offset shortcut reads the
    * palette), 4-byte row-stride padding, and row ORDER (positive
    * height = bottom-up, the BMP default, vs negative = top-down) —
    * the decoder reassembles LOGICAL row order either way.
    *
    * Contract on bad input: empty decode, never a throw (the WavCodec
    * contract). Unlike WAV there is NO truncation salvage: bottom-up
    * row order puts the logically-first samples physically LAST, so a
    * cut-off download has no meaningful leading prefix — a raster that
    * does not fit inside both the declared `bfSize` extent and the
    * physical buffer decodes empty. [[graft.MultimodalSpec]] pins each
    * corner.
    */
  object BmpCodec extends Codec {
    override def decode(p: Array[Byte]): Array[Byte] = {
      def u32(i: Long): Long =
        (p(i.toInt) & 0xffL) | (p(i.toInt + 1) & 0xffL) << 8 |
          (p(i.toInt + 2) & 0xffL) << 16 | (p(i.toInt + 3) & 0xffL) << 24
      def u16(i: Long): Int =
        (p(i.toInt) & 0xff) | (p(i.toInt + 1) & 0xff) << 8
      if (p.length < 54 || p(0) != 'B'.toByte || p(1) != 'M'.toByte)
        return Array.emptyByteArray
      // reads are bounded by BOTH the declared file extent and the
      // physical buffer — whichever is shorter (the WAV lesson: a
      // container lying about itself must not expose bytes outside it)
      val declared = math.min(p.length.toLong, u32(2))
      if (declared < 54) return Array.emptyByteArray
      val off = u32(10)
      val biSize = u32(14)
      if (biSize < 40 || 14 + biSize > declared) return Array.emptyByteArray
      val w = u32(18).toInt // i32: width must be positive
      val hRaw = u32(22).toInt // i32: sign selects row order
      val planes = u16(26)
      val bpp = u16(28)
      val comp = u32(30)
      if (w <= 0 || hRaw == 0 || planes != 1 || bpp != 8 || comp != 0)
        return Array.emptyByteArray
      val h = math.abs(hRaw.toLong)
      val stride = (w + 3L) / 4L * 4L
      if (off < 14 + biSize || off + h * stride > declared)
        return Array.emptyByteArray
      val raster = w * h
      if (raster > Int.MaxValue) return Array.emptyByteArray
      val out = new Array[Byte](raster.toInt)
      var r = 0L
      while (r < h) {
        val phys = if (hRaw > 0) h - 1 - r else r // bottom-up vs top-down
        System.arraycopy(p, (off + phys * stride).toInt,
          out, (r * w).toInt, w)
        r += 1
      }
      out
    }
  }

  /** Synthesize a canonical 8-bit-palette BMP holding `s`'s bytes as
    * pixels. Width cycles 1..5 by length (so the 4-byte stride pad is
    * exercised at every remainder), the final row's tail pads with
    * spaces (the decoded stream is `rpad(s, w*ceil(len/w), ' ')` — a
    * closed form the oracle replays), row order alternates bottom-up /
    * top-down by length parity, and a variable-length gap sits between
    * the palette and the pixel data so only a decoder honoring
    * `bfOffBits` finds the raster. `malformed` corrupts the magic.
    */
  def bmpEncode(s: String, malformed: Boolean = false): Array[Byte] = {
    val px = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val w = (px.length % 5) + 1
    val h = (px.length + w - 1) / w
    val stride = (w + 3) / 4 * 4
    val topDown = px.length % 2 == 0
    val gap = px.length % 7
    val off = 14 + 40 + 256 * 4 + gap
    val total = off + h * stride
    val b = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put((if (malformed) "BX" else "BM").getBytes("US-ASCII"))
    b.putInt(total) // bfSize
    b.putInt(0) // reserved
    b.putInt(off) // bfOffBits — the indirection under test
    b.putInt(40) // biSize (BITMAPINFOHEADER)
    b.putInt(w)
    b.putInt(if (topDown) -h else h)
    b.putShort(1) // planes
    b.putShort(8) // bits per pixel
    b.putInt(0) // BI_RGB
    b.putInt(h * stride) // biSizeImage
    b.putInt(2835).putInt(2835) // 72 dpi
    b.putInt(256).putInt(0) // clrUsed, clrImportant
    (0 until 256).foreach { i => // grayscale BGRA palette
      b.put(i.toByte).put(i.toByte).put(i.toByte).put(0.toByte)
    }
    (0 until gap).foreach(_ => b.put(0x5a.toByte))
    val rows = if (topDown) 0 until h else (h - 1) to 0 by -1
    rows.foreach { r =>
      val row = new Array[Byte](stride)
      var i = 0
      while (i < w) {
        val idx = r * w + i
        row(i) = if (idx < px.length) px(idx) else ' '.toByte
        i += 1
      }
      b.put(row)
    }
    b.array()
  }

  /** Synthetic BMP media table: each document's printable-ASCII
    * projection as 8-bit pixels inside a real BMP container; every
    * 13th-ish doc (doc_id % 13 == 5) is corrupted — the oracle
    * predicts those rows decode empty.
    */
  def bmpMediaTable(spark: SparkSession, dir: String): DataFrame = {
    val enc = udf((s: String, bad: Boolean) => bmpEncode(s, bad))
    Tables.documents(spark, dir)
      .select(col("doc_id"), lit("image").as("kind"),
        enc(regexp_replace(col("text"), "[^ -~]", ""),
          col("doc_id") % 13 === 5).as("payload"))
  }

  /** Registry entry: the feature battery over [[BmpCodec]] — the
    * oracle rebuilds every column from `documents.text` (the decoded
    * raster is the space-padded printable projection, a closed form),
    * so only a decoder that honors bfOffBits, reassembles bottom-up
    * AND top-down rows, and strips the stride padding matches — and
    * the corrupted subset must decode empty.
    */
  def mediaBmp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = bmpMediaTable(spark, dir).as[MediaRecord]
    extractFeatures(ds, BmpCodec)
      .toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"),
        col("entropy"), col("frames_sampled"),
        hex(col("preview")).as("preview_hex"))
      .orderBy(col("doc_id"))
  }

  /** A THIRD real container family through the same codec seam: PNG
    * (8-bit grayscale, non-interlaced) — the ENTROPY-CODED payload the
    * WAV/BMP header walks cannot prove. Their pixel bytes sit at an
    * affine offset of the header fields; here the raster rides a zlib
    * DEFLATE stream ([[java.util.zip.Inflater]]), so no arithmetic on
    * the header reaches a single pixel — the decoder must actually
    * decompress, and the compressed length has no closed-form relation
    * to the output length. On top of the inflate seam, the format
    * carries the remaining container pathologies: per-chunk CRC32
    * VALIDATION (a bit-flipped chunk must decode empty, not propagate
    * garbage — WAV/BMP have no integrity field at all), a multi-chunk
    * data stream (IDAT split at an arbitrary boundary; the zlib stream
    * is the CONCATENATION, so inflating chunks independently fails),
    * an ancillary chunk (tEXt) the walk must skip, and per-row FILTERS
    * (each scanline is predicted from its neighbors before
    * compression; the encoder cycles all five — None/Sub/Up/Average/
    * Paeth — so reconstruction must implement each, including the
    * Paeth tie-break order).
    *
    * Contract on bad input: empty decode, never a throw (the WavCodec
    * contract). Like BMP there is NO truncation salvage — a truncated
    * DEFLATE stream has no trustworthy prefix (the back-references an
    * LZ77 window carries mean a missing tail can invalidate earlier
    * output interpretation, and the stream's Adler/CRC never gets
    * verified), so any of: bad signature, CRC mismatch, chunk running
    * past the buffer, IHDR not first / wrong geometry / unsupported
    * bit depth / color type / interlace, non-contiguous IDAT chunks,
    * missing IEND, inflate error, inflated size != h*(1+w), or an
    * unknown filter type decodes EMPTY. [[graft.MultimodalSpec]] pins
    * each corner.
    */
  object PngCodec extends Codec {
    private val SIG = Array[Byte](0x89.toByte, 'P', 'N', 'G',
      0x0d, 0x0a, 0x1a, 0x0a)
    /** Geometry-aware decode — (width, height, pixels); (0, 0, empty)
      * on any malformation. The perceptual-hash family needs the
      * raster SHAPE, not just the byte stream: a difference hash
      * samples a fixed grid over (w, h), which the flat `decode`
      * cannot reconstruct from length alone.
      */
    def decodeRaster(p: Array[Byte]): (Int, Int, Array[Byte]) = {
      val px = decode(p)
      if (px.isEmpty) (0, 0, px)
      else {
        // IHDR is validated as the FIRST chunk by decode, so the
        // geometry sits at a fixed offset in any payload that decoded
        val w = ((p(16) & 0xff) << 24 | (p(17) & 0xff) << 16 |
          (p(18) & 0xff) << 8 | (p(19) & 0xff))
        (w, px.length / w, px)
      }
    }
    override def decode(p: Array[Byte]): Array[Byte] = {
      def u32(i: Int): Long = // PNG is big-endian, unlike WAV/BMP
        (p(i) & 0xffL) << 24 | (p(i + 1) & 0xffL) << 16 |
          (p(i + 2) & 0xffL) << 8 | (p(i + 3) & 0xffL)
      if (p.length < SIG.length + 12 ||
          !java.util.Arrays.equals(
            java.util.Arrays.copyOf(p, SIG.length), SIG))
        return Array.emptyByteArray
      var off = SIG.length
      var w = 0L; var h = 0L
      var sawIhdr = false; var sawIend = false; var idatDone = false
      val idat = new java.io.ByteArrayOutputStream()
      val crc = new java.util.zip.CRC32
      while (!sawIend) {
        if (off + 8 > p.length) return Array.emptyByteArray
        val sz = u32(off)
        if (sz > Int.MaxValue - 12 || off + 12 + sz > p.length)
          return Array.emptyByteArray
        val szI = sz.toInt
        val id = new String(p, off + 4, 4,
          java.nio.charset.StandardCharsets.US_ASCII)
        crc.reset()
        crc.update(p, off + 4, 4 + szI) // CRC covers type + data
        if (crc.getValue != u32(off + 8 + szI))
          return Array.emptyByteArray // integrity, not just structure
        val body = off + 8
        id match {
          case "IHDR" =>
            // must be the FIRST chunk, exactly once, 13 bytes
            if (sawIhdr || off != SIG.length || szI != 13)
              return Array.emptyByteArray
            sawIhdr = true
            w = u32(body); h = u32(body + 4)
            val bitDepth = p(body + 8) & 0xff
            val colorType = p(body + 9) & 0xff
            val compression = p(body + 10) & 0xff
            val filterMethod = p(body + 11) & 0xff
            val interlace = p(body + 12) & 0xff
            // the RAW stream is h*(1+w) bytes (filter byte per row) —
            // guard THAT product in Long math, not just w*h: a
            // CRC-valid w=1,h=2^30 header passes w*h but overflows the
            // Int allocation below (contract is empty, never a throw)
            if (w <= 0 || h <= 0 || w * h > Int.MaxValue ||
                h * (1L + w) > Int.MaxValue ||
                bitDepth != 8 || colorType != 0 || compression != 0 ||
                filterMethod != 0 || interlace != 0)
              return Array.emptyByteArray
          case "IDAT" =>
            // IDAT chunks must be CONSECUTIVE (PNG spec 5.6): a
            // non-IDAT chunk between two IDATs is malformed
            if (!sawIhdr || idatDone) return Array.emptyByteArray
            idat.write(p, body, szI)
          case "IEND" =>
            if (szI != 0) return Array.emptyByteArray
            sawIend = true
          case _ =>
            if (!sawIhdr) return Array.emptyByteArray
            if (idat.size > 0) idatDone = true
        }
        off = body + szI + 4
      }
      if (idat.size == 0) return Array.emptyByteArray
      // the entropy seam: output size is h*(1+w) by CONTRACT, but no
      // byte of it exists until the zlib stream actually inflates
      val rowBytes = 1 + w.toInt // filter byte + w pixels (8-bit gray)
      val expect = h.toInt * rowBytes
      val raw = new Array[Byte](expect)
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(idat.toByteArray)
        var got = 0
        while (got < expect && !inf.finished()) {
          val n = inf.inflate(raw, got, expect - got)
          if (n == 0 && inf.needsInput()) return Array.emptyByteArray
          got += n
        }
        // a stream that is short, long, or unfinished lies about the
        // geometry the header declared — reject, no salvage
        if (got != expect || !inf.finished())
          return Array.emptyByteArray
      } catch {
        case _: java.util.zip.DataFormatException =>
          return Array.emptyByteArray
      } finally inf.end()
      // reconstruct the per-row filters (PNG spec 9.2; bpp = 1)
      val wi = w.toInt; val hi = h.toInt
      val out = new Array[Byte](wi * hi)
      var r = 0
      while (r < hi) {
        val ft = raw(r * rowBytes) & 0xff
        var x = 0
        while (x < wi) {
          val f = raw(r * rowBytes + 1 + x) & 0xff
          val a = if (x > 0) out(r * wi + x - 1) & 0xff else 0
          val b = if (r > 0) out((r - 1) * wi + x) & 0xff else 0
          val c = if (x > 0 && r > 0) out((r - 1) * wi + x - 1) & 0xff
                  else 0
          val recon = ft match {
            case 0 => f
            case 1 => f + a
            case 2 => f + b
            case 3 => f + (a + b) / 2
            case 4 => // Paeth: nearest to p, ties break a, then b
              val pp = a + b - c
              val pa = math.abs(pp - a); val pb = math.abs(pp - b)
              val pc = math.abs(pp - c)
              f + (if (pa <= pb && pa <= pc) a
                   else if (pb <= pc) b else c)
            case _ => return Array.emptyByteArray
          }
          out(r * wi + x) = (recon & 0xff).toByte
          x += 1
        }
        r += 1
      }
      out
    }
  }

  /** Synthesize a canonical 8-bit-grayscale PNG holding `s`'s bytes as
    * pixels. Width cycles 1..6 by length, the final row's tail pads
    * with spaces (decoded stream = `rpad(s, w*ceil(len/w), ' ')` — the
    * BMP closed form with a different modulus), the per-row filter
    * type cycles 0..4 by row (all five reconstructions exercised in
    * one image), the zlib stream splits into two IDAT chunks at a
    * length-dependent boundary, and a variable-length tEXt chunk sits
    * between IHDR and the first IDAT so the walk must skip ancillary
    * chunks. `malformed` corrupts the signature.
    */
  def pngEncode(s: String, malformed: Boolean = false): Array[Byte] = {
    val px = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val w = (px.length % 6) + 1
    val h = (px.length + w - 1) / w
    val raster = new Array[Byte](w * h)
    java.util.Arrays.fill(raster, ' '.toByte)
    System.arraycopy(px, 0, raster, 0, px.length)
    // filter each scanline per PNG spec 9.2 (bpp = 1), cycling types
    val raw = new Array[Byte](h * (1 + w))
    var r = 0
    while (r < h) {
      val ft = r % 5
      raw(r * (1 + w)) = ft.toByte
      var x = 0
      while (x < w) {
        val cur = raster(r * w + x) & 0xff
        val a = if (x > 0) raster(r * w + x - 1) & 0xff else 0
        val b = if (r > 0) raster((r - 1) * w + x) & 0xff else 0
        val c = if (x > 0 && r > 0) raster((r - 1) * w + x - 1) & 0xff
                else 0
        val filt = ft match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - (a + b) / 2
          case _ =>
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b)
            val pc = math.abs(pp - c)
            cur - (if (pa <= pb && pa <= pc) a
                   else if (pb <= pc) b else c)
        }
        raw(r * (1 + w) + 1 + x) = (filt & 0xff).toByte
        x += 1
      }
      r += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zBuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](512)
    while (!deflater.finished())
      zBuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val z = zBuf.toByteArray
    val split = math.min(z.length, (px.length % 11) + 1)
    val txt = ("k\u0000" + "v" * (px.length % 7))
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    if (malformed) { // corrupt the signature's high byte
      val sig = out.toByteArray; sig(0) = 'Q'.toByte
      out.reset(); out.write(sig, 0, 8)
    }
    def chunk(id: String, data: Array[Byte]): Unit = {
      val b = java.nio.ByteBuffer.allocate(12 + data.length) // BE default
      b.putInt(data.length)
      b.put(id.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      b.put(data)
      val crc = new java.util.zip.CRC32
      crc.update(b.array(), 4, 4 + data.length)
      b.putInt(crc.getValue.toInt)
      out.write(b.array(), 0, b.capacity())
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(0.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte)
    chunk("IHDR", ihdr.array())
    chunk("tEXt", txt) // ancillary — the walk must skip it
    chunk("IDAT", java.util.Arrays.copyOfRange(z, 0, split))
    if (split < z.length)
      chunk("IDAT", java.util.Arrays.copyOfRange(z, split, z.length))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Synthetic PNG media table: each document's printable-ASCII
    * projection as 8-bit grayscale pixels inside a real PNG container;
    * every 17th-ish doc (doc_id % 17 == 3) is corrupted — the oracle
    * predicts those rows decode empty.
    */
  def pngMediaTable(spark: SparkSession, dir: String): DataFrame = {
    val enc = udf((s: String, bad: Boolean) => pngEncode(s, bad))
    Tables.documents(spark, dir)
      .select(col("doc_id"), lit("image").as("kind"),
        enc(regexp_replace(col("text"), "[^ -~]", ""),
          col("doc_id") % 17 === 3).as("payload"))
  }

  /** Registry entry: the feature battery over [[PngCodec]] — the
    * oracle rebuilds every column from `documents.text` (the decoded
    * raster is the space-padded printable projection at width
    * (len % 6) + 1, a closed form), so only a decoder that walks CRC-
    * valid chunks, concatenates the split IDAT stream, actually
    * INFLATES it, and reconstructs all five filter types matches —
    * and the corrupted subset must decode empty.
    */
  def mediaPng(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = pngMediaTable(spark, dir).as[MediaRecord]
    extractFeatures(ds, PngCodec)
      .toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"),
        col("entropy"), col("frames_sampled"),
        hex(col("preview")).as("preview_hex"))
      .orderBy(col("doc_id"))
  }

  /** A FOURTH container family: GIF (GIF89a, 8-bit palette) — the
    * SECOND entropy coding through the codec seam, and a genuinely
    * different one from PNG's DEFLATE: variable-width LZW with a
    * growing dictionary (code width starts at minCodeSize+1 and widens
    * every time the dictionary crosses a power of two — a decoder that
    * misses one widening point desynchronizes the entire bit stream),
    * the clear/EOI control codes, and the LZW corner where a code
    * refers to the entry being defined (code == next: prev + prev's
    * first byte). On top of the coding: sub-block reassembly (the
    * compressed stream arrives as length-prefixed <=255-byte
    * sub-blocks whose boundaries are arbitrary — the split-IDAT
    * analog, decoded only as the concatenation), extension-block
    * skipping, and GIF's 4-pass INTERLACE (physical row order
    * 0,8,16,... / 4,12,... / 2,6,... / 1,3,... — the row-order
    * pathology BMP probed, in a four-way form).
    *
    * Contract on bad input: empty decode, never a throw. NO truncation
    * salvage (the PNG posture): a cut LZW stream loses dictionary
    * context, so no prefix is trustworthy. Bad signature, missing
    * image descriptor or trailer, geometry mismatch between the
    * logical screen and the image descriptor, an out-of-range LZW
    * code, or a truncated sub-block chain all decode EMPTY.
    * [[graft.MultimodalSpec]] pins each corner.
    */
  object GifCodec extends Codec {
    override def decode(p: Array[Byte]): Array[Byte] = {
      def u16(i: Int): Int = (p(i) & 0xff) | (p(i + 1) & 0xff) << 8
      if (p.length < 13) return Array.emptyByteArray
      val sig = new String(p, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
      if (sig != "GIF89a" && sig != "GIF87a") return Array.emptyByteArray
      val w = u16(6); val h = u16(8)
      val packed = p(10) & 0xff
      if (w <= 0 || h <= 0 || w.toLong * h > Int.MaxValue)
        return Array.emptyByteArray
      var off = 13
      // global color table, if declared
      if ((packed & 0x80) != 0) off += 3 * (1 << ((packed & 7) + 1))
      // block walk: skip extensions, find the image descriptor
      while (off < p.length && (p(off) & 0xff) == 0x21) {
        off += 2 // extension introducer + label
        while (off < p.length && p(off) != 0) off += 1 + (p(off) & 0xff)
        off += 1 // block terminator
      }
      if (off + 10 > p.length || (p(off) & 0xff) != 0x2c)
        return Array.emptyByteArray
      val iw = u16(off + 5); val ih = u16(off + 7)
      val ipacked = p(off + 9) & 0xff
      // one full-frame image, as encoded — a sub-frame is out of scope
      if (iw != w || ih != h || u16(off + 1) != 0 || u16(off + 3) != 0)
        return Array.emptyByteArray
      val interlaced = (ipacked & 0x40) != 0
      off += 10
      if ((ipacked & 0x80) != 0) off += 3 * (1 << ((ipacked & 7) + 1))
      if (off >= p.length) return Array.emptyByteArray
      val minCode = p(off) & 0xff
      if (minCode < 2 || minCode > 8) return Array.emptyByteArray // GIF: <= 256 colors
      off += 1
      // sub-block reassembly: the LZW stream is the CONCATENATION
      val data = new java.io.ByteArrayOutputStream()
      var sawTerminator = false
      while (off < p.length && !sawTerminator) {
        val len = p(off) & 0xff
        if (len == 0) sawTerminator = true
        else {
          if (off + 1 + len > p.length) return Array.emptyByteArray
          data.write(p, off + 1, len)
        }
        off += 1 + len
      }
      // terminator + trailer are required: their absence is truncation,
      // and a cut LZW stream has no trustworthy prefix
      if (!sawTerminator || off >= p.length || (p(off) & 0xff) != 0x3b)
        return Array.emptyByteArray
      val z = data.toByteArray
      val raster = lzwDecode(z, minCode, w * h)
      if (raster == null || raster.length != w * h)
        return Array.emptyByteArray
      if (!interlaced) raster else deinterlace(raster, w, h)
    }
  }

  /** Variable-width LZW decode, LSB-first bit order, decoder-standard
    * width growth — the entropy core of the GIF walk, factored so the
    * single-frame ([[GifCodec]]) and animated ([[Video.AnimGifCodec]])
    * container walks share one implementation. Returns null on any
    * malformation (out-of-range code, truncated stream) and bounds the
    * output DURING the decode at `maxLen` bytes — an LZW expansion
    * bomb (small stream, geometric dictionary growth) must not
    * allocate past the geometry the header declared before any
    * post-loop length check runs.
    */
  private[operators] def lzwDecode(z: Array[Byte], minCode: Int,
      maxLen: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    val dict = new Array[Array[Byte]](4096)
    (0 until clear).foreach(i => dict(i) = Array(i.toByte))
    var width = minCode + 1
    var next = eoi + 1
    var prev: Array[Byte] = null
    var bitPos = 0
    var done = false
    while (!done) {
      if (bitPos + width > z.length * 8) return null
      var code = 0; var k = 0
      while (k < width) {
        val bit = bitPos + k
        if ((z(bit >> 3) >> (bit & 7) & 1) != 0) code |= 1 << k
        k += 1
      }
      bitPos += width
      if (code == clear) {
        next = eoi + 1; width = minCode + 1; prev = null
      } else if (code == eoi) {
        done = true
      } else {
        val entry: Array[Byte] =
          if (code < next && code != eoi && (code < clear || dict(code) != null))
            dict(code)
          else if (code == next && prev != null) prev :+ prev(0)
          else return null // out-of-range: stream is lies
        out.write(entry)
        if (out.size() > maxLen) return null
        if (prev != null && next < 4096) {
          dict(next) = prev :+ entry(0)
          next += 1
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = entry
      }
    }
    out.toByteArray
  }

  /** De-interlace: physical rows arrive in GIF's 4-pass order. */
  private[operators] def deinterlace(raster: Array[Byte], w: Int,
      h: Int): Array[Byte] = {
    val logical = new Array[Byte](raster.length)
    var phys = 0
    Seq((0, 8), (4, 8), (2, 4), (1, 2)).foreach { case (start, step) =>
      var r = start
      while (r < h) {
        System.arraycopy(raster, phys * w, logical, r * w, w)
        phys += 1; r += step
      }
    }
    logical
  }

  /** Synthesize a canonical GIF89a holding `s`'s bytes as 8-bit palette
    * indices. Width cycles 1..7 by length, the final row pads with
    * spaces (decoded stream = `rpad(s, w*ceil(len/w), ' ')` — the
    * BMP/PNG closed form at modulus 7), even lengths are INTERLACED
    * (physical rows written in the 4-pass order), the LZW stream uses
    * minCodeSize 7 (width starts at 8 and genuinely widens to 9 on
    * longer documents), the sub-block split starts at a
    * length-dependent boundary, and a comment-extension block sits
    * before the image descriptor so the walk must skip it.
    * `malformed` corrupts the signature.
    *
    * The encoder tracks the DECODER's (width, next) evolution
    * explicitly and emits each code at the width the decoder will
    * read it with — the decoder's dictionary lags the encoder's by
    * one entry, so sharing one counter is the classic way to
    * desynchronize the two sides.
    */
  def gifEncode(s: String, malformed: Boolean = false): Array[Byte] = {
    val px = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val w = (px.length % 7) + 1
    val h = (px.length + w - 1) / w
    val raster = new Array[Byte](w * h)
    java.util.Arrays.fill(raster, ' '.toByte)
    System.arraycopy(px, 0, raster, 0, px.length)
    val interlaced = px.length % 2 == 0
    val physRows: Seq[Int] =
      if (!interlaced) 0 until h
      else Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (st, sp) =>
        st.until(h, sp)
      }
    val stream = new Array[Byte](w * h)
    physRows.zipWithIndex.foreach { case (r, i) =>
      System.arraycopy(raster, r * w, stream, i * w, w)
    }
    val minCode = 7
    val z = lzwCompress(stream, minCode)
    val out = new java.io.ByteArrayOutputStream()
    out.write((if (malformed) "XIF89a" else "GIF89a")
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 6)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write(v >> 8 & 0xff) }
    w16(w); w16(h)
    out.write(0xf7) // global table present, 256 entries, 8-bit color
    out.write(0); out.write(0) // bg color, aspect
    (0 until 256).foreach { c => out.write(c); out.write(c); out.write(c) }
    // comment extension with a length-dependent body — the skip test
    val note = ("c" * ((px.length % 5) + 1))
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    out.write(0x21); out.write(0xfe)
    out.write(note.length); out.write(note, 0, note.length); out.write(0)
    out.write(0x2c) // image descriptor
    w16(0); w16(0); w16(w); w16(h)
    out.write(if (interlaced) 0x40 else 0x00)
    out.write(minCode)
    // sub-block split: first block at a length-dependent boundary,
    // the rest in maximal 255-byte blocks
    val first = math.min(z.length, (px.length % 11) + 1)
    var pos = 0
    var blockLen = first
    while (pos < z.length) {
      val n = math.min(blockLen, z.length - pos)
      if (n > 0) { out.write(n); out.write(z, pos, n) }
      pos += n
      blockLen = 255
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** LZW compress: greedy longest match against the encoder dict;
    * width/next simulate the DECODER's state — the decoder's
    * dictionary lags the encoder's by one entry, so sharing one
    * counter is the classic way to desynchronize the two sides. Each
    * code is emitted at the width the decoder will read it with.
    * Factored so the single-frame ([[gifEncode]]) and animated
    * ([[Video.animGifEncode]]) encoders share one implementation.
    */
  private[operators] def lzwCompress(stream: Array[Byte],
      minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val bits = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    var dWidth = minCode + 1
    var dNext = eoi + 1
    var emitted = 0 // codes emitted since the last clear (for dNext lag)
    def put(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt; bitCnt += dWidth
      while (bitCnt >= 8) {
        bits.write((bitBuf & 0xff).toInt); bitBuf >>= 8; bitCnt -= 8
      }
    }
    val enc = new java.util.HashMap[String, Integer]()
    (0 until clear).foreach(i => enc.put(s"${i.toChar}", i))
    var eNext = eoi + 1
    def key(bs: StringBuilder): String = bs.toString
    put(clear)
    var cur = new StringBuilder
    var i = 0
    while (i < stream.length) {
      val b = (stream(i) & 0xff).toChar
      if (enc.containsKey(key(new StringBuilder(cur.toString).append(b)))) {
        cur.append(b)
      } else {
        put(enc.get(key(cur)).intValue())
        // decoder side: it adds an entry for every emitted code AFTER
        // the first one following a clear, then widens at 2^width
        emitted += 1
        if (emitted >= 2 && dNext < 4096) {
          dNext += 1
          if (dNext == (1 << dWidth) && dWidth < 12) dWidth += 1
        }
        enc.put(key(new StringBuilder(cur.toString).append(b)), eNext)
        eNext += 1
        if (eNext == 4096 + 1) {
          // dict full: clear both sides (unreached at doc sizes, kept
          // for the contract)
          put(clear)
          enc.clear()
          (0 until clear).foreach(c => enc.put(s"${c.toChar}", c))
          eNext = eoi + 1; dNext = eoi + 1; dWidth = minCode + 1
          emitted = 0
        }
        cur = new StringBuilder().append(b)
      }
      i += 1
    }
    if (cur.nonEmpty) {
      put(enc.get(key(cur)).intValue())
      emitted += 1
      if (emitted >= 2 && dNext < 4096) {
        dNext += 1
        if (dNext == (1 << dWidth) && dWidth < 12) dWidth += 1
      }
    }
    put(eoi)
    if (bitCnt > 0) bits.write((bitBuf & 0xff).toInt)
    bits.toByteArray
  }

  /** Synthetic GIF media table: every 19th-ish doc (doc_id % 19 == 7)
    * is corrupted — the oracle predicts those rows decode empty. */
  def gifMediaTable(spark: SparkSession, dir: String): DataFrame = {
    val enc = udf((s: String, bad: Boolean) => gifEncode(s, bad))
    Tables.documents(spark, dir)
      .select(col("doc_id"), lit("image").as("kind"),
        enc(regexp_replace(col("text"), "[^ -~]", ""),
          col("doc_id") % 19 === 7).as("payload"))
  }

  /** Registry entry: the feature battery over [[GifCodec]] — the
    * oracle rebuilds every column from `documents.text` (the raster is
    * the space-padded printable projection at width (len % 7) + 1), so
    * only a decoder that reassembles the sub-block stream, tracks the
    * variable LZW code width through every widening point, and
    * de-interlaces the 4-pass row order matches — and the corrupted
    * subset must decode empty.
    */
  def mediaGif(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = gifMediaTable(spark, dir).as[MediaRecord]
    extractFeatures(ds, GifCodec)
      .toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"),
        col("entropy"), col("frames_sampled"),
        hex(col("preview")).as("preview_hex"))
      .orderBy(col("doc_id"))
  }

  /** Synthetic media table: deterministic binary payloads derived from
    * document text (stand-in for real image/audio bytes), with typed
    * metadata columns a real pipeline would carry.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        encode(col("text"), "UTF-8").as("payload"))

  /** Binary statistics — exact byte computations, no stub involved. */
  def mediaStats(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(
        col("doc_id"),
        col("kind"),
        length(col("payload")).cast("long").as("n_bytes"),
        sha2(col("payload"), 256).as("sha_hex"))
      .orderBy(col("doc_id"))

  /** Deterministic "resize": stride-sample the decoded payload down to
    * exactly `n` bytes (zero-padded for short inputs) — the fixed-shape
    * output contract a raster resize has, computed on real bytes.
    */
  def resizeTo(decoded: Array[Byte], n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    if (decoded.nonEmpty) {
      var i = 0
      while (i < n) {
        out(i) = decoded((i.toLong * decoded.length / n).toInt)
        i += 1
      }
    }
    out
  }

  /** Decode + featurize, batched per partition: one codec per partition
    * (expensive init amortized, the reason real pipelines batch), then a
    * 16-bin byte histogram + Shannon entropy per record, and every
    * `frameStep`-th byte "frame-sampled".
    */
  def extractFeatures(media: Dataset[MediaRecord], codec: Codec,
      frameStep: Int = 64): Dataset[MediaFeatures] =
    extractFeatures(media, () => codec, frameStep)

  /** Factory form — the real-deployment shape: a codec context
    * (libjpeg/ffmpeg handle) is CONSTRUCTED once per partition on the
    * executor, not serialized from the driver; MultimodalSpec counts
    * constructions to prove the batching claim.
    */
  def extractFeatures(media: Dataset[MediaRecord],
      codecFactory: () => Codec, frameStep: Int): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      val c = codecFactory() // per-partition init boundary
      records.map { r =>
        val decoded = c.decode(r.payload)
        val counts = new Array[Long](16)
        decoded.foreach(b => counts((b & 0xff) >> 4) += 1)
        val n = decoded.length.toDouble
        val hist = counts.map(x => if (n > 0) x / n else 0.0)
        val entropy = -hist.filter(_ > 0).map(p => p * math.log(p)).sum /
          math.log(2)
        val frames = decoded.indices.count(_ % frameStep == 0)
        MediaFeatures(r.doc_id, r.kind, decoded.length.toLong,
          BigDecimal(entropy).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble,
          hist, frames, resizeTo(decoded, 16))
      }
    }
  }

  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = mediaTable(spark, dir).as[MediaRecord]
    extractFeatures(ds, StubCodec)
      .toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"),
        col("entropy"), col("frames_sampled"),
        hex(col("preview")).as("preview_hex"))
      .orderBy(col("doc_id"))
  }

  /** Synthetic RLE media table: the printable-ASCII projection of each
    * document, [[rleEncode]]d — so the payload is NOT the decoded
    * stream and only a correct run expansion reproduces the oracle's
    * independently-derived decoded statistics.
    */
  def rleMediaTable(spark: SparkSession, dir: String): DataFrame = {
    val enc = udf((s: String) => rleEncode(s))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        enc(regexp_replace(col("text"), "[^ -~]", "")).as("payload"))
  }

  /** Registry entry: the full feature battery over a codec that
    * genuinely transforms bytes ([[RleCodec]]) — n_bytes, histogram
    * entropy, frame count, and stride preview are all properties of
    * the DECODED stream, ~3x the payload, which the oracle rebuilds
    * from `documents.text` without ever seeing the payload.
    */
  def mediaDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = rleMediaTable(spark, dir).as[MediaRecord]
    extractFeatures(ds, RleCodec)
      .toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"),
        col("entropy"), col("frames_sampled"),
        hex(col("preview")).as("preview_hex"))
      .orderBy(col("doc_id"))
  }

  // ---------- image perceptual near-dup (dHash over decoded rasters) --

  case class RasterHash(doc_id: Long, c0: Int, c1: Int, c2: Int, c3: Int)

  /** 64-bit difference hash (dHash — the standard perceptual image
    * fingerprint: Krawetz's "Kind of Like That" gradient hash) of a
    * decoded grayscale raster, as FOUR 16-bit chunks. The hash samples
    * a fixed 9x8 nearest-neighbor grid over (w, h) and sets bit
    * (j*8+i) when the right sample of row j, column i is brighter
    * than the left — brightness GRADIENTS, so the hash survives
    * uniform exposure shifts, the property that makes dHash the
    * near-dup unit for images where exact byte hashes are useless.
    *
    * Chunked representation, deliberately: 16-bit unsigned chunks are
    * sign-safe in every engine (a packed 64-bit hash's top bit is
    * not), the chunks ARE the pigeonhole blocking keys (the
    * [[Dedup.simhashPairs]] pattern), and hamming distance is the sum
    * of four bit_count(xor) terms.
    *
    * Degenerate rasters are REJECTED (None): width < 2 has no
    * horizontal gradient — every such image hashes identically, and
    * at corpus scale that one bucket degrades the blocked join to
    * quadratic. A real pipeline gates on minimum dimensions for the
    * same reason; the exclusion is the documented posture, mirrored
    * in the oracle.
    */
  private[graft] def dHashChunks(w: Int, h: Int,
      r: Array[Byte]): Option[(Int, Int, Int, Int)] =
    if (w < 2 || h <= 0 || r.length != w * h) None
    else {
      val c = new Array[Int](4)
      var j = 0
      while (j < 8) {
        val y = j * h / 8
        var i = 0
        while (i < 8) {
          val x0 = i * w / 9
          val x1 = (i + 1) * w / 9
          if ((r(y * w + x1) & 0xff) > (r(y * w + x0) & 0xff)) {
            val bit = j * 8 + i
            c(bit / 16) |= 1 << (bit % 16)
          }
          i += 1
        }
        j += 1
      }
      Some((c(0), c(1), c(2), c(3)))
    }

  /** Per-doc dHash chunks of the PNG media table's DECODED rasters —
    * batched per partition like [[extractFeatures]] (one codec
    * boundary, narrow mapPartitions, no shuffle). Corrupted payloads
    * decode empty and degenerate geometries return None, so both are
    * absent by construction.
    */
  def mediaDHashes(spark: SparkSession, dir: String)
      : Dataset[RasterHash] = {
    import spark.implicits._
    pngMediaTable(spark, dir).as[MediaRecord].mapPartitions { recs =>
      recs.flatMap { r =>
        val (w, h, px) = PngCodec.decodeRaster(r.payload)
        dHashChunks(w, h, px).map { case (a, b, c, d) =>
          RasterHash(r.doc_id, a, b, c, d)
        }
      }
    }
  }

  /** The chunk-blocked hamming pair join shared by the image (dHash)
    * and audio (energy-envelope) perceptual families: block each
    * 64-bit fingerprint on its 4 16-bit chunks, equi-join candidates
    * that share a chunk value, verify with summed bit_count(xor).
    * Pigeonhole: a pair within hamming distance 3 agrees on at least
    * one chunk, so maxHamming <= 3 has no false negatives (the
    * [[Dedup.simhashPairs]] guarantee). Candidate work is bounded by
    * chunk bucket occupancy — hash-similar items, never all pairs.
    * `hs` must be (doc_id, c0, c1, c2, c3), already materialized.
    */
  private[operators] def hammingPairs(hs: DataFrame,
      maxHamming: Int): DataFrame = {
    val chunks = (0 until 4).map(c =>
      struct(lit(c).as("chunk"), col(s"c$c").as("ck")))
    val keyed = hs.select(col("doc_id"), col("c0"), col("c1"),
        col("c2"), col("c3"), explode(array(chunks: _*)).as("k"))
      .select(col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        col("k.chunk").as("chunk"), col("k.ck").as("ck"))
    val ham = (0 until 4)
      .map(c => bit_count(col(s"a.c$c").bitwiseXOR(col(s"b.c$c"))))
      .reduce(_ + _)
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"),
        col("b.doc_id").as("doc_id_2"), ham.cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_id_1"), col("doc_id_2"))
  }

  /** Image near-dup pairs through the codec seam: decode raster →
    * dHash → the shared [[hammingPairs]] chunk-blocked join.
    */
  def mediaNearDup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(mediaDHashes(spark, dir).toDF().localCheckpoint(),
      maxHamming)

  /** Transitive image near-dup groups: the dHash pair graph closed
    * under [[Dedup.connectedComponents]] (min-label propagation with
    * pointer jumping, O(log diameter) rounds) — images dedup
    * transitively exactly like text (a chain of hamming-3 neighbors
    * is one retained exemplar), so the media family composes with the
    * SAME clustering machinery the text family uses.
    */
  def mediaDupClusters(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    Dedup.connectedComponents(
      mediaNearDup(spark, dir, maxHamming)
        .select(col("doc_id_1"), col("doc_id_2")))
      .withColumnRenamed("node", "doc_id")
      .orderBy(col("doc_id"))

  // ---------- audio perceptual near-dup (energy-envelope delta hash) --

  /** 64-bit energy-envelope delta-sign fingerprint of decoded PCM
    * samples — the 1-D analog of [[dHashChunks]] and the shape every
    * published audio fingerprint reduces to (Haitsma & Kalker's
    * "Highly Robust Audio Fingerprinting" sign-of-band-energy-delta,
    * collapsed to one band at the synthetic corpus' 8-bit mono
    * resolution): split the stream into 65 equal spans (sample i maps
    * to span i*65/n), take each span's EXACT integer energy (sum of
    * unsigned sample values — order-free, engine-exact), and set bit
    * k when span k+1 is louder than span k. Energy GRADIENTS, so the
    * fingerprint survives uniform gain shifts, exactly as dHash
    * survives exposure shifts. Same 4x16-bit chunk layout: sign-safe
    * in every engine, chunks double as the pigeonhole blocking keys,
    * hamming = sum of four bit_count(xor) terms.
    *
    * Clips shorter than 65 samples are REJECTED (None): with fewer
    * samples than spans some span is empty and the envelope is
    * undefined — and a sub-65-sample "clip" is noise, not audio. The
    * exclusion is the documented posture (the dHash width < 2
    * analog), mirrored in the oracle.
    */
  private[graft] def audioHashChunks(s: Array[Byte])
      : Option[(Int, Int, Int, Int)] =
    if (s.length < 65) None
    else {
      val n = s.length
      val e = new Array[Long](65)
      var i = 0
      while (i < n) {
        e((i.toLong * 65 / n).toInt) += (s(i) & 0xff).toLong
        i += 1
      }
      val c = new Array[Int](4)
      var k = 0
      while (k < 64) {
        if (e(k + 1) > e(k)) c(k / 16) |= 1 << (k % 16)
        k += 1
      }
      Some((c(0), c(1), c(2), c(3)))
    }

  /** Per-doc envelope fingerprints of the WAV media table's DECODED
    * samples — batched per partition like [[extractFeatures]] (one
    * codec boundary, narrow mapPartitions, no shuffle). Corrupted
    * payloads decode empty and sub-65-sample clips return None, so
    * both are absent by construction.
    */
  def audioFingerprints(spark: SparkSession, dir: String)
      : Dataset[RasterHash] = {
    import spark.implicits._
    wavMediaTable(spark, dir).as[MediaRecord].mapPartitions { recs =>
      recs.flatMap { r =>
        audioHashChunks(WavCodec.decode(r.payload)).map {
          case (a, b, c, d) => RasterHash(r.doc_id, a, b, c, d)
        }
      }
    }
  }

  /** Audio near-dup pairs through the codec seam: decode PCM →
    * envelope fingerprint → the shared [[hammingPairs]] chunk-blocked
    * join. The last modality the codec seam decodes now has its dedup
    * family: images (dHash), audio (envelope), text (MinHash/SimHash)
    * all reduce to the same blocked-join + CC machinery.
    */
  def audioNearDup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(audioFingerprints(spark, dir).toDF().localCheckpoint(),
      maxHamming)

  /** Transitive audio near-dup groups: the envelope pair graph closed
    * under [[Dedup.connectedComponents]] — same clustering machinery
    * as text and image dedup.
    */
  def audioDupClusters(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    Dedup.connectedComponents(
      audioNearDup(spark, dir, maxHamming)
        .select(col("doc_id_1"), col("doc_id_2")))
      .withColumnRenamed("node", "doc_id")
      .orderBy(col("doc_id"))

  /** Shared by audio_near_dup and audio_dup_clusters: per-doc 4x16-bit
    * energy-envelope fingerprint chunks, recomputed from the WAV
    * table's closed-form decoded sample stream (the printable
    * projection; `Multimodal.audioHashChunks` semantics — 65 equal
    * spans, exact integer span energies, bit k = span k+1 louder than
    * span k). Corrupted subset (doc_id % 11 = 7) and sub-65-sample
    * clips excluded by construction.
    */
  private val AudioH4Cte: String =
    """WITH cl AS (
      |  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS s
      |  FROM documents WHERE doc_id % 11 <> 7),
      |m AS (
      |  SELECT doc_id, s, length(s) AS n FROM cl WHERE length(s) >= 65),
      |sam AS (
      |  SELECT doc_id, n, t.i AS pos,
      |    ascii(substr(s, CAST(t.i + 1 AS INTEGER), 1)) AS v
      |  FROM m, unnest(range(m.n)) AS t(i)),
      |fr AS (
      |  SELECT doc_id, (pos * 65) // n AS f, sum(v) AS e
      |  FROM sam GROUP BY doc_id, (pos * 65) // n),
      |ck AS (
      |  SELECT a.doc_id, a.f // 16 AS chunk,
      |    CAST(sum(CASE WHEN b.e > a.e THEN 1 << CAST(a.f % 16 AS INTEGER)
      |             ELSE 0 END) AS INTEGER) AS ck
      |  FROM fr a JOIN fr b ON a.doc_id = b.doc_id AND b.f = a.f + 1
      |  GROUP BY a.doc_id, a.f // 16),
      |h4 AS (
      |  SELECT doc_id,
      |    max(CASE WHEN chunk = 0 THEN ck END) AS c0,
      |    max(CASE WHEN chunk = 1 THEN ck END) AS c1,
      |    max(CASE WHEN chunk = 2 THEN ck END) AS c2,
      |    max(CASE WHEN chunk = 3 THEN ck END) AS c3
      |  FROM ck GROUP BY doc_id)""".stripMargin

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("media_stats", (s, d) => mediaStats(s, d),
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha_hex
        |FROM documents ORDER BY doc_id""".stripMargin),
    // media_features is fully deterministic (the stub codec is the
    // identity), so DuckDB recomputes every column from the UTF-8
    // bytes: the 16-bin HIGH-nibble histogram/entropy read off the odd
    // positions of the hex rendering, ceil-division frame count, and
    // the stride-sampled 16-byte preview.
    Query("media_features", (s, d) => mediaFeatures(s, d),
      """WITH m AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN 'image'
        |              WHEN doc_id % 3 = 1 THEN 'audio'
        |              ELSE 'video' END AS kind,
        |         hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
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
    Query("media_decode", (s, d) => mediaDecode(s, d),
      """WITH cl AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN 'image'
        |              WHEN doc_id % 3 = 1 THEN 'audio'
        |              ELSE 'video' END AS kind,
        |         regexp_replace(text, '[^ -~]', '', 'g') AS s
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, substring(s, CAST(i AS INTEGER), 1) AS c,
        |         CAST((i % 5) + 1 AS INTEGER) AS rl, i
        |  FROM cl, unnest(range(1, length(s) + 1)) AS u(i)),
        |dec AS (
        |  SELECT doc_id, string_agg(repeat(c, rl), '' ORDER BY i) AS ds
        |  FROM ch GROUP BY doc_id),
        |m AS (
        |  SELECT cl.doc_id, cl.kind,
        |         hex(encode(coalesce(dec.ds, ''))) AS hx,
        |         octet_length(encode(coalesce(dec.ds, ''))) AS n
        |  FROM cl LEFT JOIN dec USING (doc_id)),
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
    // real RIFF/WAVE container walk (variable JUNK chunk, word
    // alignment, malformed subset decodes empty) — the oracle rebuilds
    // every column from documents.text without seeing the container
    // media_decode runs the NON-identity RleCodec: the oracle rebuilds
    // the decoded byte stream itself (each printable-ASCII char of the
    // document repeated by its closed-form run length) from
    // documents.text — it never sees the payload, so only a correct
    // run expansion reproduces n_bytes, the high-nibble histogram
    // entropy, the ceil-division frame count, and the stride preview.
    // media_wav: the decoded stream IS the printable projection (the
    // WAV samples), so the oracle replays n_bytes/entropy/frames/
    // preview from documents.text directly; the corrupted subset
    // (doc_id % 11 = 7) must decode EMPTY — a codec that threw, or
    // walked past the JUNK chunk wrongly, mismatches those rows
    Query("media_wav", (s, d) => mediaWav(s, d),
      """WITH cl AS (
        |  SELECT doc_id, 'audio' AS kind,
        |         CASE WHEN doc_id % 11 = 7 THEN ''
        |              ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS ds
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, kind, hex(encode(ds)) AS hx,
        |         octet_length(encode(ds)) AS n
        |  FROM cl),
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
    // real BMP container walk (bfOffBits indirection, 4-byte row
    // stride, bottom-up vs top-down row order; corrupted subset
    // decodes empty) — oracle rebuilds every column from documents.text
    // media_bmp: the decoded raster is the printable projection padded
    // with spaces to w*ceil(len/w) where w = (len % 5) + 1 — a closed
    // form replayed from documents.text; the corrupted subset
    // (doc_id % 13 = 5) must decode EMPTY. A decoder that read the
    // palette as pixels (ignored bfOffBits), kept the stride padding,
    // or mis-ordered bottom-up rows mismatches on every column.
    Query("media_bmp", (s, d) => mediaBmp(s, d),
      """WITH cl AS (
        |  SELECT doc_id, 'image' AS kind,
        |         CASE WHEN doc_id % 13 = 5 THEN ''
        |              ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS s
        |  FROM documents),
        |pad AS (
        |  SELECT doc_id, kind,
        |         CASE WHEN length(s) = 0 THEN ''
        |              ELSE rpad(s, CAST(((length(s) % 5) + 1)
        |                * ((length(s) + (length(s) % 5))
        |                   // ((length(s) % 5) + 1)) AS INTEGER), ' ')
        |         END AS ds
        |  FROM cl),
        |m AS (
        |  SELECT doc_id, kind, hex(encode(ds)) AS hx,
        |         octet_length(encode(ds)) AS n
        |  FROM pad),
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
    // real PNG container walk with an ENTROPY-CODED payload: per-chunk
    // CRC32 validation, split-IDAT zlib inflate, all five scanline
    // filters reconstructed; corrupted subset decodes empty — oracle
    // rebuilds every column from documents.text
    // media_png: the decoded raster is the printable projection padded
    // with spaces to w*ceil(len/w) where w = (len % 6) + 1 — the BMP
    // closed form at a different modulus; the corrupted subset
    // (doc_id % 17 = 3) must decode EMPTY. Unlike BMP the raster is
    // UNREACHABLE without actually inflating the split-IDAT zlib
    // stream and reconstructing the five cycling scanline filters —
    // no header arithmetic reproduces these columns.
    Query("media_png", (s, d) => mediaPng(s, d),
      """WITH cl AS (
        |  SELECT doc_id, 'image' AS kind,
        |         CASE WHEN doc_id % 17 = 3 THEN ''
        |              ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS s
        |  FROM documents),
        |pad AS (
        |  SELECT doc_id, kind,
        |         CASE WHEN length(s) = 0 THEN ''
        |              ELSE rpad(s, CAST(((length(s) % 6) + 1)
        |                * ((length(s) + (length(s) % 6))
        |                   // ((length(s) % 6) + 1)) AS INTEGER), ' ')
        |         END AS ds
        |  FROM cl),
        |m AS (
        |  SELECT doc_id, kind, hex(encode(ds)) AS hx,
        |         octet_length(encode(ds)) AS n
        |  FROM pad),
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
    // real GIF container walk with the SECOND entropy coding:
    // variable-width LZW (growing dictionary, width-widening points,
    // clear/EOI), sub-block stream reassembly, extension skipping,
    // 4-pass interlace; corrupted subset decodes empty
    // media_gif: the decoded raster is the printable projection padded
    // with spaces to w*ceil(len/w) where w = (len % 7) + 1 — the
    // BMP/PNG closed form at modulus 7; the corrupted subset
    // (doc_id % 19 = 7) must decode EMPTY. The raster is unreachable
    // without reassembling the sub-block stream, decoding variable-
    // width LZW through every code-width widening point, and
    // de-interlacing the 4-pass row order on even-length docs.
    Query("media_gif", (s, d) => mediaGif(s, d),
      """WITH cl AS (
        |  SELECT doc_id, 'image' AS kind,
        |         CASE WHEN doc_id % 19 = 7 THEN ''
        |              ELSE regexp_replace(text, '[^ -~]', '', 'g') END AS s
        |  FROM documents),
        |pad AS (
        |  SELECT doc_id, kind,
        |         CASE WHEN length(s) = 0 THEN ''
        |              ELSE rpad(s, CAST(((length(s) % 7) + 1)
        |                * ((length(s) + (length(s) % 7))
        |                   // ((length(s) % 7) + 1)) AS INTEGER), ' ')
        |         END AS ds
        |  FROM cl),
        |m AS (
        |  SELECT doc_id, kind, hex(encode(ds)) AS hx,
        |         octet_length(encode(ds)) AS n
        |  FROM pad),
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
    // media_near_dup: dHash over the PNG table's decoded rasters.
    // The oracle recomputes the hash from the closed-form raster
    // (printable projection padded to w*ceil(n/w), w = n%6+1), with
    // the corrupted subset (doc_id % 17 = 3, empty decode) and
    // degenerate w < 2 geometries excluded by construction. The
    // brute-force pair join here equals the engine's chunk-blocked
    // join exactly: pigeonhole makes blocking lossless at hamming<=3.
    Query("media_near_dup", (s, d) => mediaNearDup(s, d),
      """WITH cl AS (
        |  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS s
        |  FROM documents WHERE doc_id % 17 <> 3),
        |geo AS (
        |  SELECT doc_id, s, (length(s) % 6) + 1 AS w,
        |    (length(s) + (length(s) % 6)) // ((length(s) % 6) + 1) AS h
        |  FROM cl WHERE length(s) > 0),
        |ras AS (
        |  SELECT doc_id, w, h, rpad(s, CAST(w * h AS INTEGER), ' ') AS r
        |  FROM geo WHERE w >= 2),
        |grid AS (
        |  SELECT doc_id, w, r, (t1.j * 8 + t2.i) AS bit,
        |    (t1.j * h) // 8 AS y, (t2.i * w) // 9 AS x0,
        |    ((t2.i + 1) * w) // 9 AS x1
        |  FROM ras, unnest(range(8)) AS t1(j), unnest(range(8)) AS t2(i)),
        |ck AS (
        |  SELECT doc_id, bit // 16 AS chunk,
        |    CAST(sum(CASE WHEN
        |        ascii(substr(r, CAST(y * w + x1 + 1 AS INTEGER), 1)) >
        |        ascii(substr(r, CAST(y * w + x0 + 1 AS INTEGER), 1))
        |      THEN 1 << (bit % 16) ELSE 0 END) AS INTEGER) AS ck
        |  FROM grid GROUP BY doc_id, bit // 16),
        |h4 AS (
        |  SELECT doc_id,
        |    max(CASE WHEN chunk = 0 THEN ck END) AS c0,
        |    max(CASE WHEN chunk = 1 THEN ck END) AS c1,
        |    max(CASE WHEN chunk = 2 THEN ck END) AS c2,
        |    max(CASE WHEN chunk = 3 THEN ck END) AS c3
        |  FROM ck GROUP BY doc_id)
        |SELECT * FROM (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |    CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
        |         bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3))
        |      AS INTEGER) AS hamming
        |  FROM h4 a JOIN h4 b ON a.doc_id < b.doc_id)
        |WHERE hamming <= 3
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    // media_dup_clusters: the same pair graph, closed transitively —
    // the dedup_clusters recursive-CTE pattern over dHash pairs
    Query("media_dup_clusters", (s, d) => mediaDupClusters(s, d),
      """WITH RECURSIVE cl AS (
        |  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS s
        |  FROM documents WHERE doc_id % 17 <> 3),
        |geo AS (
        |  SELECT doc_id, s, (length(s) % 6) + 1 AS w,
        |    (length(s) + (length(s) % 6)) // ((length(s) % 6) + 1) AS h
        |  FROM cl WHERE length(s) > 0),
        |ras AS (
        |  SELECT doc_id, w, h, rpad(s, CAST(w * h AS INTEGER), ' ') AS r
        |  FROM geo WHERE w >= 2),
        |grid AS (
        |  SELECT doc_id, w, r, (t1.j * 8 + t2.i) AS bit,
        |    (t1.j * h) // 8 AS y, (t2.i * w) // 9 AS x0,
        |    ((t2.i + 1) * w) // 9 AS x1
        |  FROM ras, unnest(range(8)) AS t1(j), unnest(range(8)) AS t2(i)),
        |ck AS (
        |  SELECT doc_id, bit // 16 AS chunk,
        |    CAST(sum(CASE WHEN
        |        ascii(substr(r, CAST(y * w + x1 + 1 AS INTEGER), 1)) >
        |        ascii(substr(r, CAST(y * w + x0 + 1 AS INTEGER), 1))
        |      THEN 1 << (bit % 16) ELSE 0 END) AS INTEGER) AS ck
        |  FROM grid GROUP BY doc_id, bit // 16),
        |h4 AS (
        |  SELECT doc_id,
        |    max(CASE WHEN chunk = 0 THEN ck END) AS c0,
        |    max(CASE WHEN chunk = 1 THEN ck END) AS c1,
        |    max(CASE WHEN chunk = 2 THEN ck END) AS c2,
        |    max(CASE WHEN chunk = 3 THEN ck END) AS c3
        |  FROM ck GROUP BY doc_id),
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
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),
    // energy-envelope fingerprint over DECODED WAV samples: the audio
    // analog of media_near_dup, same chunk-blocked join + CC closure;
    // corrupted payloads and sub-65-sample clips absent by construction
    // audio_near_dup: energy-envelope fingerprint over the WAV table's
    // DECODED PCM samples (the printable projection — unreachable
    // without a correct RIFF chunk walk). The oracle recomputes the
    // 65-span envelope from the closed-form sample stream with exact
    // integer span energies, rebuilds the 64 delta-sign bits, and
    // brute-force pair-joins: pigeonhole makes the engine's chunk
    // blocking lossless at hamming<=3, so the joins are equal. The
    // corrupted subset (doc_id % 11 = 7, empty decode) and sub-65-
    // sample clips are excluded by construction.
    Query("audio_near_dup", (s, d) => audioNearDup(s, d),
      (AudioH4Cte + """
        |SELECT * FROM (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |    CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
        |         bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3))
        |      AS INTEGER) AS hamming
        |  FROM h4 a JOIN h4 b ON a.doc_id < b.doc_id)
        |WHERE hamming <= 3
        |ORDER BY doc_id_1, doc_id_2""".stripMargin)),
    // audio_dup_clusters: the same pair graph, closed transitively —
    // the media_dup_clusters recursive-CTE pattern over envelope pairs
    Query("audio_dup_clusters", (s, d) => audioDupClusters(s, d),
      ("WITH RECURSIVE" + AudioH4Cte.stripPrefix("WITH") + """,
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
