package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media row: an opaque binary payload + typed metadata. At scale the
  * payload column stays columnar (Parquet binary) and is only ever
  * processed partition-local — no shuffle touches the bytes. */
case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])

/** Extracted per-media features (decode output). */
case class MediaMeta(doc_id: Long, media_type: String, n_bytes: Long,
                     frame_count: Long, sample_sum: Long, sample_hash: Long)

/** One sampled frame (decode-stage output, one-to-many per media row). */
case class FrameSample(doc_id: Long, media_type: String,
                       frame_idx: Long, frame_byte: Long)

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, decoded partition-locally via a typed
  * `Dataset.mapPartitions` (the Scala analogue of `mapInPandas` batches).
  *
  * The codec itself is a STUB — no image/audio libraries exist in this
  * container — replaced by a deterministic fake: "frames" are 64-byte
  * strides and "features" are a sum + rolling hash over the stride-sampled
  * bytes. The Spark-side plumbing is real and load-bearing: binary-column
  * schema, case-class Encoders, per-partition batch iteration, and scalar
  * feature output that downstream relational ops consume.
  */
object Multimodal {

  val FrameStride = 64

  /** Wrap documents as media rows: payload = UTF-8 bytes of the text
    * (stand-in for real image/audio bytes), media type cycles by id. */
  def toMedia(docs: DataFrame)(implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** The stub feature math shared by both decode forms. */
  private def features(m: MediaRow): MediaMeta = {
    val n = m.payload.length
    var sum = 0L; var h = 0L; var i = 0
    while (i < n) { // sample one byte per frame stride
      val b = (m.payload(i) & 0xff).toLong
      sum += b
      h = (h * 31 + b) % TextKit.P
      i += FrameStride
    }
    MediaMeta(m.doc_id, m.media_type, n.toLong,
      frame_count = (n.toLong + FrameStride - 1) / FrameStride,
      sample_sum = sum, sample_hash = h)
  }

  /** STUB decode: real impl would dispatch per media_type to a codec
    * (JPEG decode / PCM frames / video keyframes) inside the same
    * mapPartitions loop. Deterministic fake keeps the dataflow testable. */
  def decodeStub(media: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[MediaMeta] = {
    import spark.implicits._
    media.mapPartitions(rows => rows.map(features))
  }

  /** Batched decode — the `mapInPandas` batch shape made explicit in
    * Scala: ONE (stubbed) codec context per partition, rows pulled
    * through it in `batchSize` chunks. Real decoders amortize
    * context/model initialization this way (a JPEG decoder or ONNX
    * session is far more expensive than one row's decode); the optional
    * accumulator makes the per-partition-not-per-row init observable in
    * tests. Output is identical to [[decodeStub]] — only the iteration
    * shape differs. */
  def decodeBatched(media: Dataset[MediaRow], batchSize: Int = 128,
      initCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      (implicit spark: SparkSession): Dataset[MediaMeta] = {
    import spark.implicits._
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    media.mapPartitions { rows =>
      initCounter.foreach(_.add(1)) // stub codec-context init, once per partition
      rows.grouped(batchSize).flatMap(batch => batch.map(features))
    }
  }

  /** Land a media corpus as one file per row — the on-disk layout an
    * image/audio crawl delivers. Executor-side writes (foreachPartition),
    * no driver collect: each task writes its partition's rows, exactly
    * how a distributed landing job fans out over a cluster. */
  def landBinaryDir(media: Dataset[MediaRow], dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    media.foreachPartition { rows: Iterator[MediaRow] =>
      rows.foreach { m =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"doc_${m.doc_id}.bin"), m.payload)
      }
    }
  }

  /** Index row for a packfile corpus: where `doc_id`'s bytes live. */
  case class PackIndexRow(doc_id: Long, pack: String, offset: Long,
                          length: Long)

  /** Land a media corpus as size-targeted PACKFILES — `docsPerFile`
    * payloads concatenated per `.pack` plus a parquet
    * (doc_id, pack, offset, length) index — the media layout that
    * survives 100 TB. One-file-per-record ([[landBinaryDir]]) is the
    * layout a crawler delivers but a metadata DoS at scale: 10× rows =
    * 10× file opens/listings, measured 7.08× wall at 10× rows on the
    * binary-scan probe, and a real 100 TB crawl would be billions of
    * inodes. Packing is the standard fix (tar/WebDataset-style): byte
    * payloads stay byte-identical, random access is an (offset, length)
    * seek, and file count drops by `docsPerFile`.
    *
    * Executor-side writes, no driver collect; pack names are
    * task-deterministic (`pack_<partition>_<seq>.bin`), so a task retry
    * overwrites its own files instead of duplicating. */
  def landPackfiles(media: Dataset[MediaRow], dir: String,
      docsPerFile: Int = 64): Unit = {
    import media.sparkSession.implicits._
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val idx = media.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      rows.grouped(docsPerFile).zipWithIndex.flatMap { case (batch, seq) =>
        val name = f"pack_$pid%05d_$seq%04d.pack"
        val out = new java.io.BufferedOutputStream(
          java.nio.file.Files.newOutputStream(
            java.nio.file.Paths.get(dir, name)))
        try {
          var off = 0L
          batch.map { m =>
            out.write(m.payload)
            val r = PackIndexRow(m.doc_id, name, off, m.payload.length.toLong)
            off += m.payload.length
            r
          }
        } finally out.close()
      }
    }
    idx.write.mode("overwrite").parquet(s"$dir/_index")
  }

  /** Read a packfile corpus back as (doc_id, pack, content): shuffle the
    * O(#docs) INDEX rows so each pack's spans land in one task, sort by
    * (pack, offset), then stream each pack through one sequential-ish
    * reader — file opens are O(#packs), not O(#docs), and the payload
    * bytes never shuffle (they are read executor-side after the index
    * shuffle places the work). The reader closes via the task-completion
    * listener, covering the last-open pack and early termination. */
  def readPackfiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = spark.sessionState.conf.numShufflePartitions
    spark.read.parquet(s"$dir/_index").as[PackIndexRow]
      .repartition(p, col("pack"))
      .sortWithinPartitions("pack", "offset")
      .mapPartitions { rows =>
        var cur: String = null
        var raf: java.io.RandomAccessFile = null
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => if (raf != null) raf.close()))
        rows.map { r =>
          if (r.pack != cur) {
            if (raf != null) raf.close()
            raf = new java.io.RandomAccessFile(
              new java.io.File(dir, r.pack), "r")
            cur = r.pack
          }
          raf.seek(r.offset)
          val buf = new Array[Byte](r.length.toInt)
          raf.readFully(buf)
          (r.doc_id, r.pack, buf)
        }
      }.toDF("doc_id", "pack", "content")
  }

  /** Ingest a directory of raw media files via Spark's `binaryFile`
    * source — the multimodal ingestion entry point (one file = one row:
    * path, length, opaque `content` bytes). Pushdown note: `binaryFile`
    * supports a length/path filter pushdown (e.g. `length < N` prunes
    * oversized media before the bytes are ever read); content stays
    * partition-local from scan to decode. */
  def readBinaryDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(dir)
      .select(
        element_at(split(col("path"), "/"), -1).as("file_name"),
        col("length"), col("content"))

  /** Media-type → frame sampling step: images keep only frame 0, video
    * keyframes every 4th frame, audio windows every 8th. */
  def frameStep(mediaType: String): Int = mediaType match {
    case "image" => Int.MaxValue
    case "video" => 4
    case _       => 8
  }

  /** Frame sampling with per-type dispatch — the one-to-many decode shape
    * (one media row → N frame rows) that real image/video pipelines need
    * before per-frame feature extraction. Same typed `mapPartitions`
    * plumbing as [[decodeStub]]: the payload bytes never shuffle, the
    * emitted frames are scalar rows that downstream relational ops
    * consume. The "frame" is a [[FrameStride]]-byte stride and the
    * "decoded feature" its first byte — a stand-in for the codec this
    * container can't host — but batch iteration, dispatch, and fan-out
    * are the real, load-bearing parts. */
  // ---------------------------------------------------- image header probe
  // REAL byte parsing (not a stub): production curation pipelines gate on
  // width/height/format BEFORE any full decode — container headers carry
  // the dimensions, so the probe reads tens of bytes per asset with no
  // image library. Runs inside the same partition-local loop as the
  // decode stubs; no shuffle ever touches the payload.

  /** Parsed container header: format + dimensions, or ok=false when the
    * payload matches no known signature (or is truncated). */
  case class ImageInfo(doc_id: Long, format: String, width: Long,
                       height: Long, ok: Boolean)

  /** Parse PNG (IHDR), JPEG (SOF0/1/2 scan), and GIF (logical screen)
    * headers. Pure byte logic; returns None for unknown/truncated input. */
  def probeImageHeader(b: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int) = b(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    if (b.length >= 24 &&
        b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      Some(("png", be32(16), be32(20)))
    else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // JPEG: walk marker segments to the first start-of-frame
      var i = 2
      while (i + 9 < b.length) {
        if (u8(i) != 0xff) return None
        val marker = u8(i + 1)
        if (marker == 0xc0 || marker == 0xc1 || marker == 0xc2)
          return Some(("jpeg", be16(i + 7), be16(i + 5)))
        i += 2 + be16(i + 2) // skip this segment's payload
      }
      None
    }
    else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      Some(("gif", le16(6), le16(8)))
    else None
  }

  /** Probe a media dataset's headers partition-locally. */
  def probeImages(media: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[ImageInfo] = {
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      probeImageHeader(m.payload) match {
        case Some((fmt, w, h)) => ImageInfo(m.doc_id, fmt, w.toLong, h.toLong, ok = true)
        case None => ImageInfo(m.doc_id, "unknown", 0L, 0L, ok = false)
      }
    })
  }

  /** Synthesize a minimal valid header for tests/fixtures (PNG IHDR,
    * JPEG APP0+SOF0, GIF89a screen descriptor) followed by filler. */
  def synthesizeImage(format: String, width: Int, height: Int): Array[Byte] = {
    def be16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    format match {
      case "png" =>
        Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
          be32(13) ++ "IHDR".getBytes ++ be32(width) ++ be32(height) ++
          Array[Byte](8, 2, 0, 0, 0)
      case "jpeg" =>
        // SOI, APP0 (len 4 = 2 len bytes + 2 payload), SOF0 (len 9 =
        // 2 len bytes + prec 1 + height 2 + width 2 + 2 trailing)
        Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte) ++
          be16(4) ++ Array[Byte](0, 0) ++
          Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(9) ++
          Array[Byte](8) ++ be16(height) ++ be16(width) ++ Array[Byte](3, 0)
      case _ =>
        "GIF89a".getBytes ++ le16(width) ++ le16(height) ++ Array[Byte](0, 0, 0)
    }
  }

  /** Synthesize a COMPLETE valid 8-bit grayscale 64×64 PNG — real
    * scanline filters, real zlib (Deflater), real CRC32 chunks — whose
    * pixels are BLOCK-CONSTANT on an 8×8 grid: block b (row-major
    * 0..63) is the constant gray (seed·31 + b·7) mod 256. A real
    * decoder (inflate + filter reconstruction) is required to read the
    * pixels back, while the block structure keeps the perceptual hash a
    * closed-form function of `seed` — the oracle for [[aHash64]]. */
  def synthesizePngFull(seed: Long): Array[Byte] =
    synthesizePngFull(seed, pertBlock = -1, pertDelta = 0)

  /** [[synthesizePngFull]] with one block's gray shifted by `pertDelta`
    * (pertBlock −1 = none) — the controlled "almost the same image"
    * fixture for near-dup detection. */
  def synthesizePngFull(seed: Long, pertBlock: Int, pertDelta: Int): Array[Byte] = {
    val W = 64; val H = 64
    val raw = new Array[Byte](H * (W + 1))
    var y = 0
    while (y < H) {
      raw(y * (W + 1)) = 0 // filter type None per scanline
      var x = 0
      while (x < W) {
        val b = (y / 8) * 8 + (x / 8)
        val d = if (b == pertBlock) pertDelta else 0
        raw(y * (W + 1) + 1 + x) =
          (((seed * 31 + b * 7 + d) % 256 + 256) % 256).toByte
        x += 1
      }
      y += 1
    }
    // Thread-local reused Deflater (reset() restores the exact initial
    // state, so output bytes are identical to a fresh instance): a new
    // Deflater per synthesized image costs a native zlib stream
    // alloc/free per row.
    val defl = deflaterTL.get()
    defl.reset()
    defl.setInput(raw); defl.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
    def be32(v: Int) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(tag.getBytes("US-ASCII")); crc.update(body)
      be32(body.length) ++ tag.getBytes("US-ASCII") ++ body ++
        be32(crc.getValue.toInt)
    }
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", be32(W) ++ be32(H) ++ Array[Byte](8, 0, 0, 0, 0)) ++
      chunk("IDAT", out.toByteArray) ++
      chunk("IEND", Array.empty[Byte])
  }

  // Decoder scratch reuse: java.util.zip.Inflater allocates/frees a
  // native zlib stream per instance; one per decoded image is pure
  // overhead. Executor task threads are pooled, so thread-local reset()
  // reuse is bounded by the core count.
  private val inflaterTL = new ThreadLocal[java.util.zip.Inflater] {
    override def initialValue(): java.util.zip.Inflater =
      new java.util.zip.Inflater()
  }
  private val deflaterTL = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater()
  }

  /** Strict minimal decoder for the 8-bit GRAYSCALE non-interlaced PNG
    * subset: chunk walk with CRC verification, concatenated-IDAT
    * inflate, and per-scanline unfilter (all five PNG filter types,
    * bpp = 1). Returns the raw gray raster (row-major, w*h bytes) —
    * exactly the pixels any conformant PNG decoder reconstructs — or
    * null on ANYTHING outside the subset or malformed (wrong color
    * type / bit depth, interlaced, bad CRC, short or surplus IDAT),
    * in which case the caller falls back to ImageIO so behavior on
    * odd inputs is unchanged. The fast path exists because ImageIO
    * spends ~100× the inflate cost on reader discovery, temp buffers
    * and per-sample raster access for these small rasters
    * (OpsSpec pins fast-path ≡ ImageIO pixel equality). */
  private[graft] def decodeGray8Png(png: Array[Byte]): (Array[Byte], Int, Int) = {
    if (png == null || png.length < 8) return null
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    var i = 0
    while (i < 8) { if (png(i) != sig(i)) return null; i += 1 }
    def be32(o: Int): Int =
      ((png(o) & 0xff) << 24) | ((png(o + 1) & 0xff) << 16) |
        ((png(o + 2) & 0xff) << 8) | (png(o + 3) & 0xff)
    var off = 8
    var w = 0; var h = 0
    var seenIhdr = false; var seenIend = false
    var idat = new Array[Byte](0); var idatLen = 0
    val crc = new java.util.zip.CRC32()
    while (!seenIend) {
      if (off + 8 > png.length) return null
      val len = be32(off)
      if (len < 0 || off + 12 + len.toLong > png.length) return null
      val tag = new String(png, off + 4, 4, "US-ASCII")
      crc.reset(); crc.update(png, off + 4, 4 + len)
      if (crc.getValue.toInt != be32(off + 8 + len)) return null
      tag match {
        case "IHDR" =>
          if (seenIhdr || len != 13) return null
          seenIhdr = true
          w = be32(off + 8); h = be32(off + 12)
          // bound the raster (64 MP) so a crafted header cannot OOM
          if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) return null
          val (bitDepth, colorType) = (png(off + 16), png(off + 17))
          val (comp, filt, interlace) = (png(off + 18), png(off + 19), png(off + 20))
          if (bitDepth != 8 || colorType != 0 || comp != 0 || filt != 0 ||
              interlace != 0) return null
        case "IDAT" =>
          if (!seenIhdr) return null
          if (idatLen + len > idat.length) {
            val grown = new Array[Byte](math.max(idat.length * 2, idatLen + len))
            System.arraycopy(idat, 0, grown, 0, idatLen)
            idat = grown
          }
          System.arraycopy(png, off + 8, idat, idatLen, len)
          idatLen += len
        case "IEND" =>
          if (!seenIhdr || len != 0) return null
          seenIend = true
        case _ => () // ancillary chunk: CRC checked above, body skipped
      }
      off += 12 + len
    }
    val stride = w + 1
    val raw = new Array[Byte](h * stride)
    val inf = inflaterTL.get()
    inf.reset()
    inf.setInput(idat, 0, idatLen)
    var got = 0
    try {
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        if (n == 0 && inf.needsInput()) return null // truncated stream
        got += n
      }
      if (got != raw.length || !inf.finished()) return null
    } catch { case _: java.util.zip.DataFormatException => return null }
    // Unfilter in place into a packed gray raster (bpp = 1).
    val gray = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      val ft = raw(y * stride)
      val ro = y * stride + 1
      val go = y * w
      val po = go - w // previous reconstructed row
      ft match {
        case 0 => System.arraycopy(raw, ro, gray, go, w)
        case 1 =>
          var x = 0; var left = 0
          while (x < w) {
            left = (raw(ro + x) + left) & 0xff; gray(go + x) = left.toByte
            x += 1
          }
        case 2 =>
          var x = 0
          while (x < w) {
            val up = if (y == 0) 0 else gray(po + x) & 0xff
            gray(go + x) = ((raw(ro + x) & 0xff) + up).toByte
            x += 1
          }
        case 3 =>
          var x = 0; var left = 0
          while (x < w) {
            val up = if (y == 0) 0 else gray(po + x) & 0xff
            left = ((raw(ro + x) & 0xff) + ((left + up) >> 1)) & 0xff
            gray(go + x) = left.toByte
            x += 1
          }
        case 4 =>
          var x = 0; var left = 0; var upLeft = 0
          while (x < w) {
            val up = if (y == 0) 0 else gray(po + x) & 0xff
            val p = left + up - upLeft
            val (pa, pb, pc) =
              (math.abs(p - left), math.abs(p - up), math.abs(p - upLeft))
            val pred = if (pa <= pb && pa <= pc) left
              else if (pb <= pc) up else upLeft
            left = ((raw(ro + x) & 0xff) + pred) & 0xff
            gray(go + x) = left.toByte
            upLeft = up
            x += 1
          }
        case _ => return null
      }
      y += 1
    }
    (gray, w, h)
  }

  /** Block-average hash over a packed gray raster — the shared back
    * half of [[aHash64]] (same integer div algebra for both decode
    * paths). */
  private def aHashFromGray(gray: Array[Byte], w: Int, h: Int): Option[(Long, Long, Long)] = {
    if (w % 8 != 0 || h % 8 != 0 || w == 0 || h == 0) return None
    val (bw, bh) = (w / 8, h / 8)
    val bavg = new Array[Long](64)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        var s = 0L
        var y = by * bh
        while (y < (by + 1) * bh) {
          var x = bx * bw
          val ro = y * w
          while (x < (bx + 1) * bw) { s += gray(ro + x) & 0xff; x += 1 }
          y += 1
        }
        bavg(by * 8 + bx) = s / (bw.toLong * bh)
        bx += 1
      }
      by += 1
    }
    val mean = bavg.sum / 64
    var hi = 0L; var lo = 0L
    var b = 0
    while (b < 64) {
      if (bavg(b) > mean) {
        if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
      }
      b += 1
    }
    Some((hi, lo, mean))
  }

  /** Perceptual average-hash over a REAL pixel decode: the strict
    * gray8 fast path ([[decodeGray8Png]]) when the bytes are in its
    * subset, otherwise ImageIO (the JDK's PNG decoder — zlib inflate +
    * per-scanline filter reconstruction, no external library) yields
    * the raster; each 8×8 pixel block averages to one gray (exact
    * integer `div`), the global mean is the block-average mean
    * (`div 64`), and bit b of the hash is set when block b sits above
    * it. Split (hi, lo) 32-bit halves keep every value positive in any
    * engine. Returns (hi, lo, mean) or None for undecodable bytes —
    * the near-dup image signature used exactly like SimHash on text
    * (small Hamming distance ≡ visual similarity). */
  def aHash64(png: Array[Byte]): Option[(Long, Long, Long)] =
    try {
      decodeGray8Png(png) match {
        case (gray, w, h) => aHashFromGray(gray, w, h)
        case null =>
          // Fallback keeps the original raster-sample arithmetic
          // verbatim (samples may exceed 8 bits here — e.g. 16-bit
          // gray — so it must NOT pack through a byte raster).
          // An in-memory image stream: ImageIO's InputStream entry point
          // caches the bytes in a temp file per image (created, filled,
          // deleted) unless the JVM-wide ImageIO.setUseCache(false) is
          // set, which a library must not change for its host.
          val img = javax.imageio.ImageIO.read(new javax.imageio.stream
            .MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(png)))
          if (img == null || img.getWidth % 8 != 0 || img.getHeight % 8 != 0 ||
              img.getWidth == 0 || img.getHeight == 0) None
          else {
            val (bw, bh) = (img.getWidth / 8, img.getHeight / 8)
            val raster = img.getRaster
            val bavg = new Array[Long](64)
            var by = 0
            while (by < 8) {
              var bx = 0
              while (bx < 8) {
                var s = 0L
                var y = by * bh
                while (y < (by + 1) * bh) {
                  var x = bx * bw
                  while (x < (bx + 1) * bw) { s += raster.getSample(x, y, 0); x += 1 }
                  y += 1
                }
                bavg(by * 8 + bx) = s / (bw.toLong * bh)
                bx += 1
              }
              by += 1
            }
            val mean = bavg.sum / 64
            var hi = 0L; var lo = 0L
            var b = 0
            while (b < 64) {
              if (bavg(b) > mean) {
                if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
              }
              b += 1
            }
            Some((hi, lo, mean))
          }
      }
    } catch { case _: Throwable => None }

  case class ImageHashRow(doc_id: Long, ahash_hi: Long, ahash_lo: Long,
                          mean_gray: Long, ok: Boolean)

  /** Per-partition decode+hash over a media dataset (same execution
    * shape as [[probeImages]]: payloads never shuffle; ImageIO readers
    * are JVM-static so there is no per-row codec init to amortize). */
  def imageHashes(media: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[ImageHashRow] = {
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      aHash64(m.payload) match {
        case Some((hi, lo, mean)) => ImageHashRow(m.doc_id, hi, lo, mean, ok = true)
        case None => ImageHashRow(m.doc_id, 0L, 0L, 0L, ok = false)
      }
    })
  }

  /** Banded aHash signature index over a media corpus — the PERSISTED
    * side of incremental image dedup (the image twin of
    * [[Dedup.signatureIndex]]). Docs collapse to DISTINCT signatures
    * (rep = min doc_id, multiplicity as `n_docs`), then each signature
    * emits its 4 positional 16-bit bands. Schema:
    * (rep, hi, lo, n_docs, band_idx, band_val). Build cost is one decode
    * pass over the corpus — paid ONCE at index-build time; after that,
    * batches never re-decode corpus bytes. */
  def imageSignatureIndex(media: Dataset[MediaRow])(
      implicit spark: SparkSession): DataFrame =
    imageHashes(media).toDF()
      .groupBy(col("ahash_hi").as("hi"), col("ahash_lo").as("lo"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_docs"))
      .select(col("rep"), col("hi"), col("lo"), col("n_docs"),
        posexplode(array(
          col("lo") % 65536,
          expr("shiftright(lo, 16) % 65536"),
          col("hi") % 65536,
          expr("shiftright(hi, 16) % 65536")))
          .as(Seq("band_idx", "band_val")))

  /** Incremental image near-dup: a NEW batch of images against a
    * standing [[imageSignatureIndex]] — batch bytes decode, corpus bytes
    * do not (batch cost O(batch bytes) + one keyed join against the
    * index, never a corpus re-decode; the m_image_hash 30×-probe showed
    * decode is the genuinely per-byte stage worth amortizing). Batch
    * docs collapse to distinct signatures, band-join against the index
    * (positional band identity), and survive an exact Hamming ≤ `maxHam`
    * gate. Output one row per (batch signature, corpus signature) match:
    * (bat, cor, hamming, docs_bat, docs_cor) with rep = min doc_id per
    * side. Batch-internal pairing is not emitted (the
    * [[Dedup.minHashNearDupsIncremental]] convention: the standing
    * corpus is the dedup authority; a follow-up append makes the batch's
    * own signatures the next batch's corpus). */
  def imageNearDupsIncremental(index: DataFrame, batch: Dataset[MediaRow],
      maxHam: Int = 6)(implicit spark: SparkSession): DataFrame = {
    val bsig = imageHashes(batch).toDF()
      .groupBy(col("ahash_hi").as("bhi"), col("ahash_lo").as("blo"))
      .agg(min(col("doc_id")).as("bat"), count(lit(1)).as("docs_bat"))
    val bband = bsig.select(col("bat"), col("bhi"), col("blo"),
      col("docs_bat"),
      posexplode(array(
        col("blo") % 65536,
        expr("shiftright(blo, 16) % 65536"),
        col("bhi") % 65536,
        expr("shiftright(bhi, 16) % 65536")))
        .as(Seq("band_idx", "band_val")))
    bband.join(index, Seq("band_idx", "band_val"))
      .select(col("bat"), col("rep").as("cor"),
        (expr("bit_count(bhi ^ hi)") + expr("bit_count(blo ^ lo)"))
          .cast("long").as("hamming"),
        col("docs_bat"), col("n_docs").as("docs_cor"))
      .filter(col("hamming") <= maxHam)
      .distinct()
  }

  /** Parsed WAV header: channel layout, rate, depth, payload size. */
  case class AudioInfo(doc_id: Long, channels: Long, sample_rate: Long,
                       bits: Long, data_bytes: Long, ok: Boolean)

  /** Parse a WAV (RIFF) header: walk chunks to `fmt ` (channels, sample
    * rate, bit depth) and `data` (payload size). Same role as the image
    * probe: the pre-decode duration/rate/channels gate, tens of bytes
    * per asset, no audio library. */
  def probeWavHeader(b: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    def u8(i: Int) = b(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def tag(i: Int, t: String) = b.length >= i + 4 &&
      (0 until 4).forall(j => b(i + j) == t(j).toByte)
    if (b.length < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    // Walk offsets as Long: a crafted chunk size near 2^32 must walk the
    // cursor PAST the buffer (loop exit), never wrap it negative into an
    // out-of-bounds read — the probe's contract is None, never throw.
    var i: Long = 12
    var fmt: Option[(Int, Int, Int)] = None
    var data: Option[Int] = None
    while (i + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
      val at = i.toInt // i + 8 <= b.length, so it fits
      val size = le32(at + 4).toLong & 0xffffffffL // unsigned
      if (tag(at, "fmt ") && at + 24 <= b.length)
        fmt = Some((le16(at + 10), le32(at + 12), le16(at + 22)))
      else if (tag(at, "data")) {
        if (size > Int.MaxValue) return None // payload exceeds Int contract
        data = Some(size.toInt)
      }
      val next = i + 8 + size + (size & 1) // chunks are word-aligned
      if (next <= i) return None // no-progress guard
      i = next
    }
    for ((ch, rate, bits) <- fmt; d <- data) yield (ch, rate, bits, d)
  }

  /** Probe WAV headers partition-locally. */
  def probeAudio(media: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[AudioInfo] = {
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      probeWavHeader(m.payload) match {
        case Some((ch, rate, bits, d)) =>
          AudioInfo(m.doc_id, ch.toLong, rate.toLong, bits.toLong, d.toLong, ok = true)
        case None => AudioInfo(m.doc_id, 0L, 0L, 0L, 0L, ok = false)
      }
    })
  }

  /** Minimal valid WAV header + empty data chunk for fixtures. */
  def synthesizeWav(channels: Int, sampleRate: Int, bits: Int,
                    dataBytes: Int): Array[Byte] = {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val blockAlign = channels * bits / 8
    "RIFF".getBytes ++ le32(36 + dataBytes) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(channels) ++
      le32(sampleRate) ++ le32(sampleRate * blockAlign) ++
      le16(blockAlign) ++ le16(bits) ++
      "data".getBytes ++ le32(dataBytes)
  }

  /** Synthesize a COMPLETE mono 16-bit WAV — header plus real
    * little-endian PCM: a square wave with period p = 20 + seed mod 30
    * samples and amplitude a = 1000 + (seed mod 7)·500. Sign flips land
    * exactly at sample indices divisible by p, so the zero-crossing
    * fingerprint is a closed-form function of `seed` — the oracle for
    * [[audioFingerprint]], same fixture philosophy as
    * [[synthesizePngFull]]. */
  def synthesizeWavPcm(seed: Long, nSamples: Int = 4000,
                       rate: Int = 8000): Array[Byte] = {
    val p = (20 + ((seed % 30) + 30) % 30).toInt
    val a = (1000 + (((seed % 7) + 7) % 7) * 500).toInt
    val data = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val s = if ((i / p) % 2 == 0) a else -a
      data(2 * i) = s.toByte
      data(2 * i + 1) = (s >> 8).toByte
      i += 1
    }
    synthesizeWav(1, rate, 16, data.length) ++ data
  }

  /** Decode mono 16-bit PCM out of a WAV byte array: the same guarded
    * chunk walk as [[probeWavHeader]], then little-endian sample decode.
    * None (never throw) for non-WAV/multi-channel/non-16-bit/truncated
    * payloads. */
  def pcm16Mono(b: Array[Byte]): Option[Array[Int]] = {
    def u8(i: Int) = b(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int, t: String) = b.length >= i + 4 &&
      (0 until 4).forall(j => b(i + j) == t(j).toByte)
    if (b.length < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var i: Long = 12
    var fmtOk = false
    var data: Option[(Long, Long)] = None
    while (i + 8 <= b.length && (!fmtOk || data.isEmpty)) {
      val size = le32(i.toInt + 4)
      if (tag(i.toInt, "fmt ") && i + 8 + 16 <= b.length)
        fmtOk = le16(i.toInt + 8) == 1 && le16(i.toInt + 10) == 1 &&
          le16(i.toInt + 22) == 16
      else if (tag(i.toInt, "data")) data = Some((i + 8, size))
      i += 8 + size + (size & 1)
    }
    data match {
      case Some((off, size)) if fmtOk =>
        val n = (math.min(size, b.length - off) / 2).toInt
        val out = new Array[Int](n)
        var j = 0
        while (j < n) {
          out(j) = (le16((off + 2 * j).toInt) << 16) >> 16 // sign-extend
          j += 1
        }
        Some(out)
      case _ => None
    }
  }

  /** Frame-wise zero-crossing fingerprint over decoded PCM: per
    * 500-sample frame count sign changes vs the previous sample, fold
    * the counts in frame order into a rolling hash (h·31 + c mod 1e9+7
    * — the [[graft.functions.PolyHash]] recurrence), and report the
    * exact integer mean |sample| — amplitude, activity, and temporal
    * shape in three integers, the cheap pre-ASR audio gate. All-integer
    * → closed-form oracle over the synthetic square waves. */
  def audioFingerprint(samples: Array[Int], frame: Int = 500): (Long, Long, Long) = {
    val nFrames = samples.length / frame
    var sumAbs = 0L
    var total = 0L
    var h = 0L
    var f = 0
    while (f < nFrames) {
      var cnt = 0L
      var i = f * frame
      while (i < (f + 1) * frame) {
        sumAbs += math.abs(samples(i))
        if (i >= 1 && ((samples(i) < 0) != (samples(i - 1) < 0))) cnt += 1
        i += 1
      }
      total += cnt
      h = (h * 31 + cnt) % 1000000007L
      f += 1
    }
    val counted = nFrames * frame
    (if (counted > 0) sumAbs / counted else 0L, total, h)
  }

  case class AudioFpRow(doc_id: Long, mean_abs: Long, n_crossings: Long,
                        fp_hash: Long, ok: Boolean)

  /** Per-partition PCM decode + fingerprint (payloads never shuffle). */
  def audioFingerprints(media: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[AudioFpRow] = {
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      pcm16Mono(m.payload) match {
        case Some(samples) =>
          val (mean, total, h) = audioFingerprint(samples)
          AudioFpRow(m.doc_id, mean, total, h, ok = true)
        case None => AudioFpRow(m.doc_id, 0L, 0L, 0L, ok = false)
      }
    })
  }

  /** Parsed MP4 movie header: timescale (ticks/sec), duration (ticks),
    * derived milliseconds. */
  case class VideoInfo(doc_id: Long, brand: String, timescale: Long,
                       duration: Long, duration_ms: Long, ok: Boolean)

  /** Parse an MP4 (ISO-BMFF) header: top-level box walk to `moov`, then
    * inside it to `mvhd` (version 0: 32-bit timescale + duration at
    * fixed offsets; version 1: 64-bit duration). The video sibling of
    * the image/WAV probes — duration/timescale gating without a media
    * library. Returns (major_brand, timescale, duration). */
  def probeMp4Header(b: Array[Byte]): Option[(String, Long, Long)] = {
    def u8(i: Int) = (b(i) & 0xff).toLong
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def be64(i: Int) = (be32(i) << 32) | be32(i + 4)
    def tag(i: Int) = new String(b.slice(i + 4, i + 8), "ISO-8859-1")
    // Resolve an ISO-BMFF box size at `at` (bounded by `end`): the
    // 32-bit size field, or per spec size==0 → box extends to `end`,
    // size==1 → 64-bit largesize follows the tag. Returns the box's
    // total size, or None when malformed/truncated. All arithmetic is
    // Long so a crafted size >= 2^31 can never wrap an offset negative
    // (the probe's contract is None, never throw).
    def boxSize(at: Int, end: Long): Option[(Long, Int)] = be32(at) match {
      case 0L => Some((end - at, 8)) // "to end of enclosing container"
      case 1L => // 64-bit largesize follows the tag; header is 16 bytes
        if (at + 16 > end) None
        else Some(be64(at + 8)).filter(_ >= 16L).map((_, 16))
      case s => Some(s).filter(_ >= 8L).map((_, 8))
    }
    if (b.length < 16 || tag(0) != "ftyp") return None
    val brand = new String(b.slice(8, 12), "ISO-8859-1")
    var i: Long = 0
    while (i + 8 <= b.length) {
      val at = i.toInt
      val (size, hdr) = boxSize(at, b.length.toLong).getOrElse(return None)
      if (tag(at) == "moov") {
        // walk the moov children for mvhd
        var j: Long = i + hdr
        val end = math.min(i + size, b.length.toLong)
        while (j + 8 <= end) {
          val cat = j.toInt
          val (csize, chdr) = boxSize(cat, end).getOrElse(return None)
          if (tag(cat) == "mvhd") {
            val ph = cat + chdr // FullBox payload: verflags, then fields
            if (ph + 1 > end) return None // version byte truncated
            val v = u8(ph)
            return {
              if (v == 0L && ph + 20 <= end)
                Some((brand, be32(ph + 12), be32(ph + 16)))
              else if (v == 1L && ph + 32 <= end)
                Some((brand, be32(ph + 20), be64(ph + 24)))
              else None
            }
          }
          if (j + csize <= j) return None // no-progress guard
          j += csize
        }
        return None
      }
      if (i + size <= i) return None // no-progress guard
      i += size
    }
    None
  }

  /** Probe MP4 headers partition-locally. */
  def probeVideo(media: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[VideoInfo] = {
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      probeMp4Header(m.payload) match {
        case Some((brand, ts, dur)) =>
          VideoInfo(m.doc_id, brand, ts, dur,
            if (ts > 0) dur * 1000L / ts else 0L, ok = true)
        case None => VideoInfo(m.doc_id, "", 0L, 0L, 0L, ok = false)
      }
    })
  }

  /** Minimal valid ftyp + moov/mvhd (version 0) for fixtures. */
  def synthesizeMp4(brand: String, timescale: Int, duration: Int): Array[Byte] = {
    require(brand.length == 4, "brand must be 4 chars")
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val ftyp = be32(16) ++ "ftyp".getBytes ++ brand.getBytes ++ be32(0)
    // mvhd v0: size 108 per spec = 8 box header + 100 payload; payload =
    // verflags 4 + creation 4 + modification 4 + timescale 4 + duration 4
    // + 80 zero-fill (rate/volume/matrix/next-track)
    val mvhdPayload = Array[Byte](0, 0, 0, 0) ++ // version + flags
      be32(0) ++ be32(0) ++ be32(timescale) ++ be32(duration) ++
      Array.fill[Byte](80)(0)
    val mvhd = be32(108) ++ "mvhd".getBytes ++ mvhdPayload
    val moov = be32(8 + mvhd.length) ++ "moov".getBytes ++ mvhd
    ftyp ++ moov
  }

  /** Synthesize an MP4 with a REAL sample table: the full
    * moov→trak→mdia→minf→stbl container chain holding an `stts`
    * (decode timing: two (count, delta) runs) and an `stsz` (per-sample
    * byte sizes). Counts/deltas/sizes all derive from `seed`:
    * n1 = 10 + seed%5, d1 = 100 + seed%50, n2 = 8 + seed%3,
    * d2 = 200 + seed%25, size(i) = 500 + (seed·13 + i·7) % 250 — so
    * every statistic a parser can extract is closed-form. */
  def synthesizeMp4Samples(seed: Long): Array[Byte] = {
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(tag: String, payload: Array[Byte]): Array[Byte] =
      be32(8 + payload.length) ++ tag.getBytes("US-ASCII") ++ payload
    val n1 = (10 + ((seed % 5) + 5) % 5).toInt
    val d1 = (100 + ((seed % 50) + 50) % 50).toInt
    val n2 = (8 + ((seed % 3) + 3) % 3).toInt
    val d2 = (200 + ((seed % 25) + 25) % 25).toInt
    val n = n1 + n2
    val stts = box("stts", Array[Byte](0, 0, 0, 0) ++ be32(2) ++
      be32(n1) ++ be32(d1) ++ be32(n2) ++ be32(d2))
    val sizes = (0 until n).flatMap(i =>
      be32((500 + (((seed * 13 + i * 7) % 250) + 250) % 250).toInt)).toArray
    val stsz = box("stsz", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(n) ++ sizes)
    val stbl = box("stbl", stts ++ stsz)
    val minf = box("minf", stbl)
    val mdia = box("mdia", minf)
    val trak = box("trak", mdia)
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++
      be32(0) ++ be32(0) ++ be32(1000) ++ be32(0) ++ Array.fill[Byte](80)(0))
    val moov = box("moov", mvhd ++ trak)
    val ftyp = box("ftyp", "isom".getBytes ++ be32(0))
    ftyp ++ moov
  }

  case class VideoStats(doc_id: Long, n_samples: Long, total_ticks: Long,
                        total_bytes: Long, max_bytes: Long, ok: Boolean)

  /** Parse the sample table out of an ISO-BMFF buffer: a generic guarded
    * box walk (size-prefixed, container recursion bounded by the parent)
    * down moov→trak→mdia→minf→stbl, then stts (Σ count·delta = total
    * decode ticks) and stsz (per-sample sizes) — the media-library-free
    * "how many frames, how long, how heavy" gate a video curation
    * pipeline runs before any decoder. None for truncated/corrupt
    * buffers, never a throw. */
  def probeMp4Samples(b: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    def u8(i: Int) = b(i) & 0xff
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1) << 16) |
      (u8(i + 2) << 8) | u8(i + 3)
    def tag(i: Int, t: String) = b.length >= i + 8 &&
      (0 until 4).forall(j => b(i + 4 + j) == t(j).toByte)
    // find child box `t` inside [start, end); returns payload bounds
    def find(start: Long, end: Long, t: String): Option[(Long, Long)] = {
      var i = start
      while (i + 8 <= end) {
        val size = be32(i.toInt)
        if (size < 8 || i + size > end) return None
        if (tag(i.toInt, t)) return Some((i + 8, i + size))
        i += size
      }
      None
    }
    try {
      val stbl = List("moov", "trak", "mdia", "minf", "stbl")
        .foldLeft(Option((0L, b.length.toLong))) { (acc, t) =>
          acc.flatMap { case (s, e) => find(s, e, t) }
        }
      stbl.flatMap { case (s, e) =>
        for {
          (ts, te) <- find(s, e, "stts")
          (zs, ze) <- find(s, e, "stsz")
          nRuns = be32(ts.toInt + 4)
          if te - ts >= 8 + nRuns * 8
          fixed = be32(zs.toInt + 4)
          nSamp = be32(zs.toInt + 8)
          if fixed != 0 || ze - zs >= 12 + nSamp * 4
        } yield {
          var ticks = 0L
          var r = 0
          while (r < nRuns) {
            ticks += be32(ts.toInt + 8 + r * 8) * be32(ts.toInt + 12 + r * 8)
            r += 1
          }
          var total = 0L
          var mx = 0L
          var i = 0
          while (i < nSamp) {
            val sz = if (fixed != 0) fixed else be32(zs.toInt + 12 + i * 4)
            total += sz
            if (sz > mx) mx = sz
            i += 1
          }
          (nSamp, ticks, total, mx)
        }
      }
    } catch { case _: Throwable => None }
  }

  /** Per-partition sample-table stats over a media dataset. */
  def videoStats(media: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[VideoStats] = {
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      probeMp4Samples(m.payload) match {
        case Some((n, ticks, bytes, mx)) =>
          VideoStats(m.doc_id, n, ticks, bytes, mx, ok = true)
        case None => VideoStats(m.doc_id, 0L, 0L, 0L, 0L, ok = false)
      }
    })
  }

  def sampleFrames(media: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[FrameSample] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { m =>
        val frames = (m.payload.length + FrameStride - 1) / FrameStride
        (0 until frames by frameStep(m.media_type)).iterator.map { idx =>
          FrameSample(m.doc_id, m.media_type, idx.toLong,
            (m.payload(idx * FrameStride) & 0xff).toLong)
        }
      }
    }
  }
}
