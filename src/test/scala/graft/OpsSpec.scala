package graft

import graft.ext.Multimodal
import graft.ops.{Hashing, Ingest, Quality}

import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("quality gates: null keys dropped, negative numerics dropped, nulls pass P6") {
    val df = Seq(
      (Some(1L), Some(5.0)),
      (None, Some(1.0)),          // P5 kill
      (Some(2L), Some(-3.0)),     // P6 kill
      (Some(3L), None)            // P6 allows null
    ).toDF("k", "x")
    val out = Quality.nonNegativeNumerics(Quality.requireKeys(df, Seq("k")))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L))
  }

  test("observed metrics ride the job: counts, per-key nulls, checksum") {
    val df = Seq(
      (Some(1L), 2.5), (None, 1.0), (Some(3L), 4.0)
    ).toDF("k", "x")
    val (instrumented, obs) = Quality.observed(df, "audit_test",
      keyCols = Seq("k"), sumCol = Some("x"))
    instrumented.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("n_rows") == 3L)
    assert(m("n_null_k") == 1L)
    assert(m("sum_x").asInstanceOf[java.math.BigDecimal].doubleValue() == 7.5)
  }

  test("row hash: concat_ws skips nulls (parity) unless strict") {
    val df = Seq(("x", null.asInstanceOf[String]), (null.asInstanceOf[String], "x"))
      .toDF("c1", "c2")
    val lax = df.select(Hashing.rowHashCol(Seq("c1", "c2")).as("h"))
      .collect().map(_.getString(0))
    assert(lax(0) == lax(1)) // documented reference collision
    val strict = df.select(Hashing.rowHashCol(Seq("c1", "c2"), strict = true).as("h"))
      .collect().map(_.getString(0))
    assert(strict(0) != strict(1)) // sentinel restores injectivity
  }

  test("cleanColumnNames lowercases and strips junk") {
    val df = Seq((1, 2)).toDF("Cust Key!", "Acct-Bal (USD)")
    assert(Ingest.cleanColumnNames(df).columns.toSeq == Seq("cust_key", "acct_bal_usd"))
  }

  test("globBytes sums the files a glob matches, counts 0 for no match, stops past the limit") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-glob")
    def put(rel: String, n: Int): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, new Array[Byte](n))
    }
    put("d=1/a/overview.json", 100)
    put("d=2/b/overview.json", 200)
    put("d=2/b/officers.json", 400)
    put("csv/part0.csv", 10)
    put("csv/part1.csv", 20)
    assert(Ingest.globBytes(s"$root/*/*/overview.json") == 300)
    assert(Ingest.globBytes(s"$root/*/*/{overview,officers}.json") == 700)
    assert(Ingest.globBytes(s"$root/csv/*.csv") == 30)
    assert(Ingest.globBytes(s"$root/csv") == 30)
    assert(Ingest.globBytes(s"$root/*/*/missing.json") == 0)
    assert(Ingest.globBytes(s"$root/nowhere/*.csv") == 0)
    // the walk (in no set order) stops at the first file past the limit
    assert(Set(100L, 200L, 400L).contains(Ingest.globBytes(s"$root/*/*/*.json", limit = 50)))
    // a path with a URI scheme is not counted here: it counts as the limit
    assert(Ingest.globBytes("s3a://bucket/raw/*.csv", limit = 7) == 7)
    assert(Ingest.globBytes(s"file:$root/csv/*.csv", limit = 7) == 7)
  }

  test("salted aggregate equals plain aggregate on skewed keys") {
    import graft.ops.Skew
    import graft.ops.Skew.AggSpec
    // 90% of rows share one hot key
    val df = (1 to 1000).map(i =>
      (if (i <= 900) "hot" else s"k${i % 17}", i.toLong, i * 1.5)).toDF("k", "n", "x")
    val specs = Seq(AggSpec("n", "sum", "sum_n"), AggSpec("*", "count", "cnt"),
      AggSpec("x", "min", "min_x"), AggSpec("x", "max", "max_x"))
    val salted = Skew.saltedAggregate(df, Seq("k"), specs, buckets = 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val plain = df.groupBy("k").agg(sum("n").as("sum_n"), count(lit(1)).as("cnt"),
      min("x").as("min_x"), max("x").as("max_x"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(salted == plain)
  }

  test("salted join equals plain join") {
    import graft.ops.Skew
    val large = (1 to 500).map(i => (s"k${i % 5}", i)).toDF("k", "v")
    val medium = Seq(("k0", "a"), ("k1", "b"), ("k2", "c"), ("k9", "z")).toDF("k", "tag")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(Skew.saltedJoin(large, medium, Seq("k"), buckets = 4)) ==
      canon(large.join(medium, Seq("k"))))
    assert(canon(Skew.saltedJoin(large, medium, Seq("k"), "left", 4)) ==
      canon(large.join(medium, Seq("k"), "left")))
  }

  test("approx aggregates track exact within tolerance (100TB substitutes)") {
    // At scale, exact countDistinct is a full shuffle of distinct values;
    // HLL and quantile sketches are the opt-in substitutes per SURVEY
    // §2.4. Pin their accuracy contract here so swapping them in is a
    // measured decision, not a hope.
    val df = spark.range(100000).select(
      (col("id") % 9973).as("k"), (col("id") % 1000).cast("double").as("x"))
    val exact = df.select(countDistinct(col("k"))).head().getLong(0)
    val approx = df.select(approx_count_distinct(col("k"), 0.02)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx_count_distinct off: $approx vs $exact")
    val p50 = df.stat.approxQuantile("x", Array(0.5), 0.01).head
    assert(math.abs(p50 - 500.0) < 25, s"p50 approx off: $p50")
  }

  test("media decode stub: frame sampling arithmetic") {
    implicit val s = spark
    val text = "ab" * 70 // 140 bytes → 3 frames, samples at 0, 64, 128
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val meta = Multimodal.decodeStub(Multimodal.toMedia(docs)).collect().head
    assert(meta.n_bytes == 140 && meta.frame_count == 3)
    val samples = Seq(text(0), text(64), text(128)).map(_.toLong)
    assert(meta.sample_sum == samples.sum)
    assert(meta.sample_hash == samples.foldLeft(0L)((a, b) => (a * 31 + b) % graft.ext.TextKit.P))
  }

  test("batched decode matches per-row decode; codec init is per-partition") {
    implicit val s = spark
    import spark.implicits._
    val docs = Seq.tabulate(40)(i => (i.toLong, s"payload-$i-" + "z" * (i * 3)))
      .toDF("doc_id", "text").repartition(4)
    val media = Multimodal.toMedia(docs)
    val inits = spark.sparkContext.longAccumulator("codec-inits")
    val batched = Multimodal.decodeBatched(media, batchSize = 7, Some(inits))
      .collect().sortBy(_.doc_id).toSeq
    val perRow = Multimodal.decodeStub(media).collect().sortBy(_.doc_id).toSeq
    assert(batched == perRow)
    assert(inits.value == 4, s"expected one codec init per partition, got ${inits.value}")
  }

  test("image header probe parses real PNG/JPEG/GIF bytes and rejects junk") {
    import graft.ext.Multimodal.{probeImageHeader, synthesizeImage}
    assert(probeImageHeader(synthesizeImage("png", 640, 480)) == Some(("png", 640, 480)))
    assert(probeImageHeader(synthesizeImage("jpeg", 1920, 1080)) == Some(("jpeg", 1920, 1080)))
    assert(probeImageHeader(synthesizeImage("gif", 320, 200)) == Some(("gif", 320, 200)))
    // JPEG dims live past an APP0 the walker must skip, not scan blindly
    assert(probeImageHeader(synthesizeImage("jpeg", 1, 65535)) == Some(("jpeg", 1, 65535)))
    // truncated, corrupt, and empty payloads all refuse, never throw
    assert(probeImageHeader(synthesizeImage("png", 640, 480).take(20)).isEmpty)
    assert(probeImageHeader(Array[Byte](0xff.toByte, 0xd8.toByte, 0x00, 0x01)).isEmpty)
    assert(probeImageHeader("not an image at all".getBytes).isEmpty)
    assert(probeImageHeader(Array.empty[Byte]).isEmpty)
  }

  test("aHash64 decodes real PNG pixels; formula-exact, corruption-safe") {
    import graft.ext.Multimodal.{aHash64, synthesizePngFull}
    // full decode path: expected hash from the block formula directly
    def expected(seed: Long): (Long, Long, Long) = {
      val g = (0 until 64).map(b => ((seed * 31 + b * 7) % 256 + 256) % 256)
      val mean = g.sum / 64
      var hi = 0L; var lo = 0L
      for (b <- 0 until 64 if g(b) > mean)
        if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
      (hi, lo, mean)
    }
    for (seed <- Seq(0L, 1L, 41L, 255L, 123456789L))
      assert(aHash64(synthesizePngFull(seed)) == Some(expected(seed)), s"seed $seed")
    // same pixels → same hash; different seed → (generically) different
    assert(aHash64(synthesizePngFull(7L)) == aHash64(synthesizePngFull(7L)))
    assert(aHash64(synthesizePngFull(7L)) != aHash64(synthesizePngFull(8L)))
    // truncated/corrupt/junk refuse, never throw
    assert(aHash64(synthesizePngFull(1L).take(60)).isEmpty)
    assert(aHash64("definitely not a png".getBytes).isEmpty)
    assert(aHash64(Array.empty[Byte]).isEmpty)
  }

  test("image decode fallback leaves the JVM-wide ImageIO cache setting alone") {
    import javax.imageio.ImageIO
    val rgb = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) rgb.setRGB(x, y, (x * 16 + y) << 8)
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(rgb, "png", bos)
    val before = ImageIO.getUseCache
    ImageIO.setUseCache(true)
    try {
      assert(graft.ext.Multimodal.decodeGray8Png(bos.toByteArray) == null) // not gray8
      assert(graft.ext.Multimodal.aHash64(bos.toByteArray).isDefined) // ImageIO fallback
      assert(ImageIO.getUseCache, "decoding changed ImageIO.getUseCache")
    } finally ImageIO.setUseCache(before)
  }

  test("gray8 PNG fast path: pixel-identical to ImageIO across all five filters") {
    import graft.ext.Multimodal.{aHash64, decodeGray8Png}
    // Hand-assemble a gray8 PNG with a CHOSEN per-scanline filter type —
    // synthesizePngFull only emits filter 0, but real encoders use 1-4,
    // and the fast path must reconstruct them exactly as ImageIO does.
    def png(w: Int, h: Int, filterOf: Int => Int, pix: (Int, Int) => Int): Array[Byte] = {
      val gray = Array.tabulate(h, w)((y, x) => pix(x, y) & 0xff)
      val raw = new Array[Byte](h * (w + 1))
      for (y <- 0 until h) {
        val ft = filterOf(y)
        raw(y * (w + 1)) = ft.toByte
        def at(x: Int, yy: Int) = if (x < 0 || yy < 0) 0 else gray(yy)(x)
        for (x <- 0 until w) {
          val (a, b, c) = (at(x - 1, y), at(x, y - 1), at(x - 1, y - 1))
          val pred = ft match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) >> 1
            case 4 =>
              val p = a + b - c
              val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
              if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          }
          raw(y * (w + 1) + 1 + x) = ((gray(y)(x) - pred) & 0xff).toByte
        }
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
      defl.end()
      def be32(v: Int) = Array[Byte](
        (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
      def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
        val crc = new java.util.zip.CRC32()
        crc.update(tag.getBytes("US-ASCII")); crc.update(body)
        be32(body.length) ++ tag.getBytes("US-ASCII") ++ body ++
          be32(crc.getValue.toInt)
      }
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
        chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 0, 0, 0, 0)) ++
        chunk("IDAT", out.toByteArray) ++
        chunk("IEND", Array.empty[Byte])
    }
    def pix(x: Int, y: Int) = (x * 31 + y * 17 + (x * y) % 13) % 256
    for (ft <- 0 to 4; (w, h) <- Seq((64, 64), (16, 32))) {
      val bytes = png(w, h, _ => ft, pix)
      val (gray, gw, gh) = decodeGray8Png(bytes)
      assert(gw == w && gh == h, s"filter $ft dims")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      for (y <- 0 until h; x <- 0 until w)
        assert((gray(y * w + x) & 0xff) == img.getRaster.getSample(x, y, 0),
          s"filter $ft pixel ($x,$y)")
    }
    // mixed filters per scanline (what a real encoder emits)
    val mixed = png(64, 64, y => y % 5, pix)
    val (g2, _, _) = decodeGray8Png(mixed)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(mixed))
    for (y <- 0 until 64; x <- 0 until 64)
      assert((g2(y * 64 + x) & 0xff) == ref.getRaster.getSample(x, y, 0))
    // and the public hash agrees between a fast-path image and the same
    // pixels re-encoded OUTSIDE the subset (RGB via ImageIO → fallback)
    val rgb = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 64)
      rgb.setRGB(x, y, pix(x, y) << 16) // red channel = gray value (band 0)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(rgb, "png", bos)
    assert(decodeGray8Png(bos.toByteArray) == null) // outside subset
    assert(aHash64(bos.toByteArray) == aHash64(png(64, 64, _ => 0, pix)))
    // corrupted CRC refuses the fast path (falls back, which also refuses)
    val bad = png(64, 64, _ => 0, pix)
    bad(bad.length - 5) = (bad(bad.length - 5) ^ 0x7f).toByte
    assert(decodeGray8Png(bad) == null)
    // truncated IDAT refuses rather than returning short pixels
    assert(decodeGray8Png(bad.take(bad.length / 2)) == null)
  }

  test("incremental image near-dup: batch vs persisted index matches brute force") {
    import graft.ext.{MediaRow, Multimodal}
    import Multimodal.{aHash64, imageNearDupsIncremental, imageSignatureIndex, synthesizePngFull}
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    def mk(id: Long, seed: Long, blk: Int = -1, delta: Int = 0) =
      MediaRow(id, "png", synthesizePngFull(seed, blk, delta))
    // corpus: exact-dup group (10, 11), two distinct singletons
    val corpus = Seq(mk(10, 3), mk(11, 3), mk(12, 4), mk(13, 99))
    // batch: exact copy of corpus seed 3, a one-block perturbation of it,
    // and an unrelated image
    val batch = Seq(mk(100, 3), mk(101, 3, 5, 96), mk(102, 777))
    val out = imageNearDupsIncremental(
      imageSignatureIndex(corpus.toDS()), batch.toDS())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // brute-force reference from the hashes alone: distinct-signature
    // collapse both sides, any shared positional 16-bit band, Hamming <= 6
    def collapse(rows: Seq[MediaRow]): Map[(Long, Long), (Long, Long)] =
      rows.groupBy(m => { val (hi, lo, _) = aHash64(m.payload).get; (hi, lo) })
        .map { case (k, ms) => k -> (ms.map(_.doc_id).min, ms.size.toLong) }
    def bands(hi: Long, lo: Long): Seq[Long] =
      Seq(lo & 0xffffL, (lo >>> 16) & 0xffffL, hi & 0xffffL, (hi >>> 16) & 0xffffL)
    val expected = (for {
      ((bhi, blo), (bat, nb)) <- collapse(batch)
      ((chi, clo), (cor, nc)) <- collapse(corpus)
      if bands(bhi, blo).zip(bands(chi, clo)).exists { case (a, b) => a == b }
      ham = java.lang.Long.bitCount(bhi ^ chi) + java.lang.Long.bitCount(blo ^ clo)
      if ham <= 6
    } yield (bat, cor, ham.toLong, nb, nc)).toSet
    assert(out == expected)
    // the exact copy surfaces as a Hamming-0 match against the dup group
    assert(out.contains((100L, 10L, 0L, 1L, 2L)))
  }

  test("pcm16Mono decodes real samples; fingerprint matches hand math") {
    import graft.ext.Multimodal.{audioFingerprint, pcm16Mono, synthesizeWavPcm}
    // seed 1: period 21, amplitude 1500 — decode must round-trip signs
    val samples = pcm16Mono(synthesizeWavPcm(1L)).get
    assert(samples.length === 4000)
    assert(samples(0) === 1500 && samples(20) === 1500 && samples(21) === -1500)
    // hand-computed: crossings in frame f = multiples of 21 in the frame
    def cnt(f: Int, p: Int) =
      (f * 500 + 499) / p - (if (f == 0) 0 else (f * 500 - 1) / p)
    val expTotal = (0 until 8).map(cnt(_, 21).toLong).sum
    val expHash = (0 until 8).foldLeft(0L)((h, f) => (h * 31 + cnt(f, 21)) % 1000000007L)
    assert(audioFingerprint(samples) === ((1500L, expTotal, expHash)))
    // stereo / 8-bit / truncated / junk refuse, never throw
    import graft.ext.Multimodal.synthesizeWav
    assert(pcm16Mono(synthesizeWav(2, 44100, 16, 16) ++ new Array[Byte](16)).isEmpty)
    assert(pcm16Mono(synthesizeWav(1, 8000, 8, 8) ++ new Array[Byte](8)).isEmpty)
    assert(pcm16Mono(synthesizeWavPcm(1L).take(30)).isEmpty)
    assert(pcm16Mono("nope".getBytes).isEmpty)
  }

  test("probeMp4Samples walks the real stbl chain; rejects junk") {
    import graft.ext.Multimodal.{probeMp4Samples, synthesizeMp4Samples}
    // seed 3: n1=13, d1=103, n2=8, d2=203 → 21 samples, 2963 ticks
    val Some((n, ticks, bytes, mx)) = probeMp4Samples(synthesizeMp4Samples(3L))
    assert(n === 21L)
    assert(ticks === 13L * 103 + 8L * 203)
    val sizes = (0 until 21).map(i => 500L + (3L * 13 + i * 7) % 250)
    assert(bytes === sizes.sum && mx === sizes.max)
    // truncated / junk / header-only refuse, never throw
    assert(probeMp4Samples(synthesizeMp4Samples(3L).take(40)).isEmpty)
    assert(probeMp4Samples("not a video".getBytes).isEmpty)
    import graft.ext.Multimodal.synthesizeMp4
    assert(probeMp4Samples(synthesizeMp4("isom", 1000, 42)).isEmpty) // no stbl
  }

  test("wav header probe parses RIFF chunks and rejects junk") {
    import graft.ext.Multimodal.{probeWavHeader, synthesizeWav}
    assert(probeWavHeader(synthesizeWav(2, 44100, 16, 88200)) == Some((2, 44100, 16, 88200)))
    assert(probeWavHeader(synthesizeWav(1, 8000, 8, 0)) == Some((1, 8000, 8, 0)))
    // an unknown chunk before fmt must be skipped by size, not break the walk
    val extra = "RIFF".getBytes ++ Array[Byte](0, 1, 0, 0) ++ "WAVE".getBytes ++
      "LIST".getBytes ++ Array[Byte](4, 0, 0, 0) ++ Array[Byte](1, 2, 3, 4) ++
      synthesizeWav(2, 16000, 16, 64).drop(12)
    assert(probeWavHeader(extra) == Some((2, 16000, 16, 64)))
    assert(probeWavHeader(synthesizeWav(2, 44100, 16, 100).take(20)).isEmpty)
    assert(probeWavHeader("RIFFxxxxNOPE".getBytes).isEmpty)
    assert(probeWavHeader(Array.empty[Byte]).isEmpty)
  }

  test("mp4 header probe walks boxes to mvhd and rejects junk") {
    import graft.ext.Multimodal.{probeMp4Header, synthesizeMp4}
    assert(probeMp4Header(synthesizeMp4("isom", 600, 72000)) == Some(("isom", 600L, 72000L)))
    assert(probeMp4Header(synthesizeMp4("mp42", 90000, 1)) == Some(("mp42", 90000L, 1L)))
    // a free box between ftyp and moov must be skipped by size
    val mp4 = synthesizeMp4("isom", 1000, 5000)
    val free = Array[Byte](0, 0, 0, 12) ++ "free".getBytes ++ Array[Byte](9, 9, 9, 9)
    val withFree = mp4.take(16) ++ free ++ mp4.drop(16)
    assert(probeMp4Header(withFree) == Some(("isom", 1000L, 5000L)))
    assert(probeMp4Header(mp4.take(30)).isEmpty)  // truncated before mvhd
    assert(probeMp4Header("definitely not an mp4 file".getBytes).isEmpty)
    assert(probeMp4Header(Array.empty[Byte]).isEmpty)
  }

  test("frame sampling dispatches per media type") {
    implicit val s = spark
    // doc_id % 3 decides the type: 0→image, 1→audio, 2→video.
    // 18 frames each (64*18 = 1152 bytes; text of 1100 chars → 18 frames)
    val text = "x" * 1100
    val docs = Seq((0L, text), (1L, text), (2L, text)).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(Multimodal.toMedia(docs)).collect()
      .groupBy(_.media_type).view.mapValues(_.map(_.frame_idx).sorted.toSeq).toMap
    assert(frames("image") == Seq(0L))                       // first frame only
    assert(frames("video") == Seq(0L, 4L, 8L, 12L, 16L))     // every 4th
    assert(frames("audio") == Seq(0L, 8L, 16L))              // every 8th
    assert(Multimodal.sampleFrames(Multimodal.toMedia(
      Seq((2L, "")).toDF("doc_id", "text"))).isEmpty)        // empty payload
  }

  test("binaryFile round trip: landed files scan back byte-identical") {
    implicit val s = spark
    import spark.implicits._
    val docs = Seq((1L, "alpha"), (2L, "beta-β"), (5L, "γ" * 100))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("binscan").toString
    Multimodal.landBinaryDir(Multimodal.toMedia(docs), dir)
    val back = Multimodal.readBinaryDir(spark, dir)
      .select(col("file_name"), col("length"), col("content")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), new String(r.getAs[Array[Byte]](2), "UTF-8"))).toMap
    assert(back.keySet == Set("doc_1.bin", "doc_2.bin", "doc_5.bin"))
    assert(back("doc_2.bin")._2 == "beta-β")
    assert(back("doc_5.bin")._1 == 200L) // γ is 2 bytes in UTF-8
    // length predicate pushes into the binaryFile scan (oversized media
    // pruned before content is materialized)
    val pruned = Multimodal.readBinaryDir(spark, dir)
      .filter(col("length") < 20).collect()
    assert(pruned.map(_.getString(0)).toSet == Set("doc_1.bin", "doc_2.bin"))
  }

  test("packfile landing: byte-identical round trip, file count bounded by docsPerFile") {
    import graft.ext.Multimodal
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // 10 docs, 3 per pack, multi-partition: packs must never mix bytes
    // up, and the pack count must track ceil(docs/perFile) per task —
    // not the doc count (the one-file-per-doc scale cliff).
    val docs = (1 to 10).map(i => (i.toLong, s"payload-$i-" + ("x" * i)))
      .toDF("doc_id", "text").repartition(2)
    val dir = java.nio.file.Files.createTempDirectory("packscan").toString
    Multimodal.landPackfiles(Multimodal.toMedia(docs), dir, docsPerFile = 3)
    val back = Multimodal.readPackfiles(spark, dir)
      .select(col("doc_id"), col("content")).collect()
      .map(r => r.getLong(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8"))
      .toMap
    assert(back.size == 10)
    (1 to 10).foreach { i =>
      assert(back(i.toLong) == s"payload-$i-" + ("x" * i), s"doc $i bytes")
    }
    val packs = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".pack"))
    assert(packs.length <= 2 * 4 && packs.length < 10,
      s"pack count ${packs.length} must be bounded by batches, not docs")
    // index carries contiguous spans per pack (offset = running sum)
    val idx = spark.read.parquet(s"$dir/_index")
      .orderBy("pack", "offset").collect()
    idx.groupBy(_.getAs[String]("pack")).foreach { case (_, rows) =>
      var expect = 0L
      rows.sortBy(_.getAs[Long]("offset")).foreach { r =>
        assert(r.getAs[Long]("offset") == expect, "spans must be contiguous")
        expect += r.getAs[Long]("length")
      }
    }
  }
}
