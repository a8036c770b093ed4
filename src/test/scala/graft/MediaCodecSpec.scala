package graft

import java.io.ByteArrayInputStream

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.MediaCodec

/** The multimodal codecs must produce REAL formats and parse REAL
  * encoder output — proven by round-tripping against the JDK's own
  * independent codecs (`javax.imageio`, `javax.sound.sampled`), which
  * share zero code with ours. A mirrored offset/endianness bug in our
  * encoder+parser pair would survive the arithmetic oracle; it cannot
  * survive these cross-checks. */
class MediaCodecSpec extends AnyFunSuite {

  test("our PNG decodes in ImageIO pixel-exactly") {
    val (w, h, seed) = (37, 21, 12345L)
    val bytes = MediaCodec.encodePng(w, h, seed)
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO could not read our PNG")
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(img.getRaster.getSample(x, y, 0) == MediaCodec.pixel(seed, x, y),
        s"pixel ($x,$y) mismatch")
  }

  test("our parser reads ImageIO-encoded PNG headers") {
    val img = new java.awt.image.BufferedImage(41, 17, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(3, 4, 0xdeadbe)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out))
    val info = MediaCodec.pngInfo(out.toByteArray)
    assert(info.isDefined, "our parser rejected a JDK-written PNG")
    assert(info.get.width == 41 && info.get.height == 17)
    assert(info.get.bitDepth == 8)
  }

  test("our parser reads the JPEG SOF dims the JDK encoder writes") {
    for ((w, h) <- Seq((8, 8), (127, 9), (64, 120))) {
      val bytes = MediaCodec.encodeJpeg(w, h, 99L)
      val info = MediaCodec.jpegInfo(bytes)
      assert(info.isDefined, s"no SOF found in JDK JPEG ${w}x$h")
      assert(info.get.width == w && info.get.height == h, s"dims mismatch at ${w}x$h")
      assert(info.get.components == 1, "grayscale source must encode 1 component")
      // and the JDK can read its own bytes back at the same dims
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
      assert(img.getWidth == w && img.getHeight == h)
    }
  }

  test("MJPEG split: frame spans are exact and each span re-parses to its own dims") {
    val dims = Seq((16, 9), (33, 47), (8, 8), (120, 11))
    val frames = dims.zipWithIndex.map { case ((w, h), i) => MediaCodec.encodeJpeg(w, h, i) }
    val stream = frames.reduce(_ ++ _)
    val spans = MediaCodec.mjpegFrames(stream)
    assert(spans.length == dims.length, s"expected ${dims.length} frames, got ${spans.length}")
    // spans must tile the stream exactly: concatenation preserved
    assert(spans.head._1 == 0)
    spans.sliding(2).foreach { case Array((o1, l1), (o2, _)) => assert(o1 + l1 == o2); case _ => }
    assert(spans.last._1 + spans.last._2 == stream.length)
    spans.zip(dims).foreach { case ((off, len), (w, h)) =>
      val info = MediaCodec.jpegInfo(stream, off, off + len)
      assert(info.exists(i => i.width == w && i.height == h), s"frame at $off: wrong dims")
      assert(len == frames(spans.indexOf((off, len))).length)
    }
    // a truncated tail frame is dropped, not mis-split
    val truncated = MediaCodec.mjpegFrames(stream.dropRight(4))
    assert(truncated.length == dims.length - 1)
  }

  test("pngPixels decodes ImageIO-written PNGs pixel-exactly (adaptive filters included)") {
    // content with strong horizontal AND vertical gradients pushes the
    // JDK encoder into the Sub/Up/Average/Paeth filters our decoder
    // must reverse — a filter-0-only decoder fails this test
    val (w, h) = (61, 43)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (x * 3 + y * 5 + (x * y) % 7) % 256)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out))
    val px = MediaCodec.pngPixels(out.toByteArray)
    assert(px.isDefined, "our decoder rejected a JDK-written gray PNG")
    for (y <- 0 until h; x <- 0 until w)
      assert(px.get(y * w + x) == img.getRaster.getSample(x, y, 0),
        s"pixel ($x,$y) wrong after defilter")
  }

  test("pngPixels round-trips our own encoder against the pixel formula") {
    val (w, h, seed) = (29, 31, 77L)
    val px = MediaCodec.pngPixels(MediaCodec.encodePng(w, h, seed))
    assert(px.isDefined)
    for (y <- 0 until h; x <- 0 until w)
      assert(px.get(y * w + x) == MediaCodec.pixel(seed, x, y))
  }

  test("wavSamples decodes signed 16-bit PCM exactly, negative values included") {
    val bytes = MediaCodec.encodeWav(8000, 2, 100, 13L)
    val got = MediaCodec.wavSamples(bytes)
    assert(got.isDefined && got.get.length == 200)
    for (f <- 0 until 100; c <- 0 until 2) {
      val want = (((13L * 131 + f * 17 + c * 7919) % 32003) - 16001).toShort
      assert(got.get(f * 2 + c) == want, s"sample ($f,$c)")
    }
    assert(got.get.exists(_ < 0), "the fixture wave must exercise negative amplitudes")
    // and a javax.sound-written file decodes to the same PCM we put in
    import javax.sound.sampled._
    val pcm = Array.tabulate(64)(k => ((k * 1000 - 30000) & 0xffff))
    val raw = new Array[Byte](128)
    for (k <- 0 until 64) { raw(2 * k) = (pcm(k) & 0xff).toByte; raw(2 * k + 1) = ((pcm(k) >> 8) & 0xff).toByte }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(raw), fmt, 64)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    val jdk = MediaCodec.wavSamples(out.toByteArray)
    assert(jdk.isDefined && jdk.get.toSeq == pcm.map(_.toShort).toSeq)
  }

  test("our WAV plays in javax.sound: format and frame count match") {
    val bytes = MediaCodec.encodeWav(16000, 2, 345, 7L)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate == 16000f && fmt.getChannels == 2 && fmt.getSampleSizeInBits == 16)
    assert(ais.getFrameLength == 345L)
  }

  test("our parser reads a javax.sound-written WAV") {
    import javax.sound.sampled._
    val fmt = new AudioFormat(22050f, 16, 1, true, false)
    val pcm = new Array[Byte](200 * 2)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, 200)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    val info = MediaCodec.wavInfo(out.toByteArray)
    assert(info.isDefined, "our parser rejected a JDK-written WAV")
    assert(info.get.sampleRate == 22050 && info.get.channels == 1 && info.get.bitsPerSample == 16)
    assert(info.get.nFrames == 200)
    assert(info.get.durationMs == 200L * 1000 / 22050)
  }

  test("parsers reject malformed headers instead of overrunning or spinning") {
    // truncated JPEG: cut inside the header segments (before any SOF)
    val jpeg = MediaCodec.encodeJpeg(16, 16, 5L)
    for (cut <- Seq(3, 4, 6, 10, 20))
      assert(MediaCodec.jpegInfo(jpeg.take(cut)).isEmpty, s"cut=$cut must not parse")
    // a JPEG whose header ends in a run of 0xFF fill bytes (the
    // fill-skip loop must not read past the buffer)
    assert(MediaCodec.jpegInfo(Array(0xff, 0xd8, 0xff, 0xff, 0xff).map(_.toByte)).isEmpty)
    // WAV with a >2GiB (sign-flipped) chunk size: must return None,
    // not walk the cursor backwards forever
    val wav = MediaCodec.encodeWav(8000, 1, 10, 1L)
    val evil = wav.clone()
    evil(16) = 0xff.toByte; evil(17) = 0xff.toByte
    evil(18) = 0xff.toByte; evil(19) = 0xff.toByte // fmt size := -1
    assert(MediaCodec.wavInfo(evil).isEmpty)
    // PNG with a sign-flipped width
    val png = MediaCodec.encodePng(9, 9, 1L)
    val badPng = png.clone(); badPng(16) = 0x80.toByte
    assert(MediaCodec.pngInfo(badPng).isEmpty)
  }

  test("parsers reject non-media bytes instead of mis-parsing") {
    val junk = "this is not a media file, just text".getBytes("UTF-8")
    assert(MediaCodec.pngInfo(junk).isEmpty)
    assert(MediaCodec.jpegInfo(junk).isEmpty)
    assert(MediaCodec.wavInfo(junk).isEmpty)
    assert(MediaCodec.mjpegFrames(junk).isEmpty)
    // and a PNG is not a JPEG / WAV
    val png = MediaCodec.encodePng(9, 9, 1L)
    assert(MediaCodec.jpegInfo(png).isEmpty && MediaCodec.wavInfo(png).isEmpty)
  }

  test("media decode is stateless: the same typed map streams, replay == batch (quality-filter convention)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val spark = SparkSuite.spark
    import spark.implicits._
    val media = graft.operators.Multimodal.realMedia(spark, SparkSuite.sfDir)
    val srcDir = SparkSuite.tempDir("media-stream-src")
    media.coalesce(2).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema("doc_id BIGINT, media_type STRING, payload BINARY").parquet(srcDir)
    val q = graft.operators.Multimodal.decodeMedia(stream.toDF())
      .toDF()
      .writeStream.format("memory").queryName("media_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming media decode did not finish")
    q.stop()
    val streamed = spark.table("media_stream").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val batch = graft.operators.Multimodal.decodeMedia(media).toDF().collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("ns_mm_features end-to-end: decoded fields equal the doc_id arithmetic") {
    val spark = SparkSuite.spark
    val rows = graft.operators.Multimodal.features.run(spark, SparkSuite.sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      (id % 3) match {
        case 0 =>
          assert(r.getString(1) == "image")
          assert(r.getInt(2) == 8 + id * 13 % 120 && r.getInt(3) == 8 + id * 29 % 120)
          assert(r.getInt(6) == 1)
        case 1 =>
          assert(r.getString(1) == "audio")
          val rate = Array(8000, 11025, 16000, 22050)((id * 7 % 4).toInt)
          val nf = 64 + id * 17 % 441
          assert(r.getInt(4) == rate && r.getInt(5) == 1 + id * 5 % 2)
          assert(r.getInt(6) == nf && r.getLong(7) == nf * 1000 / rate)
        case _ =>
          assert(r.getString(1) == "video")
          assert(r.getInt(2) == 8 + id * 13 % 120 && r.getInt(3) == 8 + id * 7 % 120)
          assert(r.getInt(6) == 1 + id * 3 % 6)
      }
    }
  }

  test("dHash is brightness-shift tolerant: +1 gray level flips at most a few bits") {
    // seed → seed+81 shifts every pixel by exactly +1 (31·81 ≡ 1 mod 251)
    val (w, h) = (53, 41)
    def hashOf(seed: Long): (Long, Long) = {
      val px = MediaCodec.pngPixels(MediaCodec.encodePng(w, h, seed)).get
      graft.operators.Multimodal.dHash(px, w, h)
    }
    val (h0hi, h0lo) = hashOf(9000L)
    val (h1hi, h1lo) = hashOf(9000L + 81L)
    val near = java.lang.Long.bitCount(h0hi ^ h1hi) + java.lang.Long.bitCount(h0lo ^ h1lo)
    assert(near <= 6, s"brightness twin at hamming $near")
    // an unrelated image (different dims ⇒ different sampling grid) is far
    val px2 = MediaCodec.pngPixels(MediaCodec.encodePng(67, 29, 777L)).get
    val (fhi, flo) = graft.operators.Multimodal.dHash(px2, 67, 29)
    val far = java.lang.Long.bitCount(h0hi ^ fhi) + java.lang.Long.bitCount(h0lo ^ flo)
    assert(far > 6, s"unrelated image at hamming $far")
  }

  test("audioFingerprint refuses sub-64-sample clips (degenerate all-zero hash)") {
    intercept[IllegalArgumentException] {
      graft.operators.Multimodal.audioFingerprint(Array.fill(63)(5))
    }
  }

  test("phash is stateless: the same typed map streams, replay == batch (quality-filter convention)") {
    val spark = SparkSuite.spark
    import org.apache.spark.sql.streaming.Trigger
    val media = graft.operators.Multimodal.dupMedia(spark, SparkSuite.sfDir)
    val srcDir = SparkSuite.tempDir("phash-stream-src")
    media.write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema("doc_id BIGINT, media_type STRING, payload BINARY").parquet(srcDir)
    val q = graft.operators.Multimodal.phashOf(stream.toDF())
      .toDF()
      .writeStream.format("memory").queryName("phash_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming phash did not finish")
    q.stop()
    val streamed = spark.table("phash_stream").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val batch = graft.operators.Multimodal.phashOf(media).toDF().collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("ns_mm_phash_dups finds every planted near-dup pair (recall = 1.0)") {
    val spark = SparkSuite.spark
    val found = graft.operators.Multimodal.phashDups.run(spark, SparkSuite.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val imgs = graft.sources.Tables.documents(spark, SparkSuite.sfDir)
      .select("doc_id").collect().map(_.getLong(0)).filter(_ % 3 == 0)
    val planted = for {
      a <- imgs; b <- imgs
      if a < b && a / 15 == b / 15
    } yield (a, b)
    assert(planted.nonEmpty)
    val missed = planted.toSet -- found
    assert(missed.isEmpty, s"missed planted pairs: $missed")
  }

  test("audio fingerprint is DC-shift tolerant; unrelated signals are far") {
    // quadratic-mod signal (the dup-fixture shape); +3 pre-wrap DC shift
    def sig(base: Long, nf: Int, m: Long): Array[Int] =
      Array.tabulate(nf)(f => ((base + 31L * f * f + 17L * f + m) % 32003 - 16001).toInt)
    val (h0hi, h0lo) = graft.operators.Multimodal.audioFingerprint(sig(90000L, 300, 0))
    val (h1hi, h1lo) = graft.operators.Multimodal.audioFingerprint(sig(90000L, 300, 3))
    val near = java.lang.Long.bitCount(h0hi ^ h1hi) + java.lang.Long.bitCount(h0lo ^ h1lo)
    assert(near <= 6, s"DC twin at hamming $near")
    val (fhi, flo) = graft.operators.Multimodal.audioFingerprint(sig(123456L, 287, 0))
    val far = java.lang.Long.bitCount(h0hi ^ fhi) + java.lang.Long.bitCount(h0lo ^ flo)
    assert(far > 6, s"unrelated signal at hamming $far")
  }

  test("ns_mm_audio_dups finds every planted near-dup pair (recall = 1.0)") {
    val spark = SparkSuite.spark
    val found = graft.operators.Multimodal.audioDups.run(spark, SparkSuite.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auds = graft.sources.Tables.documents(spark, SparkSuite.sfDir)
      .select("doc_id").collect().map(_.getLong(0)).filter(_ % 3 == 1)
    val planted = for {
      a <- auds; b <- auds
      if a < b && a / 15 == b / 15
    } yield (a, b)
    assert(planted.nonEmpty)
    val missed = planted.toSet -- found
    assert(missed.isEmpty, s"missed planted pairs: $missed")
  }

  test("encodeWav16 round-trips arbitrary interleaved samples through wavSamples and javax.sound") {
    val samples = Array.tabulate(402)(i => ((i * 7919 + 13) % 32003 - 16001).toShort)
    val bytes = MediaCodec.encodeWav16(22050, 2, samples)
    assert(MediaCodec.wavSamples(bytes).get.sameElements(samples))
    val info = MediaCodec.wavInfo(bytes).get
    assert(info.sampleRate == 22050 && info.channels == 2 && info.nFrames == 201)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(bytes))
    assert(ais.getFormat.getChannels == 2 && ais.getFormat.getSampleRate == 22050f)
    assert(ais.getFrameLength == 201L)
  }

  test("streaming incremental media dedup: stream-static band join replays the batch verdicts") {
    // the 100 TB ingest shape: new media arrives as a STREAM, checks
    // against the STATIC banded phash index (stream-static inner join
    // + per-doc aggregation), and must produce exactly the batch
    // incremental detector's dup counts
    val spark = SparkSuite.spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val mm = graft.operators.Multimodal
    def bands(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("phash_hi").as("hi"), col("phash_lo").as("lo"),
        posexplode(array(
          col("phash_lo").bitwiseAND(lit(65535L)),
          shiftright(col("phash_lo"), 16),
          col("phash_hi").bitwiseAND(lit(65535L)),
          shiftright(col("phash_hi"), 16))))
        .toDF("doc_id", "hi", "lo", "band_idx", "band_val")
    val media = mm.dupMedia(spark, SparkSuite.sfDir)
    val isNew = expr("(doc_id % 15) div 3 = 4")
    val index = bands(mm.phashOf(media.where(!isNew)).toDF())
      .select(col("doc_id").as("idx_id"), col("band_idx"), col("band_val"),
        col("hi").as("i_hi"), col("lo").as("i_lo"))
    val srcDir = SparkSuite.tempDir("mm-ingest-src")
    media.where(isNew).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema("doc_id BIGINT, media_type STRING, payload BINARY").parquet(srcDir)
    val streamed = bands(mm.phashOf(stream.toDF()).toDF())
      .join(index, Seq("band_idx", "band_val"))   // stream-static join
      .select("doc_id", "idx_id", "hi", "lo", "i_hi", "i_lo").dropDuplicates()
      .where(expr("CAST(bit_count(hi ^ i_hi) + bit_count(lo ^ i_lo) AS INT)") <= 10)
      .groupBy("doc_id").agg(count(lit(1)).as("n_dups"))
    val q = streamed.writeStream.format("memory").queryName("mm_ingest")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming media dedup did not finish")
    q.stop()
    val got = spark.table("mm_ingest").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = mm.phashIncremental.run(spark, SparkSuite.sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      .filter(_._2 > 0)
    assert(want.nonEmpty && got == want,
      s"stream verdicts != batch: got $got want $want")
  }

  test("streaming video ingest dedup: stream-static shingle join replays the batch pairs") {
    // the video analog of the image ingest twin above: new clips
    // arrive as a STREAM, shingle against the STATIC index (members
    // 0-3), stream-static equi-join on the 4-long shingle key — the
    // asymmetric new×index contract, replay ≡ batch
    val spark = SparkSuite.spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val mm = graft.operators.Multimodal
    val media = mm.dupVideo(spark, SparkSuite.sfDir)
    val isNew = expr("(doc_id % 15) div 3 = 4")
    val index = mm.videoShingles(media.where(!isNew)).toDF().distinct()
      .toDF("idx_id", "h1_hi", "h1_lo", "h2_hi", "h2_lo")
    val srcDir = SparkSuite.tempDir("mm-video-src")
    media.where(isNew).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema("doc_id BIGINT, media_type STRING, payload BINARY").parquet(srcDir)
    val streamed = mm.videoShingles(stream.toDF()).toDF().dropDuplicates()
      .join(index, Seq("h1_hi", "h1_lo", "h2_hi", "h2_lo")) // stream-static join
      .groupBy("doc_id", "idx_id").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
    val q = streamed.writeStream.format("memory").queryName("mm_video_ingest")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming video dedup did not finish")
    q.stop()
    val got = spark.table("mm_video_ingest").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = mm.videoShingles(media.where(isNew)).toDF().distinct()
      .join(index, Seq("h1_hi", "h1_lo", "h2_hi", "h2_lo"))
      .groupBy("doc_id", "idx_id").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(want.nonEmpty && got == want,
      s"stream shingle pairs != batch: got ${got.size} want ${want.size}")
  }

  test("image gate: all three arms fire, brightness measured on real decoded PNG bytes") {
    import graft.operators.Multimodal.gateOf
    // size check dominates, even for a dark image
    assert(gateOf(31, 500, 0L) == ((0, "too_small")))
    assert(gateOf(500, 31, 0L) == ((0, "too_small")))
    // brightness bounds are inclusive integer algebra (no division)
    assert(gateOf(40, 40, 50L * 1600) == ((1, "ok")))
    assert(gateOf(40, 40, 50L * 1600 - 1) == ((0, "brightness")))
    assert(gateOf(40, 40, 200L * 1600) == ((1, "ok")))
    assert(gateOf(40, 40, 200L * 1600 + 1) == ((0, "brightness")))
    // the brightness arm over REAL bytes: an ImageIO-encoded all-black
    // gray-8 PNG (the fixture generator can't produce one — its pixel
    // formula always means ~125) decodes through OUR parser and fails
    // the gate for brightness, not size
    val img = new java.awt.image.BufferedImage(64, 48, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val px = MediaCodec.pngPixels(out.toByteArray).get
    assert(px.length == 64 * 48 && px.forall(_ == 0))
    assert(gateOf(64, 48, px.map(_.toLong).sum) == ((0, "brightness")))
  }

  test("audio gate: all four arms fire — pure algebra and over real decoded PCM") {
    import graft.operators.Multimodal.audioGateOf
    // length check dominates
    assert(audioGateOf(99, -16001, 16001) == ((0, "too_short")))
    // clipping bounds are inclusive at ±15500
    assert(audioGateOf(100, -100, 15500) == ((0, "clipping")))
    assert(audioGateOf(100, -15500, 100) == ((0, "clipping")))
    assert(audioGateOf(100, -15499, 15499) == ((1, "ok")))
    // silence band is inclusive at ±2500 and needs BOTH extremes inside
    assert(audioGateOf(100, -2500, 2500) == ((0, "silence")))
    assert(audioGateOf(100, -2501, 2500) == ((1, "ok")))
    assert(audioGateOf(100, -2500, 2501) == ((1, "ok")))
    // all four arms fire over REAL decoded WAV bytes on the fixture
    // (the generator's amplitude windows cover all the bands; measured
    // 15/41/2/109 at this SF — BASELINE.md r11)
    val spark = SparkSuite.spark
    val reasons = graft.operators.Multimodal.audioGate.run(spark, SparkSuite.sfDir)
      .collect().map(_.getString(6)).toSet
    assert(reasons == Set("too_short", "clipping", "silence", "ok"),
      s"expected all four audio-gate arms on the fixture, got $reasons")
  }

  test("video gate: all three arms fire in the algebra; static fires on real decoded frames") {
    import graft.operators.Multimodal.videoGateOf
    // frame-count check dominates (structurally unreachable on the
    // 8-frame fixture — driven here, the imageGate brightness-arm
    // convention)
    assert(videoGateOf(3, 0) == ((0, "too_few_frames")))
    assert(videoGateOf(3, 64) == ((0, "too_few_frames")))
    // motion bound: min consecutive delta < 20 of 64 bits
    assert(videoGateOf(8, 19) == ((0, "static")))
    assert(videoGateOf(8, 20) == ((1, "ok")))
    val spark = SparkSuite.spark
    val rows = graft.operators.Multimodal.videoGate.run(spark, SparkSuite.sfDir).collect()
    val reasons = rows.map(_.getString(5)).toSet
    assert(reasons == Set("static", "ok"),
      s"expected static+ok over real decoded frames, got $reasons")
    // every fixture clip decodes to all 8 frames
    assert(rows.forall(_.getInt(1) == 8))
  }

  test("audio/video funnels: stage tallies partition the paired corpus") {
    val spark = SparkSuite.spark
    for (name <- Seq("ns_mm_audio_funnel", "ns_mm_video_funnel")) {
      val rows = graft.SparkEntry.queries(name)(spark, SparkSuite.sfDir).collect()
      assert(rows.nonEmpty, s"$name empty")
      // n_total = gate + dup + crossmodal + kept in every cell (stage
      // attribution is a partition — one blame per doc)
      rows.foreach { r =>
        assert(r.getLong(2) == r.getLong(3) + r.getLong(4) + r.getLong(5) + r.getLong(6),
          s"$name stage tallies do not partition: $r")
      }
      // every stage populated somewhere on the fixture
      for (i <- 3 to 6)
        assert(rows.map(_.getLong(i)).sum > 0, s"$name stage column $i empty")
    }
  }

  test("streaming ingest funnel: gate + dedup verdicts over a clip stream replay the batch composition") {
    // the 100 TB ingest-funnel shape: NEW clips arrive as a STREAM and
    // get BOTH curation verdicts before admission — the content gate
    // (a stateless typed map over decoded frames, the videoFeats
    // kernel) and the temporal-dedup probe (stream-static shingle join
    // against the warm index). Spark can't cascade two streaming
    // aggregations in one query, so the two verdict planes run as two
    // AvailableNow queries over the SAME source and compose on the
    // sink side — exactly how a production ingest job lands verdict
    // columns next to each other. Replay ≡ batch on the composed
    // (gate_keep, dup_free) verdict per clip.
    val spark = SparkSuite.spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val mm = graft.operators.Multimodal
    val media = mm.dupVideo(spark, SparkSuite.sfDir)
    val isNew = expr("(doc_id % 15) div 3 = 4")
    val index = mm.videoShingles(media.where(!isNew)).toDF().distinct()
      .toDF("idx_id", "h1_hi", "h1_lo", "h2_hi", "h2_lo")
    val srcDir = SparkSuite.tempDir("mm-funnel-src")
    media.where(isNew).write.mode("overwrite").parquet(srcDir)
    def stream() = spark.readStream
      .schema("doc_id BIGINT, media_type STRING, payload BINARY").parquet(srcDir)
    // plane 1: the content gate — stateless decode map, no state at all
    val q1 = mm.videoFeats(stream().toDF()).toDF()
      .select("doc_id", "keep")
      .writeStream.format("memory").queryName("ingate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    // plane 2: the dedup probe — stream-static shingle equi-join
    val q2 = mm.videoShingles(stream().toDF()).toDF().dropDuplicates()
      .join(index, Seq("h1_hi", "h1_lo", "h2_hi", "h2_lo"))
      .groupBy("doc_id", "idx_id").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
      .writeStream.format("memory").queryName("indups")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q1.awaitTermination(120000) && q2.awaitTermination(120000))
    q1.stop(); q2.stop()
    val gate = spark.table("ingate").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dupped = spark.table("indups").collect().map(_.getLong(0)).toSet
    val streamedVerdict = gate.map { case (id, g) => id -> ((g == 1) && !dupped(id)) }
    // batch composition of the registered pieces
    val bGate = mm.videoGate.run(spark, SparkSuite.sfDir).collect()
      .filter(r => (r.getLong(0) % 15) / 3 == 4).map(r => r.getLong(0) -> r.getInt(4)).toMap
    val bDups = mm.videoIncremental.run(spark, SparkSuite.sfDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val batchVerdict = bGate.map { case (id, g) => id -> ((g == 1) && bDups(id)) }
    assert(streamedVerdict.nonEmpty && streamedVerdict == batchVerdict,
      s"ingest funnel stream != batch: ${streamedVerdict.toSeq.sorted.take(5)} vs ${batchVerdict.toSeq.sorted.take(5)}")
  }

  test("streaming audio ingest funnel: gate + acoustic dedup verdicts replay the batch composition") {
    // the audio twin of the video ingest funnel above: new clips
    // stream through the content gate (stateless WAV decode map — the
    // audioFeats kernel over realMedia-format bytes) and the acoustic
    // dedup probe (stream-static fingerprint band join against the
    // warm index over the dup-planted corpus); composed verdicts
    // replay batch exactly. Note the two planes read the two fixture
    // corpora the registered operators read (gate: realMedia bytes;
    // dedup: dupAudio bytes) — same doc_id space, the funnel contract.
    val spark = SparkSuite.spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val mm = graft.operators.Multimodal
    val isNewExpr = expr("(doc_id % 15) div 3 = 4")
    // plane 1: gate over the realMedia audio stream (stateless map)
    val gateSrc = SparkSuite.tempDir("mm-audio-gate-src")
    mm.realMedia(spark, SparkSuite.sfDir)
      .where(col("media_type") === "audio").write.mode("overwrite").parquet(gateSrc)
    val gateStream = spark.readStream
      .schema("doc_id BIGINT, media_type STRING, payload BINARY").parquet(gateSrc)
    val q1 = mm.audioFeats(gateStream.toDF()).toDF()
      .select("doc_id", "keep")
      .writeStream.format("memory").queryName("audio_ingate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    // plane 2: acoustic band probe — new dupAudio clips vs static index
    val fp = mm.audioFingerprints(spark, SparkSuite.sfDir)
    def bands(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("hi"), col("lo"),
        posexplode(array(
          col("lo").bitwiseAND(lit(65535L)), shiftright(col("lo"), 16),
          col("hi").bitwiseAND(lit(65535L)), shiftright(col("hi"), 16))))
        .toDF("doc_id", "hi", "lo", "band_idx", "band_val")
    val index = bands(fp.where(!isNewExpr))
      .select(col("doc_id").as("idx_id"), col("band_idx"), col("band_val"),
        col("hi").as("i_hi"), col("lo").as("i_lo"))
    val dupSrc = SparkSuite.tempDir("mm-audio-dup-src")
    mm.dupAudio(spark, SparkSuite.sfDir).where(isNewExpr)
      .write.mode("overwrite").parquet(dupSrc)
    val dupStream = spark.readStream
      .schema("doc_id BIGINT, media_type STRING, payload BINARY").parquet(dupSrc)
    val q2 = bands(mm.audioFingerprintsOf(dupStream.toDF()))
      .join(index, Seq("band_idx", "band_val"))
      .select("doc_id", "idx_id", "hi", "lo", "i_hi", "i_lo").dropDuplicates()
      .where(expr("CAST(bit_count(hi ^ i_hi) + bit_count(lo ^ i_lo) AS INT)") <= 6)
      .groupBy("doc_id").agg(count(lit(1)).as("n_dups"))
      .writeStream.format("memory").queryName("audio_indups")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    assert(q1.awaitTermination(120000) && q2.awaitTermination(120000))
    q1.stop(); q2.stop()
    val gate = spark.table("audio_ingate").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dupped = spark.table("audio_indups").collect().map(_.getLong(0)).toSet
    // compose only over the NEW slice (the gate plane streamed ALL
    // audio docs; the ingest verdict applies to arriving clips)
    val streamed = gate.collect { case (id, g) if (id % 15) / 3 == 4 =>
      id -> ((g == 1) && !dupped(id)) }
    val bGate = mm.audioGate.run(spark, SparkSuite.sfDir).collect()
      .filter(r => (r.getLong(0) % 15) / 3 == 4).map(r => r.getLong(0) -> r.getInt(5)).toMap
    val bDups = mm.audioIncremental.run(spark, SparkSuite.sfDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val batch = bGate.map { case (id, g) => id -> ((g == 1) && bDups(id)) }
    assert(streamed.nonEmpty && streamed == batch,
      s"audio ingest funnel stream != batch: ${streamed.toSeq.sorted.take(5)} vs ${batch.toSeq.sorted.take(5)}")
  }

  test("corpus funnel: per-modality stage cells equal each registered funnel's tallies") {
    val spark = SparkSuite.spark
    val corpus = graft.operators.Multimodal.corpusFunnel.run(spark, SparkSuite.sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(corpus.keys.map(_._1).toSet == Set("image", "audio", "video"))
    // the capstone is a pure composition: each (modality, stage) cell
    // must equal the corresponding registered funnel's stage column sum
    val checks = Seq(
      ("image", "ns_mm_multimodal_funnel", "text"),
      ("audio", "ns_mm_audio_funnel", "gate"),
      ("video", "ns_mm_video_funnel", "gate"))
    for ((modality, name, stage1) <- checks) {
      val rows = graft.SparkEntry.queries(name)(spark, SparkSuite.sfDir).collect()
      def cell(s: String) = corpus.getOrElse((modality, s), 0L)
      assert(cell(stage1) == rows.map(_.getLong(3)).sum, s"$modality $stage1")
      assert(cell("dup") == rows.map(_.getLong(4)).sum, s"$modality dup")
      assert(cell("crossmodal") == rows.map(_.getLong(5)).sum, s"$modality crossmodal")
      assert(cell("kept") == rows.map(_.getLong(6)).sum, s"$modality kept")
    }
  }

  test("audio resample at the target rate is the identity; stats replay the formula") {
    val spark = SparkSuite.spark
    val rows = graft.operators.Multimodal.audioResample.run(spark, SparkSuite.sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, sr, nIn, nOut) = (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))
      def s(f: Long): Long = (id * 131 + f * 17) % 32003 - 16001
      if (sr == 16000) {
        // identity: every output sample is an input sample
        assert(nOut == nIn)
        assert(r.getLong(4) == (0L until nIn).map(s).sum)
      } else {
        assert(nOut == (nIn - 1).toLong * 16000 / sr + 1)
        // exact replay of the integer interpolation
        var sum = 0L
        var i = 0L
        while (i < nOut) {
          val num = i * sr
          val idx = num / 16000
          val rem = num % 16000
          sum += (if (rem > 0) s(idx) + (s(idx + 1) - s(idx)) * rem / 16000 else s(idx))
          i += 1
        }
        assert(r.getLong(4) == sum, s"doc $id resample sum")
      }
    }
  }

  test("video temporal dedup: planted recall exact, cross-group zero, re-encode changes bytes not hashes") {
    val spark = SparkSuite.spark
    import spark.implicits._
    val dir = SparkSuite.sfDir
    val media = graft.operators.Multimodal.dupVideo(spark, dir).cache()
    // frame split + decode: every clip is 8 real PNG frames
    val counts = media.select("doc_id", "payload").as[(Long, Array[Byte])]
      .map { case (_, p) => MediaCodec.pngFrames(p).length }.collect()
    assert(counts.nonEmpty && counts.forall(_ == 8), "every clip must split into 8 PNG frames")
    // ImageIO cross-check on a sliced frame (independent decoder)
    val (id0, p0) = media.select("doc_id", "payload").as[(Long, Array[Byte])].head()
    val (off, len) = MediaCodec.pngFrames(p0)(3)
    val sliced = java.util.Arrays.copyOfRange(p0, off, off + len)
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(sliced))
    val ours = MediaCodec.pngPixels(sliced).get
    val theirs = Array.tabulate(img.getHeight * img.getWidth)(i =>
      img.getRaster.getSample(i % img.getWidth, i / img.getWidth, 0))
    assert(ours.sameElements(theirs), s"frame 3 of doc $id0 disagrees with ImageIO")
    // MEASURED margins (the r9 image/audio convention): within-group
    // shingle overlap is exactly 7-d for shift d; cross-group is ZERO
    // over ALL pairs (not just the thresholded output)
    val sh = graft.operators.Multimodal.videoShingles(media).toDF().distinct()
    val a = sh.toDF("a_id", "h1_hi", "h1_lo", "h2_hi", "h2_lo")
    val b = sh.toDF("b_id", "h1_hi", "h1_lo", "h2_hi", "h2_lo")
    val allShared = a.join(b, Seq("h1_hi", "h1_lo", "h2_hi", "h2_lo"))
      .where($"a_id" < $"b_id")
      .groupBy("a_id", "b_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (within, cross) = allShared.partition { case (x, y, _) => x / 15 == y / 15 }
    assert(cross.isEmpty, s"cross-group clips share shingles: ${cross.take(5).mkString(",")}")
    val ids = media.select("doc_id").as[Long].collect()
    val withinMap = within.map { case (x, y, n) => (x, y) -> n }.toMap
    for {
      g <- ids.map(_ / 15 * 15).distinct
      x <- ids.filter(_ / 15 * 15 == g); y <- ids.filter(_ / 15 * 15 == g) if x < y
    } {
      val d = math.abs((x % 15) / 3 - (y % 15) / 3)
      val expect = 7 - d
      assert(withinMap.getOrElse((x, y), 0L) == expect,
        s"pair ($x,$y) shift $d: expected $expect shared shingles, got ${withinMap.get((x, y))}")
    }
    // within a group every member's FRAME hashes are identical per
    // scene (the +m re-encode never wraps) while payload BYTES differ
    val fhs = graft.operators.Multimodal.videoShingles(media).collect()
      .groupBy(_.doc_id / 15 * 15)
    fhs.foreach { case (g, rows) =>
      // members present span scenes min(m)..max(m)+7 -> exactly
      // 7 + (max-min) distinct shingles iff aligned AND per-scene
      // hashes are distinct (a hash collision would collapse two)
      val ms = rows.map(r => (r.doc_id % 15) / 3).distinct
      val expect = 7 + (ms.max - ms.min)
      val distinctShingles = rows.map(r => (r.h1_hi, r.h1_lo, r.h2_hi, r.h2_lo)).distinct
      assert(distinctShingles.length == expect,
        s"group $g (members ${ms.sorted.mkString(",")}): expected $expect distinct " +
          s"scene shingles, got ${distinctShingles.length}")
    }
    val payloads = media.select("doc_id", "payload").as[(Long, Array[Byte])]
      .collect().groupBy(_._1 / 15 * 15)
    payloads.values.take(3).foreach { g =>
      val bodies = g.map(_._2.toSeq).distinct
      assert(bodies.length == g.length, "re-encoded members must differ byte-wise")
    }
    media.unpersist()
    ()
  }

  test("pngFrames rejects malformed streams instead of overrunning") {
    // a crafted chunk length near 2^31 must not wrap the cursor
    val good = MediaCodec.encodePngGray(9, 8, Array.fill(72)(100))
    val evil = good.clone()
    // first chunk length field (offset 8..11) -> 0x7ffffff0
    evil(8) = 0x7f.toByte; evil(9) = 0xff.toByte; evil(10) = 0xff.toByte; evil(11) = 0xf0.toByte
    assert(MediaCodec.pngFrames(evil).isEmpty, "overflowing chunk length must drop the frame")
    // truncated tail: first frame parses, partial second is dropped
    val two = good ++ good.take(30)
    val spans = MediaCodec.pngFrames(two)
    assert(spans.length == 1 && spans(0) == ((0, good.length)),
      s"expected one full frame span, got ${spans.toSeq}")
    // non-PNG bytes: no frames, no crash
    assert(MediaCodec.pngFrames("not a png stream at all".getBytes).isEmpty)
    assert(MediaCodec.pngFrames(Array.emptyByteArray).isEmpty)
  }

  test("whale-band guard: constant-hash corpus yields zero candidates; real dups survive") {
    val spark = SparkSuite.spark
    import spark.implicits._
    // the degenerate in BASELINE.md "Round 8": every hash identical →
    // every band bucket one n-sized whale → unguarded candidates n²/2.
    // The r10 guard drops whale buckets, so the production path emits
    // NOTHING for a constant-color corpus (r9 verdict weak #1)
    val flat = (0L until 200L).map(i => (i, 0L, 0L)).toDF("doc_id", "hi", "lo")
    assert(graft.operators.Multimodal.bandedHammingPairs(flat, maxHamming = 10).count() == 0)
    // a whale cap SMALLER than a planted group still finds pairs whose
    // flips leave at least one sub-cap band intact? No — these hashes
    // are identical, so instead check the positive arm on DISTINCT
    // hashes: two near-dups (1-bit apart) among unrelated high-entropy
    // hashes survive the guard untouched
    val mixed = (Seq((1L, 0x1234567890abcdefL, 0x0fedcba987654321L),
      (2L, 0x1234567890abcdefL, 0x0fedcba987654320L)) ++
      (10L until 60L).map(i => (i, i * 0x9e3779b97f4a7c15L, i * 0xc2b2ae3d27d4eb4fL)))
      .toDF("doc_id", "hi", "lo")
    val pairs = graft.operators.Multimodal.bandedHammingPairs(mixed, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1)), s"expected the planted pair only, got ${pairs.toSeq}")
    // fixture safety: the dup fixtures' largest band bucket sits far
    // below the cap, so the guard is a no-op on the oracle-gated rows
    val hashes = graft.operators.Multimodal
      .phashOf(graft.operators.Multimodal.dupMedia(spark, SparkSuite.sfDir)).toDF()
      .select(col("doc_id"), col("phash_hi").as("hi"), col("phash_lo").as("lo"))
    val maxBucket = hashes.select(col("doc_id"),
        posexplode(array(
          col("lo").bitwiseAND(lit(65535L)), shiftright(col("lo"), 16),
          col("hi").bitwiseAND(lit(65535L)), shiftright(col("hi"), 16))))
      .toDF("doc_id", "band_idx", "band_val")
      .groupBy("band_idx", "band_val").count()
      .agg(max("count")).as[Long].head()
    assert(maxBucket <= graft.operators.Multimodal.WhaleBandCap / 2,
      s"fixture band bucket $maxBucket endangers the whale-cap headroom")
  }

  test("fixture headroom: audio fingerprint bands and video shingle keys sit below the whale cap too") {
    // the r11 g7 finding generalized: every GUARDED band join whose
    // oracle replays unguarded relies on the fixture's buckets staying
    // under the cap — image was pinned (test above); audio and video
    // were not. Within-group audio fingerprints are IDENTICAL by
    // design (DC-shift invariance), so each group of 5 contributes a
    // 5-deep bucket per band — this asserts group collisions don't
    // stack past half the cap.
    val spark = SparkSuite.spark
    val mm = graft.operators.Multimodal
    val audioMax = mm.audioFingerprints(spark, SparkSuite.sfDir)
      .select(col("doc_id"), posexplode(array(
        col("lo").bitwiseAND(lit(65535L)), shiftright(col("lo"), 16),
        col("hi").bitwiseAND(lit(65535L)), shiftright(col("hi"), 16))))
      .toDF("doc_id", "band_idx", "band_val")
      .groupBy("band_idx", "band_val").count()
      .agg(max("count")).head().getLong(0)
    assert(audioMax <= mm.WhaleBandCap / 2,
      s"audio fingerprint band bucket $audioMax endangers the whale-cap headroom")
    val videoMax = mm.videoShingles(mm.dupVideo(spark, SparkSuite.sfDir)).toDF().distinct()
      .groupBy("h1_hi", "h1_lo", "h2_hi", "h2_lo").count()
      .agg(max("count")).head().getLong(0)
    assert(videoMax <= mm.WhaleBandCap / 2,
      s"video shingle-key bucket $videoMax endangers the whale-cap headroom")
  }

  test("crafted-input robustness: decoders return None, never crash or hang (r12 review)") {
    // 1. PNG chunk length near 2^31: Int arithmetic wrapped
    //    `i + 12 + len` negative, PASSED the bound check, and crashed
    //    on the chunk write / negative cursor instead of returning None
    val good = MediaCodec.encodePng(4, 4, 7L)
    val hugeLen = good.clone()
    // first chunk after the 8-byte signature is IHDR; poison ITS length
    hugeLen(8) = 0x7f.toByte; hugeLen(9) = 0xff.toByte
    hugeLen(10) = 0xff.toByte; hugeLen(11) = 0xf0.toByte
    assert(MediaCodec.pngPixels(hugeLen).isEmpty, "huge chunk len must be None, not a crash")
    // poison a LATER chunk too (pngInfo still parses the intact IHDR)
    val info = MediaCodec.pngInfo(good)
    assert(info.isDefined)
    val laterPoison = good.clone()
    val ihdrEnd = 8 + 12 + 13 // sig + (len+name+crc) + IHDR payload
    laterPoison(ihdrEnd) = 0x7f.toByte; laterPoison(ihdrEnd + 1) = 0xff.toByte
    laterPoison(ihdrEnd + 2) = 0xff.toByte; laterPoison(ihdrEnd + 3) = 0xf0.toByte
    assert(MediaCodec.pngPixels(laterPoison).isEmpty)
    // 2. zlib FDICT (preset dictionary) in the IDAT stream: inflate()
    //    returns 0 with needsDictionary, and the old loop — breaking
    //    only on needsInput — spun forever on one row
    val fdict = {
      // locate IDAT, overwrite its first two payload bytes with a
      // CHECKSUM-VALID FDICT zlib header (0x78 0x3F: CM=8, FDICT bit
      // set, (0x783F % 31) == 0 — an invalid FCHECK would throw
      // DataFormatException before ever reaching the needsDictionary
      // path this test exists to pin)
      var i = 8; var at = -1
      while (at < 0 && i + 8 <= good.length) {
        val name = new String(good, i + 4, 4, "US-ASCII")
        val len = ((good(i) & 0xff) << 24) | ((good(i + 1) & 0xff) << 16) |
          ((good(i + 2) & 0xff) << 8) | (good(i + 3) & 0xff)
        if (name == "IDAT") at = i + 8 else i += 12 + len
      }
      assert(at > 0, "test fixture must contain IDAT")
      val b = good.clone(); b(at) = 0x78.toByte; b(at + 1) = 0x3f.toByte; b
    }
    val t0 = System.currentTimeMillis()
    assert(MediaCodec.pngPixels(fdict).isEmpty, "FDICT stream must be None")
    assert(System.currentTimeMillis() - t0 < 5000, "FDICT must not hang")
    // 3. WAV with bitsPerSample < 8 (real 4-bit ADPCM shape): the old
    //    `bits <= 0` guard let `channels * (bits / 8)` reach a
    //    divide-by-zero
    val wav = MediaCodec.encodeWav(8000, 1, 16, 3L)
    val adpcm = wav.clone()
    // fmt chunk starts at 12; bitsPerSample is at fmt payload offset 14
    // = absolute 12 + 8 + 14 = 34 (little-endian short)
    adpcm(34) = 4.toByte; adpcm(35) = 0.toByte
    assert(MediaCodec.wavInfo(adpcm).isEmpty, "sub-8-bit WAV must be None, not a crash")
    // the intact encodings still decode (the guards are not over-broad)
    assert(MediaCodec.pngPixels(good).isDefined)
    assert(MediaCodec.wavInfo(wav).isDefined)
  }
}
