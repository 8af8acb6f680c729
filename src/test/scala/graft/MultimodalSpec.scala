package graft

import graft.multimodal.Multimodal
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("synthetic corpus is deterministic and feature extraction round-trips the header") {
    val feats = Multimodal.extractFeatures(
      Multimodal.synthesizeCorpus(spark, 30)).collect().sortBy(_.media_id)
    assert(feats.length == 30)
    // header dims survive the decode path
    val again = Multimodal.extractFeatures(
      Multimodal.synthesizeCorpus(spark, 30)).collect().sortBy(_.media_id)
    assert(feats.map(f => (f.media_id, f.width, f.height, f.brightness)).toSeq ==
      again.map(f => (f.media_id, f.width, f.height, f.brightness)).toSeq)
    // histogram is a distribution
    feats.foreach { f =>
      assert(math.abs(f.histogram.sum - 1.0) < 1e-9, s"hist not normalized: ${f.histogram.sum}")
      assert(f.width >= 8 && f.height >= 8)
    }
  }

  test("resize rewrites dims, shrinks payload, and composes with decode") {
    val resized = Multimodal.resize(Multimodal.synthesizeCorpus(spark, 12), 8, 8)
    val feats = Multimodal.extractFeatures(resized).collect()
    assert(feats.length == 12)
    feats.foreach { f =>
      assert(f.width == 8 && f.height == 8, "decode of resized media sees new dims")
    }
    val origBytes = Multimodal.synthesizeCorpus(spark, 12).collect()
      .map(r => r.media_id -> r.payload.length).toMap
    resized.collect().foreach(r =>
      assert(r.payload.length <= origBytes(r.media_id), "resize must not grow payload"))
  }

  test("REAL PNG decode through the partition-batched plumbing (javax.imageio)") {
    import spark.implicits._
    // A genuine 2×2 PNG encoded in-memory: black, white, and two grays —
    // one pixel per luminance regime, so the histogram pins the decode,
    // not just the dimensions. The corpus mixes the PNG rows with
    // synthetic GM rows to prove the sniffing dispatch sends each payload
    // to the right codec inside ONE mapPartitions pass.
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000) // lum 0   -> bin 0
    img.setRGB(1, 0, 0xFFFFFF) // lum 255 -> bin 15
    img.setRGB(0, 1, 0x808080) // lum 128 -> bin 8
    img.setRGB(1, 1, 0x404040) // lum 64  -> bin 4
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos), "JDK PNG writer present")
    val pngBytes = bos.toByteArray
    val synthetic = Multimodal.synthesizeCorpus(spark, 4).collect().toSeq
    val mixed = (synthetic :+
      Multimodal.MediaRow(999L, "image", 2, 2, pngBytes)).toDS()
    val feats = Multimodal.extractFeatures(mixed).collect()
      .map(f => f.media_id -> f).toMap
    val png = feats(999L)
    assert(png.width == 2 && png.height == 2, "real decoded dims, not metadata")
    assert(png.n_bytes == pngBytes.length)
    val expectBins = Seq(0, 15, 8, 4)
    expectBins.foreach(b =>
      assert(math.abs(png.histogram(b) - 0.25) < 1e-12,
        s"luminance bin $b must hold exactly one of four pixels"))
    assert(math.abs(png.histogram.sum - 1.0) < 1e-12)
    // the synthetic GM rows still route to the stub and keep their header dims
    synthetic.foreach(r =>
      assert(feats(r.media_id).width == r.meta_width &&
        feats(r.media_id).height == r.meta_height))
  }

  test("REAL WAV decode: RIFF/PCM chunk walk through the sniffing dispatch") {
    import spark.implicits._
    // Hand-assembled 16-bit stereo PCM WAV with 4 frames whose FIRST
    // channel hits four distinct amplitude regimes (min, -1, 0, max →
    // bins 0, 7, 8, 15); the second channel is all-max and must NOT leak
    // into the histogram. An extra pre-`data` LIST chunk proves the walk
    // skips unknown chunks instead of assuming the canonical 44-byte
    // layout.
    def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val ch1 = Seq(-32768, -1, 0, 32767)
    val pcm = ch1.flatMap(s => le16(s & 0xffff) ++ le16(32767)).toArray
    val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++
      le32(8000) ++ le32(8000 * 4) ++ le16(4) ++ le16(16)
    val junk = "LIST".getBytes ++ le32(4) ++ "INFO".getBytes
    val data = "data".getBytes ++ le32(pcm.length) ++ pcm
    val body = "WAVE".getBytes ++ fmt ++ junk ++ data
    val wavBytes = "RIFF".getBytes ++ le32(body.length) ++ body

    val mixed = (Multimodal.synthesizeCorpus(spark, 3).collect().toSeq :+
      Multimodal.MediaRow(998L, "audio", 0, 0, wavBytes)).toDS()
    val wav = Multimodal.extractFeatures(mixed).collect()
      .map(f => f.media_id -> f).toMap.apply(998L)
    assert(wav.width == 4, "frames per channel from the data chunk")
    assert(wav.height == 2, "channel count from the fmt chunk")
    assert(wav.n_bytes == wavBytes.length)
    Seq(0, 7, 8, 15).foreach(b =>
      assert(math.abs(wav.histogram(b) - 0.25) < 1e-12,
        s"amplitude bin $b must hold exactly one of four first-channel frames"))
    assert(math.abs(wav.histogram.sum - 1.0) < 1e-12)
  }

  test("synthetic WAV corpus: every container decodes to its declared frame/channel shape") {
    val feats = Multimodal.extractFeatures(
      Multimodal.synthesizeWavCorpus(spark, 24)).collect()
    assert(feats.length == 24)
    feats.foreach { f =>
      assert(f.kind == "audio")
      assert(f.width == 64 + (f.media_id % 128).toInt, "frames from the data chunk")
      assert(f.height == 1 + (f.media_id % 2).toInt, "channels from the fmt chunk")
      assert(math.abs(f.histogram.sum - 1.0) < 1e-9)
    }
    // determinism: the same seed synthesizes byte-identical payloads
    val a = Multimodal.synthesizeWavCorpus(spark, 5).collect().map(_.payload.toSeq)
    val b = Multimodal.synthesizeWavCorpus(spark, 5).collect().map(_.payload.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("REAL MJPEG/AVI decode: demux + JDK JPEG reader through the sniffing dispatch") {
    val feats = Multimodal.extractFeatures(
      Multimodal.synthesizeAviCorpus(spark, 12)).collect()
    assert(feats.length == 12)
    feats.foreach { f =>
      assert(f.kind == "video")
      assert(f.width == 16 + (f.media_id % 3).toInt * 8, "width from the avih header")
      assert(f.height == 16 + (f.media_id % 2).toInt * 8, "height from the avih header")
      assert(math.abs(f.histogram.sum - 1.0) < 1e-9)
      // solid frames at bucket centers: every histogram mass must sit in
      // whole per-frame fractions (k / nFrames for some k), because a
      // frame's pixels all land in one bucket and frames are equal-sized
      val nFrames = 2 + (f.media_id % 4).toInt
      f.histogram.foreach { v =>
        val k = v * nFrames
        assert(math.abs(k - math.round(k)) < 1e-9,
          s"media ${f.media_id}: bucket mass $v is not a whole frame fraction of 1/$nFrames")
      }
    }
  }

  test("AVI demux: sampleAviFrames emits every Nth standalone JPEG, deterministically") {
    val media = Multimodal.synthesizeAviCorpus(spark, 8)
    val all = Multimodal.sampleAviFrames(media, everyN = 1).collect()
    val byId = all.groupBy(_.media_id)
    (0L until 8L).foreach { id =>
      assert(byId(id).length == 2 + (id % 4).toInt, s"frame count for media $id")
      byId(id).foreach { fr =>
        // each demuxed frame is a standalone JPEG (SOI marker) the JDK can read
        assert((fr.frame(0) & 0xff) == 0xff && (fr.frame(1) & 0xff) == 0xd8)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fr.frame))
        assert(img != null && img.getWidth == 16 + (id % 3).toInt * 8)
      }
    }
    val every2 = Multimodal.sampleAviFrames(media, everyN = 2).collect()
      .groupBy(_.media_id)
    (0L until 8L).foreach { id =>
      val n = 2 + (id % 4).toInt
      assert(every2(id).length == (n + 1) / 2)
      assert(every2(id).forall(_.frame_idx % 2 == 0))
    }
    // determinism: same seed → byte-identical containers
    val a = Multimodal.synthesizeAviCorpus(spark, 4).collect().map(_.payload.toSeq)
    val b = Multimodal.synthesizeAviCorpus(spark, 4).collect().map(_.payload.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("REAL image resize: pixels actually rescale; solid color survives the PNG round trip") {
    import spark.implicits._
    // 32×16 solid gray (g=120, bucket 7) PNG, resized to 8×8
    val img = new java.awt.image.BufferedImage(32, 16, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g2 = img.createGraphics(); g2.setColor(new java.awt.Color(120, 120, 120))
    g2.fillRect(0, 0, 32, 16); g2.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq(Multimodal.MediaRow(7L, "image", 32, 16, bos.toByteArray)).toDS()
    val out = Multimodal.resizeImages(media, 8, 8).collect().head
    assert(out.meta_width == 8 && out.meta_height == 8)
    val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out.payload))
    assert(decoded.getWidth == 8 && decoded.getHeight == 8)
    // bilinear over a solid field is the same solid field, and PNG is
    // lossless — every pixel must still be exactly (120,120,120)
    for (y <- 0 until 8; x <- 0 until 8)
      assert((decoded.getRGB(x, y) & 0xffffff) == 0x787878, s"pixel ($x,$y)")
  }

  test("REAL WAV resample: ceil(frames/factor) kept, container re-decodes, rate rewritten") {
    val media = Multimodal.synthesizeWavCorpus(spark, 6)
    val out = Multimodal.resampleWav(media, factor = 3).collect().sortBy(_.media_id)
    val dec = new Multimodal.WavDecoder
    out.foreach { m =>
      val origFrames = 64 + (m.media_id % 128).toInt
      val (frames, channels, hist) = dec.decode(m.payload)
      assert(frames == (origFrames + 2) / 3, s"media ${m.media_id}")
      assert(channels == 1 + (m.media_id % 2).toInt)
      assert(math.abs(hist.sum - 1.0) < 1e-9)
      // sample rate field rewritten to rate/factor (8000 → 2666)
      def u32(o: Int): Long = ((m.payload(o) & 0xffL)) | ((m.payload(o + 1) & 0xffL) << 8) |
        ((m.payload(o + 2) & 0xffL) << 16) | ((m.payload(o + 3) & 0xffL) << 24)
      assert(u32(24) == 8000 / 3, "fmt chunk sample rate")
    }
    // factor 1 is the identity on frames/channels
    val id1 = Multimodal.resampleWav(media, factor = 1).collect().sortBy(_.media_id)
    id1.foreach { m =>
      val (frames, channels, _) = dec.decode(m.payload)
      assert(frames == 64 + (m.media_id % 128).toInt && channels == 1 + (m.media_id % 2).toInt)
    }
  }

  test("gradient-preserving retouch is the aHash-blind / dHash-caught class, through the real decode") {
    import org.apache.spark.sql.functions._
    val base = Multimodal.perceptualHashes(
      Multimodal.synthesizePngCorpus(spark, 48, scale = 2))
      .select(col("media_id"), col("ahash_hi").as("bh"), col("ahash_lo").as("bl"),
        col("dhash").as("bd"))
    val graded = Multimodal.perceptualHashes(
      Multimodal.synthesizePngCorpus(spark, 48, scale = 2, rowShift = 88))
      .select(col("media_id"), col("ahash_hi").as("gh"), col("ahash_lo").as("gl"),
        col("dhash").as("gd"))
    val d = base.join(graded, Seq("media_id"))
      .select(
        (bit_count(col("bh").bitwiseXOR(col("gh"))) +
          bit_count(col("bl").bitwiseXOR(col("gl")))).as("aham"),
        bit_count(col("bd").bitwiseXOR(col("gd"))).as("dham"))
      .collect()
    assert(d.length == 48)
    // the separation the m10 dHash bands exist for: every twin is FAR in
    // aHash (no 16-bit band could survive 10+ scattered flips were they
    // adversarial; measured min is 10) yet ≤1 bit in dHash
    assert(d.forall(_.getInt(1) <= 1), "dHash must survive the gradient retouch")
    assert(d.forall(_.getInt(0) >= 7), "aHash must NOT survive it (else the class is not aHash-blind)")
  }

  test("corrupt AVI chunk sizes fail the decode instead of hanging the walk") {
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val dec = new Multimodal.AviMjpegDecoder
    val negSz = "RIFF".getBytes ++ le32(36) ++ "AVI ".getBytes ++
      "avih".getBytes ++ le32(-8) ++ new Array[Byte](24)
    val e = intercept[IllegalArgumentException](dec.decode(negSz))
    assert(e.getMessage.contains("corrupt AVI"))
    // structurally valid but frameless AVI → loud unsupported-shape error
    val empty = "RIFF".getBytes ++ le32(4) ++ "AVI ".getBytes ++ new Array[Byte](12)
    val e2 = intercept[IllegalArgumentException](dec.decode(empty))
    assert(e2.getMessage.contains("unsupported AVI shape"))
  }

  test("corrupt WAV chunk sizes fail the decode instead of hanging the walk") {
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val dec = new Multimodal.WavDecoder
    // declared size 0xFFFFFFFF → negative Int after truncation
    val negSz = "RIFF".getBytes ++ le32(36) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(-1) ++ new Array[Byte](24)
    val e = intercept[IllegalArgumentException](dec.decode(negSz))
    assert(e.getMessage.contains("corrupt WAV"))
    // declared size -8 would make the offset not advance (off += 0): an
    // infinite loop before the guard, a loud failure now
    val stuck = "RIFF".getBytes ++ le32(36) ++ "WAVE".getBytes ++
      "junk".getBytes ++ le32(-8) ++ new Array[Byte](24)
    val e2 = intercept[IllegalArgumentException](dec.decode(stuck))
    assert(e2.getMessage.contains("corrupt WAV"))
  }

  test("scene changes: planted cuts detected exactly; single-scene video has none") {
    import graft.multimodal.Multimodal
    val got = Multimodal.sceneChanges(
        Multimodal.synthesizeSceneAviCorpus(spark, 8), thresholdFp = 80000000L)
      .collect().map(r => r.media_id -> r).toMap
    // id 1: nf=7, c1=3, one cut; id 0: %4==0 -> cuts at 2 and 4
    assert(got(1L).cuts_csv == "3" && got(1L).n_scenes == 2L)
    assert(got(0L).cuts_csv == "2,4" && got(0L).n_scenes == 3L)
    // a threshold above the scene jump sees one scene everywhere
    val calm = Multimodal.sceneChanges(
        Multimodal.synthesizeSceneAviCorpus(spark, 4), thresholdFp = 200000000L)
      .collect()
    assert(calm.forall(r => r.n_scenes == 1L && r.cuts_csv == ""))
  }

  test("scene keyframes: one PNG per scene at the frame dims, in the scene's gray") {
    import graft.multimodal.Multimodal
    val kf = Multimodal.sceneKeyframes(
      Multimodal.synthesizeSceneAviCorpus(spark, 8), thresholdFp = 80000000L)
    val rows = kf.collect().map(k => (k.media_id, k.scene_idx) -> k).toMap
    // id 0 (%4==0): scenes at 0/2/4; id 1: at 0/3
    assert(rows.keySet.filter(_._1 == 0L) == Set((0L, 0L), (0L, 1L), (0L, 2L)))
    assert(rows((1L, 1L)).start_frame == 3L)
    // keyframe payloads are REAL PNGs at the AVI's frame dims with the
    // scene's solid gray (JPEG ripple ≤ a few levels)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rows((1L, 1L)).png))
    assert(img != null && img.getWidth == 24 && img.getHeight == 24) // id 1: w=24,h=24
    val g = img.getRGB(3, 3) & 0xff
    assert(math.abs(g - 200) <= 4, s"scene-B keyframe gray $g far from 200")
  }
}
