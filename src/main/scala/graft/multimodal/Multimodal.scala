package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed by partition-batched
  * decode/feature stages.
  *
  * The Spark-side shape is real and tested: schema, partition-batched
  * iteration (one decoder instance per partition, mirroring how a Pandas
  * mapInPandas batch or a JNI decoder would be amortized), deterministic
  * output schema. All three modalities now have a REAL pure-JVM codec
  * behind the sniffing dispatch: PNG/GIF/BMP via `javax.imageio`
  * ([[ImageIoDecoder]]), RIFF/PCM WAV via byte arithmetic
  * ([[WavDecoder]]), and MJPEG-in-AVI via the guarded RIFF walk + the
  * JDK's JPEG reader ([[AviMjpegDecoder]]). [[StubDecoder]] remains only
  * for the 16-byte `GM` synthetic header corpus (and as the swap-in seam
  * for codecs that genuinely need native libraries).
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, meta_width: Int,
      meta_height: Int, payload: Array[Byte])

  case class MediaFeatures(media_id: Long, kind: String, width: Int,
      height: Int, n_bytes: Int, brightness: Double, histogram: Array[Double])

  /** The decode boundary: payload bytes → (width, height, 16-bin
    * normalized histogram). Implementations are instantiated ONCE per
    * partition (see [[extractFeatures]]) so expensive codec init
    * amortizes across the partition's rows. */
  trait Decoder extends Serializable {
    def decode(payload: Array[Byte]): (Int, Int, Array[Double])
  }

  /** REAL image decode via pure-JVM `javax.imageio` (PNG/GIF/BMP readers
    * ship with the JDK — no native libraries needed, which is why this is
    * the one codec that can be real in this container): decoded pixels →
    * 16-bin integer-luminance histogram (Rec.601 weights in integer
    * arithmetic, so the features are bit-deterministic across JVMs). */
  final class ImageIoDecoder extends Decoder {
    def decode(payload: Array[Byte]): (Int, Int, Array[Double]) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, "undecodable image payload")
      val (w, h) = (img.getWidth, img.getHeight)
      val hist = new Array[Double](16)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          hist(lum >> 4) += 1
          x += 1
        }
        y += 1
      }
      val n = math.max(w * h, 1)
      (w, h, hist.map(_ / n))
    }
  }

  /** REAL audio decode for RIFF/WAVE PCM — a WAV container is a length-
    * prefixed chunk list over raw PCM, parseable with nothing but byte
    * arithmetic (the second codec that can be real in this container; no
    * native libraries). Returns (frames-per-channel, channels, 16-bin
    * normalized amplitude histogram of the first channel) in the decoder
    * contract's (width, height, hist) slots. Supports the PCM shapes
    * that dominate real corpora: format 1 (integer PCM) at 8 or 16 bits.
    * Integer bucketing only, so features are bit-deterministic. */
  /** Guarded RIFF/WAVE chunk walk shared by [[WavDecoder]] and
    * [[silenceSegments]]: (fmt, channels, bits, dataOff, dataLen), with
    * the hostile-size refusals pinned in MultimodalSpec. */
  private[multimodal] def walkWav(payload: Array[Byte]): (Int, Int, Int, Int, Int) = {
    def u16(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
    def u32(o: Int): Long = (u16(o).toLong) | (u16(o + 2).toLong << 16)
    require(payload.length >= 44 && payload(0) == 'R' && payload(1) == 'I' &&
      payload(2) == 'F' && payload(3) == 'F' && payload(8) == 'W' &&
      payload(9) == 'A' && payload(10) == 'V' && payload(11) == 'E',
      "not a RIFF/WAVE payload")
    // chunk walk: 4-byte id, 4-byte LE size, payload (word-aligned)
    var off = 12
    var channels = 0; var bits = 0; var fmt = 0
    var dataOff = -1; var dataLen = 0
    while (off + 8 <= payload.length && (dataOff < 0 || channels == 0)) {
      val id = new String(payload, off, 4, "US-ASCII")
      val sz = u32(off + 4).toInt
      // A crafted/corrupt declared size (u32 → negative Int, or one that
      // fails to advance the cursor) must fail the decode, not hang the
      // executor task in an infinite walk — decode runs over arbitrary
      // corpus payloads that merely matched the 12-byte sniff.
      require(sz >= 0, s"corrupt WAV chunk '$id': declared size out of range")
      if (id == "fmt ") {
        fmt = u16(off + 8); channels = u16(off + 10); bits = u16(off + 22)
      } else if (id == "data") {
        dataOff = off + 8; dataLen = math.min(sz, payload.length - dataOff)
      }
      val next = off + 8 + sz + (sz & 1)
      require(next > off, s"corrupt WAV chunk '$id': walk does not advance")
      off = next
    }
    require(fmt == 1 && (bits == 8 || bits == 16) && channels > 0 && dataOff >= 0,
      s"unsupported WAV shape: fmt=$fmt bits=$bits channels=$channels")
    (fmt, channels, bits, dataOff, dataLen)
  }

  final class WavDecoder extends Decoder {
    def decode(payload: Array[Byte]): (Int, Int, Array[Double]) = {
      def u16(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
      val (_, channels, bits, dataOff, dataLen) = walkWav(payload)
      val bytesPerFrame = channels * (bits / 8)
      val frames = dataLen / bytesPerFrame
      val hist = new Array[Double](16)
      var i = 0
      while (i < frames) {
        val o = dataOff + i * bytesPerFrame
        // first channel only; map sample to [0, 15] by its top 4 bits
        val bucket =
          if (bits == 8) (payload(o) & 0xff) >> 4 // unsigned by spec
          else (u16(o) ^ 0x8000) >> 12 // signed LE → biased unsigned
        hist(bucket) += 1
        i += 1
      }
      val n = math.max(frames, 1)
      (frames, channels, hist.map(_ / n))
    }
  }

  /** Walk an AVI (RIFF 'AVI ') container and return (avih width, avih
    * height, declared total frames, the `##dc` compressed-video frame
    * payloads in stream order). The same guarded chunk walk as
    * [[WavDecoder]] — declared sizes are hostile input: negative or
    * non-advancing sizes fail loudly instead of hanging the task. LIST
    * chunks (`hdrl` holding `avih`, `movi` holding the frames) recurse one
    * level; everything else is skipped by size. */
  private[multimodal] def walkAvi(
      payload: Array[Byte]): (Int, Int, Int, Vector[Array[Byte]]) = {
    def u16(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
    def u32(o: Int): Long = (u16(o).toLong) | (u16(o + 2).toLong << 16)
    require(payload.length >= 24 && payload(0) == 'R' && payload(1) == 'I' &&
      payload(2) == 'F' && payload(3) == 'F' && payload(8) == 'A' &&
      payload(9) == 'V' && payload(10) == 'I' && payload(11) == ' ',
      "not a RIFF/AVI payload")
    var w = 0; var h = 0; var total = 0
    val frames = Vector.newBuilder[Array[Byte]]
    def walk(from: Int, until: Int, depth: Int): Unit = {
      var off = from
      while (off + 8 <= until) {
        val id = new String(payload, off, 4, "US-ASCII")
        val sz = u32(off + 4).toInt
        require(sz >= 0, s"corrupt AVI chunk '$id': declared size out of range")
        val dataOff = off + 8
        val dataEnd = math.min(dataOff + sz, until)
        if (id == "LIST" && depth < 4 && sz >= 4) {
          val listType = new String(payload, dataOff, 4, "US-ASCII")
          if (listType == "hdrl" || listType == "movi" || listType == "strl")
            walk(dataOff + 4, dataEnd, depth + 1)
        } else if (id == "avih" && sz >= 40) {
          total = u32(dataOff + 16).toInt
          w = u32(dataOff + 32).toInt
          h = u32(dataOff + 36).toInt
        } else if (id.length == 4 && id.endsWith("dc") && sz > 0) {
          frames += java.util.Arrays.copyOfRange(payload, dataOff, dataEnd)
        }
        val next = off + 8 + sz + (sz & 1)
        require(next > off, s"corrupt AVI chunk '$id': walk does not advance")
        off = next
      }
    }
    walk(12, payload.length, 0)
    (w, h, total, frames.result())
  }

  /** REAL video decode for MJPEG-in-AVI — the one video codec that can be
    * genuine in this container: the AVI demux is pure byte arithmetic (the
    * [[WavDecoder]] chunk walk generalized to nested LISTs) and each
    * `##dc` frame is a standalone JPEG, decodable by the JDK's own
    * `javax.imageio` reader. Returns (avih width, avih height, 16-bin
    * integer-luminance histogram aggregated over ALL frames' pixels) —
    * the same Rec.601 integer arithmetic as [[ImageIoDecoder]], so
    * features stay bit-deterministic for a given JVM's JPEG IDCT. */
  final class AviMjpegDecoder extends Decoder {
    def decode(payload: Array[Byte]): (Int, Int, Array[Double]) = {
      val (w, h, _, frames) = walkAvi(payload)
      require(w > 0 && h > 0 && frames.nonEmpty,
        s"unsupported AVI shape: w=$w h=$h frames=${frames.length}")
      val hist = new Array[Double](16)
      var pixels = 0L
      frames.foreach { jpeg =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
        require(img != null, "undecodable MJPEG frame payload")
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            hist(lum >> 4) += 1
            x += 1
          }
          y += 1
        }
        pixels += img.getWidth.toLong * img.getHeight
      }
      val n = math.max(pixels, 1L)
      (w, h, hist.map(_ / n))
    }
  }

  /** Magic-sniffing dispatch: a PNG signature routes to the REAL
    * [[ImageIoDecoder]], a RIFF/WAVE signature to the REAL [[WavDecoder]],
    * a RIFF/'AVI ' signature to the REAL [[AviMjpegDecoder]]; the
    * synthetic `GM` header stays on the stub. All members are
    * instantiated with the partition, preserving the
    * one-init-per-partition amortization. */
  final class SniffingDecoder extends Decoder {
    private val stub = new StubDecoder
    private val png = new ImageIoDecoder
    private val wav = new WavDecoder
    private val avi = new AviMjpegDecoder
    def decode(payload: Array[Byte]): (Int, Int, Array[Double]) =
      if (payload.length >= 8 && (payload(0) & 0xff) == 0x89 &&
        payload(1) == 'P' && payload(2) == 'N' && payload(3) == 'G')
        png.decode(payload)
      else if (payload.length >= 12 && payload(0) == 'R' && payload(1) == 'I' &&
        payload(2) == 'F' && payload(3) == 'F' && payload(8) == 'W' &&
        payload(9) == 'A' && payload(10) == 'V' && payload(11) == 'E')
        wav.decode(payload)
      else if (payload.length >= 12 && payload(0) == 'R' && payload(1) == 'I' &&
        payload(2) == 'F' && payload(3) == 'F' && payload(8) == 'A' &&
        payload(9) == 'V' && payload(10) == 'I' && payload(11) == ' ')
        avi.decode(payload)
      else stub.decode(payload)
  }

  /** STUB decode boundary for the `GM` synthetic-header corpus: reads the
    * deterministic synthetic header (magic, width, height) and computes
    * byte-level stand-in features. Real payloads never reach it — the
    * sniffing dispatch routes PNG/WAV/AVI to their genuine codecs. */
  final class StubDecoder extends Decoder {
    def decode(payload: Array[Byte]): (Int, Int, Array[Double]) = {
      require(payload.length >= 16 && payload(0) == 'G' && payload(1) == 'M',
        "bad media header")
      def i32(o: Int): Int =
        ((payload(o) & 0xff) << 24) | ((payload(o + 1) & 0xff) << 16) |
          ((payload(o + 2) & 0xff) << 8) | (payload(o + 3) & 0xff)
      val (w, h) = (i32(4), i32(8))
      val hist = new Array[Double](16)
      var i = 16
      while (i < payload.length) { hist((payload(i) & 0xff) / 16) += 1; i += 1 }
      val n = math.max(payload.length - 16, 1)
      (w, h, hist.map(_ / n))
    }
  }

  /** Deterministic synthetic media corpus (seeded), used by tests and the
    * feature-extraction query: header = magic|width|height|kind, body =
    * LCG bytes. */
  def synthesizeCorpus(spark: SparkSession, n: Int, seed: Long = 42L): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { id =>
      var s = seed + id * 1315423911L
      def nextByte(): Byte = { s = s * 6364136223846793005L + 1442695040888963407L; (s >>> 40).toByte }
      val w = 8 + (math.abs(s) % 64).toInt
      val h = 8 + (math.abs(s / 7) % 64).toInt
      val kind = Seq("image", "audio", "video")((id % 3).toInt)
      val body = Array.fill((w * h / 4).toInt)(nextByte())
      val header = Array[Byte]('G', 'M', 0, 0) ++
        Array((w >> 24).toByte, (w >> 16).toByte, (w >> 8).toByte, w.toByte) ++
        Array((h >> 24).toByte, (h >> 16).toByte, (h >> 8).toByte, h.toByte) ++
        Array[Byte](0, 0, 0, 0)
      MediaRow(id, kind, w, h, header ++ body)
    }(newMediaRowEncoder(spark))
  }

  private def newMediaRowEncoder(spark: SparkSession) = {
    import spark.implicits._
    implicitly[org.apache.spark.sql.Encoder[MediaRow]]
  }

  /** Deterministic synthetic WAV corpus: REAL RIFF/PCM containers (16-bit,
    * 1-2 channels, LCG sample bytes) that exercise the genuine
    * [[WavDecoder]] chunk walk through the sniffing dispatch — unlike the
    * `GM` stub corpus, these are decodable by any standard audio tool. */
  def synthesizeWavCorpus(spark: SparkSession, n: Int, seed: Long = 42L): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { id =>
      var s = seed + id * 2654435761L
      def nextByte(): Byte = { s = s * 6364136223846793005L + 1442695040888963407L; (s >>> 40).toByte }
      val channels = 1 + (id % 2).toInt
      val frames = 64 + (id % 128).toInt
      val pcm = Array.fill(frames * channels * 2)(nextByte())
      def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      val byteRate = 8000 * channels * 2
      val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(channels) ++
        le32(8000) ++ le32(byteRate) ++ le16(channels * 2) ++ le16(16)
      val data = "data".getBytes ++ le32(pcm.length) ++ pcm
      val body = "WAVE".getBytes ++ fmt ++ data
      MediaRow(id, "audio", frames, channels,
        "RIFF".getBytes ++ le32(body.length) ++ body)
    }(newMediaRowEncoder(spark))
  }

  /** Deterministic synthetic MJPEG/AVI corpus: REAL RIFF 'AVI '
    * containers (avih main header + a 'vids'/MJPG strl + 00dc JPEG
    * frames) whose frames are solid-color JPEGs encoded by the JDK's own
    * writer — so the genuine [[AviMjpegDecoder]] demux-and-decode path is
    * exercised end to end with nothing synthetic but the pixel content.
    * Frame grays sit at 16-bin bucket CENTERS (g = b*16+8), so the JPEG
    * round-trip's ±1 ripple on a solid frame can never cross a histogram
    * boundary — features stay exactly predictable from the seed. */
  def synthesizeAviCorpus(spark: SparkSession, n: Int, seed: Long = 42L): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { id =>
      var s = seed + id * 0x9E3779B97F4A7C15L
      def nextLong(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
      val w = 16 + (id % 3).toInt * 8
      val h = 16 + (id % 2).toInt * 8
      val nFrames = 2 + (id % 4).toInt
      val grays = (0 until nFrames).map { _ =>
        val bucket = ((nextLong() >>> 33) % 16).toInt
        bucket * 16 + 8
      }
      MediaRow(id, "video", w, h, buildMjpegAvi(w, h, grays))
    }(newMediaRowEncoder(spark))
  }

  /** Silence-structured WAV corpus for [[silenceSegments]]: 16-bit mono
    * PCM whose 16-frame windows follow a closed-form plan — the first
    * 1 + id%2 windows are exact silence (sample 0), the rest a ±20000
    * square tone, and ids divisible by 3 end with one trailing silent
    * window (always separated from the lead by ≥1 loud window, so
    * segments never merge). nWindows = 4 + id%4. */
  def synthesizeSilenceWavCorpus(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    val W = 16
    spark.range(n).map { id =>
      val nWin = 4 + (id % 4).toInt
      val lead = 1 + (id % 2).toInt
      val trail = id % 3 == 0
      def silent(w: Int): Boolean = w < lead || (trail && w == nWin - 1)
      val frames = nWin * W
      val pcm = new Array[Byte](frames * 2)
      var f = 0
      while (f < frames) {
        val v = if (silent(f / W)) 0 else if (f % 2 == 0) 20000 else -20000
        pcm(2 * f) = (v & 0xff).toByte
        pcm(2 * f + 1) = ((v >> 8) & 0xff).toByte
        f += 1
      }
      def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++
        le32(8000) ++ le32(8000 * 2) ++ le16(2) ++ le16(16)
      val data = "data".getBytes ++ le32(pcm.length) ++ pcm
      val body = "WAVE".getBytes ++ fmt ++ data
      MediaRow(id, "audio", frames, 1,
        "RIFF".getBytes ++ le32(body.length) ++ body)
    }(newMediaRowEncoder(spark))
  }

  case class AudioSegment(media_id: Long, seg_idx: Long, seg_kind: String,
      start_window: Long, n_windows: Long)

  /** Silence segmentation over the REAL WAV decode — the audio-curation
    * primitive (trim lead-in/lead-out silence, split long recordings at
    * pauses): non-overlapping `window`-frame windows classify as silent
    * iff the first channel's max |amplitude| ≤ `thresholdAmp`, and
    * consecutive same-kind windows merge into segments. Exact integer
    * amplitude comparison through the genuine RIFF walk; one
    * partition-batched pass, no shuffle. */
  def silenceSegments(media: Dataset[MediaRow], window: Int,
      thresholdAmp: Int): Dataset[AudioSegment] = {
    import media.sparkSession.implicits._
    require(window > 0 && thresholdAmp >= 0, s"bad window=$window threshold=$thresholdAmp")
    media.filter(col("kind") === "audio").as[MediaRow].flatMap { r =>
      val p = r.payload
      val (_, channels, bits, dataOff, dataLen) = walkWav(p)
      require(bits == 16, s"silenceSegments supports 16-bit PCM, got $bits")
      val bytesPerFrame = channels * 2
      val frames = dataLen / bytesPerFrame
      val nWin = (frames + window - 1) / window
      val silent = (0 until nWin).map { w =>
        var maxAmp = 0
        var f = w * window
        val end = math.min(frames, (w + 1) * window)
        while (f < end) {
          val o = dataOff + f * bytesPerFrame
          val s = ((p(o) & 0xff) | (p(o + 1) << 8)).toShort.toInt
          val a = math.abs(s)
          if (a > maxAmp) maxAmp = a
          f += 1
        }
        maxAmp <= thresholdAmp
      }
      val segs = Vector.newBuilder[AudioSegment]
      var idx = 0L
      var start = 0
      var w = 1
      while (w <= nWin) {
        if (w == nWin || silent(w) != silent(start)) {
          segs += AudioSegment(r.media_id, idx,
            if (silent(start)) "silence" else "sound", start.toLong, (w - start).toLong)
          idx += 1
          start = w
        }
        w += 1
      }
      segs.result()
    }
  }

  /** Scene-structured MJPEG/AVI corpus for [[sceneChanges]]: same REAL
    * container layout as [[synthesizeAviCorpus]] but frame grays follow
    * a closed-form SCENE plan instead of seeded buckets — scene A at
    * gray 40 up to cut c1 = 2 + id%3, scene B at 200 from c1, and ids
    * divisible by 4 cut BACK to A at c1 + 2 (three scenes). nFrames =
    * 6 + id%3 keeps every cut interior. The 160-level scene jump dwarfs
    * the JPEG round-trip's ±2 ripple on solid frames, so detection is
    * exact by construction and the cut positions are oracle-statable. */
  def synthesizeSceneAviCorpus(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { id =>
      val w = 16 + (id % 3).toInt * 8
      val h = 16 + (id % 2).toInt * 8
      val nFrames = 6 + (id % 3).toInt
      val c1 = 2 + (id % 3).toInt
      val c2 = if (id % 4 == 0) c1 + 2 else Int.MaxValue
      val grays = (0 until nFrames).map { i =>
        if (i >= c2) 40 else if (i >= c1) 200 else 40
      }
      MediaRow(id, "video", w, h, buildMjpegAvi(w, h, grays))
    }(newMediaRowEncoder(spark))
  }

  /** One RIFF 'AVI ' container with solid-gray MJPEG frames (the
    * [[synthesizeAviCorpus]] byte layout, gray levels caller-chosen). */
  private def buildMjpegAvi(w: Int, h: Int, grays: Seq[Int]): Array[Byte] = {
    val nFrames = grays.length
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id4: String, data: Array[Byte]) =
      id4.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
        (if ((data.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])
    def list(kind: String, data: Array[Byte]) =
      chunk("LIST", kind.getBytes("US-ASCII") ++ data)
    val jpegs = grays.map { g =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val gfx = img.createGraphics()
      gfx.setColor(new java.awt.Color(g, g, g)); gfx.fillRect(0, 0, w, h); gfx.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val avih = le32(40000) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(nFrames) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = "vids".getBytes ++ "MJPG".getBytes ++
      le32(0) ++ le16(0) ++ le16(0) ++ le32(0) ++
      le32(1) ++ le32(25) ++ le32(0) ++ le32(nFrames) ++
      le32(0) ++ le32(0) ++ le32(0) ++
      le16(0) ++ le16(0) ++ le16(w) ++ le16(h)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      "MJPG".getBytes ++ le32(w * h * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi", jpegs.flatMap(j => chunk("00dc", j)).toArray)
    val body = "AVI ".getBytes ++ hdrl ++ movi
    "RIFF".getBytes ++ le32(body.length) ++ body
  }

  case class SceneReport(media_id: Long, n_frames: Long, cuts_csv: String,
      n_scenes: Long)

  /** Exact 1e-6 fixed-point Rec.601 mean luminance of one decoded frame —
    * the ONE copy [[sceneChanges]] and [[sceneKeyframes]] both score with
    * (their cut lists must agree bit-for-bit; a drifted duplicate would
    * silently break the m11/m14 gate relationship). */
  private def frameMeanFp(img: java.awt.image.BufferedImage): Long = {
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        sum += (77 * ((rgb >> 16) & 0xff) + 150 * ((rgb >> 8) & 0xff) +
          29 * (rgb & 0xff)) >> 8
        x += 1
      }
      y += 1
    }
    sum * 1000000L / (img.getWidth.toLong * img.getHeight)
  }

  private def decodeJpeg(jpeg: Array[Byte]): java.awt.image.BufferedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
    require(img != null, "undecodable MJPEG frame payload")
    img
  }

  /** Scene-change detection over the REAL MJPEG decode — the shot-
    * boundary primitive of video curation (sample one frame per scene,
    * not per second): per-frame mean luminance in exact 1e-6 fixed
    * point (integer Rec.601 sums, one Long division per frame), a cut
    * wherever consecutive means differ by ≥ `thresholdFp`. Partition-
    * batched demux+decode like [[extractFeatures]]; one narrow pass,
    * no shuffle. Cut indices are the FIRST frame of each new scene;
    * n_scenes = cuts + 1. */
  def sceneChanges(media: Dataset[MediaRow], thresholdFp: Long): Dataset[SceneReport] = {
    import media.sparkSession.implicits._
    require(thresholdFp > 0, s"thresholdFp must be positive, got $thresholdFp")
    media.filter(col("kind") === "video").as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val (_, _, _, frames) = walkAvi(r.payload)
        require(frames.nonEmpty, s"no video frames in media ${r.media_id}")
        val means = frames.map(jpeg => frameMeanFp(decodeJpeg(jpeg)))
        val cuts = (1 until means.length)
          .filter(i => math.abs(means(i) - means(i - 1)) >= thresholdFp)
        SceneReport(r.media_id, means.length.toLong,
          cuts.mkString(","), cuts.length + 1L)
      }
    }
  }

  case class SceneKeyframe(media_id: Long, scene_idx: Long, start_frame: Long,
      png: Array[Byte])

  /** One PNG KEYFRAME per scene — the payoff composition after
    * [[sceneChanges]] (sample one frame per SCENE, not per second), end
    * to end through the real codec chain: RIFF demux → JDK JPEG decode →
    * the SAME exact fixed-point Rec.601 cut detection as sceneChanges →
    * the first frame of each scene re-encoded PNG (lossless, so the
    * decoded JPEG pixels survive byte-for-byte into the keyframe).
    * scene_idx is 0-based in scene order, start_frame the scene's first
    * frame index. Partition-batched, no shuffle; keyframes distribute
    * row-wise downstream. */
  def sceneKeyframes(media: Dataset[MediaRow], thresholdFp: Long): Dataset[SceneKeyframe] = {
    import media.sparkSession.implicits._
    require(thresholdFp > 0, s"thresholdFp must be positive, got $thresholdFp")
    media.filter(col("kind") === "video").as[MediaRow].flatMap { r =>
      val (_, _, _, frames) = walkAvi(r.payload)
      require(frames.nonEmpty, s"no video frames in media ${r.media_id}")
      // ONE decoded frame held at a time for the means pass (holding all
      // rasters would be O(video) memory — self-review finding), then
      // only the |scenes| start frames decode a second time for the PNG
      val means = frames.map(jpeg => frameMeanFp(decodeJpeg(jpeg)))
      val starts = 0 +: (1 until means.length)
        .filter(i => math.abs(means(i) - means(i - 1)) >= thresholdFp)
      starts.zipWithIndex.map { case (f, si) =>
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(decodeJpeg(frames(f)), "png", bos)
        SceneKeyframe(r.media_id, si.toLong, f.toLong, bos.toByteArray)
      }
    }
  }

  /** Keyframes re-wrapped as a media corpus (kind `image`, id =
    * media_id·1000 + scene_idx) so the PNG payloads can flow back
    * through [[extractFeatures]]' sniffing decode — the round-trip the
    * m14 gate hashes. */
  def keyframesAsMedia(kf: Dataset[SceneKeyframe]): Dataset[MediaRow] = {
    import kf.sparkSession.implicits._
    kf.map { k =>
      require(k.scene_idx < 1000L, s"scene_idx ${k.scene_idx} overflows the id scheme")
      MediaRow(k.media_id * 1000L + k.scene_idx, "image", 0, 0, k.png)
    }(newMediaRowEncoder(kf.sparkSession))
  }

  /** Frame sampling for AVI payloads: one video row explodes to every
    * `everyN`-th `##dc` frame, demuxed as its standalone JPEG — the 1→many
    * generator shape video pipelines need. Frame payloads distribute
    * row-wise, so a 2 GB video's frames spread across tasks downstream
    * instead of pinning one task. */
  def sampleAviFrames(media: Dataset[MediaRow], everyN: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    require(everyN > 0)
    media.filter(col("kind") === "video").as[MediaRow].flatMap { r =>
      walkAvi(r.payload)._4.zipWithIndex.collect {
        case (jpeg, idx) if idx % everyN == 0 => Frame(r.media_id, idx, jpeg)
      }
    }
  }

  /** Partition-batched decode + feature extraction: ONE decoder per
    * partition (the amortization pattern that matters when decoder startup
    * is expensive — model load, JNI init), rows streamed through it. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val decoder = new SniffingDecoder // per-partition init, NOT per-row
      rows.map { r =>
        val (w, h, hist) = decoder.decode(r.payload)
        MediaFeatures(r.media_id, r.kind, w, h, r.payload.length,
          hist.zipWithIndex.map { case (v, i) => v * i / 15.0 }.sum, hist)
      }
    }
  }

  /** Resize: binary → binary with updated metadata, per-partition decoder
    * amortization as in [[extractFeatures]]. The stub "resampler" rewrites
    * the header to the target dims and subsamples body bytes by the area
    * ratio — a real implementation swaps exactly that block for a codec
    * call. Output stays a `MediaRow`, so resize stages compose/chain. */
  def resize(media: Dataset[MediaRow], targetW: Int, targetH: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val decoder = new StubDecoder
      rows.map { r =>
        val (w, h, _) = decoder.decode(r.payload)
        val body = r.payload.drop(16)
        val step = math.max(1, (w.toLong * h / math.max(1, targetW.toLong * targetH)).toInt)
        val out = body.indices.collect { case i if i % step == 0 => body(i) }.toArray
        val header = Array[Byte]('G', 'M', 0, 0) ++
          Array((targetW >> 24).toByte, (targetW >> 16).toByte, (targetW >> 8).toByte, targetW.toByte) ++
          Array((targetH >> 24).toByte, (targetH >> 16).toByte, (targetH >> 8).toByte, targetH.toByte) ++
          Array[Byte](0, 0, 0, 0)
        MediaRow(r.media_id, r.kind, targetW, targetH, header ++ out)
      }
    }
  }

  /** REAL image resize for decodable payloads (PNG/GIF/BMP in, PNG out):
    * decode with `javax.imageio`, rescale with an area-averaging
    * `Graphics2D` draw, re-encode as PNG — an actually-resized image any
    * downstream tool reads, not a header rewrite. Same per-partition
    * amortization and `MediaRow` in/out chaining as [[resize]] (which
    * remains the synthetic-`GM`-corpus path). PNG encode is lossless, so
    * a solid-color input stays that color pixel-for-pixel through the
    * round trip — pinned in MultimodalSpec. */
  def resizeImages(media: Dataset[MediaRow], targetW: Int, targetH: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    require(targetW > 0 && targetH > 0)
    media.mapPartitions { rows =>
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"media ${r.media_id}: undecodable image payload")
        val out = new java.awt.image.BufferedImage(
          targetW, targetH, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        val g = out.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, targetW, targetH, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        MediaRow(r.media_id, r.kind, targetW, targetH, bos.toByteArray)
      }
    }
  }

  /** REAL audio downsample for RIFF/PCM WAV: keep every `factor`-th frame
    * (all channels of it), rewrite the fmt/data chunks with the new rate
    * and sizes — pure byte arithmetic on the same chunk walk the decoder
    * uses. Output frames = ⌈frames / factor⌉ (frame 0 always kept), a
    * closed form the m8 audit oracles. */
  def resampleWav(media: Dataset[MediaRow], factor: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    require(factor >= 1)
    media.mapPartitions { rows =>
      val dec = new WavDecoder
      rows.map { r =>
        val (frames, channels, _) = dec.decode(r.payload)
        // re-walk for the raw data chunk + sample rate
        def u16(o: Int): Int = (r.payload(o) & 0xff) | ((r.payload(o + 1) & 0xff) << 8)
        def u32(o: Int): Long = (u16(o).toLong) | (u16(o + 2).toLong << 16)
        var off = 12; var dataOff = -1; var dataLen = 0; var rate = 8000
        var bits = 16
        while (off + 8 <= r.payload.length && dataOff < 0) {
          val id = new String(r.payload, off, 4, "US-ASCII")
          val sz = u32(off + 4).toInt
          if (id == "fmt ") { rate = u32(off + 12).toInt; bits = u16(off + 22) }
          else if (id == "data") {
            dataOff = off + 8; dataLen = math.min(sz, r.payload.length - dataOff)
          }
          off += 8 + sz + (sz & 1)
        }
        val bytesPerFrame = channels * (bits / 8)
        val outFrames = (frames + factor - 1) / factor
        val pcm = new Array[Byte](outFrames * bytesPerFrame)
        var i = 0
        while (i < outFrames) {
          System.arraycopy(r.payload, dataOff + i * factor * bytesPerFrame,
            pcm, i * bytesPerFrame, bytesPerFrame)
          i += 1
        }
        def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
        def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
          ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
        val newRate = math.max(1, rate / factor)
        val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(channels) ++
          le32(newRate) ++ le32(newRate * bytesPerFrame) ++
          le16(bytesPerFrame) ++ le16(bits)
        val data = "data".getBytes ++ le32(pcm.length) ++ pcm
        val body = "WAVE".getBytes ++ fmt ++ data
        MediaRow(r.media_id, r.kind, outFrames, channels,
          "RIFF".getBytes ++ le32(body.length) ++ body)
      }
    }
  }

  case class Frame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Closed-form block luminance for the PNG corpus / perceptual-hash
    * gates — REPLICATED in the m9/m10 oracles' range() arithmetic; change
    * all three or none. The squared-modular mix matters: a single
    * multiplicative pass ((k·M) mod p mod 256) leaves a quasi-periodic
    * Beatty-wrap structure that made distinct images COLLIDE at aHash
    * distance 0 (measured: 48 images → 44 distinct hashes, min cross
    * hamming 0); squaring the residue destroys the linearity (48
    * distinct, min cross hamming 19, median 32 — random-like), so the
    * m10 band join separates planted retouches from everything else. */
  private[multimodal] def blockLum(id: Long, gy: Int, gx: Int): Int = {
    val m = ((id * 64 + gy * 8 + gx + 1) * 2654435761L) % 1000000007L
    ((m * m) % 1000000007L % 256L).toInt
  }

  /** Deterministic synthetic PNG corpus: REAL (losslessly decodable)
    * grayscale PNGs whose pixels are constant on a `scale`×`scale` block
    * lattice with the closed-form [[blockLum]] values — so the exact
    * pixel content is range()-generable by the oracle (the m7
    * closed-form pattern), PNG being lossless where the AVI corpus
    * needed bucket centers. `scale` doubles as the NEAR-DUP knob: the
    * same id at two scales is byte-different but block-identical, the
    * invariance perceptual hashing exists to detect. */
  /** @param bump added (mod 256) to the TOP-LEFT block only — the
    *             "retouch" knob: a small localized edit that moves a
    *             couple of perceptual-hash bits, the m10 near-dup
    *             fixture (0 = pristine).
    * @param rowShift the GRADIENT-PRESERVING, mean-breaking retouch (the
    *             near-dup class dHash exists to catch and aHash cannot):
    *             every block becomes b·5/8 + rowShift on odd rows only.
    *             Within a row the map is affine (same shift) so the
    *             left-vs-right ORDER — dHash's input — survives except
    *             where the 5/8 compression ties two adjacent values
    *             (measured ≤ 1 bit over the 48-image fixture), while the
    *             alternating row offsets rewrite every block's relation
    *             to the grid mean — aHash hamming ≥ 10, no 16-bit aHash
    *             band survives. Max value 255·5/8 + 96 = 255, so
    *             rowShift ≤ 96 keeps bytes valid (0 = pristine). */
  def synthesizePngCorpus(
      spark: SparkSession, n: Int, scale: Int, idOffset: Long = 0L,
      bump: Int = 0, rowShift: Int = 0): Dataset[MediaRow] = {
    import spark.implicits._
    require(scale >= 1)
    require(rowShift >= 0 && rowShift <= 96,
      s"rowShift must be in [0, 96] to keep bytes valid, got $rowShift")
    spark.range(n).map { id =>
      val wh = 8 * scale
      val img = new java.awt.image.BufferedImage(
        wh, wh, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < wh) {
        var x = 0
        while (x < wh) {
          val base = blockLum(id, y / scale, x / scale)
          val bumped = if (y / scale == 0 && x / scale == 0) (base + bump) % 256 else base
          val g = if (rowShift > 0) bumped * 5 / 8 + (y / scale % 2) * rowShift
            else bumped
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      MediaRow(id + idOffset, "image", wh, wh, bos.toByteArray)
    }(newMediaRowEncoder(spark))
  }

  /** Perceptual image hashes — the published aHash / dHash family
    * (average hash & difference hash; public methods, e.g. the classic
    * pHash/imagehash write-ups): decode, downsample to an 8×8 luminance
    * grid, then (aHash) threshold each cell against the grid mean and
    * (dHash) compare horizontally adjacent cells. Near-duplicate images
    * — rescales, re-encodes, small retouches — collapse to hashes within
    * a few bits while byte-level fingerprints (m3's md5) see nothing.
    *
    * Determinism contract (the cross-engine gate needs bit-exact values):
    * luminance is the integer Rec.601 of [[ImageIoDecoder]]; the
    * downsample is the EXACT integer block mean over the floor-boundary
    * grid (sum div area — deliberately not a library rescale, whose
    * rounding is unspecified); the grid mean is sum div 64; all
    * comparisons strict `>`. aHash ships as two 32-bit halves (64 bits
    * would sign-wrap a BIGINT), dHash as one 56-bit value (7 comparisons
    * × 8 rows on the 8×8 grid).
    *
    * Scale shape: one mapPartitions decode pass (per-partition decoder,
    * the [[extractFeatures]] amortization), output 5 small columns per
    * image — banding/bucketing downstream is d2/d3's existing LSH
    * machinery over integer hashes.
    */
  def perceptualHashes(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"undecodable image payload for media ${r.media_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        val grid = new Array[Long](64)
        var gy = 0
        while (gy < 8) {
          var gx = 0
          while (gx < 8) {
            val (x0, x1) = (gx * w / 8, (gx + 1) * w / 8)
            val (y0, y1) = (gy * h / 8, (gy + 1) * h / 8)
            var sum = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val rgb = img.getRGB(x, y)
                sum += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                  (rgb & 0xff) * 114) / 1000
                x += 1
              }
              y += 1
            }
            val area = math.max((x1 - x0) * (y1 - y0), 1)
            grid(gy * 8 + gx) = sum / area
            gx += 1
          }
          gy += 1
        }
        val avg = grid.sum / 64
        var aLo = 0L; var aHi = 0L; var d = 0L
        var i = 0
        while (i < 64) {
          if (grid(i) > avg) {
            if (i < 32) aLo |= 1L << i else aHi |= 1L << (i - 32)
          }
          i += 1
        }
        gy = 0
        while (gy < 8) {
          var gx = 0
          while (gx < 7) {
            if (grid(gy * 8 + gx) > grid(gy * 8 + gx + 1)) d |= 1L << (gy * 7 + gx)
            gx += 1
          }
          gy += 1
        }
        (r.media_id, w, h, aHi, aLo, d)
      }
    }.toDF("media_id", "width", "height", "ahash_hi", "ahash_lo", "dhash")
  }
}
