package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Real PNG encode/decode through the JDK's `javax.imageio` — no
  * external codec library needed. All methods are pure byte/array
  * transforms, safe to call from executor tasks.
  */
object Codec {

  // ImageIO defaults to a DISK-backed stream cache per call — a hidden
  // temp-file write per decode in every executor task. Memory-backed
  // caching is the only sane setting for per-row codec work.
  javax.imageio.ImageIO.setUseCache(false)

  case class Decoded(width: Int, height: Int,
                     meanR: Double, meanG: Double, meanB: Double)

  /** Encode a two-tone RGB image: left half `left`, right half `right`
    * (each an (r,g,b) triple). With an even width the per-channel mean
    * is EXACTLY (l+r)/2 — an integer-or-half value that both IEEE
    * doubles and the SQL oracle represent exactly, so the encode→decode
    * round trip is verifiable to the last bit.
    */
  def encodePng(width: Int, height: Int,
                left: (Int, Int, Int), right: (Int, Int, Int)): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    val lRgb = (left._1 << 16) | (left._2 << 8) | left._3
    val rRgb = (right._1 << 16) | (right._2 << 8) | right._3
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y, if (x < width / 2) lRgb else rRgb)
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Decode any ImageIO-supported payload (PNG/BMP/GIF/JPEG) to its
    * dimensions and per-channel pixel means. None when the bytes are
    * not a decodable image.
    */
  def decodeImage(bytes: Array[Byte]): Option[Decoded] = {
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null) None
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      Some(Decoded(w, h, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
    }
  }

  /** Real resize: scale to fit a `maxDim` bounding box (aspect
    * preserved, bilinear), re-encoded as PNG. Payloads already inside
    * the box pass through untouched.
    */
  def resizeToBox(bytes: Array[Byte], maxDim: Int): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "resizeToBox: payload is not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    val m = math.max(w, h)
    if (m <= maxDim) bytes
    else {
      val (nw, nh) = (math.max(1, w * maxDim / m), math.max(1, h * maxDim / m))
      val scaled = new BufferedImage(nw, nh, BufferedImage.TYPE_INT_RGB)
      val g = scaled.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, nw, nh, null)
      g.dispose()
      val out = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(scaled, "png", out)
      out.toByteArray
    }
  }

  case class DecodedAudio(sampleRate: Int, nSamples: Long, rms: Double)

  /** Encode 16-bit PCM mono samples as a WAV payload — a REAL audio
    * codec through JDK `javax.sound.sampled` (header + stream written
    * by AudioSystem, not hand-rolled bytes). */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    require(sampleRate > 0 && samples.nonEmpty, "empty audio")
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) { // little-endian 16-bit
      pcm(i * 2) = (samples(i) & 0xff).toByte
      pcm(i * 2 + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val stream = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(stream, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Decode a WAV payload: sample rate, sample count, RMS amplitude
    * over the decoded PCM. None when the bytes are not parseable audio. */
  def decodeWav(bytes: Array[Byte]): Option[DecodedAudio] = {
    import javax.sound.sampled.AudioSystem
    try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) None
      else {
        val data = in.readAllBytes()
        val n = data.length / 2
        var sumSq = 0.0
        var i = 0
        while (i < n) {
          val lo = data(i * 2) & 0xff
          val hi = data(i * 2 + 1).toInt
          val s = (hi << 8) | lo
          sumSq += s.toDouble * s; i += 1
        }
        Some(DecodedAudio(fmt.getSampleRate.toInt, n.toLong,
          math.sqrt(sumSq / n)))
      }
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }
  }

  /** Length-prefixed frame container (the "video" stand-in a real
    * demuxer would replace): each frame is a 4-byte big-endian length
    * followed by its PNG bytes. Framing is parseable without decoding
    * any frame — counting frames is O(container index), and frame
    * sampling decodes ONLY the selected frames.
    */
  def packFrames(frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    frames.foreach { f => dos.writeInt(f.length); dos.write(f) }
    dos.flush()
    out.toByteArray
  }

  /** Frame count by walking the length prefixes — no frame decoded. */
  def countFrames(container: Array[Byte]): Int = {
    var (off, n) = (0, 0)
    while (off + 4 <= container.length) {
      val len = ((container(off) & 0xff) << 24) | ((container(off + 1) & 0xff) << 16) |
        ((container(off + 2) & 0xff) << 8) | (container(off + 3) & 0xff)
      off += 4 + len
      n += 1
    }
    require(off == container.length, s"corrupt frame container (trailing $off != ${container.length})")
    n
  }

  /** The `idx`-th frame's bytes (0-based), touching only prefixes. */
  def frameAt(container: Array[Byte], idx: Int): Array[Byte] = {
    var (off, i) = (0, 0)
    while (off + 4 <= container.length) {
      val len = ((container(off) & 0xff) << 24) | ((container(off + 1) & 0xff) << 16) |
        ((container(off + 2) & 0xff) << 8) | (container(off + 3) & 0xff)
      if (i == idx) return java.util.Arrays.copyOfRange(container, off + 4, off + 4 + len)
      off += 4 + len
      i += 1
    }
    throw new IndexOutOfBoundsException(s"frame $idx of $i")
  }
}

/** Multimodal columns: media as opaque `binary` payloads + typed
  * metadata, processed with typed `mapPartitions` (the Scala analogue
  * of mapInPandas — partition-sized batches through a case-class
  * boundary), with a REAL image codec ([[Codec]], JDK `javax.imageio`).
  *
  * Scale: PNG encode and decode cost CPU per row, not per scanned byte,
  * so [[synthesizeImages]] and [[synthesizeVideos]] fan their ids out
  * with [[graft.operators.Parallelism.widened]] before encoding: a
  * byte-light id scan plans one split (or one partition, under
  * [[graft.sources.Parquet.read]]'s one-partition claim) and would
  * otherwise encode and decode on one task. WAV framing is a byte copy
  * per row, cheaper than the exchange job widening adds (q_audio_decode
  * at sf0.1 on 4 cores: 0.35-0.41 s unwidened, 0.46-0.47 s widened), so
  * [[synthesizeAudio]] encodes in the scan's own partitions. A scan of
  * more splits than the shard count is left as it is, so at scale the
  * codecs run in the scan stage with no shuffle, and each task holds
  * only its batch of payloads in memory. Frame
  * sampling parses the container framing and decodes ONLY the sampled
  * frames — decode cost scales with frames KEPT, not frames stored.
  *
  * The container has no image fixtures, so [[synthesizeImages]] /
  * [[synthesizeVideos]] generate deterministic PNG payloads whose
  * dimensions and two-tone colors are pure functions of the id — the
  * oracle then verifies the encode→decode ROUND TRIP arithmetically
  * (planted values out of a real codec), which a fake decode cannot
  * satisfy.
  */
object Multimodal {

  case class MediaRow(media_id: Long, payload: Array[Byte])
  case class ImageFeatures(media_id: Long, width: Long, height: Long,
                           mean_r: Double, mean_g: Double, mean_b: Double,
                           n_bytes: Long, content_sha: String)
  case class FrameFeatures(media_id: Long, n_frames: Long, frame_idx: Long,
                           width: Long, height: Long, mean_r: Double)

  /** The ids a synthesizer encodes from; `widen` fans them out to the
    * shard count (see Scale above). */
  private def ids(df: DataFrame, idCol: String, widen: Boolean)
                 (implicit spark: SparkSession): Dataset[Long] = {
    import spark.implicits._
    val id = df.select(col(idCol).cast("long").as("media_id"))
    (if (widen) graft.operators.Parallelism.widened(id) else id).as[Long]
  }

  /** Planted image parameters: even width 8..30, height 8..31, left and
    * right tones derived from the id. Per-channel means are exactly
    * (l+r)/2 — see [[Codec.encodePng]].
    */
  private[multimodal] def imageParams(id: Long): (Int, Int, (Int, Int, Int), (Int, Int, Int)) = (
    (8 + (id % 12) * 2).toInt, (8 + id % 24).toInt,
    ((id % 256).toInt, (id * 7 % 256).toInt, (id * 13 % 256).toInt),
    ((id * 3 % 256).toInt, (id * 11 % 256).toInt, (id * 17 % 256).toInt))

  /** Deterministic PNG payload per id (real encode, widened ids). */
  def synthesizeImages(df: DataFrame, idCol: String)
                      (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    ids(df, idCol, widen = true).mapPartitions(_.map { id =>
        val (w, h, l, r) = imageParams(id)
        MediaRow(id, Codec.encodePng(w, h, l, r))
      })
  }

  /** Real decode: payload -> dimensions, channel means, size, sha-256.
    * `onUndecodable` = "error" (default: fail loudly, naming the id) or
    * "drop" (skip the row — opt-in, for corpora where junk bytes are
    * expected and counted elsewhere).
    */
  def decodeImages(media: Dataset[MediaRow], onUndecodable: String = "error")
                  (implicit spark: SparkSession): Dataset[ImageFeatures] = {
    import spark.implicits._
    require(Seq("error", "drop").contains(onUndecodable),
      s"onUndecodable must be error|drop, got $onUndecodable")
    media.mapPartitions(_.flatMap { r =>
      Codec.decodeImage(r.payload) match {
        case Some(d) =>
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(r.payload).map("%02x".format(_)).mkString
          Some(ImageFeatures(r.media_id, d.width.toLong, d.height.toLong,
            d.meanR, d.meanG, d.meanB, r.payload.length.toLong, sha))
        case None if onUndecodable == "drop" => None
        case None => throw new IllegalArgumentException(
          s"media_id ${r.media_id}: payload is not a decodable image " +
            "(pass onUndecodable=drop to skip such rows)")
      }
    })
  }

  case class AudioFeatures(media_id: Long, sample_rate: Long, n_samples: Long,
                           duration_s: Double, rms: Double)

  /** Planted audio parameters: 8 kHz mono square wave with amplitude
    * A = 1000 + (id % 7)·500 and n = 800 + (id % 5)·400 samples. Every
    * sample is ±A, so the decoded RMS is EXACTLY A (√(Σ A²/n) = A in
    * IEEE: exact square, exact division, exact root) — the audio
    * analogue of the two-tone image's exact channel means. */
  private[multimodal] def audioParams(id: Long): (Int, Int, Int) =
    ((1000 + (id % 7) * 500).toInt, (800 + (id % 5) * 400).toInt, (2 + id % 6).toInt)

  /** Deterministic WAV payload per id (real encode, scan-stage). */
  def synthesizeAudio(df: DataFrame, idCol: String)
                     (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    ids(df, idCol, widen = false).mapPartitions(_.map { id =>
        val (amp, n, period) = audioParams(id)
        val samples = Array.tabulate(n)(i =>
          (if ((i / period) % 2 == 0) amp else -amp).toShort)
        MediaRow(id, Codec.encodeWav(8000, samples))
      })
  }

  /** Real WAV decode: payload -> rate, sample count, duration, RMS. */
  def decodeAudio(media: Dataset[MediaRow], onUndecodable: String = "error")
                 (implicit spark: SparkSession): Dataset[AudioFeatures] = {
    import spark.implicits._
    require(Seq("error", "drop").contains(onUndecodable),
      s"onUndecodable must be error|drop, got $onUndecodable")
    media.mapPartitions(_.flatMap { r =>
      Codec.decodeWav(r.payload) match {
        case Some(d) =>
          Some(AudioFeatures(r.media_id, d.sampleRate.toLong, d.nSamples,
            d.nSamples.toDouble / d.sampleRate, d.rms))
        case None if onUndecodable == "drop" => None
        case None => throw new IllegalArgumentException(
          s"media_id ${r.media_id}: payload is not decodable audio " +
            "(pass onUndecodable=drop to skip such rows)")
      }
    })
  }

  /** Real resize through [[Codec.resizeToBox]]: payload -> payload. */
  def resizeImages(media: Dataset[MediaRow], maxDim: Int)
                  (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    media.mapPartitions(_.map(r => MediaRow(r.media_id, Codec.resizeToBox(r.payload, maxDim))))
  }

  /** Deterministic frame-container payload per id: `id % 30 + 1` PNG
    * frames, frame f a solid 8x8 tone with red channel (id + f) % 256.
    */
  def synthesizeVideos(df: DataFrame, idCol: String)
                      (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    ids(df, idCol, widen = true).mapPartitions(_.map { id =>
        val frames = (0 to (id % 30).toInt).map { f =>
          val tone = (((id + f) % 256).toInt, ((id * 5 + f) % 256).toInt, ((id * 9 + f) % 256).toInt)
          Codec.encodePng(8, 8, tone, tone)
        }
        MediaRow(id, Codec.packFrames(frames))
      })
  }

  /** Sample every `stride`-th frame and decode ONLY those: the framing
    * walk gives n_frames without decoding; each sampled frame goes
    * through the real PNG decode for its dimensions + red-channel mean.
    */
  def sampleFrames(media: Dataset[MediaRow], stride: Int)
                  (implicit spark: SparkSession): Dataset[FrameFeatures] = {
    import spark.implicits._
    require(stride >= 1, s"stride must be >= 1, got $stride")
    media.mapPartitions(_.flatMap { r =>
      val n = Codec.countFrames(r.payload)
      (0 until n by stride).iterator.map { f =>
        val d = Codec.decodeImage(Codec.frameAt(r.payload, f))
          .getOrElse(throw new IllegalArgumentException(
            s"media_id ${r.media_id}: frame $f is not a decodable image"))
        FrameFeatures(r.media_id, n.toLong, f.toLong,
          d.width.toLong, d.height.toLong, d.meanR)
      }
    })
  }
}
