package graft.operators

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio payloads as opaque `binary`
  * columns with typed metadata, decoded partition-locally.
  *
  * Every decode is REAL and pure JDK: `javax.imageio` parses
  * PNG/BMP/GIF/JPEG (dimensions, pixels, animated-GIF frames) and
  * `javax.sound.sampled.AudioSystem` parses WAV headers and 8/16-bit PCM
  * frames (rate, channels, duration, RMS, samples). A payload neither
  * parser accepts (compressed audio, video) yields no row. On top sit the
  * perceptual hashes (aHash/dHash, the audio fingerprint), their
  * pigeonhole Hamming near-dup join and image dedup.
  *
  * Scale: `mapPartitions` keeps decode per-executor and batch-shaped (no
  * per-row task overhead, no driver involvement); binary payloads never
  * shuffle — only metadata and hashes (small) do.
  */
object Multimodal {

  // ImageIO defaults to a disk-backed read cache; decode in memory on
  // executors instead (payloads are already partition-local byte arrays)
  ImageIO.setUseCache(false)

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRow(doc_id: Long, media_type: String, blob: Array[Byte])

  /** Build a media table from the documents fixture: text bytes stand in
    * for the opaque payload; media_type cycles deterministically.
    */
  def fakeMediaTable(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col(idCol).as("doc_id"),
      element_at(lit(Array("image", "audio", "video")), (col(idCol) % 3 + 1).cast("int"))
        .as("media_type"),
      col(textCol).cast("binary").as("blob"))
      .as[MediaRow]
  }

  /** REAL image decode (JDK ImageIO: PNG/BMP/GIF/JPEG). None when the
    * payload is not a decodable image.
    */
  private[operators] def decodeImage(blob: Array[Byte]): Option[BufferedImage] =
    try Option(ImageIO.read(new ByteArrayInputStream(blob)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** One row-major pixel scan: per-channel sums of R/G/B in [0,1] (the
    * per-frame luma of [[gifFrameMeta]]).
    */
  private def channelSums(img: BufferedImage): (Double, Double, Double) = {
    val w = img.getWidth
    val h = img.getHeight
    var sr, sg, sb = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        sr += ((p >> 16) & 0xff) / 255.0
        sg += ((p >> 8) & 0xff) / 255.0
        sb += (p & 0xff) / 255.0
        x += 1
      }
      y += 1
    }
    (sr, sg, sb)
  }

  /** Decoded WAV statistics from one sample scan: format facts plus
    * mean/RMS/peak/zero-crossing-rate of normalized samples in [-1,1] —
    * the kernel behind [[audioMeta]]. ZCR is over the interleaved stream
    * (a cheap spectral proxy; per-channel separation isn't worth a second
    * scan).
    */
  final case class WavStats(sampleRate: Double, channels: Int, bits: Int,
                            nFrames: Long, durationSec: Double,
                            mean: Double, rms: Double, peak: Double, zcr: Double)

  /** REAL audio decode (JDK javax.sound.sampled): WAV headers + 8/16-bit
    * PCM frames. None when the payload is not an uncompressed WAV
    * (compressed codecs aren't in the JDK).
    */
  private[operators] def decodeWavStats(blob: Array[Byte]): Option[WavStats] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(blob))
      try {
        val fmt = in.getFormat
        val signed = fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED
        val unsigned = fmt.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED
        val bits = fmt.getSampleSizeInBits
        if ((!signed && !unsigned) || (bits != 8 && bits != 16)) None
        else {
          val bytes = in.readAllBytes()
          val bytesPerSample = bits / 8
          val nSamples = bytes.length / bytesPerSample
          if (nSamples == 0) None
          else {
            var sum = 0.0; var sum2 = 0.0; var peak = 0.0
            var crossings = 0L; var prevSign = 0
            var i = 0
            while (i < nSamples) {
              val off = i * bytesPerSample
              val v =
                if (bits == 8) {
                  // 8-bit WAV is unsigned by convention; trust the header
                  (if (signed) bytes(off).toInt else (bytes(off) & 0xff) - 128) / 128.0
                } else {
                  val raw =
                    if (fmt.isBigEndian) ((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)
                    else ((bytes(off + 1) & 0xff) << 8) | (bytes(off) & 0xff)
                  (if (signed) raw.toShort.toInt else raw - 32768) / 32768.0
                }
              sum += v; sum2 += v * v
              if (math.abs(v) > peak) peak = math.abs(v)
              val sign = if (v > 0) 1 else if (v < 0) -1 else 0
              if (sign != 0) {
                if (prevSign != 0 && sign != prevSign) crossings += 1
                prevSign = sign
              }
              i += 1
            }
            val nFrames = bytes.length.toLong / fmt.getFrameSize
            Some(WavStats(fmt.getSampleRate.toDouble, fmt.getChannels, bits,
              nFrames, nFrames / fmt.getFrameRate.toDouble,
              sum / nSamples, math.sqrt(sum2 / nSamples), peak,
              crossings.toDouble / math.max(1L, nSamples - 1L)))
          }
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic WAV synthesis: 16-bit signed little-endian mono PCM
    * square wave (±amplitude, flipping every `period` frames) in a WAV
    * container — the encoder half of the decode ROUND-TRIP gate (q105):
    * synthesized WAVs pipe through [[audioMeta]]'s real decoder and the
    * decoded facts are checked against their closed-form values. The
    * defaults keep every decoded value IEEE-exact: amplitude/32768 is a
    * dyadic rational, and an `nFrames` divisible by 2·period gives equal
    * +/- halves (mean exactly 0, RMS exactly amplitude/32768).
    */
  def syntheticWav(amplitude: Int, nFrames: Int, period: Int = 10,
                   sampleRate: Float = 8000f): Array[Byte] = {
    require(amplitude >= 0 && amplitude <= Short.MaxValue,
      s"amplitude out of [0, 32767]: $amplitude")
    require(nFrames > 0 && period > 0, s"nFrames/period must be positive: $nFrames/$period")
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val v = if ((i / period) % 2 == 0) amplitude else -amplitude
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(pcm), fmt, nFrames.toLong),
      AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** Decoded audio metadata: true format facts + RMS loudness. */
  final case class AudioMeta(doc_id: Long, sample_rate: Double, channels: Int,
                             n_frames: Long, duration_sec: Double, rms: Double)

  /** Real audio metadata extraction: audio-typed rows whose payload
    * parses as WAV/PCM yield true sample-rate/channels/frames/duration/
    * RMS; non-audio rows never pay a decode attempt and undecodable audio
    * rows are dropped. Batch-shaped — payload bytes never leave the
    * partition that read them.
    */
  def audioMeta(media: Dataset[MediaRow]): Dataset[AudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val decoded = if (r.media_type == "audio") decodeWavStats(r.blob) else None
        decoded.map(w => AudioMeta(r.doc_id, w.sampleRate, w.channels,
          w.nFrames, w.durationSec, w.rms))
      }
    }
  }

  /** Normalized mono samples from a WAV blob (mixing channels down by
    * taking channel 0) — the sample-access twin of [[decodeWavStats]]'s
    * streaming pass, for kernels that need the waveform (spectral
    * analysis). Bounded by the payload the partition already holds.
    */
  private[operators] def decodeWavSamples(blob: Array[Byte]): Option[(Array[Double], Double)] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(blob))
      try {
        val fmt = in.getFormat
        val signed = fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED
        val unsigned = fmt.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED
        val bits = fmt.getSampleSizeInBits
        if ((!signed && !unsigned) || (bits != 8 && bits != 16)) None
        else {
          val bytes = in.readAllBytes()
          val bytesPerSample = bits / 8
          val frameSize = fmt.getFrameSize
          val nFrames = bytes.length / frameSize
          if (nFrames == 0) None
          else {
            val out = new Array[Double](nFrames)
            var i = 0
            while (i < nFrames) {
              val off = i * frameSize // channel 0 of each frame
              out(i) =
                if (bits == 8) {
                  (if (signed) bytes(off).toInt else (bytes(off) & 0xff) - 128) / 128.0
                } else {
                  val raw =
                    if (fmt.isBigEndian) ((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)
                    else ((bytes(off + 1) & 0xff) << 8) | (bytes(off) & 0xff)
                  (if (signed) raw.toShort.toInt else raw - 32768) / 32768.0
                }
              i += 1
            }
            Some((out, fmt.getSampleRate.toDouble))
          }
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Goertzel power of `samples` at `freq` (Hz) — the single-bin DFT
    * magnitude², O(n) per candidate frequency, no FFT library needed.
    */
  private[operators] def goertzelPower(samples: Array[Double], freq: Double,
                                       sampleRate: Double): Double = {
    val w = 2.0 * math.Pi * freq / sampleRate
    val coeff = 2.0 * math.cos(w)
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
    var i = 0
    while (i < samples.length) {
      s0 = samples(i) + coeff * s1 - s2
      s2 = s1; s1 = s0
      i += 1
    }
    s1 * s1 + s2 * s2 - coeff * s1 * s2
  }

  /** Per-row spectral peak: dominant frequency (Hz). */
  final case class AudioSpectral(doc_id: Long, n_frames: Long, dominant_hz: Double)

  /** REAL spectral analysis: for each audio row, the candidate frequency
    * with the highest Goertzel power — tone/DTMF detection, synthetic-
    * audio QA, dominant-pitch bucketing, all without an FFT dependency.
    * Candidates are caller-chosen (spectral peaks only make sense
    * against a hypothesis set; a full spectrogram would be `mapInPandas`
    * territory). Ties break to the LOWEST candidate — a total order.
    * Batch-shaped like [[audioMeta]]: payload bytes never leave the
    * partition that read them; cost is O(frames × candidates) per row.
    */
  def audioDominantFrequency(media: Dataset[MediaRow],
                             candidatesHz: Seq[Double]): Dataset[AudioSpectral] = {
    require(candidatesHz.nonEmpty, "need at least one candidate frequency")
    val cands = candidatesHz.toArray
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val decoded = if (r.media_type == "audio") decodeWavSamples(r.blob) else None
        decoded.map { case (samples, rate) =>
          var best = 0; var bestP = Double.NegativeInfinity
          var i = 0
          while (i < cands.length) {
            val p = goertzelPower(samples, cands(i), rate)
            if (p > bestP || (p == bestP && cands(i) < cands(best))) {
              best = i; bestP = p
            }
            i += 1
          }
          AudioSpectral(r.doc_id, samples.length.toLong, cands(best))
        }
      }
    }
  }

  /** 64-bit perceptual AUDIO fingerprint — the [[aHash64]] twin for
    * waveforms: the decoded samples split into 64 equal time segments,
    * bit s = 1 iff segment s's energy (Σ sample², channel 0) exceeds the
    * MEAN segment energy. Amplitude-scaling invariant (both sides of the
    * comparison scale by the same factor), container-invariant (operates
    * on decoded samples), and one bit flips when one segment's loudness
    * regime flips — so near-identical recordings land within a small
    * Hamming distance and [[hammingNearDups]] applies unchanged.
    *
    * Closed form on tone-burst fixtures ([[syntheticToneBurstWav]]): a
    * loud/silent segment pattern with 0–63 loud segments fingerprints to
    * EXACTLY its pattern bits (loud energy > mean unless everything is
    * loud; silence is never above a positive mean), and the all-loud
    * pattern (−1L) is the one degenerate input — excluded by fixtures,
    * like syntheticBlockImage's all-bright pattern.
    */
  private[operators] def audioFingerprint64(samples: Array[Double]): Option[Long] = {
    val n = samples.length
    if (n < 64) None
    else {
      val seg = n / 64
      val energies = new Array[Double](64)
      var s = 0
      while (s < 64) {
        var e = 0.0
        var i = s * seg
        val end = i + seg // trailing n % 64 samples are ignored uniformly
        while (i < end) { e += samples(i) * samples(i); i += 1 }
        energies(s) = e
        s += 1
      }
      var total = 0.0
      s = 0
      while (s < 64) { total += energies(s); s += 1 }
      val mean = total / 64.0
      var fp = 0L
      s = 0
      while (s < 64) {
        if (energies(s) > mean) fp |= (1L << s)
        s += 1
      }
      Some(fp)
    }
  }

  /** Per-row decoded audio fingerprint: `(doc_id, afp)`. */
  final case class AudioFingerprint(doc_id: Long, afp: Long)

  /** REAL audio fingerprints for a media table — audio-typed rows whose
    * payload decodes as WAV/PCM and carries ≥ 64 frames yield their
    * [[audioFingerprint64]]; everything else drops. Batch-shaped like
    * [[audioMeta]]: waveforms collapse to one long on the scan
    * executors, payload bytes never shuffle.
    */
  def audioFingerprints(media: Dataset[MediaRow]): Dataset[AudioFingerprint] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val decoded = if (r.media_type == "audio") decodeWavSamples(r.blob) else None
        decoded.flatMap { case (samples, _) =>
          audioFingerprint64(samples).map(AudioFingerprint(r.doc_id, _))
        }
      }
    }
  }

  /** Audio perceptual near-dup: decode → fingerprint → the SAME
    * pigeonhole Hamming machinery as [[imageNearDups]] — re-encoded,
    * re-scaled, or lightly edited recordings pair up; emits
    * `(doc_a, doc_b, hamming)`, `doc_a < doc_b`.
    */
  def audioNearDups(media: Dataset[MediaRow], maxHamming: Int = 3): DataFrame =
    decodedNearDups(audioFingerprints(media).toDF(), "afp", maxHamming)

  /** Deterministic tone-burst WAV: 64 segments of `segFrames` frames;
    * segment s carries a ±`amplitude` square wave (period 4) when bit s
    * of `pattern` is set, silence otherwise; `flipSegment` inverts one
    * segment's regime. The encoder half of the audio-fingerprint
    * round-trip gate: [[audioFingerprint64]] over the DECODED samples
    * recovers `pattern` exactly (see its closed form), and a one-segment
    * flip lands at Hamming distance EXACTLY 1.
    */
  def syntheticToneBurstWav(pattern: Long, flipSegment: Int = -1,
                            segFrames: Int = 80, amplitude: Int = 8192,
                            sampleRate: Float = 8000f): Array[Byte] = {
    require(segFrames >= 4, s"segFrames must be >= 4: $segFrames")
    require(amplitude > 0 && amplitude <= Short.MaxValue,
      s"amplitude out of (0, 32767]: $amplitude")
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val nFrames = 64 * segFrames
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val s = i / segFrames
      val loud = (((pattern >>> s) & 1L) == 1L) ^ (s == flipSegment)
      val v = if (!loud) 0 else if ((i / 4) % 2 == 0) amplitude else -amplitude
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(pcm), fmt, nFrames.toLong),
      AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** Decoded GIF frame sequence — REAL multi-frame decode, pure JDK: the
    * ImageIO GIF reader enumerates and rasterizes every frame of an
    * animated GIF (`getNumImages(true)` + per-index `read`). Frames are
    * returned AS STORED (no disposal/compositing pass — deterministic,
    * and exact for the full-frame GIFs a synthetic pipeline writes).
    * None when the payload is not a GIF.
    */
  private[operators] def decodeGifFrames(blob: Array[Byte]): Option[Vector[BufferedImage]] =
    try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(blob))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          if (!reader.getFormatName.equalsIgnoreCase("gif")) None
          else {
            reader.setInput(iis, false, true)
            try {
              val n = reader.getNumImages(true)
              Some((0 until n).map(reader.read).toVector)
            } finally reader.dispose()
          }
        }
      } finally iis.close()
    } catch { case _: Exception => None }

  /** Per-frame metadata from REAL animated-GIF decode: `(doc_id,
    * frame_idx, width, height, mean_lum)` for every `stride`-th stored
    * frame, `mean_lum` the frame's mean of (r+g+b)/3 rounded 6 dp — the
    * video-keyframe statistics pass, realized on the one multi-frame
    * container the JDK decodes codec-free. Non-GIF payloads emit
    * nothing. Partition-batched; payload bytes never leave their executor.
    */
  final case class GifFrameMeta(doc_id: Long, frame_idx: Int, width: Int,
                                height: Int, mean_lum: Double)
  def gifFrameMeta(media: Dataset[MediaRow], stride: Int = 1): Dataset[GifFrameMeta] = {
    require(stride >= 1, s"stride must be >= 1: $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decodeGifFrames(r.blob).toSeq.flatMap { frames =>
          (0 until frames.size by stride).map { i =>
            val img = frames(i)
            val (sr, sg, sb) = channelSums(img)
            val n = img.getWidth.toDouble * img.getHeight
            val mean = BigDecimal((sr + sg + sb) / (3.0 * n))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            GifFrameMeta(r.doc_id, i, img.getWidth, img.getHeight, mean)
          }
        }
      }
    }
  }

  /** Deterministic animated-GIF fixture: `nFrames` solid frames of
    * `width`×`height`, frame `i` filled with gray `grayOf(i)` — written
    * with the JDK's own GIF sequence writer, so [[gifFrameMeta]] decodes
    * true values with a closed-form oracle (a solid gray v frame's mean
    * luminance is exactly v: the GIF palette stores ≤256 distinct colors
    * losslessly).
    */
  def syntheticGif(nFrames: Int, width: Int, height: Int,
                   grayOf: Int => Int): Array[Byte] = {
    require(nFrames >= 1 && width >= 1 && height >= 1)
    val out = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until nFrames).foreach { i =>
      val g = grayOf(i) & 0xff
      val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    out.toByteArray
  }

  // ── Perceptual image hashing (aHash/dHash) + Hamming near-dup join ──

  /** Block-averaged Rec.601 luma grid `gw`×`gh`, row-major: cell
    * `(bx, by)` is the mean luma of pixel block `[bx·w/gw, (bx+1)·w/gw)
    * × [by·h/gh, (by+1)·h/gh)` — integer block edges, so the downsample
    * is deterministic for any image size (a cell that maps to zero
    * pixels on a tiny image reads 0). This is the classic perceptual-
    * hash preprocessing: resolution, aspect ratio, and high-frequency
    * detail are averaged away before thresholding.
    */
  private def lumaGrid(img: BufferedImage, gw: Int, gh: Int): Array[Double] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Double](gw * gh)
    var by = 0
    while (by < gh) {
      val y0 = by * h / gh; val y1 = (by + 1) * h / gh
      var bx = 0
      while (bx < gw) {
        val x0 = bx * w / gw; val x1 = (bx + 1) * w / gw
        var s = 0.0; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = img.getRGB(x, y)
            s += 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
              0.114 * (p & 0xff)
            n += 1; x += 1
          }
          y += 1
        }
        out(by * gw + bx) = if (n == 0) 0.0 else s / n
        bx += 1
      }
      by += 1
    }
    out
  }

  /** 64-bit AVERAGE hash: 8×8 luma grid, bit `by·8+bx` set iff its cell
    * is STRICTLY above the grid mean. Robust to resize/re-encode (the
    * grid averages detail away); a solid or two-level image recovers its
    * block pattern exactly, which is what gives the q157 fixture its
    * closed-form oracle.
    */
  private[operators] def aHash64(img: BufferedImage): Long = {
    val g = lumaGrid(img, 8, 8)
    var s = 0.0; var i = 0
    while (i < 64) { s += g(i); i += 1 }
    val mean = s / 64.0
    var hash = 0L; i = 0
    while (i < 64) { if (g(i) > mean) hash |= 1L << i; i += 1 }
    hash
  }

  /** 64-bit DIFFERENCE hash: 9×8 luma grid, bit `by·8+bx` set iff cell
    * `(bx, by)` is strictly brighter than its right neighbor — a
    * horizontal-gradient sign map, immune to global brightness shifts
    * (aHash's mean threshold moves under gamma changes; dHash compares
    * neighbors, so a constant offset cancels).
    */
  private[operators] def dHash64(img: BufferedImage): Long = {
    val g = lumaGrid(img, 9, 8)
    var hash = 0L
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        if (g(by * 9 + bx) > g(by * 9 + bx + 1)) hash |= 1L << (by * 8 + bx)
        bx += 1
      }
      by += 1
    }
    hash
  }

  /** Perceptual hashes of every decodable image row: `(doc_id, ahash,
    * dhash)`. Same decode gate as [[audioMeta]] (non-image rows never
    * pay a decode attempt, undecodable images drop); partition-batched,
    * payload bytes never leave the executor that read them — only two
    * longs per image flow downstream, which is the whole point at
    * 100 TB of pixels.
    */
  final case class ImageHashes(doc_id: Long, ahash: Long, dhash: Long)
  def imageHashes(media: Dataset[MediaRow]): Dataset[ImageHashes] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val decoded = if (r.media_type == "image") decodeImage(r.blob) else None
        decoded.map(img => ImageHashes(r.doc_id, aHash64(img), dHash64(img)))
      }
    }
  }

  /** Hamming near-dup join over a 64-bit hash column — the pigeonhole
    * band trick ([[graft.operators.Dedup.pigeonholePairs]], which
    * [[graft.operators.Dedup.simhashNearDups]] runs on 60 bits): split
    * the hash into `maxHamming + 1` disjoint chunks; two hashes within
    * `maxHamming` MUST agree on at least one whole chunk, so the
    * chunk-value equi-join has perfect recall and `bit_count(xor)`
    * verifies candidates exactly. Emits `(doc_a, doc_b, hamming)` with
    * `doc_a < doc_b`. `hashes` feeds both join sides, so a costly hash
    * table (a decode) is materialized by the caller
    * ([[imageNearDups]], [[audioNearDups]], [[imageDedup]]).
    *
    * 100 TB shape: hash-table-sized self-join on integer chunk keys —
    * never all-pairs, no cartesian; candidates per image are bounded by
    * chunk-bucket occupancy (64/(maxHamming+1) ≥ 12 bits per chunk at
    * the default keeps buckets sparse on perceptually-diverse corpora;
    * a corpus of near-identical images IS one giant duplicate class and
    * belongs to the megacluster guard regardless of hash).
    */
  def hammingNearDups(hashes: DataFrame, idCol: String, hashCol: String,
                      maxHamming: Int = 3): DataFrame = {
    hammingCheck(maxHamming)
    graft.operators.Dedup.pigeonholePairs(hashes, idCol, hashCol, 64, maxHamming)
  }

  /** A `maxHamming` out of range fails here, before any decode. */
  private def hammingCheck(maxHamming: Int): Unit =
    require(maxHamming >= 1 && maxHamming <= 15,
      s"maxHamming out of [1,15]: $maxHamming")

  /** [[hammingNearDups]] over a decoder's `(doc_id, hashCol)` table,
    * materialized once (localCheckpoint — the connectedComponents
    * precedent) after the argument check: the table feeds BOTH sides of
    * the self-join, and a second decode IS the query cost (q157 measured
    * 2.8 s → 1.6 s). The checkpointed table is a few longs per row —
    * executor-storage-cheap at any scale — and its blocks free when the
    * result frame is garbage-collected.
    */
  private def decodedNearDups(hashes: => DataFrame, hashCol: String,
                              maxHamming: Int): DataFrame = {
    hammingCheck(maxHamming)
    hammingNearDups(hashes.localCheckpoint(), "doc_id", hashCol, maxHamming)
  }

  /** Image perceptual near-dup: decode → aHash → pigeonhole Hamming
    * join. The end-to-end operator a multimodal curation pipeline runs
    * ("drop re-encoded/resized copies of the same picture"): pixels
    * collapse to one long per image on the executor that read them, and
    * only the hash table shuffles.
    */
  def imageNearDups(media: Dataset[MediaRow], maxHamming: Int = 3): DataFrame =
    decodedNearDups(imageHashes(media).toDF(), "ahash", maxHamming)

  /** End-to-end image dedup: decode → aHash → Hamming pairs → connected
    * components → keep the min-id survivor per perceptual cluster. One
    * row per DECODABLE image: `(doc_id, status, winner_id)` with status
    * `kept` / `dropped_near` — the [[graft.operators.Dedup.dedupAudit]]
    * contract, so a multimodal curation pipeline reads both audits with
    * one schema.
    *
    * 100 TB shape: pixels collapse to hashes on the scan executors; the
    * pair graph is the pigeonhole equi-join; components ride the
    * size-adaptive CC (driver union-find under 4M edges, RDD fixpoint
    * above); the final attribution is one node-sized left join
    * ([[graft.operators.Dedup.clusterAudit]]).
    */
  def imageDedup(media: Dataset[MediaRow], maxHamming: Int = 3): DataFrame = {
    // decode ONCE: the checkpointed hash table feeds pair generation AND
    // the final attribution join
    val hashes = imageHashes(media).toDF().localCheckpoint()
    graft.operators.Dedup.clusterAudit(hashes, "doc_id",
      hammingNearDups(hashes, "doc_id", "ahash", maxHamming).select("doc_a", "doc_b"),
      "dropped_near")
  }

  /** SplitMix64 finalizer — a BIJECTION on Long (distinct ids can never
    * collide to one pattern), used by the image fixtures to give every
    * doc a unique well-mixed 64-bit block pattern.
    */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic two-level block-image fixture, PNG-encoded (lossless
    * — the JDK round-trips it exactly): an 8×8 grid of `blockPx`-pixel
    * solid blocks, block `i` bright (200) iff bit `i` of `pattern` is
    * set, else dark (50); `flipBlock` toggles one block. Because every
    * block sits far from the two-level mean, [[aHash64]] recovers the
    * block pattern exactly and a one-block flip lands at Hamming
    * distance EXACTLY 1 — the closed form behind q157's oracle. (The
    * one degenerate input — an all-bright pattern, whose flip moves the
    * mean above every other block — is excluded by the fixture mapping
    * below, not by this function.)
    */
  def syntheticBlockImage(pattern: Long, flipBlock: Int = -1,
                          blockPx: Int = 4): Array[Byte] = {
    require(blockPx >= 1, s"blockPx must be >= 1: $blockPx")
    val side = 8 * blockPx
    val img = new BufferedImage(side, side, BufferedImage.TYPE_INT_RGB)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        val idx = by * 8 + bx
        val bright = ((pattern >>> idx) & 1L) == 1L
        val g = if (bright ^ (idx == flipBlock)) 200 else 50
        val rgb = (g << 16) | (g << 8) | g
        var y = by * blockPx
        while (y < (by + 1) * blockPx) {
          var x = bx * blockPx
          while (x < (bx + 1) * blockPx) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        bx += 1
      }
      by += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }
}
