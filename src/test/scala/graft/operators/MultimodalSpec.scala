package graft.operators

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "aaaa"), (1L, "bb"), (2L, "cccccc")
  ).toDF("doc_id", "text")

  test("fakeMediaTable builds typed media rows with deterministic types") {
    val m = Multimodal.fakeMediaTable(docs).collect().sortBy(_.doc_id)
    assert(m.map(_.media_type).toSeq == Seq("image", "audio", "video"))
    assert(m(0).blob.toSeq == "aaaa".getBytes("UTF-8").toSeq)
  }

  // a real PNG: 4×2, left half pure red, right half pure blue
  private def pngFixture(): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if (x < 2) 0xff0000 else 0x0000ff)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  test("decodeImage REALLY decodes a PNG: true dimensions and pixels") {
    val img = Multimodal.decodeImage(pngFixture())
    assert(img.isDefined)
    assert(img.get.getWidth == 4 && img.get.getHeight == 2)
    assert((img.get.getRGB(0, 0) & 0xffffff) == 0xff0000)
    assert((img.get.getRGB(3, 1) & 0xffffff) == 0x0000ff)
    // non-image bytes are None, not an exception — the stub-path signal
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
  }

  // a real WAV: 16-bit signed little-endian mono PCM at 8 kHz, one second,
  // a ±8192 square wave flipping every 10 frames → RMS exactly 0.25,
  // mean exactly 0 (equal halves)
  private def wavFixture(): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val nFrames = 8000
    val pcm = new Array[Byte](nFrames * 2)
    for (i <- 0 until nFrames) {
      val v: Short = if ((i / 10) % 2 == 0) 8192 else -8192
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong),
      AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  test("decodeWavStats REALLY decodes a WAV: true rate/channels/frames/RMS") {
    val s = Multimodal.decodeWavStats(wavFixture())
    assert(s.isDefined)
    val w = s.get
    assert(w.sampleRate == 8000.0 && w.channels == 1 && w.nFrames == 8000L)
    assert(math.abs(w.durationSec - 1.0) < 1e-9)
    assert(math.abs(w.rms - 0.25) < 1e-9)   // square wave at 8192/32768
    assert(math.abs(w.mean) < 1e-9)         // symmetric halves
    assert(math.abs(w.peak - 0.25) < 1e-9)
    // non-WAV bytes are None, not an exception — the stub-path signal
    assert(Multimodal.decodeWavStats("not audio".getBytes("UTF-8")).isEmpty)
  }

  test("audioMeta yields real WAV metadata; drops undecodable and non-audio rows") {
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", wavFixture()),
      Multimodal.MediaRow(2L, "audio", Array[Byte](1, 2, 3)),    // not a WAV
      Multimodal.MediaRow(3L, "image", pngFixture())).toDS()
    val metas = Multimodal.audioMeta(media).collect()
    assert(metas.map(_.doc_id).toSeq == Seq(1L))
    val m = metas.head
    assert(m.sample_rate == 8000.0 && m.channels == 1 && m.n_frames == 8000L)
    assert(math.abs(m.duration_sec - 1.0) < 1e-9)
    assert(math.abs(m.rms - 0.25) < 1e-9)
  }

  test("syntheticWav round-trips through the real decoder with IEEE-exact closed forms") {
    // the q105 contract: for a ±a square wave with equal halves, the
    // decoded values are EXACTLY the synthesis parameters — no tolerance
    for ((amp, frames) <- Seq((256, 800), (4096, 1280), (256 * 31, 880))) {
      val s = Multimodal.decodeWavStats(Multimodal.syntheticWav(amp, frames)).get
      assert(s.sampleRate == 8000.0 && s.channels == 1 && s.bits == 16)
      assert(s.nFrames == frames.toLong)
      assert(s.durationSec == frames / 8000.0)      // exact, not approx
      assert(s.rms == amp / 32768.0)                // exact, not approx
      assert(s.mean == 0.0)
    }
    intercept[IllegalArgumentException](Multimodal.syntheticWav(40000, 100))
    intercept[IllegalArgumentException](Multimodal.syntheticWav(100, 0))
  }

  test("goertzel spectral peak recovers each square wave's fundamental exactly") {
    // kernel level: for every period p, the argmax over ALL candidates is
    // the wave's own fundamental 8000/(2p) — including the even-harmonic
    // trap (a p=10 wave has NO energy at the 800 Hz candidate = 2·f0)
    val cands = (5 to 10).map(p => 8000.0 / (2 * p))
    for (p <- 5 to 10) {
      val (samples, rate) = Multimodal.decodeWavSamples(
        Multimodal.syntheticWav(amplitude = 4096, nFrames = 5040, period = p)).get
      assert(rate == 8000.0 && samples.length == 5040)
      val powers = cands.map(f => f -> Multimodal.goertzelPower(samples, f, rate))
      assert(powers.maxBy(_._2)._1 == 8000.0 / (2 * p),
        s"period $p: powers=$powers")
    }
    // dataset surface: non-audio rows never decode; ties break low
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", Multimodal.syntheticWav(4096, 5040, period = 8)),
      Multimodal.MediaRow(2L, "image", Array[Byte](1, 2, 3))
    ).toDS()
    val out = Multimodal.audioDominantFrequency(media, cands).collect().toSeq
    assert(out.map(_.doc_id) == Seq(1L))
    assert(out.head.dominant_hz == 500.0 && out.head.n_frames == 5040L)
    intercept[IllegalArgumentException](
      Multimodal.audioDominantFrequency(media, Nil))
  }

  test("gifFrameMeta decodes REAL animated-GIF frames with exact closed-form stats") {
    // 5 solid frames, gray 20 + 30·i → decoded means must be exactly v/255
    val gif = Multimodal.syntheticGif(nFrames = 5, width = 8, height = 6,
      grayOf = i => 20 + 30 * i)
    // kernel-level: every stored frame enumerated and rasterized
    val frames = Multimodal.decodeGifFrames(gif).get
    assert(frames.size == 5)
    assert(frames.forall(f => f.getWidth == 8 && f.getHeight == 6))
    // non-GIF payloads (PNG, junk) must return None, not mis-decode
    val png = {
      val img = new java.awt.image.BufferedImage(2, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out); out.toByteArray
    }
    assert(Multimodal.decodeGifFrames(png).isEmpty)
    assert(Multimodal.decodeGifFrames("not media".getBytes).isEmpty)

    // operator-level: stride-2 sampling keeps frames 0, 2, 4 with exact means
    val media = Seq(
      Multimodal.MediaRow(1L, "video", gif),
      Multimodal.MediaRow(2L, "video", png) // non-GIF: contributes nothing
    ).toDS()
    val got = Multimodal.gifFrameMeta(media, stride = 2)
      .collect().sortBy(_.frame_idx).toSeq
    def lum(v: Int): Double = BigDecimal(v / 255.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(m => (m.doc_id, m.frame_idx, m.width, m.height, m.mean_lum)) ==
      Seq((1L, 0, 8, 6, lum(20)), (1L, 2, 8, 6, lum(80)), (1L, 4, 8, 6, lum(140))))
    intercept[IllegalArgumentException](Multimodal.gifFrameMeta(media, stride = 0))
  }

  test("aHash64 recovers a two-level block pattern exactly; one flip = Hamming 1") {
    val pattern = 0x5A5A1234DEADBEEFL
    def decode(p: Long, flip: Int = -1) =
      Multimodal.decodeImage(Multimodal.syntheticBlockImage(p, flip)).get
    assert(Multimodal.aHash64(decode(pattern)) == pattern)
    // identical image → identical hash (decode→hash is deterministic)
    assert(Multimodal.aHash64(decode(pattern)) == Multimodal.aHash64(decode(pattern)))
    // one flipped block → exactly that bit differs, at any block position
    Seq(0, 17, 63).foreach { fb =>
      val flipped = Multimodal.aHash64(decode(pattern, fb))
      assert(java.lang.Long.bitCount(flipped ^ pattern) == 1, s"flip $fb")
      assert(((flipped ^ pattern) >>> fb) == 1L, s"flip $fb landed elsewhere")
    }
    // the degenerate all-dark pattern still flips cleanly (mean pins at
    // the dark level; only the bright block exceeds it)
    assert(Multimodal.aHash64(decode(0L)) == 0L)
    assert(Multimodal.aHash64(decode(0L, 5)) == (1L << 5))
  }

  test("dHash64 is a horizontal gradient map, invariant to global brightness") {
    // left half bright, right half dark: within each row, the only
    // brighter-than-right-neighbor transition is at grid column 3 (the
    // 9-wide grid puts the edge between cells 3 and 4) → bit by*8+3
    val img = new java.awt.image.BufferedImage(36, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 36)
      img.setRGB(x, y, if (x < 16) 0xc8c8c8 else 0x323232)
    val h = Multimodal.dHash64(img)
    assert(h == (0 until 8).map(by => 1L << (by * 8 + 3)).reduce(_ | _))
    // a constant brightness offset leaves every gradient sign unchanged
    val dim = new java.awt.image.BufferedImage(36, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 36)
      dim.setRGB(x, y, if (x < 16) 0x969696 else 0x000000)
    assert(Multimodal.dHash64(dim) == h)
  }

  test("imageHashes gates on media_type and decodability; hammingNearDups finds planted pairs only") {
    val pats = Seq(1L -> 0x0123456789ABCDEFL, 2L -> 0x5A5A1234DEADBEEFL,
      3L -> 0x7E57AB1E00C0FFEEL)
    val media = (pats.map { case (id, p) =>
      Multimodal.MediaRow(id, "image", Multimodal.syntheticBlockImage(p))
    } :+ Multimodal.MediaRow(10L, "image",
        Multimodal.syntheticBlockImage(0x0123456789ABCDEFL, flipBlock = 7))
      :+ Multimodal.MediaRow(11L, "audio", Array[Byte](1, 2, 3))
      :+ Multimodal.MediaRow(12L, "image", "junk".getBytes("UTF-8"))).toDS()
    val hashes = Multimodal.imageHashes(media).collect().sortBy(_.doc_id)
    assert(hashes.map(_.doc_id).toSeq == Seq(1L, 2L, 3L, 10L)) // 11 gated, 12 dropped
    assert(hashes.find(_.doc_id == 1L).get.ahash == 0x0123456789ABCDEFL)
    val pairs = Multimodal.imageNearDups(media, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 10L, 1L)), s"got $pairs")
    // distance above the gate: maxHamming=0 is rejected, =1 still finds it
    intercept[IllegalArgumentException](
      Multimodal.hammingNearDups(Multimodal.imageHashes(media).toDF(),
        "doc_id", "ahash", 0))
    val tight = Multimodal.imageNearDups(media, maxHamming = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(tight == Seq((1L, 10L, 1L)))
  }

  test("hammingNearDups has PERFECT recall vs the brute-force pair scan") {
    // pigeonhole proof obligation: any pair within maxHamming MUST share
    // a whole chunk. 200 deterministic well-mixed hashes plus planted
    // neighbors at distances 1..4 around the gate (maxHamming = 3).
    val base = (0L until 200L).map(id => (id, Multimodal.mix64(id * 7 + 1)))
    val planted = Seq(
      (500L, base(3)._2 ^ 1L),                      // d=1
      (501L, base(7)._2 ^ ((1L << 9) | (1L << 40))),  // d=2
      (502L, base(11)._2 ^ ((1L << 5) | (1L << 21) | Long.MinValue)), // d=3, top bit
      (503L, base(13)._2 ^ 0xF0L))                  // d=4 → outside gate
    val rows = (base ++ planted).toDF("doc_id", "ahash")
    val got = Multimodal.hammingNearDups(rows, "doc_id", "ahash", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    // brute force over all pairs, driver-side
    val all = (base ++ planted)
    val brute = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    assert(got == brute, s"pigeonhole recall broke: missing ${brute -- got}, extra ${got -- brute}")
    assert(brute.exists(_._3 == 3L), "fixture must exercise the gate boundary")
    assert(!brute.exists(p => p._1 == 13L && p._2 == 503L), "d=4 must be outside")
  }

  test("imageDedup keeps the min-id survivor per perceptual cluster, dedupAudit schema") {
    // cluster A: 1 ← {2 (flip 3), 3 (flip 9)} via the shared original
    // pattern; doc 7 is unrelated; doc 8 undecodable (absent from audit)
    val p = 0x0F0F123456789ABCL
    val media = Seq(
      Multimodal.MediaRow(1L, "image", Multimodal.syntheticBlockImage(p)),
      Multimodal.MediaRow(2L, "image", Multimodal.syntheticBlockImage(p, flipBlock = 3)),
      Multimodal.MediaRow(3L, "image", Multimodal.syntheticBlockImage(p, flipBlock = 9)),
      Multimodal.MediaRow(7L, "image",
        Multimodal.syntheticBlockImage(0x7777DEAD5555BEEFL)),
      Multimodal.MediaRow(8L, "image", "junk".getBytes("UTF-8"))).toDS()
    val got = Multimodal.imageDedup(media, maxHamming = 3)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    // 2 and 3 are Hamming 2 apart (two single-bit flips of one pattern),
    // so all three cluster even without the original bridging them
    assert(got == Seq((1L, "kept", 1L), (2L, "dropped_near", 1L),
      (3L, "dropped_near", 1L), (7L, "kept", 7L)))
  }

  test("imageDedup checkpoints its decoded hashes once: 11 jobs, the audit unchanged") {
    val p = 0x0F0F123456789ABCL
    val media = Seq(
      Multimodal.MediaRow(1L, "image", Multimodal.syntheticBlockImage(p)),
      Multimodal.MediaRow(2L, "image", Multimodal.syntheticBlockImage(p, flipBlock = 3)),
      Multimodal.MediaRow(3L, "image", Multimodal.syntheticBlockImage(p, flipBlock = 9)),
      Multimodal.MediaRow(7L, "image",
        Multimodal.syntheticBlockImage(0x7777DEAD5555BEEFL)),
      Multimodal.MediaRow(8L, "image", "junk".getBytes("UTF-8"))).toDS()
    var got = Seq.empty[(Long, String, Long)]
    val jobs = jobsRunBy {
      got = Multimodal.imageDedup(media, maxHamming = 3)
        .as[(Long, String, Long)].collect().toSeq.sorted
    }
    assert(got == Seq((1L, "kept", 1L), (2L, "dropped_near", 1L),
      (3L, "dropped_near", 1L), (7L, "kept", 7L)))
    // one checkpoint of the decoded hashes, read by the Hamming join and
    // the audit; the Hamming join adds none of its own
    assert(jobs.size == 11, jobs.mkString("; "))
    assert(jobs.count(_.contains("localCheckpoint at Multimodal.scala")) == 1,
      jobs.mkString("; "))
  }

  test("audioFingerprint64 recovers the tone-burst pattern from REAL decoded samples") {
    def fp(pattern: Long, flip: Int = -1, amplitude: Int = 8192): Long = {
      val media = Seq(Multimodal.MediaRow(1L, "audio",
        Multimodal.syntheticToneBurstWav(pattern, flipSegment = flip,
          amplitude = amplitude))).toDS()
      Multimodal.audioFingerprints(media).as[(Long, Long)].head()._2
    }
    val p = 0x5A5AC3C3DEADBEEFL
    assert(fp(p) == p)
    assert(fp(0L) == 0L)                       // all-silent → fingerprint 0
    assert(fp(1L) == 1L)                       // single loud segment
    // sweep: every non-degenerate mix64 pattern round-trips exactly
    (1L to 20L).foreach { seed =>
      val q0 = Multimodal.mix64(seed)
      val q = if (q0 == -1L || java.lang.Long.bitCount(q0) >= 63) 1L else q0
      assert(fp(q) == q, s"pattern $q failed the WAV round-trip")
    }
    // amplitude invariance: the mean threshold scales with the signal
    assert(fp(p, amplitude = 300) == p)
    // a one-segment flip moves EXACTLY one bit
    assert(java.lang.Long.bitCount(fp(p, flip = 17) ^ p) == 1)
    assert(fp(p, flip = 17) == (p ^ (1L << 17)))
  }

  test("audioNearDups pairs planted one-segment flips; junk and non-audio drop") {
    val p = 0x0F0F33CC55AA9966L
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", Multimodal.syntheticToneBurstWav(p)),
      Multimodal.MediaRow(2L, "audio",
        Multimodal.syntheticToneBurstWav(p, flipSegment = 5)),
      Multimodal.MediaRow(7L, "audio",
        Multimodal.syntheticToneBurstWav(0x7777DEAD5555BEEFL)),
      Multimodal.MediaRow(8L, "audio", "junk".getBytes("UTF-8")),
      Multimodal.MediaRow(9L, "image", Multimodal.syntheticToneBurstWav(p)))
      .toDS()
    val got = Multimodal.audioNearDups(media, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    // only the planted flip pairs up — the image-typed row never decodes
    // as audio, junk drops, and the unrelated pattern sits ~32 bits away
    assert(got == Seq((1L, 2L, 1L)))
    // fingerprints exist only for decodable ≥64-frame audio rows
    assert(Multimodal.audioFingerprints(media).count() == 3)
    intercept[IllegalArgumentException](Multimodal.audioNearDups(media, 0))
    intercept[IllegalArgumentException](
      Multimodal.syntheticToneBurstWav(1L, amplitude = 0))
  }
}
