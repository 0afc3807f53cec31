package graft.audio

/** Minimal WAV PCM16 mono codec + deterministic clip synthesis.
  *
  * Synthesis is byte-deterministic across JVMs: StrictMath for the sine, a
  * 64-bit LCG for noise, PCM16 little-endian, standard 44-byte RIFF header.
  * The per-row invariant (BASELINE.json `input_hint`) is "decoded-PCM
  * allclose at SNR≥30 dB vs the reference output" — here the reference
  * output is the clean resynthesised sine recoverable from (clip_id, sr_hz,
  * byte length) alone, so the validator needs no side channel.
  *
  * One kernel: [[synthValidateInto]] is the only loop that synthesizes or
  * validates samples. It writes a clip into a caller-owned buffer and, in
  * the same pass, measures the stored samples against the clean sine it just
  * computed (one sine per sample) and, when asked, the frame features.
  * [[synth]] is that kernel over a fresh buffer. Its outputs are
  * bit-identical to synthesizing, decoding and measuring separately
  * (PureSpec pins bytes, SNR, sample count and frame features against a
  * test-side reference).
  */
object Wav {

  val HeaderBytes = 44
  private[audio] val Amplitude = 0.6
  /** Clean clips carry noise at 40 dB SNR; corrupted ones at 10 dB. */
  val CleanSnrDb = 40.0
  val CorruptSnrDb = 10.0

  /** Sine frequency recoverable from the numeric clip seed. */
  def freqOf(seed: Long): Double = 200.0 + (seed % 600)

  private[audio] def noiseAmp(snrDb: Double): Double = {
    // uniform noise in [-a,a): power a^2/3; sine power A^2/2
    val signalPower = Amplitude * Amplitude / 2.0
    StrictMath.sqrt(3.0 * signalPower / StrictMath.pow(10.0, snrDb / 10.0))
  }

  /** Closed-form expected mean squared amplitude of a synthesized clip:
    * sine power A^2/2 plus uniform-noise power noiseAmp^2/3 (clipping never
    * engages: max |sample| = A + noiseAmp(10dB) < 1). */
  def expectedMeanSq(snrDb: Double): Double = {
    val sig = Amplitude * Amplitude / 2.0
    val a = noiseAmp(snrDb)
    sig + a * a / 3.0
  }

  /** Next LCG state (Knuth MMIX constants). */
  @inline private[audio] def lcg(x: Long): Long =
    x * 6364136223846793005L + 1442695040888963407L

  /** uniform in [-1, 1) from the high 53 bits. */
  @inline private[audio] def unit(x: Long): Double =
    ((x >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0

  /** Synthesize one clip. `seed` drives the sine frequency (must equal the
    * id-recoverable seed); `noiseSeed` the noise stream; `extraMs` shifts
    * the real byte length vs the declared dur_ms (consistency fixture). */
  def synth(seed: Long, noiseSeed: Long, srHz: Int, durMs: Int,
      snrDb: Double = CleanSnrDb, extraMs: Int = 0): Array[Byte] = {
    val out = new Array[Byte](synthLen(srHz, durMs, extraMs))
    synthValidateInto(out, seed, noiseSeed, srHz, durMs, snrDb, extraMs)
    out
  }

  /** Byte length of the clip [[synth]] produces for these parameters. */
  def synthLen(srHz: Int, durMs: Int, extraMs: Int = 0): Int =
    HeaderBytes + 2 * (srHz.toLong * (durMs + extraMs) / 1000L).toInt

  /** What one kernel pass measures. `snrDb` is the SNR of the stored
    * samples vs the clean sine (NaN for a clip with no samples). The frame
    * features cover the first `nFrames` whole frames only (a truncated tail
    * counts toward the SNR, not the features) and are all 0 when no frame
    * length was asked for or no whole frame fits: `rmsMean`/`rmsMax` are
    * over the per-frame RMS values of [[frameRms]], `meanSq` is the mean
    * squared sample amplitude over the covered frames — the quantity with
    * the closed-form expectation [[expectedMeanSq]]. */
  final case class Measure(len: Int, snrDb: Double, nSamples: Long,
      nFrames: Long, rmsMean: Double, rmsMax: Double, meanSq: Double)

  /** The kernel: synthesize [[synth]]'s clip into `out`
    * (`out.length >= synthLen(...)`, so a task can reuse one buffer instead
    * of allocating ~30 KB per row) and measure it in the same pass. With
    * `frameMs > 0` it also accumulates the `frameMs` frame features;
    * the default 0 skips them. */
  def synthValidateInto(out: Array[Byte], seed: Long, noiseSeed: Long,
      srHz: Int, durMs: Int, snrDb: Double = CleanSnrDb, extraMs: Int = 0,
      frameMs: Int = 0): Measure = {
    val n = (srHz.toLong * (durMs + extraMs) / 1000L).toInt
    val f = freqOf(seed)
    val a = noiseAmp(snrDb)
    writeHeader(out, srHz, n)
    var state = lcg(noiseSeed ^ 0x5DEECE66DL)
    var sigPow = 0.0
    var noisePow = 0.0
    val frameLen = math.max(1, srHz * frameMs / 1000)
    val nFrames = if (frameMs > 0) n / frameLen else 0
    val covered = nFrames * frameLen
    var rmsSum = 0.0
    var rmsMax = 0.0
    var sqSum = 0.0
    // the same FP ops as 2.0 * PI * f * i / srHz, hoisted. Loop shape is
    // deliberate: with a per-sample frame branch, or without this hoist,
    // HotSpot C2 (JDK 17) compiled the loop to ~0.67 ms per clip against
    // ~0.44 ms for this shape (single thread, 4-vCPU Xeon VM)
    val twoPiF = 2.0 * StrictMath.PI * f
    val sr = srHz.toDouble
    var i = 0
    // one run per whole frame, then the uncovered tail (every sample when
    // there are no frames) as a last run that adds to the SNR only
    while (i < n) {
      val end = if (i < covered) i + frameLen else n
      var frameSq = 0.0
      while (i < end) {
        val clean = Amplitude * StrictMath.sin(twoPiF * i / sr)
        state = lcg(state)
        val s = math.max(-1.0, math.min(1.0, clean + a * unit(state)))
        val pcm = StrictMath.round(s * 32767.0).toInt.toShort
        out(HeaderBytes + 2 * i) = (pcm & 0xFF).toByte
        out(HeaderBytes + 2 * i + 1) = ((pcm >> 8) & 0xFF).toByte
        // the stored sample, as decode reads it back
        val v = pcm / 32767.0
        val resid = v - clean
        sigPow += clean * clean
        noisePow += resid * resid
        frameSq += v * v
        i += 1
      }
      if (end <= covered) {
        val rms = StrictMath.sqrt(frameSq / frameLen)
        rmsSum += rms
        if (rms > rmsMax) rmsMax = rms
        sqSum += frameSq
      }
    }
    val snr =
      if (n == 0) Double.NaN
      else if (noisePow == 0.0) Double.PositiveInfinity
      else 10.0 * StrictMath.log10(sigPow / noisePow)
    if (nFrames == 0) Measure(HeaderBytes + 2 * n, snr, n.toLong, 0L, 0.0, 0.0, 0.0)
    else Measure(HeaderBytes + 2 * n, snr, n.toLong, nFrames.toLong,
      rmsSum / nFrames, rmsMax, sqSum / (nFrames.toLong * frameLen))
  }

  private[audio] def writeHeader(b: Array[Byte], srHz: Int, nSamples: Int): Unit = {
    val dataLen = 2 * nSamples
    def le32(off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    def ascii(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").zipWithIndex.foreach { case (c, i) => b(off + i) = c }
    ascii(0, "RIFF"); le32(4, 36 + dataLen); ascii(8, "WAVE")
    ascii(12, "fmt "); le32(16, 16); le16(20, 1 /*PCM*/); le16(22, 1 /*mono*/)
    le32(24, srHz); le32(28, srHz * 2); le16(32, 2); le16(34, 16)
    ascii(36, "data"); le32(40, dataLen)
  }

  /** Decode: returns (sampleRate, samples) or None on malformed header. */
  def decode(bytes: Array[Byte]): Option[(Int, Array[Short])] = {
    if (bytes == null || bytes.length < HeaderBytes) return None
    def le32(off: Int): Int =
      (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8) |
        ((bytes(off + 2) & 0xFF) << 16) | ((bytes(off + 3) & 0xFF) << 24)
    if (!(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F')) return None
    val sr = le32(24)
    val dataLen = math.min(le32(40), bytes.length - HeaderBytes)
    if (sr <= 0 || dataLen < 0) return None
    val n = dataLen / 2
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      samples(i) =
        (((bytes(HeaderBytes + 2 * i) & 0xFF)) |
          (bytes(HeaderBytes + 2 * i + 1) << 8)).toShort
      i += 1
    }
    Some((sr, samples))
  }

  /** Frame-level RMS (frame = `frameMs` ms, non-overlapping, truncating) —
    * the feature-extraction / frame-sample primitive for binary audio
    * columns. */
  def frameRms(bytes: Array[Byte], frameMs: Int): Array[Double] = decode(bytes) match {
    case None => Array.empty
    case Some((sr, samples)) =>
      val frameLen = math.max(1, sr * frameMs / 1000)
      val nFrames = samples.length / frameLen
      val out = new Array[Double](nFrames)
      var fI = 0
      while (fI < nFrames) {
        var acc = 0.0
        var i = fI * frameLen
        val end = i + frameLen
        while (i < end) {
          val v = samples(i) / 32767.0
          acc += v * v
          i += 1
        }
        out(fI) = StrictMath.sqrt(acc / frameLen)
        fI += 1
      }
      out
  }
}
