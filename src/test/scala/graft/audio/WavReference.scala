package graft.audio

/** Plain, unfused reference forms of what [[Wav.synthValidateInto]]
  * computes in one pass, kept in test scope as its parity oracle: a
  * synth-only loop and an SNR over decoded samples, each with its own
  * per-sample sine. */
object WavReference {

  /** Synthesize a clip into `out` with nothing measured; returns the
    * written byte count. */
  def synthInto(out: Array[Byte], seed: Long, noiseSeed: Long, srHz: Int, durMs: Int,
      snrDb: Double, extraMs: Int): Int = {
    val n = (srHz.toLong * (durMs + extraMs) / 1000L).toInt
    val f = Wav.freqOf(seed)
    val a = Wav.noiseAmp(snrDb)
    Wav.writeHeader(out, srHz, n)
    var state = Wav.lcg(noiseSeed ^ 0x5DEECE66DL)
    var i = 0
    while (i < n) {
      val clean = Wav.Amplitude * StrictMath.sin(2.0 * StrictMath.PI * f * i / srHz)
      state = Wav.lcg(state)
      val sample = clean + a * Wav.unit(state)
      val s = math.max(-1.0, math.min(1.0, sample))
      val pcm = StrictMath.round(s * 32767.0).toInt.toShort
      out(Wav.HeaderBytes + 2 * i) = (pcm & 0xFF).toByte
      out(Wav.HeaderBytes + 2 * i + 1) = ((pcm >> 8) & 0xFF).toByte
      i += 1
    }
    Wav.HeaderBytes + 2 * n
  }

  /** SNR (dB) of decoded PCM vs the clean resynthesised sine — the per-row
    * allclose invariant. NaN if undecodable or empty. */
  def snrVsClean(bytes: Array[Byte], seed: Long): Double = Wav.decode(bytes) match {
    case None => Double.NaN
    case Some((_, samples)) if samples.length == 0 => Double.NaN
    case Some((sr, samples)) =>
      val f = Wav.freqOf(seed)
      var sigPow = 0.0
      var noisePow = 0.0
      var i = 0
      while (i < samples.length) {
        val clean = Wav.Amplitude * StrictMath.sin(2.0 * StrictMath.PI * f * i / sr)
        val resid = samples(i) / 32767.0 - clean
        sigPow += clean * clean
        noisePow += resid * resid
        i += 1
      }
      if (noisePow == 0.0) Double.PositiveInfinity
      else 10.0 * StrictMath.log10(sigPow / noisePow)
  }

  /** Mean squared amplitude of the decoded samples over the whole
    * `frameMs` frames, summed frame by frame; 0 when no whole frame fits. */
  def meanSq(bytes: Array[Byte], frameMs: Int): Double = {
    val Some((sr, samples)) = Wav.decode(bytes)
    val frameLen = math.max(1, sr * frameMs / 1000)
    val nFrames = samples.length / frameLen
    if (nFrames == 0) return 0.0
    var sq = 0.0
    for (fI <- 0 until nFrames) {
      var acc = 0.0
      for (i <- fI * frameLen until (fI + 1) * frameLen) {
        val v = samples(i) / 32767.0
        acc += v * v
      }
      sq += acc
    }
    sq / (nFrames.toLong * frameLen)
  }
}
