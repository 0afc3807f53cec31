package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.agg.{Drift, TDigest}
import graft.audio.{Wav, WavReference}

/** No-Spark unit tests: WAV codec round-trip, SNR invariant separation,
  * t-digest quantile accuracy + merge associativity, drift math. */
class PureSpec extends AnyFunSuite {

  test("wav synth/decode round-trip preserves sr and sample count") {
    val b = Wav.synth(seed = 42, noiseSeed = 42, srHz = 16000, durMs = 100)
    val Some((sr, samples)) = Wav.decode(b)
    assert(sr == 16000)
    assert(samples.length == 1600)
  }

  test("clean clip SNR is ~40 dB, corrupted ~10 dB; threshold 30 separates") {
    val clean = Wav.synth(7, 7, 22050, 120, snrDb = Wav.CleanSnrDb)
    val bad = Wav.synth(7, 7, 22050, 120, snrDb = Wav.CorruptSnrDb)
    val sClean = WavReference.snrVsClean(clean, 7)
    val sBad = WavReference.snrVsClean(bad, 7)
    assert(sClean > 35.0 && sClean < 45.0, s"clean snr=$sClean")
    assert(sBad > 5.0 && sBad < 15.0, s"bad snr=$sBad")
  }

  test("synthesis is byte-deterministic") {
    val a = Wav.synth(99, 99, 44100, 50)
    val b = Wav.synth(99, 99, 44100, 50)
    assert(java.util.Arrays.equals(a, b))
  }

  test("decode rejects garbage") {
    assert(Wav.decode(Array[Byte](1, 2, 3)).isEmpty)
    assert(Wav.decode("not a wav header at all padding padding!!".getBytes).isEmpty)
    assert(Wav.decode(null).isEmpty)
  }

  test("frameRms counts frames by truncating division") {
    val b = Wav.synth(5, 5, 16000, 105) // 1680 samples, 320/frame -> 5 frames
    assert(Wav.frameRms(b, 20).length == 5)
  }

  // The kernel against the unfused test-side forms, bit for bit, over the
  // grid sr {8000, 22050, 48000} x dur {20, 105, 499} x clean/corrupt x
  // extra {0, 7} x frameMs {0, 20}, plus the clip with no samples. The three
  // parity tests below keep the names of the kernels they once compared:
  // `synthInto` is the reference loop in WavReference, `validateVsClean`'s
  // (SNR, sample count) is snrVsClean and the length over decode,
  // `synthMeasureInto` is synthValidateInto with frameMs set, and
  // `frameStats` is the kernel's frame features.
  private def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  private def parityGrid(frameMs: Int): Seq[(Int, Int, Double, Int, Int)] = for {
    sr <- Seq(8000, 22050, 48000)
    dur <- Seq(20, 105, 499)
    snr <- Seq(Wav.CleanSnrDb, Wav.CorruptSnrDb)
    extra <- Seq(0, 7)
  } yield (sr, dur, snr, extra, frameMs)

  /** Checks written bytes, sample count, SNR and frame features of one
    * grid point (sr, durMs, snrDb, extraMs, frameMs) against the reference. */
  private def checkParity(p: (Int, Int, Double, Int, Int)): Unit = {
    val (sr, dur, snr, extra, frameMs) = p
    val seed = 11L
    val ref = new Array[Byte](Wav.synthLen(sr, dur, extra))
    val refLen = WavReference.synthInto(ref, seed, 13L, sr, dur, snr, extra)
    val got = new Array[Byte](Wav.synthLen(sr, dur, extra))
    val r = Wav.synthValidateInto(got, seed, 13L, sr, dur, snr, extra, frameMs)
    assert(r.len == refLen && java.util.Arrays.equals(ref, got), s"bytes $p")
    val Some((_, samples)) = Wav.decode(ref)
    assert(r.nSamples == samples.length.toLong, s"samples $p")
    assert(same(r.snrDb, WavReference.snrVsClean(ref, seed)), s"snr $p")
    if (samples.isEmpty) assert(r.snrDb.isNaN, s"empty clip snr $p")
    val rms = if (frameMs == 0) Array.empty[Double] else Wav.frameRms(ref, frameMs)
    assert(r.nFrames == rms.length.toLong, s"frames $p")
    val (mean, max, meanSq) =
      if (rms.isEmpty) (0.0, 0.0, 0.0)
      else (rms.sum / rms.length, rms.max, WavReference.meanSq(ref, frameMs))
    assert(same(r.rmsMean, mean) && same(r.rmsMax, max) && same(r.meanSq, meanSq),
      s"features $p")
  }

  private val emptyClip = (8000, 0, Wav.CleanSnrDb, 0, 20) // SNR NaN, no frames

  test("synthValidateInto == synthInto + validateVsClean (fused synth+validate parity)") {
    (parityGrid(frameMs = 0) :+ emptyClip.copy(_5 = 0)).foreach(checkParity)
  }

  test("synthMeasureInto == synthInto + validateVsClean + frameStats (fully fused parity)") {
    (parityGrid(frameMs = 20) :+ emptyClip).foreach(checkParity)
  }

  test("frameStats == frameRms-derived features (fused path parity)") {
    for (sr <- Seq(8000, 44100); dur <- Seq(20, 347)) {
      val b = Wav.synth(3, 9, sr, dur)
      val rms = Wav.frameRms(b, 20)
      val r = Wav.synthValidateInto(new Array[Byte](b.length), 3, 9, sr, dur, frameMs = 20)
      assert(r.nFrames == rms.length.toLong)
      assert(r.rmsMean == rms.sum / rms.length)
      assert(r.rmsMax == rms.max)
    }
  }

  test("measured mean-square power matches closed form within tolerance") {
    // worst case for partial-cycle wobble: lowest frequency, shortest clip
    for {
      seed <- Seq(0L, 123L, 599L) // freq 200..799
      sr <- Seq(8000, 48000)
      dur <- Seq(20, 499)
      snr <- Seq(Wav.CleanSnrDb, Wav.CorruptSnrDb)
    } {
      val meanSq = Wav.synthValidateInto(new Array[Byte](Wav.synthLen(sr, dur)),
        seed, seed + 1, sr, dur, snr, frameMs = 20).meanSq
      val expected = Wav.expectedMeanSq(snr)
      assert(math.abs(meanSq - expected) < graft.audio.AudioQueries.PowerTolerance,
        s"seed=$seed sr=$sr dur=$dur snr=$snr meanSq=$meanSq expected=$expected")
    }
  }

  test("t-digest quantiles within 1% of exact on uniform data") {
    val xs = (1 to 10000).map(_.toLong)
    var buf = TDigest.empty()
    xs.foreach(x => buf = TDigest.add(buf, x.toDouble))
    Seq(0.25, 0.5, 0.75, 0.95, 0.99).foreach { p =>
      val est = TDigest.quantile(buf, p)
      val exact = 1 + p * 9999
      assert(math.abs(est - exact) / exact < 0.01, s"p=$p est=$est exact=$exact")
    }
  }

  test("t-digest merge of shards ~ single digest (partial+final agg path)") {
    val xs = (1 to 20000).map(i => ((i * 2654435761L) % 10007).toDouble)
    val shards = xs.grouped(1000).map { g =>
      var b = TDigest.empty(); g.foreach(x => b = TDigest.add(b, x)); b
    }
    val merged = shards.reduce(TDigest.merge)
    val sorted = xs.sorted
    Seq(0.5, 0.95).foreach { p =>
      val est = TDigest.quantile(merged, p)
      val exact = sorted(((sorted.length - 1) * p).toInt)
      assert(math.abs(est - exact) / 10007.0 < 0.01, s"p=$p est=$est exact=$exact")
    }
  }

  test("chi-square: identical distributions -> 0; disjoint -> large") {
    val a = Map("x" -> 100L, "y" -> 200L)
    assert(Drift.chiSquare(a, a)._1 == 0.0)
    val (stat, dof) = Drift.chiSquare(Map("x" -> 100L), Map("y" -> 100L))
    assert(stat > 100.0 && dof == 1)
  }

  test("binned KS: equal hists -> 0, shifted -> 1") {
    assert(Drift.ksBinned(Array(10L, 10L), Array(10L, 10L)) == 0.0)
    assert(Drift.ksBinned(Array(10L, 0L), Array(0L, 10L)) == 1.0)
  }
}
