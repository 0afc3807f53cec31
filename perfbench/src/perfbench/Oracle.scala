package perfbench

/** Plain single-threaded recomputation of what the program must output,
  * from the generated keys and texts alone. It shares no code with the
  * program: the clip rules are the ones `ClipsTable` documents (keyed on
  * ord = o_orderkey), and the audio rules are the two injections the audio
  * layer documents (ord % 149 -> SNR below 30 dB, ord % 157 -> duration
  * mismatch). */
object Oracle {

  def clipKey(k: Long): Long = if (k % 101 == 0) k + 1 else k
  def clipId(k: Long): String = f"clip-$k%012d"
  def durMs(k: Long): Int = ((k * 37) % 480 + 20).toInt

  /** Failed row checks of key `k`, by the program's check names. */
  def rowChecks(k: Long, audio: Boolean): Seq[String] = Seq(
    (k % 89 == 0) -> "not_null_transcript",
    (k % 89 != 0 && k % 113 == 0) -> "not_empty_transcript",
    (k % 97 == 0) -> "in_range_sr_hz",
    (k % 211 == 0) -> "enum_codec",
    (audio && k % 149 == 0) -> "audio_snr_min",
    (audio && k % 157 == 0) -> "audio_dur_consistency").collect { case (true, n) => n }

  /** Clip keys that have a reference row: some row with that clip key and
    * ord % 131 != 0. */
  def refKeys(keys: Iterable[Long]): Set[Long] =
    keys.iterator.filter(_ % 131 != 0).map(clipKey).toSet

  final case class Verdicts(rows: Map[Long, Long], bad: Map[Long, Long],
      checks: Map[String, Long]) {
    def nClips: Long = rows.values.sum
  }

  /** Per-bucket rows and bad rows, and violation rows per check, of the full
    * suite (metadata + audio) over the clips derived from `keys`. */
  def verdicts(keys: Array[Long]): Verdicts = {
    val groupSize = keys.groupBy(clipKey).view.mapValues(_.length).toMap
    val refs = refKeys(keys)
    val rows = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val bad = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val checks = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    keys.foreach { k =>
      val b = k % 32
      val failed = rowChecks(k, audio = true)
      val dup = groupSize(clipKey(k)) > 1
      val noRef = !refs(clipKey(k))
      failed.foreach(c => checks(c) += 1)
      if (noRef) checks("ref_clip_id_refs") += 1
      rows(b) += 1
      if (failed.nonEmpty || dup || noRef) bad(b) += 1
    }
    checks("unique_clip_id") = groupSize.count(_._2 > 1).toLong
    Verdicts(rows.toMap, bad.toMap.filter(_._2 > 0), checks.toMap.filter(_._2 > 0))
  }

  /** Row and referential violations, as (clip_id, check_name), of the clips
    * derived from `delta`, against reference keys `refs`. */
  def deltaViolations(delta: Seq[Long], refs: Set[Long]): Seq[(String, String)] =
    delta.flatMap { k =>
      rowChecks(k, audio = false).map(c => clipId(clipKey(k)) -> c) ++
        (if (refs(clipKey(k))) Nil else Seq(clipId(clipKey(k)) -> "ref_clip_id_refs"))
    }

  /** Duplicate groups the delta formed or grew: (clip_id, cnt, cnt_old). */
  def newDupGroups(prev: Seq[Long], delta: Seq[Long]): Set[(String, Long, Long)] = {
    val old = prev.groupBy(clipKey).view.mapValues(_.size.toLong).toMap
    val fresh = delta.groupBy(clipKey).view.mapValues(_.size.toLong).toMap
    fresh.collect {
      case (c, n) if n + old.getOrElse(c, 0L) > 1 =>
        (clipId(c), n + old.getOrElse(c, 0L), old.getOrElse(c, 0L))
    }.toSet
  }

  /** dur_ms histogram over [20, 500) in 48 bins of 10 ms. */
  def durHist(keys: Seq[Long]): Array[Long] = {
    val h = new Array[Long](48)
    keys.foreach(k => h(math.min(47, (durMs(k) - 20) / 10)) += 1)
    h
  }

  def ks(a: Array[Long], b: Array[Long]): Double = {
    val na = a.sum.toDouble
    val nb = b.sum.toDouble
    var ca = 0.0
    var cb = 0.0
    var d = 0.0
    a.indices.foreach { i =>
      ca += a(i); cb += b(i)
      d = math.max(d, math.abs(ca / na - cb / nb))
    }
    d
  }

  /** True when `q` is a `p`-quantile of `xs` up to rank error `eps`. */
  def quantileOk(xs: Array[Int], p: Double, q: Double, eps: Double): Boolean = {
    val n = xs.length.toDouble
    val below = xs.count(_ < q) / n
    val atOrBelow = xs.count(_ <= q) / n
    below - eps <= p && p <= atOrBelow + eps
  }

  /** Distinct character 5-grams (a text shorter than 5 is its own gram). */
  def grams(t: String): Set[String] =
    if (t.length < 5) Set(t) else t.sliding(5).toSet

  def jaccard(a: String, b: String): Double = {
    val ga = grams(a)
    val gb = grams(b)
    val inter = ga.count(gb)
    inter.toDouble / (ga.size + gb.size - inter)
  }
}
