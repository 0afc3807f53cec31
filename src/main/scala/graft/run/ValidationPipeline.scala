package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.audio.{AudioQueries, ClipMeta}
import graft.clips.ClipsTable

/** The full end-to-end validation job — the engine's headline workload and
  * the unit of the "validated clips/sec" metric (BASELINE.json): synthesize/
  * decode audio, evaluate the PCM SNR>=30dB allclose invariant and the
  * byte-length/dur_ms consistency invariant per row, fuse them with the
  * declarative metadata checks (null/empty/range/enum), global clip_id
  * uniqueness and referential integrity, and aggregate per-bucket verdicts.
  */
object ValidationPipeline {

  /** Deterministic input replication for throughput measurement: `k` shifted
    * copies of the derived clips table (ids offset by a multiple of the
    * bucket count so bucketing, duplicate collisions and seed recovery all
    * survive the shift). Same job shape at k times the rows — the regime the
    * 10^12-row target actually runs in, where fixed stage overhead is noise. */
  def replicatedBase(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    replicate(spark, ClipsTable.base(spark, sfDir), k)

  /** [[replicatedBase]] split to the synth task granularity — the input of
    * the fused synth pass in [[verdicts]] and [[augmented]]. Cheap
    * metadata-only lineages (the anomaly aggregate, a Runner's
    * `globalInput`) read [[replicatedBase]] instead, which would otherwise
    * pay this exchange only to re-shuffle by key. */
  private def synthInput(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    // repartition the BASE (1/k of the rows) before the broadcast fan-out:
    // the replicated rows inherit the partitioning, so the synth stage gets
    // its task granularity while the exchange carries only the
    // unreplicated metadata. The partition count is derived from the input
    // row count (clips = orders rows 1:1) times the replication factor —
    // read from the parquet FOOTERS on the driver (a ~ms metadata read,
    // no Spark job; same mechanism as the snapshot seam's manifest stats),
    // with a count() job as the fallback for unreadable footers.
    val rows = parquetRowCount(s"$sfDir/orders.parquet")
      .getOrElse(spark.read.parquet(s"$sfDir/orders.parquet").count()) *
      math.max(1, k)
    replicate(spark,
      ClipsTable.base(spark, sfDir).repartition(synthPartitions(rows)), k)
  }

  /** Total row count of a parquet file/dir straight from the footers —
    * driver-side metadata IO only. None when any footer is unreadable or
    * the directory holds a subdirectory (a nested or partitioned layout,
    * whose files this top-level listing would miss): the caller then runs
    * an exact count(). */
  private[run] def parquetRowCount(pathStr: String): Option[Long] =
    try {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(pathStr)
      val files: Seq[java.nio.file.Path] =
        if (java.nio.file.Files.isDirectory(p)) {
          val entries = scala.util.Using.resource(java.nio.file.Files.list(p))(
            _.iterator().asScala.toSeq)
          if (entries.exists(java.nio.file.Files.isDirectory(_))) return None
          entries.filter(f => f.getFileName.toString.endsWith(".parquet"))
        } else Seq(p)
      if (files.isEmpty) return None
      Some(graft.io.TableFormat.footerRowGroups(files).map(_.getRowCount).sum)
    } catch { case scala.util.control.NonFatal(_) => None }

  private def replicate(spark: SparkSession, base: DataFrame, k: Int): DataFrame =
    if (k <= 1) base
    else {
      // one scan, fan out via a tiny broadcast range join (not k unions)
      val reps = spark.range(0, k).select((col("id") * 32000000L).as("__off"))
      base.crossJoin(broadcast(reps))
        .withColumn("clip_id",
          concat(lit("clip-"),
            lpad((substring(col("clip_id"), 6, 12).cast("long") + col("__off")).cast("string"), 12, "0")))
        .withColumn("ord", col("ord") + col("__off"))
        .drop("__off")
    }

  /** Task granularity for the CPU-heavy synth+validate fan-out. Round-7:
    * SCALE-ADAPTIVE (guide §2 — "make partitioning scale-adaptive rather
    * than a constant tuned for either local mode or the cluster"): the
    * previous fixed 512 was tuned for the scaling bench's replicate=6
    * (~900k clips → ~1.8k rows/task) and over-partitioned every smaller
    * input — the sweep's replicate=1 ran 293-row tasks whose launch
    * overhead was a measurable slice of vc_full_verdicts' wall, and a
    * production 10^12-row table would be catastrophically UNDER-split.
    * The granularity target stays the ~1.8k clips/task the scaling record
    * was measured at, floored (keep every core busy at warmup scale) and
    * capped (bound scheduler pressure per job; a 10^12-row input arrives
    * pre-split by its file layout and is expected to override). The count
    * is still a pure function of the INPUT, never of the core count, so
    * both parallelism levels of the scaling bench run the exact same
    * partitioning and per-task work — the comparability argument for the
    * old fixed value carries over unchanged. */
  val RowsPerSynthTask: Long = 1800
  def synthPartitions(rows: Long): Int =
    math.max(64, math.min(4096, math.ceil(rows.toDouble / RowsPerSynthTask).toInt))

  /** Per-bucket verdicts of the complete suite (metadata + audio).
    *
    * The global checks are specialized here: uniqueness and referential
    * presence (refs is by construction the `ord % 131 != 0` projection of
    * the same table) are both per-clip_id aggregates of the cheap METADATA
    * — so they are computed by one hash aggregate over the narrow metadata
    * scan (map-side partial combine: a 10^9-row hot duplicate costs one row
    * per task — no window, no single-task hot-spot; see EngineSpec's 10^5×
    * skewed-dup plan case), filtered to the anomalous keys, and joined
    * back. The join is deliberately unhinted: AQE broadcasts the anomaly
    * side when it is small at runtime (the expensive synth stream then
    * never shuffles), and falls back to a skew-split shuffled join of the
    * NARROW flagged rows when anomalies scale with the data — this
    * generator's refs-absent keys are ~1/131 of all clips, which at 10^12
    * rows is far past any broadcast cap. Either way the wide exchanges
    * carry bits, never audio. (The generic CheckCompiler path joins an
    * arbitrary ref table with a presence left join; equivalence is
    * asserted in EngineSpec.) */
  def verdicts(spark: SparkSession, sfDir: String, replicate: Int = 1): DataFrame = {
    import spark.implicits._
    val meta = synthInput(spark, sfDir, replicate)
    // One fused typed pass per row: synthesize into a task-reused buffer,
    // decode+SNR in a single allocation-free sweep, fold in the metadata
    // checks — so (a) the 30 KB bytes column never round-trips the encoder
    // between stages, (b) per-row garbage is ~zero (GC stalls otherwise eat
    // the 32-thread level's headroom and sink N->4N scaling efficiency),
    // and (c) only four narrow columns enter the clip_id shuffle — at
    // 10^12 rows the exchange carries bits, not audio.
    val flagged = meta // already split to synth granularity by synthInput
      .as[ClipMeta]
      .mapPartitions(AudioQueries.synthRows(_) { (m, r, _) =>
        val durBad = r.nSamples != m.sr_hz.toLong * m.dur_ms / 1000L
        val snrBad = r.snrDb.isNaN || r.snrDb < AudioQueries.SnrThresholdDb
        val rowBad = m.transcript.isEmpty || m.transcript.contains("") ||
          m.sr_hz < ClipsTable.SrMin || m.sr_hz > ClipsTable.SrMax ||
          !ClipsTable.CodecEnum.contains(m.codec) ||
          snrBad || durBad
        (m.clip_id, m.ord, m.bucket, rowBad)
      }).toDF("clip_id", "ord", "bucket", "row_bad")

    // anomalous clip_ids (duplicated or absent from refs) from the cheap
    // metadata only — the synth stream above is consumed exactly once.
    // No broadcast hint: the refs-absent keys are ~1/131 of ALL clips by
    // construction, i.e. they scale linearly with the data (7.6e9 keys at
    // the 10^12-row target — far past the broadcast cap), so the join must
    // be allowed to fall back to a shuffled join of NARROW rows; AQE
    // converts it to broadcast at runtime whenever the anomaly side is
    // actually small, and skew-splits the probe side when it is not.
    val anomalies = replicatedBase(spark, sfDir, replicate).select("clip_id", "ord")
      .groupBy("clip_id")
      .agg(count(lit(1)).as("__cnt"),
        max(when(col("ord") % 131 =!= 0, 1).otherwise(0)).as("__present"))
      .filter(col("__cnt") > 1 || col("__present") === 0)
      .select(col("clip_id"), lit(true).as("__anomaly"))
    flagged
      .join(anomalies, Seq("clip_id"), "left")
      .withColumn("__bad", col("row_bad") || col("__anomaly").isNotNull)
      .groupBy(col("bucket").as("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("__bad"), lit(1))).as("n_bad"))
      .withColumn("pass", col("n_bad") === 0)
      .select("bucket", "n_rows", "n_bad", "pass")
  }

  /** Clips augmented with the per-row audio measurements (snr_db,
    * n_samples) from the same fused allocation-free pass — the bridge that
    * lets the DECLARATIVE Check DSL (and therefore the Runner's
    * checkpointed execution) express the audio invariants as ordinary
    * RowExpr checks over narrow numeric columns. */
  def augmented(spark: SparkSession, sfDir: String, replicate: Int = 1,
      buckets: Option[Seq[Long]] = None): DataFrame = {
    import spark.implicits._
    // `buckets` prunes BEFORE the opaque typed map: Catalyst cannot push a
    // bucket filter through mapPartitions, so a resume run passes the todo
    // set here and the synth pass runs ONLY for unfinished buckets — the
    // proportional-resume property Bench's resume section measures
    val base0 = synthInput(spark, sfDir, replicate)
    buckets.map(b => base0.filter(col("bucket").isin(b: _*))).getOrElse(base0)
      .as[ClipMeta]
      .mapPartitions(AudioQueries.synthRows(_) { (m, r, _) =>
        (m.clip_id, m.sr_hz, m.dur_ms, m.codec, m.transcript, m.ord, m.bucket,
          r.snrDb, r.nSamples)
      })
      .toDF("clip_id", "sr_hz", "dur_ms", "codec", "transcript", "ord", "bucket",
        "snr_db", "n_samples")
  }

  /** The complete declarative suite over [[augmented]]: the metadata checks
    * plus the two audio invariants as RowExpr checks. Equivalence with the
    * fused [[verdicts]] plan is asserted in EngineSpec. */
  def fullSuite(spark: SparkSession, sfDir: String): graft.dsl.CheckSuite = {
    import graft.dsl._
    import Check.colResolver
    val base = graft.queries.ClipQueries.suite(spark, sfDir)
    base.copy(checks = base.checks ++ Seq(
      RowExpr("audio_snr_min", "snr_db",
        col("snr_db").isNaN || col("snr_db") < lit(AudioQueries.SnrThresholdDb),
        org.apache.spark.sql.functions.round(col("snr_db"), 1).cast("string")),
      RowExpr("audio_dur_consistency", "n_samples",
        col("n_samples") =!= org.apache.spark.sql.functions
          .expr("CAST(sr_hz AS BIGINT) * dur_ms DIV 1000"),
        col("n_samples").cast("string"))))
  }

  /** Runs the pipeline to completion; returns (nClips, nBadRows, seconds). */
  def timed(spark: SparkSession, sfDir: String, replicate: Int = 1): (Long, Long, Double) = {
    val t0 = System.nanoTime()
    val rows = verdicts(spark, sfDir, replicate).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum, sec)
  }
}
