package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.audio.{AudioQueries, ClipMeta}
import graft.clips.ClipsTable
import graft.compile.CheckCompiler
import graft.dsl.CheckSuite
import graft.queries.ClipQueries

/** The full end-to-end validation job — the engine's headline workload and
  * the unit of the "validated clips/sec" metric (BASELINE.json): one fused
  * synth/decode pass measures each clip's SNR and sample count
  * ([[augmented]]), and the declarative [[fullSuite]] (metadata checks,
  * the PCM SNR>=30dB allclose and byte-length/dur_ms invariants, global
  * clip_id uniqueness, referential integrity) is compiled over it into
  * per-bucket verdicts by [[graft.compile.CheckCompiler]], the same plan
  * the Runner executes bucket by bucket.
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
    * the fused synth pass in [[augmented]]. Cheap metadata-only lineages
    * (the uniqueness aggregate, the refs, a Runner's `globalInput`) read
    * [[replicatedBase]] instead, which would otherwise pay this exchange
    * only to re-shuffle by key. */
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

  /** Per-bucket verdicts of the complete suite (metadata + audio): the
    * declarative [[fullSuite]] over [[augmented]], through the same
    * [[graft.compile.CheckCompiler]] lowering the Runner and `SubmitJob`
    * run. Uniqueness counts keys over the cheap [[replicatedBase]]
    * metadata lineage, so the synth stream is consumed exactly once. */
  def verdicts(spark: SparkSession, sfDir: String, replicate: Int = 1): DataFrame =
    CheckCompiler.verdicts(augmented(spark, sfDir, replicate), fullSuite(spark, sfDir, replicate),
      globalDf = Some(replicatedBase(spark, sfDir, replicate)))

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

  /** The complete declarative suite over [[augmented]] with the same
    * `replicate`: the metadata checks of `ClipQueries.suite`, with refs
    * derived from the same replicated base, plus the two audio invariants. */
  def fullSuite(spark: SparkSession, sfDir: String, replicate: Int = 1): CheckSuite = {
    val base = ClipQueries.suite(spark, sfDir)
    base.copy(checks = base.checks ++ Seq(AudioQueries.SnrCheck, AudioQueries.DurCheck),
      refs = Map("refs" -> ClipsTable.refs(replicatedBase(spark, sfDir, replicate))))
  }

  /** Runs the pipeline to completion; returns (nClips, nBadRows, seconds). */
  def timed(spark: SparkSession, sfDir: String, replicate: Int = 1): (Long, Long, Double) = {
    val t0 = System.nanoTime()
    val rows = verdicts(spark, sfDir, replicate).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum, sec)
  }
}
