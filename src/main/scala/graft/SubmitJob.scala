package graft

import org.apache.spark.sql.SparkSession

import graft.run.{Runner, ValidationPipeline}

/** spark-submit entry for the COMPLETE production lifecycle — the north
  * rule end to end in one launch: validate the clips table (metadata checks
  * + the two audio invariants from the fused synth pass), write the
  * violation rows as a partitioned side table, commit a per-batch
  * checkpoint manifest (lineage + metrics + per-bucket pass/fail
  * verdicts), and bind the verdicts to an Iceberg-layout snapshot table.
  * Re-running the same command resumes: completed buckets are skipped
  * (their manifests exist), so a crashed run continues where it stopped
  * and a finished run is a no-op.
  *
  * {{{
  * spark-submit --master local[24] --class graft.SubmitJob <jar> <sfDir> <outDir> [maxBuckets]
  * }}}
  *
  * `maxBuckets` bounds how many of the remaining buckets this invocation
  * completes (simulates a mid-run crash for the resume demonstration).
  * Prints one JSON line: processed/skipped bucket counts, row totals, wall.
  */
object SubmitJob {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_submit_job"
    val maxBuckets = if (args.length > 2) args(2).toInt else Int.MaxValue
    val spark = SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // follow the granted cores unless the submit set partitions EXPLICITLY —
    // probe the SparkConf (only explicit settings), not RuntimeConfig.get,
    // which silently returns the registered "200" default for this key
    if (!spark.sparkContext.getConf.contains("spark.sql.shuffle.partitions"))
      spark.conf.set("spark.sql.shuffle.partitions",
        spark.sparkContext.defaultParallelism.toString)

    val t0 = System.nanoTime()
    val aug = ValidationPipeline.augmented(spark, sfDir)
    val suite = ValidationPipeline.fullSuite(spark, sfDir)
    // proportional resume (round-6): the expensive fused synth pass runs
    // only for the todo buckets; the global uniqueness aggregate reads the
    // cheap metadata lineage instead (Runner.scopedInput scaladoc) — a
    // resumed invocation's wall tracks the REMAINING fraction, not the
    // full input
    val summary = Runner.run(spark, aug, suite, outDir,
      maxBuckets = maxBuckets, snapshotTable = Some(s"$outDir/verdict_table"),
      scopedInput =
        Some(todo => ValidationPipeline.augmented(spark, sfDir, buckets = Some(todo))),
      globalInput = Some(ValidationPipeline.replicatedBase(spark, sfDir, 1)))
    val sec = (System.nanoTime() - t0) / 1e9
    val nRows = summary.processed.map(_.nRows).sum
    val nBad = summary.processed.map(_.nBad).sum
    println(f"""{"master":"${spark.sparkContext.master}","processed_buckets":${summary.processed.size},"skipped_buckets":${summary.skipped.size},"rows":$nRows,"bad_rows":$nBad,"sec":$sec%.3f}""")
    spark.stop()
  }
}
