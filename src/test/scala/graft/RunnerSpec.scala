package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.clips.ClipsTable
import graft.queries.ClipQueries
import graft.run.Runner

/** Checkpoint/resume semantics: partial run -> resume -> exactly-once. */
class RunnerSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("partial run completes only maxBuckets; resume completes the rest exactly once") {
    val out = Files.createTempDirectory("graft-runner").toString
    val clips = ClipsTable.base(spark, sfDir)
    val suite = ClipQueries.suite(spark, sfDir)

    // first run "crashes" after 10 buckets
    val r1 = Runner.run(spark, clips, suite, out, maxBuckets = 10)
    assert(r1.processed.map(_.bucket).toSet.size == 10)
    assert(Runner.completedBuckets(out).size == 10)

    // resume: completes the remaining 22, skips the done ones
    val r2 = Runner.run(spark, clips, suite, out)
    assert(r2.skipped.size == 10)
    assert(Runner.completedBuckets(out).size == 32)

    // third run is a no-op
    val r3 = Runner.run(spark, clips, suite, out)
    assert(r3.processed.isEmpty && r3.skipped.size == 32)

    // accumulated verdicts equal the single-shot query, no duplicates
    val resumed = Runner.verdicts(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val oneShot = ClipQueries.verdicts(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(resumed == oneShot)
    assert(Runner.verdicts(spark, out).count() == 32)

    // violations accumulated across batches match the one-shot violation table
    val vResumed = Runner.violations(spark, out)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(3))).sorted
    val vOneShot = ClipQueries.violations(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(3))).sorted
    assert(vResumed.toSeq == vOneShot.toSeq)
  }

  test("scoped-input resume: outputs identical, cross-bucket duplicate still caught") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.dsl._
    // synthetic table over 8 buckets with one duplicate clip_id SPANNING
    // buckets 1 and 6 — the case a scoped batch input would silently miss
    // without the cheap full-table globalInput (the Runner guard's reason
    // to exist): batch 1 (buckets 0-3) owns the dup (min bucket 1) but
    // its second row lives in bucket 6, outside the batch's scoped input
    val rows = (0 until 64).map(i => (f"c$i%03d", i.toLong % 8, i.toLong)) ++
      Seq(("dup", 1L, 100L), ("dup", 6L, 101L))
    val df = rows.toDF("clip_id", "bucket", "ord")
    val suite = CheckSuite("clip_id", "bucket", Seq(Unique("clip_id")), Map.empty)

    // one-shot reference (full input, no scoping)
    val outRef = Files.createTempDirectory("graft-runner-ref").toString
    Runner.run(spark, df, suite, outRef, totalBuckets = 8)

    // scoped crash -> resume: the batch input carries ONLY todo buckets
    val out = Files.createTempDirectory("graft-runner-scoped").toString
    def scoped(todo: Seq[Long]) = df.filter(col("bucket").isin(todo: _*))
    val r1 = Runner.run(spark, df, suite, out, totalBuckets = 8, maxBuckets = 4,
      scopedInput = Some(scoped(_)), globalInput = Some(df))
    assert(r1.processed.map(_.bucket) == Seq(0L, 1L, 2L, 3L))
    val r2 = Runner.run(spark, df, suite, out, totalBuckets = 8,
      scopedInput = Some(scoped(_)), globalInput = Some(df))
    assert(r2.skipped.size == 4 && r2.processed.map(_.bucket) == Seq(4L, 5L, 6L, 7L))

    def verd(o: String) = Runner.verdicts(spark, o)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    def viol(o: String) = Runner.violations(spark, o)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(3))).toSeq.sorted
    assert(verd(out) == verd(outRef), s"scoped verdicts diverge: ${verd(out)} vs ${verd(outRef)}")
    assert(viol(out) == viol(outRef))
    // the cross-bucket dup was reported (owner bucket 1, batch 1) and both
    // of its rows flagged in their buckets' verdicts
    assert(viol(out).exists(_._1 == "dup"))
    assert(verd(out).toSeq.collect { case (b, _, bad, _) if b == 1 || b == 6 => bad }.sum == 2)

    // the guard: scoping without the global lineage is refused loudly
    val out3 = Files.createTempDirectory("graft-runner-guard").toString
    intercept[IllegalArgumentException] {
      Runner.run(spark, df, suite, out3, totalBuckets = 8,
        scopedInput = Some(scoped(_)))
    }
  }

  test("each batch derives its scoped input once, in a stopped run and its resume") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.dsl._
    // uneven bucket sizes, so a count of the wrong buckets cannot match
    val rows = (0 until 90).map(i => (f"c$i%03d", (i % 11).toLong % 8, i.toLong))
    val df = rows.toDF("clip_id", "bucket", "ord")
    val suite = CheckSuite("clip_id", "bucket", Seq(Unique("clip_id"),
      RowExpr("ord_odd", "ord", col("ord") % 2 === 1, col("ord").cast("string"))), Map.empty)
    // the typed map stands in for the expensive derivation (the fused synth)
    val derived = spark.sparkContext.longAccumulator("derived rows")
    def scoped(todo: Seq[Long]) = df.filter(col("bucket").isin(todo: _*))
      .as[(String, Long, Long)].map { r => derived.add(1); r }
      .toDF("clip_id", "bucket", "ord")
    def rowsIn(s: Runner.RunSummary) = {
      val bs = s.processed.map(_.bucket).toSet
      rows.count(r => bs(r._2)).toLong
    }
    val out = Files.createTempDirectory("graft-runner-once").toString
    val r1 = Runner.run(spark, df, suite, out, totalBuckets = 8, maxBuckets = 3,
      scopedInput = Some(scoped(_)), globalInput = Some(df))
    assert(r1.processed.size == 3 && derived.value == rowsIn(r1))
    derived.reset()
    val r2 = Runner.run(spark, df, suite, out, totalBuckets = 8,
      scopedInput = Some(scoped(_)), globalInput = Some(df))
    assert(r2.skipped.size == 3 && derived.value == rowsIn(r2))
    assert(rowsIn(r1) + rowsIn(r2) == rows.size)
  }

  test("bucket-aligned exchange writes one parquet file per bucket dir") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.dsl._
    // keys interleaved across buckets: every bucket spans the whole key
    // range, and every row fails the row check
    val df = (0 until 64).map(i => (f"c$i%03d", i.toLong % 8, i.toLong))
      .toDF("clip_id", "bucket", "ord")
    val suite = CheckSuite("clip_id", "bucket",
      Seq(RowExpr("ord_nonneg", "ord", col("ord") >= 0, col("ord").cast("string"))),
      Map.empty)
    val out = Files.createTempDirectory("graft-runner-layout").toString
    Runner.run(spark, df, suite, out, totalBuckets = 8)
    assert(Runner.violations(spark, out).count() == 64)
    for (b <- 0 until 8) {
      val files = scala.util.Using.resource(Files.list(java.nio.file.Paths.get(out, "violations", s"bucket=$b")))(
        _.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")))
      assert(files == 1, s"violations/bucket=$b holds $files parquet files")
    }
  }

  test("duplicate groups ride the checked rows: one file per bucket dir, no exchange in the write") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    import graft.dsl._
    // key i % 13 over bucket i % 8: every duplicate group spans buckets;
    // two NULL keys in different buckets; one row twice, so its row
    // violation must be written twice
    val rows = (0 until 40).map(i => (Option(f"c${i % 13}%03d"), i.toLong % 8, i.toLong)) ++
      Seq((None, 2L, 40L), (None, 5L, 41L), (Some("c099"), 3L, 42L), (Some("c099"), 3L, 42L))
    val df = rows.toDF("clip_id", "bucket", "ord")
    val suite = CheckSuite("clip_id", "bucket", Seq(Unique("clip_id"),
      RowExpr("ord_even", "ord", col("ord") % 2 === 0, col("ord").cast("string"))), Map.empty)
    // a row check cannot pose as a group entry: check names key the rows
    assertThrows[IllegalArgumentException](CheckSuite("clip_id", "bucket", Seq(Unique("clip_id"),
      RowExpr("unique_clip_id", "clip_id", col("ord") > 0, col("ord").cast("string")))))
    val out = Files.createTempDirectory("graft-runner-groups").toString
    val writes = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val helper = new AdaptiveSparkPlanHelper {}
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (helper.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty)
          writes.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)
    try {
      Runner.run(spark, df, suite, out, totalBuckets = 8)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(qeListener)

    val groups = rows.groupBy(_._1).filter(_._2.size > 1)
    val want = (rows.collect { case (k, b, o) if o % 2 == 0 => Seq(k.orNull, "ord_even", "ord", o, b) } ++
      groups.map { case (k, rs) => Seq(k.orNull, "unique_clip_id", "clip_id", rs.size, rs.map(_._2).min) })
      .map(_.mkString("|")).sorted
    val got = spark.read.schema(graft.compile.CheckCompiler.ViolationSchema).parquet(s"$out/violations")
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(got == want)
    val dirs = scala.util.Using.resource(Files.list(java.nio.file.Paths.get(out, "violations")))(
      _.iterator().asScala.filter(Files.isDirectory(_)).toList)
    assert(dirs.size == want.map(_.split('|').last).distinct.size)
    dirs.foreach { d =>
      val files = scala.util.Using.resource(Files.list(d))(
        _.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")))
      assert(files == 1, s"violations/${d.getFileName} holds $files parquet files")
    }
    // the group rows come from the cached rows, not a second duplicate aggregate
    assert(writes.size == 1, s"${writes.size} write plans captured")
    assert(helper.collect(writes.get(0)) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"violations write plan has an exchange:\n${writes.get(0)}")
  }

  test("Runner.run leaves no cached frame behind, after success and after a failed write") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.dsl._
    val df = (0 until 40).map(i => (f"c${i % 30}%03d", i.toLong % 4, i.toLong))
      .toDF("clip_id", "bucket", "ord")
    val suite = CheckSuite("clip_id", "bucket", Seq(Unique("clip_id"),
      RowExpr("ord_odd", "ord", col("ord") % 2 === 1, col("ord").cast("string"))), Map.empty)
    val cacheManager = spark.sharedState.cacheManager
    // frames other suites in this session cached are not this test's subject
    spark.catalog.clearCache()
    val ok = Files.createTempDirectory("graft-runner-cache-ok").toString
    Runner.run(spark, df, suite, ok, totalBuckets = 4)
    assert(Runner.completedBuckets(ok).size == 4)
    assert(cacheManager.isEmpty, "a successful run left a cached frame")
    // a regular file where the violations dir goes: the write throws
    val bad = Files.createTempDirectory("graft-runner-cache-fail").toString
    Files.writeString(java.nio.file.Paths.get(bad, "violations"), "not a dir")
    intercept[Exception](Runner.run(spark, df, suite, bad, totalBuckets = 4))
    assert(Runner.completedBuckets(bad).isEmpty)
    assert(cacheManager.isEmpty, "a failed run left a cached frame")
  }

  test("verdict records agree on an empty bucket; an in-sync snapshot sync runs no Spark job") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.dsl._
    import graft.io.TableFormat
    // 8 buckets, bucket 5 holds no rows; odd ords fail the row check
    val rows = (0 until 70).map(i => (f"c$i%03d", Seq(0L, 1L, 2L, 3L, 4L, 6L, 7L)(i % 7), i.toLong))
    val df = rows.toDF("clip_id", "bucket", "ord")
    val suite = CheckSuite("clip_id", "bucket",
      Seq(RowExpr("ord_odd", "ord", col("ord") % 2 === 1, col("ord").cast("string"))), Map.empty)
    val want = (0L until 8L).map { b =>
      val in = rows.filter(_._2 == b)
      val bad = in.count(_._3 % 2 == 1).toLong
      (b, in.size.toLong, bad, bad == 0)
    }
    val out = Files.createTempDirectory("graft-runner-agree").toString
    val table = s"$out/verdict_table"
    // stopped after 4 buckets, then resumed: the empty bucket is in the resume
    val r1 = Runner.run(spark, df, suite, out, totalBuckets = 8, maxBuckets = 4,
      snapshotTable = Some(table))
    val r2 = Runner.run(spark, df, suite, out, totalBuckets = 8, snapshotTable = Some(table))
    def tuples(rs: Seq[Runner.BucketResult]) = rs.map(r => (r.bucket, r.nRows, r.nBad, r.pass))
    val fromRuns = tuples(r1.processed ++ r2.processed).sortBy(_._1)
    val fromDir = Runner.verdicts(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    val fromTable = TableFormat.read(spark, table).collect()
      .map(r => (r.getAs[Number]("bucket").longValue(), r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_bad"), r.getAs[Boolean]("pass"))).toSeq.sortBy(_._1)
    assert(fromRuns == want)
    assert(fromDir == want)
    assert(fromTable == want)
    assert(!Files.exists(java.nio.file.Paths.get(out, "verdicts")))

    // syncing a table that already holds every manifested bucket reads
    // metadata only: no Spark job starts before the marker job
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobGroups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      Runner.syncSnapshot(spark, out, table)
      sc.setJobGroup("after-sync", "marker")
      spark.range(4).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobGroups.contains("after-sync") && System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    assert(jobGroups.contains("after-sync"), "marker job never reached the listener")
    val beforeMarker = jobGroups.asScala.takeWhile(_ != "after-sync").toSeq
    assert(beforeMarker.isEmpty, s"in-sync syncSnapshot ran ${beforeMarker.size} Spark jobs")
  }

  test("verdict snapshots track the manifest, incl. backfill after a trailing crash") {
    val out = Files.createTempDirectory("graft-runner-snap").toString
    val table = Files.createTempDirectory("graft-verdict-table").toString
    val clips = ClipsTable.base(spark, sfDir)
    val suite = ClipQueries.suite(spark, sfDir)

    // batch 1 runs WITHOUT the snapshot binding — simulates a crash after
    // the manifest rename but before the snapshot append
    Runner.run(spark, clips, suite, out, maxBuckets = 10)
    // batch 2 runs with it: syncSnapshot must first backfill batch 1
    Runner.run(spark, clips, suite, out, snapshotTable = Some(table))

    import graft.io.TableFormat
    val snap = TableFormat.read(spark, table)
      .collect().map(r => (r.getAs[Number]("bucket").longValue(),
        r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(snap.length == 32)
    assert(snap.map(_._1).toSet == (0L until 32L).toSet)
    val oneShot = ClipQueries.verdicts(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(snap.map(t => (t._1, t._2, t._3, t._4)).toSet == oneShot)
    // time travel: the backfill snapshot holds only batch-1 buckets
    assert(TableFormat.read(spark, table, Some(1)).count() == 10)
    // re-run is a no-op: no new snapshot
    val vBefore = TableFormat.currentVersion(table)
    Runner.run(spark, clips, suite, out, snapshotTable = Some(table))
    assert(TableFormat.currentVersion(table) == vBefore)
  }

  test("crash before the batch manifest commit -> retry is idempotent (no duplicate rows)") {
    val out = Files.createTempDirectory("graft-runner-crash").toString
    val clips = ClipsTable.base(spark, sfDir)
    val suite = ClipQueries.suite(spark, sfDir)

    // batch 1 completes normally
    Runner.run(spark, clips, suite, out, maxBuckets = 10)
    // batch 2 "crashes" AFTER its parquet writes but BEFORE the manifest
    // rename: simulate by running it fully, then deleting its manifest
    Runner.run(spark, clips, suite, out, maxBuckets = 10)
    val batchFiles = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
    Files.list(java.nio.file.Paths.get(out, "_manifest")).forEach { p =>
      if (p.getFileName.toString.startsWith("batch-")) batchFiles += p
    }
    assert(batchFiles.size == 2)
    // delete the newer manifest (the one whose bucket set includes bucket 10)
    val victim = batchFiles.find { p =>
      Files.readString(p).contains("\"bucket\": 10")
    }.get
    Files.delete(victim)
    assert(Runner.completedBuckets(out).size == 10)

    // retry recomputes the SAME todo set into the SAME batch dir, then all
    // remaining buckets; read-back must hold exactly one row per bucket
    Runner.run(spark, clips, suite, out)
    assert(Runner.completedBuckets(out).size == 32)
    val verdicts = Runner.verdicts(spark, out).collect()
    assert(verdicts.length == 32)
    assert(verdicts.map(_.getLong(0)).toSet.size == 32)
    val oneShot = ClipQueries.verdicts(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(verdicts.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet == oneShot)
  }

  test("the bucket exchange follows the session's shuffle partitions, not totalBuckets") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import spark.implicits._
    import graft.dsl._
    // 32 buckets, every one holding failing rows; the spec's session has 4
    // shuffle partitions
    val df = (0 until 320).map(i => (f"c$i%03d", i.toLong % 32, i.toLong))
      .toDF("clip_id", "bucket", "ord")
    val suite = CheckSuite("clip_id", "bucket",
      Seq(RowExpr("ord_3", "ord", col("ord") % 3 === 1, col("ord").cast("string"))), Map.empty)
    val out = Files.createTempDirectory("graft-runner-parallelism").toString
    // tasks run per job, and the job whose result stage writes the violations
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val writeJobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageIds.foreach(stageJob.put(_, e.jobId))
        if (e.stageInfos.maxBy(_.stageId).name.startsWith("parquet at Runner.scala")) writeJobs.add(e.jobId)
        jobGroups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).foreach(j => jobTasks.merge(j, 1, Integer.sum))
    }
    val plans = new java.util.concurrent.CopyOnWriteArrayList[org.apache.spark.sql.execution.SparkPlan]()
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      Runner.run(spark, df, suite, out, totalBuckets = 32)
      sc.setJobGroup("after-run", "marker")
      spark.range(4).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobGroups.contains("after-run") && System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    assert(Runner.completedBuckets(out).size == 32)
    assert(writeJobs.size == 1, s"${writeJobs.size} violations write jobs")
    val writeTasks = jobTasks.getOrDefault(writeJobs.peek, 0)
    assert(writeTasks >= 1 && writeTasks <= 5, s"the violations write ran $writeTasks tasks")
    // hashing keeps each bucket whole: one file per bucket dir
    for (b <- 0 until 32) {
      val files = scala.util.Using.resource(Files.list(java.nio.file.Paths.get(out, "violations", s"bucket=$b")))(
        _.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")))
      assert(files == 1, s"violations/bucket=$b holds $files parquet files")
    }
    // the verdict aggregate reads the cached rows with no exchange of its own
    val helper = new AdaptiveSparkPlanHelper {}
    val verdictPlans = plans.asScala.filter(p => helper.collect(p) { case s: InMemoryTableScanExec => s }.nonEmpty)
    assert(verdictPlans.size == 1, s"${verdictPlans.size} collects over the cached rows")
    assert(helper.collect(verdictPlans.head) { case e: Exchange => e }.isEmpty,
      s"verdict aggregate plan has an exchange:\n${verdictPlans.head}")
  }

  test("an unreadable batch manifest: its buckets recompute, outputs equal a clean run's") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.dsl._
    val df = (0 until 90).map(i => (f"c${i % 80}%03d", (i % 11).toLong % 8, i.toLong))
      .toDF("clip_id", "bucket", "ord")
    val suite = CheckSuite("clip_id", "bucket", Seq(Unique("clip_id"),
      RowExpr("ord_odd", "ord", col("ord") % 2 === 1, col("ord").cast("string"))), Map.empty)
    def verd(o: String) = Runner.verdicts(spark, o)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    def viol(o: String) = Runner.violations(spark, o)
      .collect().map(_.mkString("|")).toSeq.sorted
    val clean = Files.createTempDirectory("graft-runner-clean").toString
    Runner.run(spark, df, suite, clean, totalBuckets = 8)

    val out = Files.createTempDirectory("graft-runner-torn").toString
    val r1 = Runner.run(spark, df, suite, out, totalBuckets = 8, maxBuckets = 3)
    Runner.run(spark, df, suite, out, totalBuckets = 8)
    assert(Runner.completedBuckets(out).size == 8)
    // the first batch's manifest no longer parses (a torn or corrupted file)
    val manifest = scala.util.Using.resource(Files.list(java.nio.file.Paths.get(out, "_manifest")))(
      _.iterator().asScala.filter(p => Files.readString(p).contains("\"bucket\": 0,")).toList)
    assert(manifest.size == 1)
    val text = Files.readString(manifest.head)
    Files.writeString(manifest.head, text.take(text.length / 2))
    assert(Runner.completedBuckets(out) == (3L until 8L).toSet)

    // the re-run recomputes exactly that batch's buckets into the same dirs
    val r3 = Runner.run(spark, df, suite, out, totalBuckets = 8)
    assert(r3.processed.map(_.bucket) == r1.processed.map(_.bucket))
    assert(verd(out) == verd(clean))
    assert(viol(out) == viol(clean))
  }
}
