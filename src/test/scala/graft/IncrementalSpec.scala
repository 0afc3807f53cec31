package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.compile.CheckCompiler
import graft.io.TableFormat
import graft.queries.ClipQueries

/** Incremental validation over the TableFormat append lineage (round-6):
  * the manifest-diff delta scan, newly-formed-duplicate-only uniqueness,
  * and the incrementally-decomposed verdict drift. The invariants here are
  * the ones the DuckDB oracle cannot see from the outside: that the engine
  * read the DELTA (not the table), that v1-internal duplicate groups are
  * NOT re-reported, and that the drift decomposition
  * (before + delta + retro-flips) equals a direct full recompute. */
class IncrementalSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("readIncremental returns exactly the appended rows") {
    val table = ClipQueries.stagedIncrTable(spark, sfDir)
    val delta = TableFormat.readIncremental(spark, table, 1, 2)
    val expected = graft.clips.ClipsTable.base(spark, sfDir)
      .filter(col("ord") % 64 >= 32)
    assert(delta.count() == expected.count())
    // set identity on the key + a value column (the delta carries v2's
    // rows and ONLY v2's rows)
    assert(delta.select("clip_id", "sr_hz").exceptAll(
      expected.select("clip_id", "sr_hz")).isEmpty)
    assert(expected.select("clip_id", "sr_hz").exceptAll(
      delta.select("clip_id", "sr_hz")).isEmpty)
  }

  test("incrementalDupGroups distinguishes old-internal / crossing / delta-internal") {
    import spark.implicits._
    // old: k1 duplicated internally (pre-existing violation), k2 single,
    // k3 single; delta: k2 again (crossing), k4 twice (delta-internal),
    // k5 single (clean)
    val old = Seq("k1", "k1", "k2", "k3").toDF("id")
    val delta = Seq("k2", "k4", "k4", "k5").toDF("id")
    val got = CheckCompiler.incrementalDupGroups(old, delta, "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // k1 is absent: entirely inside the old snapshot, already reported when
    // the old commit was validated. k2 crossed (cnt_old=1 -> its old row's
    // verdict flips). k4 is delta-internal (cnt_old=0).
    assert(got == Set(("k2", 2L, 1L), ("k4", 2L, 0L)))
  }

  test("vc_incr reports only duplicate groups the append touched") {
    val incr = ClipQueries.incrementalViolations(spark, sfDir)
    val incrDups = incr.filter(col("check_name") === "unique_clip_id")
      .select("clip_id").collect().map(_.getString(0)).toSet
    // expected: ord%101 pairs (ord, ord+1) where at least one member has
    // ord%64 >= 32 — derived from the same base the table was committed
    // from, NOT from the engine's own lineage
    val base = graft.clips.ClipsTable.base(spark, sfDir)
      .select(col("clip_id"), col("ord"))
    val expected = base.groupBy("clip_id")
      .agg(count(lit(1)).as("cnt"),
        max(when(col("ord") % 64 >= 32, 1).otherwise(0)).as("touch"))
      .filter(col("cnt") > 1 && col("touch") === 1)
      .select("clip_id").collect().map(_.getString(0)).toSet
    assert(incrDups == expected)
    assert(incrDups.nonEmpty, "fixture must produce delta-touching groups")
    // and the v1-internal groups exist AND are excluded — the semantics
    // being different from plain global uniqueness is the whole point
    val allDups = base.groupBy("clip_id").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("clip_id")
      .collect().map(_.getString(0)).toSet
    assert(allDups.size > incrDups.size,
      "fixture must also produce v1-internal groups the incremental report excludes")
    // row/ref violations are delta-scoped: every reported key's ord is in
    // the delta (uniqueness keys excepted — a crossing group's key may
    // belong to a v1 row)
    val rowRefKeys = incr.filter(col("check_name") =!= "unique_clip_id")
      .select("clip_id").distinct()
    val deltaKeys = base.filter(col("ord") % 64 >= 32).select("clip_id")
    assert(rowRefKeys.exceptAll(rowRefKeys.intersect(deltaKeys)).isEmpty)
  }

  test("verdictDrift decomposition equals the direct full recompute") {
    // sf0.01, not sf0.001: the retro-flip term needs a duplicate group that
    // CROSSES the snapshot boundary (one member in v1, one in the delta),
    // and the ord%101 pairs only start crossing ord%64=31/32 at sf0.01
    // (5 crossing groups there; 0 at sf0.001 — fixture-design probe)
    val dir = "/root/testdata/sf0.01"
    val table = ClipQueries.stagedIncrTable(spark, dir)
    val s = ClipQueries.suite(spark, dir)
    val drift = ClipQueries.verdictDrift(spark, dir)
    // direct recompute: verdicts over the FULL v2 snapshot (one wide pass —
    // what the incremental path exists to avoid at 10^12 rows)
    val full = CheckCompiler.verdicts(
      TableFormat.read(spark, table, Some(2))
        .withColumn("bucket", col("bucket").cast("long")), s)
      .select(col("bucket"), col("n_bad").as("n_bad_full"))
    val joined = drift.join(full, Seq("bucket"))
    assert(joined.count() == 32)
    assert(joined.filter(col("n_bad_after") =!= col("n_bad_full")).isEmpty,
      "incremental n_bad_after must equal the full recompute per bucket")
    // the retro term is live on this fixture: some bucket's n_bad_after
    // must exceed n_bad_before + that bucket's delta-only bad count, i.e.
    // at least one crossing group flipped a v1 row
    val flipped = CheckCompiler.incrementalDupGroups(
      TableFormat.read(spark, table, Some(1)).select("clip_id"),
      TableFormat.readIncremental(spark, table, 1, 2).select("clip_id"),
      "clip_id").filter(col("cnt_old") === 1)
    assert(flipped.count() > 0, "fixture must exercise the retro-flip term")
  }

  test("verdictDrift leaves no cached frame behind") {
    // frames other suites in this session cached are not this test's subject
    spark.catalog.clearCache()
    ClipQueries.verdictDrift(spark, sfDir).collect()
    assert(spark.sharedState.cacheManager.isEmpty, "verdictDrift left a cached frame")
  }

  test("verdictDrift runs its duplicate-group shuffle once") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    // the three decomposition terms filter one (v1 keys ∪ delta keys)
    // aggregate; a consumer whose filter lets the optimizer prune cnt_old
    // would get an aggregate of its own, and with it a second key shuffle
    // that exchange reuse cannot match
    def clipShuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => clipShuffles(a.executedPlan)
      case q: QueryStageExec => clipShuffles(q.plan)
      case _: ReusedExchangeExec => Seq.empty
      case s: ShuffleExchangeExec =>
        val own = s.outputPartitioning match {
          case HashPartitioning(Seq(a: AttributeReference), _) if a.name == "clip_id" => Seq(s)
          case _ => Seq.empty
        }
        own ++ s.children.flatMap(clipShuffles)
      case other => other.children.flatMap(clipShuffles)
    }
    // sf0.01, where the retro-flip term is live (see the decomposition test)
    val drift = ClipQueries.verdictDrift(spark,
      java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString)
    drift.collect()
    val plan = drift.queryExecution.executedPlan
    assert(clipShuffles(plan).size == 1, s"clip_id-keyed shuffles in the final plan:\n$plan")
  }

  test("readIncremental refuses a base snapshot with an unreadable manifest") {
    import java.nio.file.{Files, Paths}
    // a corrupted base manifest makes dataDirs(from) empty; without the
    // guard the "delta" would silently become the FULL table
    val dir = graft.io.Scratch.register("graft-incr-corrupt")
    val df = graft.clips.ClipsTable.base(spark, sfDir).limit(64)
    TableFormat.commit(df, dir, "bucket")
    TableFormat.append(df, dir, "bucket")
    Files.writeString(Paths.get(dir, "metadata", "snap-1.json"), "{ truncated")
    val e = intercept[IllegalStateException] {
      TableFormat.readIncremental(spark, dir, 1, 2)
    }
    assert(e.getMessage.contains("lists no data dirs"))
  }

  test("incremental plans stay window-free (aggregate-based uniqueness)") {
    // same plan-shape guarantee as the batch paths (EngineSpec): uniqueness
    // is a hash aggregate with map-side partials, never a window funneling
    // a hot key into one task
    val p1 = ClipQueries.incrementalViolations(spark, sfDir)
      .queryExecution.executedPlan.toString
    val p2 = ClipQueries.verdictDrift(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Window"), "vc_incr plan must not contain a Window")
    assert(!p2.contains("Window"), "vc_verdict_drift plan must not contain a Window")
  }
}
