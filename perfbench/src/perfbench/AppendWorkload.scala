package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.{Drift, Histogram, TDigestAggregator}
import graft.clips.ClipsTable
import graft.compile.CheckCompiler
import graft.dsl.Unique
import graft.io.TableFormat
import graft.queries.ClipQueries

/** A growing clips table: commit a base snapshot, then append cycles that
  * each commit one delta and validate only the delta, then compaction and
  * snapshot expiry. No audio is involved. */
final class AppendWorkload(spark: SparkSession, seed: Long) extends Workload {
  val NBase = 10000
  val NDelta = 1000
  val Cycles = 2
  /** Up to this many base keys re-sent per delta; each re-sent key forms a
    * new duplicate group with its base row. */
  val MaxReplays = 6
  val Ps = Seq(0.25, 0.5, 0.75, 0.95, 0.99)

  private var input: String = _
  private var base: Array[Long] = _
  private var deltas: Seq[Array[Long]] = _

  def setup(dir: String): Unit = {
    val rng = new SplittableRandom(seed)
    base = Gen.keysWithGaps(rng, NBase, 1L + rng.nextInt(1000))
    var next = base.last + 1
    deltas = (0 until Cycles).map { _ =>
      val fresh = Gen.keysWithGaps(rng, NDelta, next)
      next = fresh.last + 1 + rng.nextInt(3)
      fresh ++ Array.fill(rng.nextInt(MaxReplays + 1))(base(rng.nextInt(base.length)))
    }
    // refs is the reference registry: one row per key ever committed
    Gen.writeOrders(spark,
      Seq("base" -> base.toSeq, "refs" -> (base ++ deltas.flatten).distinct.toSeq) ++
        deltas.zipWithIndex.map { case (d, i) => s"delta-$i" -> d.toSeq }, rng, dir)
    input = dir
  }

  private def ords(table: String): Seq[Long] =
    TableFormat.read(spark, table).select("ord").collect().map(_.getLong(0)).toSeq.sorted

  /** The base commit and one append cycle, without compaction. */
  override def warmup(opDir: String, t: Tracer): Unit = commitAndAppend(opDir, t, 1)

  /** Commits the base and appends and validates `cycles` deltas; returns
    * the table, the committed keys and the checks that failed. */
  private def commitAndAppend(opDir: String, t: Tracer, cycles: Int)
      : (String, Seq[Long], mutable.Buffer[String]) = {
    val in = s"$opDir/in"
    Files2.copyTree(input, in)
    val table = s"$opDir/table"
    val bad = mutable.Buffer[String]()
    import Workload.check
    val suite = ClipQueries.suite(spark, s"$in/refs")
    val rowRef = suite.copy(checks = suite.checks.filterNot(_.isInstanceOf[Unique]))
    val refs = Oracle.refKeys(base ++ deltas.flatten)

    t.step("io.commit")(TableFormat.commit(ClipsTable.base(spark, s"$in/base"), table, "bucket"))
    var committed: Seq[Long] = base.toSeq
    deltas.take(cycles).zipWithIndex.foreach { case (d, i) =>
      val v = t.step("io.append")(
        TableFormat.append(ClipsTable.base(spark, s"$in/delta-$i"), table, "bucket"))
      val (viol, dups, (hd, hp, ks), (qd, qp)) = t.step("validate.delta") {
        val delta = TableFormat.readIncremental(spark, table, v - 1, v)
        val prev = TableFormat.read(spark, table, Some(v - 1))
        val viol = t.step("compile.delta_violations")(
          CheckCompiler.violations(delta, rowRef).select("clip_id", "check_name").collect())
        val dups = t.step("compile.dup_groups")(CheckCompiler
          .incrementalDupGroups(prev.select("clip_id"), delta.select("clip_id"), "clip_id")
          .collect())
        val drift = t.step("agg.drift") {
          def hist(df: DataFrame): Array[Long] =
            df.agg(Histogram.sketch(col("dur_ms"), 20.0, 500.0, 48).as("h"))
              .head().getStruct(0).getSeq[Long](0).toArray
          val (a, b) = (hist(delta), hist(prev))
          (a, b, Drift.ksBinned(a, b))
        }
        val quantiles = t.step("agg.quantile") {
          def q(df: DataFrame): Seq[Double] =
            df.agg(TDigestAggregator.quantiles(col("dur_ms"), Ps).as("q"))
              .head().getSeq[Double](0)
          (q(delta), q(prev))
        }
        (viol, dups, drift, quantiles)
      }

      val gotViol = viol.map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      val wantViol = Oracle.deltaViolations(d.toSeq, refs).sorted
      check(gotViol == wantViol,
        s"delta $i violations differ: ${gotViol.diff(wantViol).take(3)} vs ${wantViol.diff(gotViol).take(3)}", bad)
      val gotDups = dups.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val wantDups = Oracle.newDupGroups(committed, d.toSeq)
      check(gotDups == wantDups, s"delta $i dup groups $gotDups, recompute $wantDups", bad)
      val (wd, wp) = (Oracle.durHist(d.toSeq), Oracle.durHist(committed))
      check(hd.sameElements(wd) && hp.sameElements(wp), s"delta $i dur_ms histograms differ", bad)
      check(math.abs(ks - Oracle.ks(wd, wp)) < 1e-12, s"delta $i ks $ks, recompute ${Oracle.ks(wd, wp)}", bad)
      for ((qs, keys) <- Seq(qd -> d.toSeq, qp -> committed)) {
        val durs = keys.map(Oracle.durMs).toArray
        Ps.zip(qs).foreach { case (p, q) =>
          check(Oracle.quantileOk(durs, p, q, 0.01), s"delta $i: $q is no $p-quantile", bad)
        }
      }
      committed = committed ++ d
    }
    (table, committed, bad)
  }

  def op(opDir: String, t: Tracer): OpResult = {
    val (table, committed, bad) = commitAndAppend(opDir, t, Cycles)
    import Workload.check
    val wantOrds = committed.sorted
    check(ords(table) == wantOrds, "snapshot read before compaction differs from the committed rows", bad)
    t.record("io.data_dirs", TableFormat.dataDirs(table, TableFormat.currentVersion(table).get).size)
    t.record("io.files", Files2.count(table, ".parquet"))
    t.step("io.maintain") {
      t.step("io.compact")(TableFormat.compact(spark, table))
      t.step("io.expire")(TableFormat.expireSnapshots(table))
    }
    check(ords(table) == wantOrds, "snapshot read after compaction differs from the committed rows", bad)

    OpResult(Files2.bytes(table) / 1e6,
      Map("commit_s" -> Stats.median(t.walls("io.append")),
        "delta_validate_s" -> Stats.median(t.walls("validate.delta")),
        "maintain_s" -> t.wall("io.maintain")),
      bad.toSeq)
  }

  def probes(opDir: String, t: Tracer): Unit = {
    val in = s"$opDir/in"
    val table = s"$opDir/table"
    t.step("clips.derive") {
      Workload.force(ClipsTable.base(spark, s"$in/base"))
      Workload.force(ClipsTable.refs(spark, s"$in/refs"))
    }
    // compaction rewrites `bucket` as int (read back by partition
    // discovery) and the table then refuses an append whose bucket is
    // bigint, so the delta scan is timed on a fresh two-snapshot table
    val fresh = s"$opDir/probe-table"
    TableFormat.commit(ClipsTable.base(spark, s"$in/base"), fresh, "bucket")
    val v = TableFormat.append(ClipsTable.base(spark, s"$in/delta-0"), fresh, "bucket")
    t.step("io.read_incremental")(Workload.force(TableFormat.readIncremental(spark, fresh, v - 1, v)))
    t.step("io.read")(Workload.force(TableFormat.read(spark, table)))
    t.step("compile.full_verdicts")(
      CheckCompiler.verdicts(TableFormat.read(spark, table), ClipQueries.suite(spark, s"$in/refs")).collect())
  }
}
