package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.compile.CheckCompiler
import graft.dsl._
import graft.run.Runner

/** Differential test of the check semantics stated in CheckCompiler's
  * scaladoc: compiled verdicts and violations against a direct Scala
  * recompute, over seeded inputs built here that hold NULL keys, an empty
  * bucket, duplicate keys spanning buckets, a ref table with NULL and
  * duplicate keys, and a row predicate that evaluates to NULL. */
class CheckSemanticsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Buckets = 8

  private final case class In(key: Option[String], bucket: Long, ord: Long,
      x: Option[Int], code: Option[String])

  /** `Unique(clip_id)`, `RefIntegrity(code, codes)` and `x > 5`, which is
    * NULL where `x` is NULL. */
  private def suite(refs: DataFrame) = CheckSuite("clip_id", "bucket", Seq(
    Unique("clip_id"),
    RefIntegrity("code", "codes"),
    RowExpr("x_big", "x", col("x") > 5, col("x").cast("string"))),
    Map("codes" -> refs))

  /** Seeded rows over [[Buckets]] buckets, one of them empty, and the ref
    * keys: `c0`..`c4` minus one, with a NULL and duplicates. */
  private def gen(seed: Long): (Seq[In], Seq[Option[String]]) = {
    val rng = new Random(seed)
    val empty = rng.nextInt(Buckets).toLong
    val full = (0L until Buckets.toLong).filterNot(_ == empty)
    def opt[A](p: Double)(a: => A) = if (rng.nextDouble() < p) None else Some(a)
    val rows = (0 until 60).map { i =>
      In(opt(0.1)(s"k${rng.nextInt(40)}"), full(rng.nextInt(full.size)), i.toLong,
        opt(0.3)(rng.nextInt(10)), opt(0.1)(s"c${rng.nextInt(5)}"))
    } ++ Seq( // two NULL keys in different buckets, always
      In(None, full.head, 100L, Some(1), Some("c0")),
      In(None, full.last, 101L, None, Some("c0")))
    val absent = s"c${rng.nextInt(5)}"
    val refs = (0 until 5).map(j => s"c$j").filterNot(_ == absent).flatMap(c => Seq(Some(c), Some(c))) :+
      Option.empty[String]
    (rows, refs)
  }

  private def frames(rows: Seq[In], refs: Seq[Option[String]]): (DataFrame, DataFrame) = {
    import spark.implicits._
    (rows.map(r => (r.key, r.bucket, r.ord, r.x, r.code)).toDF("clip_id", "bucket", "ord", "x", "code"),
      refs.toDF("code"))
  }

  private type Violation = (Option[String], String, String, Option[String], Long)

  /** The stated rules, directly: NULL keys group together under Unique, a
    * NULL never matches a ref key, a NULL predicate does not fire. */
  private def expected(rows: Seq[In], refs: Seq[Option[String]], scope: Set[Long])
      : (Set[(Long, Long, Long, Boolean)], Seq[Violation]) = {
    val groups = rows.groupBy(_.key).filter(_._2.size > 1)
    val refKeys = refs.flatten.toSet
    def missing(r: In) = !r.code.exists(refKeys)
    def big(r: In) = r.x.exists(_ > 5)
    val inScope = rows.filter(r => scope(r.bucket))
    val verdicts = inScope.groupBy(_.bucket).map { case (b, rs) =>
      val bad = rs.count(r => big(r) || missing(r) || groups.contains(r.key)).toLong
      (b, rs.size.toLong, bad, bad == 0)
    }.toSet
    val perRow = inScope.flatMap { r =>
      (if (big(r)) Seq((r.key, "x_big", "x", r.x.map(_.toString), r.bucket)) else Nil) ++
        (if (missing(r)) Seq((r.code, "ref_code_codes", "code", Some("missing_ref"), r.bucket)) else Nil)
    }
    val dups = groups.toSeq.collect { case (k, rs) if scope(rs.map(_.bucket).min) =>
      (k, "unique_clip_id", "clip_id", Some(rs.size.toString), rs.map(_.bucket).min)
    }
    (verdicts, sortV(perRow ++ dups))
  }

  private def sortV(v: Seq[Violation]) = v.sortBy(t => (t._1.toString, t._2, t._4.toString, t._5))

  private def verdictSet(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet

  private def violationSeq(df: DataFrame): Seq[Violation] = sortV(df.collect().toSeq.map(r =>
    (Option(r.getString(0)), r.getString(1), r.getString(2), Option(r.getString(3)), r.getLong(4))))

  test("verdicts and violations equal a direct recompute of the stated semantics") {
    for (seed <- 1L to 4L) {
      val (rows, refList) = gen(seed)
      val (df, refs) = frames(rows, refList)
      val rng = new Random(seed * 31)
      val scope = (0L until Buckets.toLong).filter(_ => rng.nextBoolean())
      val (wantVerdicts, wantViolations) = expected(rows, refList, scope.toSet)
      val scoped = df.filter(col("bucket").isin(scope: _*))
      val s = suite(refs)
      assert(verdictSet(CheckCompiler.verdicts(scoped, s, Some(scope), Some(df))) == wantVerdicts,
        s"seed $seed scope $scope")
      assert(violationSeq(CheckCompiler.violationsWithBucket(scoped, s, Some(scope), Some(df)))
        == wantViolations, s"seed $seed scope $scope")
      // the fixture exercises every rule it claims to
      assert(rows.groupBy(_.key).get(None).exists(_.map(_.bucket).distinct.size > 1))
      assert(rows.exists(r => r.x.isEmpty) && rows.exists(_.code.isEmpty))
    }
  }

  test("incrementalDupGroups and the dupKeys seam equal a direct recompute") {
    import spark.implicits._
    for (seed <- 1L to 4L) {
      val (rows, refList) = gen(seed)
      val (df, refs) = frames(rows, refList)
      // old and delta keys: a seeded split of the rows; the two fixed NULL
      // keys (ord 100 and 101) land on different sides
      val rng = new Random(seed * 17)
      val (oldRows, deltaRows) = rows.partition(r => r.ord == 100 || (r.ord < 100 && rng.nextBoolean()))
      val (old, delta) = (oldRows.map(_.key), deltaRows.map(_.key))
      val oldCnt = old.groupBy(identity).map { case (k, ks) => k -> ks.size.toLong }
      val want = (old ++ delta).groupBy(identity).toSeq.collect {
        case (k, ks) if ks.size > oldCnt.getOrElse(k, 0L) && ks.size > 1 =>
          (k, ks.size.toLong, oldCnt.getOrElse(k, 0L))
      }.toSet
      val got = CheckCompiler.incrementalDupGroups(old.toDF("clip_id"), delta.toDF("clip_id"), "clip_id")
        .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"seed $seed")
      assert(want.exists(_._1.isEmpty), s"seed $seed: no NULL-key group spans the append")

      // a caller-supplied duplicated-key frame agrees with the compiler's own aggregate
      val s = suite(refs)
      val dupKeys = rows.groupBy(_.key).filter(_._2.size > 1).keys.toSeq.toDF("clip_id")
      val own = verdictSet(CheckCompiler.verdicts(df, s))
      assert(verdictSet(CheckCompiler.verdicts(df, s, dupKeys = Map("clip_id" -> dupKeys))) == own,
        s"seed $seed")
      assert(own == expected(rows, refList, (0L until Buckets.toLong).toSet)._1, s"seed $seed")
    }
  }

  test("a stopped-then-resumed scoped Runner run equals one fresh run and the recompute") {
    for (seed <- 5L to 6L) {
      val (rows, refList) = gen(seed)
      val (df, refs) = frames(rows, refList)
      val s = suite(refs)
      val fresh = Files.createTempDirectory("graft-sem-fresh").toString
      Runner.run(spark, df, s, fresh, totalBuckets = Buckets)
      val out = Files.createTempDirectory("graft-sem-resumed").toString
      def scoped(todo: Seq[Long]) = df.filter(col("bucket").isin(todo: _*))
      val stopAfter = 1 + new Random(seed).nextInt(Buckets - 1)
      Runner.run(spark, df, s, out, totalBuckets = Buckets, maxBuckets = stopAfter,
        scopedInput = Some(scoped(_)), globalInput = Some(df))
      Runner.run(spark, df, s, out, totalBuckets = Buckets,
        scopedInput = Some(scoped(_)), globalInput = Some(df))

      val (wantVerdicts, wantViolations) = expected(rows, refList, (0L until Buckets.toLong).toSet)
      // the empty bucket completes as (b, 0, 0, true) in the manifest
      val manifested = wantVerdicts ++ (0L until Buckets.toLong)
        .filterNot(b => rows.exists(_.bucket == b)).map(b => (b, 0L, 0L, true))
      assert(verdictSet(Runner.verdicts(spark, out)) == manifested, s"seed $seed")
      assert(verdictSet(Runner.verdicts(spark, fresh)) == manifested, s"seed $seed")
      def written(o: String) = violationSeq(
        spark.read.schema(CheckCompiler.ViolationSchema).parquet(s"$o/violations"))
      assert(written(out) == wantViolations, s"seed $seed stopped after $stopAfter")
      assert(written(fresh) == wantViolations, s"seed $seed")
    }
  }
}
