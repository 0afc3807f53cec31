package graft.compile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

import graft.dsl._

/** Compiles a [[graft.dsl.CheckSuite]] into Catalyst plans.
  *
  * One lowering, [[checkedRows]], turns a suite into one row per input row
  * in `scope`: its `bucket`, a `__bad` flag and the array `__v` of its
  * violation structs, a duplicate group's on its rows in the group's owner
  * bucket. [[violationsWithBucket]] explodes `__v`, one row per group;
  * [[verdicts]] groups the same rows by bucket. Both therefore read the
  * same predicates, the same ref joins and the same duplicate aggregate.
  *
  * Semantics, the same on every path that goes through here (batch
  * queries, the headline `ValidationPipeline.verdicts` and with it
  * `graft.Bench`'s clips/s, the Runner's scoped resume, `vc_incr`,
  * verdict drift):
  *   - a row check fires where its `failWhen` is TRUE; a NULL predicate
  *     does not fire;
  *   - [[Unique]]: a row is bad when its key occurs more than once in the
  *     global key source (`globalDf`, else `df`). NULL is one key value, as
  *     in GROUP BY: two NULL keys are duplicates of each other (the flags
  *     join back null-safe, `<=>`). Each duplicate group is reported once,
  *     with its size as detail, owned by its minimum bucket, and only when
  *     that owner is in `scope` (its rows in the owner bucket report it);
  *   - [[RefIntegrity]]: a row is bad when its value equals no key in the
  *     first column of the ref table. NULL equals nothing, so a NULL value
  *     is always a violation and a NULL ref key matches no row; duplicate
  *     ref keys are collapsed first and never multiply rows.
  *
  * `scope` restricts which rows are REPORTED (the resume path recomputes
  * only unfinished buckets), while the duplicate aggregate always counts
  * the FULL keyspace: a duplicate pair spanning a completed and an
  * unfinished bucket must still be caught. `globalDf` supplies that
  * keyspace when `df` is already scoped, so a resume run can skip the
  * expensive derivation (the fused audio synth pass) for completed buckets
  * and count keys over the cheap metadata lineage instead. Callers that
  * scope `df` MUST pass a full-table `globalDf` or cross-bucket duplicates
  * are silently missed (Runner enforces this).
  *
  * Scale notes (100 TB):
  *   - row checks: zero shuffle, whole-stage-codegen'd `CASE WHEN` chains,
  *     fused with the ref presence joins into one pass over the wide input;
  *   - uniqueness: one hash aggregate on the key, column-pruned to
  *     (key, bucket), for each group's size and owner; its partial
  *     aggregation is the pre-agg, so a hot key costs one row per task. The
  *     groups join back unhinted (AQE broadcasts them when few, else splits
  *     skew in a shuffled join); their rows collapse by (bucket, struct),
  *     with no exchange over bucket-partitioned rows. No window;
  *   - referential: presence LEFT join against the distinct ref keys;
  *     broadcast under the threshold, else sort-merge.
  */
object CheckCompiler {

  /** One struct per failing check, exploded to violation rows.
    * `scope` = the set of buckets to report on (None = all). */
  def violations(df: DataFrame, suite: CheckSuite, scope: Option[Seq[Long]] = None): DataFrame =
    violationsWithBucket(df, suite, scope).drop("bucket")

  /** [[violations]] plus the owning bucket per row — the Runner writes this
    * shape partitioned by bucket so retries overwrite per-bucket dirs
    * idempotently (a duplicate group is reported by its rows of `df` in
    * its min bucket, the same attribution rule the scope filter uses). */
  def violationsWithBucket(df: DataFrame, suite: CheckSuite,
      scope: Option[Seq[Long]] = None,
      globalDf: Option[DataFrame] = None): DataFrame =
    violationsOf(checkedRows(df, suite, scope, globalDf), suite)

  /** Per-bucket pass/fail verdicts: `n_rows` input rows, `n_bad` of them
    * bad under any check.
    *
    * `dupKeys`: a caller-precomputed duplicated-key frame per unique-check
    * column (one column, named like the checked column, holding exactly
    * the keys a [[Unique]] aggregate over the intended keyspace would
    * emit). When present for a column, the compiler joins against IT
    * instead of running its own aggregate — the seam that lets
    * verdictDrift derive its three different duplicate scopes
    * (v1-internal, global, newly-flipped) from ONE shared aggregate.
    * Callers own the equivalence of the precomputed set; the null-safe
    * join-back is unchanged. It flags rows but reports no group. */
  def verdicts(df: DataFrame, suite: CheckSuite, scope: Option[Seq[Long]] = None,
      globalDf: Option[DataFrame] = None,
      dupKeys: Map[String, DataFrame] = Map.empty): DataFrame =
    verdictsOf(checkedRows(df, suite, scope, globalDf, dupKeys))

  /** The schema of [[violationsWithBucket]]'s rows — and the declared
    * schema the Runner reads its violations dir with. */
  val ViolationSchema: StructType = StructType(
    Seq("clip_id", "check_name", "column_name", "detail").map(StructField(_, StringType)) :+
      StructField("bucket", LongType))

  // The element type of `__v`. Every field is STRING: the structs share one
  // array(), so a ref column typed differently from the key would otherwise
  // let array type coercion widen clip_id (or fail analysis). String, not
  // the key's type: any value casts to string totally, while casting a
  // mismatched ref value INTO the key's type throws under ANSI mode on
  // exactly the violating rows.
  private val ViolationStruct = StructType(ViolationSchema.fields.init)

  /** The one lowering: the rows of `df` in `scope`, each as
    * (`bucket`, `__bad`, `__v`). Each ref check adds a presence left join
    * against the ref's distinct keys; each unique check adds a null-safe
    * left join against its duplicate groups (key, size, owning minimum
    * bucket; else the keys of `dupKeys`), and a row in its group's owner
    * bucket carries the group in `__v`. A row is bad when `__v` is
    * non-empty or its key is duplicated. */
  private[graft] def checkedRows(df: DataFrame, suite: CheckSuite,
      scope: Option[Seq[Long]], globalDf: Option[DataFrame],
      dupKeys: Map[String, DataFrame] = Map.empty): DataFrame = {
    val bkt = col(suite.bucketColumn)
    var cur = scope.map(b => df.filter(bkt.isin(b: _*))).getOrElse(df)
    suite.refChecks.foreach { r =>
      val refDf = suite.refs(r.refName)
      val rk = refDf.select(col(refDf.columns.head).as(s"__refk_${r.name}")).distinct()
      cur = cur.join(rk, cur(r.column) === col(s"__refk_${r.name}"), "left")
    }
    suite.uniqueChecks.foreach { u =>
      val k = u.column
      val dk = dupKeys.get(k).map(_.select(col(k), lit(null).as("cnt"), lit(null).as("__owner")))
        .getOrElse(globalDf.getOrElse(df).groupBy(col(k))
          .agg(count(lit(1)).as("cnt"), min(bkt).as("__owner")).filter(col("cnt") > 1))
        .select(col(k).as(s"__dupk_$k"), lit(true).as(s"__dup_$k"),
          col("cnt").as(s"__dupc_$k"), col("__owner").as(s"__dupo_$k"))
      cur = cur.join(dk, cur(k) <=> col(s"__dupk_$k"), "left")
    }
    val structs =
      suite.rowChecks.map(c => when(c.failWhen,
        violation(col(suite.keyColumn), c, coalesce(c.detail, lit(""))))) ++
      suite.refChecks.map(r => when(col(s"__refk_${r.name}").isNull,
        violation(col(r.column), r, lit("missing_ref")))) ++
      suite.uniqueChecks.map(u => when(col(s"__dupo_${u.column}") === bkt,
        violation(col(u.column), u, col(s"__dupc_${u.column}").cast("string"))))
    val v =
      if (structs.isEmpty) array().cast(ArrayType(ViolationStruct))
      else array_compact(array(structs: _*))
    val dup = suite.uniqueChecks.map(u => col(s"__dup_${u.column}").isNotNull)
    cur.select(bkt.as("bucket"), ((size(v) > 0) +: dup).reduce(_ || _).as("__bad"), v.as("__v"))
  }

  private def violation(id: Column, c: Check, detail: Column): Column =
    struct(id.cast("string").as("clip_id"), lit(c.name).as("check_name"),
      lit(c.column).as("column_name"), detail.as("detail"))

  /** Violation rows of [[checkedRows]]' `rows`: `__v` exploded, a group
    * entry once per bucket, a row or ref entry once per row. */
  private[graft] def violationsOf(rows: DataFrame, suite: CheckSuite): DataFrame = {
    val exploded = rows.select(col("bucket"), explode(col("__v")).as("v"))
    val groups = suite.uniqueChecks.map(_.name)
    val collapsed = if (groups.isEmpty) exploded else exploded
      .groupBy("bucket", "v").agg(count(lit(1)).as("n"))
      .select(col("bucket"), explode(array_repeat(col("v"),
        when(col("v.check_name").isin(groups: _*), lit(1)).otherwise(col("n").cast("int")))).as("v"))
    collapsed.select(col("v.*"), col("bucket"))
  }

  /** Per-bucket verdicts of [[checkedRows]]' `rows`. */
  private[graft] def verdictsOf(rows: DataFrame): DataFrame =
    rows.groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), count(when(col("__bad"), lit(1))).as("n_bad"))
      .withColumn("pass", col("n_bad") === 0)

  /** Duplicate groups an append FORMED OR GREW — the incremental-validation
    * analogue of [[Unique]]: global count over the narrow
    * (old keys ∪ delta keys) lineage, emitting only groups with at least
    * one delta member (`cnt > cnt_old`). Groups entirely inside the old
    * snapshot are NOT re-reported — they were reported when THEIR commit
    * was validated.
    *
    * Output: (column, cnt, cnt_old) — total group size and how many
    * members predate the append. `cnt_old` is what lets a caller reason
    * about retroactive flips: a group with `cnt_old == 1` just turned its
    * single old row from unique to duplicated (that row's verdict changes
    * even though the row itself didn't), while `cnt_old >= 2` was already
    * a violation before the append and `cnt_old == 0` is delta-internal. */
  def incrementalDupGroups(oldKeys: DataFrame, deltaKeys: DataFrame,
      column: String): DataFrame =
    keyGroups(oldKeys, deltaKeys, column).filter(col("cnt") > col("cnt_old"))

  /** Every duplicated key of `column` over (old keys ∪ delta keys), with
    * its group size `cnt` and old-member count `cnt_old`.
    *
    * Scale shape (100 TB): ONE hash aggregate over the key column with
    * map-side partial combine — the old-count rides the same aggregate, so
    * incremental uniqueness costs exactly what plain global uniqueness
    * costs: a narrow columnar key scan. No join, no window, no second
    * pass. NULL keys group together (the [[Unique]] semantics stated
    * above). */
  private[graft] def keyGroups(oldKeys: DataFrame, deltaKeys: DataFrame,
      column: String): DataFrame =
    oldKeys.select(col(column), lit(0).as("__new"))
      .unionByName(deltaKeys.select(col(column), lit(1).as("__new")))
      .groupBy(col(column))
      .agg(
        count(lit(1)).as("cnt"),
        count(when(col("__new") === 0, lit(1))).as("cnt_old"))
      .filter(col("cnt") > 1)
}
