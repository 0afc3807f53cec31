package graft.compile

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.dsl._

/** Compiles a [[graft.dsl.CheckSuite]] into Catalyst plans.
  *
  * Design (SURVEY.md §3 "Spark lifecycle"): all row-level checks are fused
  * into ONE narrow projection over the scan — the analogue of the reference
  * evaluating all its heuristics in a single pass over the input string.
  * Violation capture mirrors the reference's noop-logger trick
  * (json_parser.py:70-79): we compile *two* plan shapes — `violations`
  * (with capture columns) and `verdicts` (flags only, no string building) —
  * instead of guarding per-row.
  *
  * `scope` restricts which rows are REPORTED (the resume path recomputes
  * only unfinished buckets) while dataset-level checks (uniqueness,
  * referential) always evaluate over the FULL input — a duplicate pair
  * spanning a completed and an unfinished bucket must still be caught.
  * Uniqueness violations are attributed to the min bucket of the group
  * (their "owner"), so each is reported exactly once across batches.
  *
  * `globalDf` (round-6) decouples WHAT the uniqueness aggregate scans from
  * the (possibly expensive) row-check input: uniqueness only needs the
  * (key, bucket) columns, so a resume run can feed `df` already scoped to
  * the unfinished buckets — skipping the expensive derivation (the fused
  * audio synth pass) for completed buckets — while `globalDf` supplies the
  * CHEAP full-table metadata lineage the global duplicate count still
  * requires. When absent, `df` serves both roles (the pre-round-6
  * behavior). Callers that scope `df` MUST pass a full-table `globalDf`
  * or cross-bucket duplicates are silently missed (Runner enforces this).
  *
  * Scale notes (100 TB):
  *   - row checks: zero shuffle, whole-stage-codegen'd `CASE WHEN` chains.
  *   - uniqueness: hash aggregate on the key — Spark's partial aggregation
  *     is the pre-agg, so a hot duplicate key costs one row per task; the
  *     duplicated keys join back to flag rows (AQE picks broadcast when
  *     they are few — the normal case — and a skew-split shuffled join when
  *     they are not). No window, so no single-task hot-spot.
  *   - referential: presence LEFT join (violations fuse it into the row
  *     pass; verdicts flag on the null side); broadcast under the
  *     threshold, else sort-merge.
  *
  * Violations plan shape (round-4): ONE wide scan. Row-check structs and
  * ref-presence structs are computed in a single fused pass over the input
  * (row checks + presence left-joins + one explode); only the uniqueness
  * aggregate reads the input again, and that scan is column-pruned to
  * (key, bucket) — at 100 TB the columnar IO of the second scan is a
  * vanishing fraction of the wide pass. Catalyst does not dedupe common
  * subtrees across union branches, so the previous one-branch-per-check
  * shape re-scanned (and re-derived) the wide input 3-4x.
  */
object CheckCompiler {

  /** One struct per failing check, exploded to violation rows.
    * `scope` = the set of buckets to report on (None = all). */
  def violations(df: DataFrame, suite: CheckSuite, scope: Option[Seq[Long]] = None): DataFrame =
    violationsWithBucket(df, suite, scope).drop("bucket")

  /** [[violations]] plus the owning bucket per row — the Runner writes this
    * shape partitioned by bucket so retries overwrite per-bucket dirs
    * idempotently (uniqueness violations are owned by the group's min
    * bucket, same attribution rule the scope filter uses). */
  def violationsWithBucket(df: DataFrame, suite: CheckSuite,
      scope: Option[Seq[Long]] = None,
      globalDf: Option[DataFrame] = None): DataFrame = {
    val key = col(suite.keyColumn)
    val bkt = col(suite.bucketColumn)
    val scoped = scope.map(b => df.filter(bkt.isin(b: _*))).getOrElse(df)

    // Fused per-row branch: row-check structs AND ref-presence structs from
    // ONE pass over the wide input. Each ref check contributes a presence
    // left-join against the (distinct) ref keys; a null right side means the
    // key is absent — identical row set to the previous LEFT ANTI branch
    // (NULL keys never match, so they surface as violations in both shapes)
    // but without re-scanning the input once per ref table. Each struct
    // carries its own id so ref violations keep reporting the checked
    // column's value (which for a key-typed ref check is the suite key).
    // The id field of EVERY struct is pinned to STRING: the structs share
    // one array(), so a ref column typed differently from the key would
    // otherwise let Spark's array type coercion silently widen clip_id
    // (or fail analysis) and change the violations schema relative to the
    // old per-branch union (round-4 advice). String, NOT the key's type:
    // any value casts to string totally, while casting a mismatched ref
    // value INTO the key's type throws under Spark 4's default ANSI mode
    // on exactly the violating rows (or nulls the reported value with
    // ANSI off) — and string is what the empty-suite fallback schema
    // below already declares for clip_id.
    val perRow: Option[DataFrame] =
      if (suite.rowChecks.isEmpty && suite.refChecks.isEmpty) None
      else Some {
        var cur = scoped
        suite.refChecks.foreach { r =>
          val refDf = suite.refs(r.refName)
          val rk = refDf.select(col(refDf.columns.head).as(s"__refk_${r.name}"))
            .distinct() // dup ref keys must not multiply probe rows
          cur = cur.join(rk, cur(r.column) === col(s"__refk_${r.name}"), "left")
        }
        val rowStructs = suite.rowChecks.map { c =>
          when(c.failWhen,
            struct(
              key.cast("string").as("id"),
              lit(c.name).as("check_name"),
              lit(c.column).as("column_name"),
              coalesce(c.detail, lit("")).as("detail")))
        }
        val refStructs = suite.refChecks.map { r =>
          when(col(s"__refk_${r.name}").isNull,
            struct(
              col(r.column).cast("string").as("id"),
              lit(r.name).as("check_name"),
              lit(r.column).as("column_name"),
              lit("missing_ref").as("detail")))
        }
        cur.select(bkt.as("bucket"),
            explode(array_compact(array((rowStructs ++ refStructs): _*))).as("v"))
          .select(col("v.id").as("clip_id"), col("v.check_name"),
            col("v.column_name"), col("v.detail"), col("bucket"))
      }

    val uniqViol: Seq[DataFrame] = suite.uniqueChecks.map { u =>
      // global duplicate count over the cheap full-table lineage when the
      // caller scoped `df` (see the globalDf scaladoc above)
      val grouped = globalDf.getOrElse(df).groupBy(col(u.column).as("clip_id"))
        .agg(
          count(lit(1)).as("cnt"),
          min(bkt).as("__owner"))
        .filter(col("cnt") > 1)
      scope.map(b => grouped.filter(col("__owner").isin(b: _*)))
        .getOrElse(grouped)
        .select(
          // same string pinning as the fused structs: unionByName below
          // would otherwise type-coerce the whole column anyway
          col("clip_id").cast("string").as("clip_id"),
          lit(u.name).as("check_name"),
          lit(u.column).as("column_name"),
          col("cnt").cast("string").as("detail"),
          col("__owner").as("bucket"))
    }

    val parts = perRow.toSeq ++ uniqViol
    parts.reduceOption(_.unionByName(_)).getOrElse {
      // suite with no checks -> empty result with the violation schema
      val spark = df.sparkSession
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ViolationSchema)
    }
  }

  /** The schema of [[violationsWithBucket]]'s rows — the empty-suite
    * fallback's, and the declared schema the Runner reads its violations
    * dir with. */
  val ViolationSchema: StructType = StructType(
    Seq("clip_id", "check_name", "column_name", "detail").map(StructField(_, StringType)) :+
      StructField("bucket", LongType))

  /** Duplicate groups an append FORMED OR GREW — the incremental-validation
    * analogue of [[Unique]]: global count over the narrow
    * (old keys ∪ delta keys) lineage, emitting only groups with at least
    * one delta member. Groups entirely inside the old snapshot are NOT
    * re-reported — they were reported when THEIR commit was validated.
    *
    * Output: (column, cnt, cnt_old) — total group size and how many
    * members predate the append. `cnt_old` is what lets a caller reason
    * about retroactive flips: a group with `cnt_old == 1` just turned its
    * single old row from unique to duplicated (that row's verdict changes
    * even though the row itself didn't), while `cnt_old >= 2` was already
    * a violation before the append and `cnt_old == 0` is delta-internal.
    *
    * Scale shape (100 TB): ONE hash aggregate over the key column with
    * map-side partial combine — the delta-membership flag and the old-count
    * ride the same aggregate as max/sum, so incremental-uniqueness costs
    * exactly what plain global uniqueness costs: a narrow columnar key
    * scan. No join, no window, no second pass. NULL keys group together
    * (same null-safe semantics as the [[Unique]] join path). */
  def incrementalDupGroups(oldKeys: DataFrame, deltaKeys: DataFrame,
      column: String): DataFrame =
    oldKeys.select(col(column), lit(0).as("__new"))
      .unionByName(deltaKeys.select(col(column), lit(1).as("__new")))
      .groupBy(col(column))
      .agg(
        count(lit(1)).as("cnt"),
        max(col("__new")).as("__touch"),
        count(when(col("__new") === 0, lit(1))).as("cnt_old"))
      .filter(col("cnt") > 1 && col("__touch") === 1)
      .select(col(column), col("cnt"), col("cnt_old"))

  /** Per-bucket pass/fail verdicts. A row is "bad" if any row check fails,
    * its key is duplicated (globally), or its key is missing from the ref
    * table.
    *
    * `dupKeys` (round-7): a caller-precomputed duplicated-key frame per
    * unique-check column (one column, named like the checked column,
    * holding exactly the keys a [[Unique]] aggregate over the intended
    * keyspace would emit). When present for a column, the compiler joins
    * against IT instead of running its own aggregate — the seam that lets
    * verdictDrift derive its three different duplicate scopes (v1-internal,
    * global, newly-flipped) from ONE shared aggregate instead of three.
    * Callers own the equivalence of the precomputed set; the null-safe
    * (<=>) join-back semantics are unchanged. */
  def verdicts(df: DataFrame, suite: CheckSuite, scope: Option[Seq[Long]] = None,
      globalDf: Option[DataFrame] = None,
      dupKeys: Map[String, DataFrame] = Map.empty): DataFrame = {
    val rowBad: Column =
      suite.rowChecks.map(_.failWhen).reduceOption(_ || _).getOrElse(lit(false))

    var cur = df.withColumn("__row_bad", rowBad)

    suite.uniqueChecks.foreach { u =>
      // Skew-proof uniqueness: a hash aggregate on the key (map-side partial
      // combine reduces even a 10^9-row hot duplicate to one row per task)
      // filtered to the duplicated keys, joined back to flag rows. The join
      // carries NO broadcast hint: duplicate-key cardinality is
      // data-dependent (a mostly-duplicated dataset makes it ~half the
      // keyspace), so the planner/AQE picks broadcast when the aggregate
      // output is actually small and falls back to a shuffled join (with
      // AQE skew splitting) when it is not — a forced broadcast would die
      // at the 8GB cap in exactly the pathological case. Round 2 used
      // count(*) OVER (PARTITION BY key), which funnels every row of a hot
      // key into a single window task with no salt/AQE escape (EngineSpec's
      // 10^5-duplicate case shows the plan). The join is NULL-SAFE: NULL
      // keys group together like the window did, so duplicate NULLs still
      // flag (and stay consistent with the violations path).
      // same globalDf contract as violationsWithBucket: the duplicate
      // aggregate must see the FULL keyspace even when `df` is scoped
      val dupKeySrc = dupKeys.get(u.column).getOrElse(
        globalDf.getOrElse(df).groupBy(col(u.column))
          .agg(count(lit(1)).as(s"__cnt_${u.column}"))
          .filter(col(s"__cnt_${u.column}") > 1))
      val dupKeysDf = dupKeySrc
        .select(col(u.column).as(s"__dup_key_${u.column}"))
        .withColumn(s"__dup_hit_${u.column}", lit(true))
      cur = cur.join(dupKeysDf,
          cur(u.column) <=> dupKeysDf(s"__dup_key_${u.column}"), "left")
        .withColumn(s"__dup_${u.column}",
          coalesce(col(s"__dup_hit_${u.column}"), lit(false)))
        .drop(s"__dup_key_${u.column}", s"__dup_hit_${u.column}")
    }
    suite.refChecks.foreach { r =>
      // distinct BEFORE the presence join: a ref table with duplicate keys
      // must not multiply matching rows (it would inflate n_rows/n_bad;
      // the violations path is naturally safe via left_anti)
      val refDf = suite.refs(r.refName)
        .select(col(suite.refs(r.refName).columns.head).as(r.column))
        .distinct()
        .withColumn(s"__present_${r.name}", lit(1))
      cur = cur.join(refDf, Seq(r.column), "left")
        .withColumn(s"__miss_${r.name}", col(s"__present_${r.name}").isNull)
    }
    val badCols =
      col("__row_bad") +:
        (suite.uniqueChecks.map(u => col(s"__dup_${u.column}")) ++
          suite.refChecks.map(r => col(s"__miss_${r.name}")))
    val bad = badCols.reduce(_ || _)

    scope.map(b => cur.filter(col(suite.bucketColumn).isin(b: _*))).getOrElse(cur)
      .withColumn("__bad", bad)
      .groupBy(col(suite.bucketColumn).as("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("__bad"), lit(1))).as("n_bad"))
      .withColumn("pass", col("n_bad") === 0)
      .select("bucket", "n_rows", "n_bad", "pass")
  }
}
