package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.{StatsAggregator, TDigestAggregator}
import graft.clips.ClipsTable
import graft.compile.CheckCompiler
import graft.dsl._

/** The constraint-validation queries over the derived clips table — the
  * engine's public surface for the driver's DuckDB correctness gate.
  * Each `def` has a matching oracle in [[oracles]] built on the same
  * deterministic CTE ([[ClipsTable.cte]]).
  */
object ClipQueries {

  /** The standard check suite for the clips table (SURVEY.md §7.3 minimum
    * slice): NOT NULL + non-empty transcript, sr_hz range, codec enum,
    * clip_id uniqueness, clip→refs referential integrity. */
  def suite(spark: SparkSession, sfDir: String): CheckSuite = {
    import Check.colResolver
    CheckSuite(
      keyColumn = "clip_id",
      bucketColumn = "bucket",
      checks = Seq(
        NotNull("transcript"),
        NotEmpty("transcript"),
        InRange("sr_hz", ClipsTable.SrMin, ClipsTable.SrMax),
        EnumIn("codec", ClipsTable.CodecEnum),
        Unique("clip_id"),
        RefIntegrity("clip_id", "refs")),
      refs = Map("refs" -> ClipsTable.refs(spark, sfDir)))
  }

  def violations(spark: SparkSession, sfDir: String): DataFrame =
    CheckCompiler.violations(ClipsTable.base(spark, sfDir), suite(spark, sfDir))

  def verdicts(spark: SparkSession, sfDir: String): DataFrame =
    CheckCompiler.verdicts(ClipsTable.base(spark, sfDir), suite(spark, sfDir))

  /** Per-column stats via the typed StatsAggregator (one scan, two columns,
    * map-side partials; mean derived as exact-sum / count). */
  def stats(spark: SparkSession, sfDir: String): DataFrame = {
    val clips = ClipsTable.base(spark, sfDir)
    val agg = clips.agg(
      StatsAggregator.numStats(col("sr_hz")).as("s_sr"),
      StatsAggregator.numStats(col("dur_ms")).as("s_dur"),
      StatsAggregator.numStats(length(col("transcript"))).as("s_tr"))
    agg.select(explode(array(
        struct(lit("sr_hz").as("column_name"),
          col("s_sr.n_rows").as("n_rows"), col("s_sr.n_nulls").as("n_nulls"),
          col("s_sr.min_v").as("min_v"), col("s_sr.max_v").as("max_v"),
          col("s_sr.sum_v").as("sum_v")),
        struct(lit("dur_ms").as("column_name"),
          col("s_dur.n_rows").as("n_rows"), col("s_dur.n_nulls").as("n_nulls"),
          col("s_dur.min_v").as("min_v"), col("s_dur.max_v").as("max_v"),
          col("s_dur.sum_v").as("sum_v")),
        struct(lit("transcript_len").as("column_name"),
          col("s_tr.n_rows").as("n_rows"), col("s_tr.n_nulls").as("n_nulls"),
          col("s_tr.min_v").as("min_v"), col("s_tr.max_v").as("max_v"),
          col("s_tr.sum_v").as("sum_v")))).as("s"))
      .select(col("s.*"))
      .withColumn("mean_v",
        round(col("sum_v").cast("double") / (col("n_rows") - col("n_nulls")), 4))
  }

  /** Exact interpolated percentiles (oracle-checkable; the t-digest variant
    * below is the sketch path validated against this in tests). */
  def quantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val clips = ClipsTable.base(spark, sfDir)
    val ps = Seq(0.25, 0.5, 0.75, 0.95, 0.99)
    val agg = clips.agg(
      expr(s"percentile(dur_ms, array(${ps.mkString("D,")}D))").as("vs"))
    agg.select(posexplode(col("vs")).as(Seq("i", "v")))
      .select(
        lit("dur_ms").as("column_name"),
        element_at(array(ps.map(lit): _*), col("i") + 1).as("p"),
        round(col("v"), 4).as("v"))
  }

  /** t-digest quantiles (no SQL oracle — approximate; exactness vs the
    * `percentile` oracle is asserted within tolerance in ScalaTest). */
  def tdigest(spark: SparkSession, sfDir: String): DataFrame = {
    val clips = ClipsTable.base(spark, sfDir)
    val ps = Seq(0.25, 0.5, 0.75, 0.95, 0.99)
    clips.agg(TDigestAggregator.quantiles(col("dur_ms"), ps).as("vs"))
      .select(posexplode(col("vs")).as(Seq("i", "v")))
      .select(
        lit("dur_ms").as("column_name"),
        element_at(array(ps.map(lit): _*), col("i") + 1).as("p"),
        round(col("v"), 4).as("v"))
  }

  /** t-digest sketch gated against the exact percentiles in one pass: both
    * aggregates share the scan, and the query emits the per-quantile
    * within-2% verdict — an oracle-able hard bound on sketch error (the
    * raw estimates stay available via [[tdigest]] for the tests). */
  def tdigestChecked(spark: SparkSession, sfDir: String): DataFrame = {
    val clips = ClipsTable.base(spark, sfDir)
    val ps = Seq(0.25, 0.5, 0.75, 0.95, 0.99)
    clips.agg(
        TDigestAggregator.quantiles(col("dur_ms"), ps).as("td"),
        expr(s"percentile(dur_ms, array(${ps.mkString("D,")}D))").as("ex"))
      .select(posexplode(arrays_zip(col("td"), col("ex"))).as(Seq("i", "z")))
      .select(
        lit("dur_ms").as("column_name"),
        element_at(array(ps.map(lit): _*), col("i") + 1).as("p"),
        (abs(col("z.td") - col("z.ex")) <= lit(0.02) * abs(col("z.ex"))).as("within_tol"))
  }

  /** Codec distribution drift between even/odd halves: two-sample chi-square
    * over category counts — one hash aggregate + a 1-row broadcast of totals. */
  def driftChi2(spark: SparkSession, sfDir: String): DataFrame = {
    val clips = ClipsTable.base(spark, sfDir)
    val cc = clips.groupBy("codec").agg(
      count(when(col("ord") % 2 === 0, 1)).as("a"),
      count(when(col("ord") % 2 === 1, 1)).as("b"))
    val tot = cc.agg(
      sum("a").cast("double").as("na"), sum("b").cast("double").as("nb"))
    val ea = (col("a") + col("b")) * col("na") / (col("na") + col("nb"))
    val eb = (col("a") + col("b")) * col("nb") / (col("na") + col("nb"))
    val term = (col("a") - ea) * (col("a") - ea) / ea +
      (col("b") - eb) * (col("b") - eb) / eb
    cc.crossJoin(broadcast(tot))
      .agg(round(sum(term), 4).as("chi2"), (count(lit(1)) - 1).as("dof"))
  }

  /** dur_ms distribution drift: binned two-sample KS. The distributed part
    * is the histogram aggregate (one hash agg over the full input); the
    * cumulative-sum step then runs DRIVER-side over the collected bins.
    * That is safe by construction — the bin count is bounded by the value
    * domain (dur_ms/10 with dur_ms in [20ms, 500ms] → ≤ ~50 bins at ANY
    * input scale; 10^12 rows have already been reduced by the aggregate) —
    * and it replaces the previous `Window.orderBy(bin)` plan, whose
    * unpartitioned-WindowExec warning was indistinguishable from the real
    * single-task scale hazard the same shape causes on unbounded input
    * (round-4 What's-wrong #3). */
  def driftKs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val clips = ClipsTable.base(spark, sfDir)
    val binned = clips
      .withColumn("bin", floor(col("dur_ms") / 10).cast("bigint"))
      .groupBy("bin").agg(
        count(when(col("ord") % 2 === 0, 1)).as("a"),
        count(when(col("ord") % 2 === 1, 1)).as("b"))
    // loud guard (round-6, per the round-5 advice): the safe-by-construction
    // claim above rests on the dur_ms in [20,500) generator invariant — a
    // future fixture or corrupted dur_ms column would otherwise grow this
    // driver collect unboundedly and SILENTLY. limit(65) bounds what can
    // ever reach the driver (collect-then-check would defeat the guard);
    // exactly 64 bins can exist under the invariant, so 65 rows = breach.
    val rows = binned.orderBy("bin").limit(65).collect() // O(bins) — see scaladoc
    require(rows.length <= 64,
      "driftKs: >64 dur_ms bins — the <=64 bound the driver-side cumsum " +
        "assumes is breached (dur_ms outside [20,500)?); refusing to " +
        "collect an unbounded bin set to the driver")
    val na = rows.map(_.getLong(1)).sum.toDouble
    val nb = rows.map(_.getLong(2)).sum.toDouble
    var ca = 0L; var cb = 0L; var ks = 0.0
    rows.foreach { r =>
      ca += r.getLong(1); cb += r.getLong(2)
      ks = math.max(ks, math.abs(ca / na - cb / nb))
    }
    // final rounding via the Spark expression so the result is bit-identical
    // to the previous plan's round() (and the DuckDB oracle's)
    Seq(ks).toDF("ks_raw").select(round(col("ks_raw"), 6).as("ks"))
  }

  /** Last-write-wins dedup — the reference's "repeated same-shape top-level
    * object = update, keep newest" (json_parser.py:131-133) as a hash
    * aggregate: for each duplicated clip_id keep the max ord. */
  def dedupLww(spark: SparkSession, sfDir: String): DataFrame = {
    val clips = ClipsTable.base(spark, sfDir)
    clips.groupBy("clip_id")
      .agg(max("ord").as("kept_ord"), count(lit(1)).as("n_versions"))
      .filter(col("n_versions") > 1)
  }

  /** Per-row transcript-equality invariant (BASELINE.json input_hint:
    * "transcript exact equality vs reference outputs"): the observed
    * transcript column is compared against the reference derivation; a
    * deterministic corruption (ord % 173, 'X' appended) is injected on the
    * observed side so the check surfaces exactly those rows. Null
    * transcripts are the not-null check's concern, not this one's. */
  def transcriptMismatch(spark: SparkSession, sfDir: String): DataFrame = {
    val clips = ClipsTable.base(spark, sfDir)
    val observed = when(col("ord") % 173 === 0, concat(col("transcript"), lit("X")))
      .otherwise(col("transcript"))
    clips
      .withColumn("observed", observed)
      .filter(col("observed") =!= col("transcript")) // null-safe: nulls drop out
      .select(col("clip_id"), lit("transcript_equality").as("check_name"))
  }

  /** dur_ms histogram through the custom HistogramAggregator (fixed bins
    * [20,500), width 10) — the sketch the drift tests merge; exploded to
    * (bin, n) rows so DuckDB can reproduce it with a plain binned count. */
  def histogram(spark: SparkSession, sfDir: String): DataFrame = {
    val clips = ClipsTable.base(spark, sfDir)
    clips.agg(graft.agg.Histogram.sketch(col("dur_ms"), 20.0, 500.0, 48).as("h"))
      .select(posexplode(col("h.counts")).as(Seq("bin", "n")))
      .filter(col("n") > 0)
      .select(col("bin").cast("long").as("bin"), col("n"))
  }

  /** Codec frequency with explicit two-phase salting: ~70% of rows share the
    * hot 'pcm_s16le' codec (deliberate skew in the generator), so a naive
    * groupBy(codec) sends the hot key to one reducer. Salting on
    * (codec, ord % 16) pre-aggregates the hot key across 16 reducers before
    * the final (tiny) combine — the pattern the 10^12-row table needs; AQE
    * skew handling is the safety net, this is the explicit fix. */
  def codecCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val clips = ClipsTable.base(spark, sfDir)
    clips
      .groupBy(col("codec"), (col("ord") % 16).as("__salt"))
      .agg(count(lit(1)).as("c"))
      .groupBy("codec")
      .agg(sum("c").cast("long").as("n_clips"))
  }

  /** Two-snapshot lineage for the incremental-validation queries, staged
    * ONCE per input ([[graft.io.Scratch.staged]]) through the TableFormat
    * seam: snapshot v1 = clips with ord % 64 < 32 (covers all 32
    * buckets), snapshot v2 = an APPEND of the rest. The split is chosen so the duplicate-key
    * fixture (ord % 101 -> clip_id collides with ord+1) produces all three
    * duplicate-group classes the incremental semantics must distinguish:
    * v1-internal groups (ord % 64 <= 30, both members in v1 — must NOT be
    * re-reported by the append's validation), boundary-crossing groups
    * (ord % 64 = 31, and ord % 64 = 63 where the ord+1 member wraps into
    * the NEXT block's v1 half), and delta-internal groups
    * (ord % 64 in [32, 62]). At sf0.001: 8 internal vs 7 touching the
    * delta; measured in the fixture-design probe, IncrementalSpec pins
    * the split. */
  def stagedIncrTable(spark: SparkSession, sfDir: String): String =
    graft.io.Scratch.staged(sfDir, "graft-clips-incr") { dir =>
      val base = ClipsTable.base(spark, sfDir)
      graft.io.TableFormat.commit(base.filter(col("ord") % 64 < 32), dir, "bucket")
      graft.io.TableFormat.append(base.filter(col("ord") % 64 >= 32), dir, "bucket")
    }

  /** Range-laid-out clips snapshot for the data-skipping query, staged ONCE
    * per input ([[graft.io.Scratch.staged]]). Partitioned by
    * ord_day = ord / 4096 — the time-partition layout a production ingest
    * naturally lands (clip ids arrive roughly monotonically) — with
    * clip_id min/max recorded per partition in the manifest (TableFormat
    * statsCols). A
    * clip_id range lookup then opens O(matching days) of files via
    * manifest pruning instead of scanning the table: at 10^12 rows this is
    * the difference between a point lookup and a full scan. The stats are
    * MEASURED, not assumed — the duplicate-key fixture (ord % 101 →
    * clip_id = ord+1) can land a clip id one past its day's nominal edge,
    * and the recorded max simply covers it. */
  def stagedRangedTable(spark: SparkSession, sfDir: String): String =
    graft.io.Scratch.staged(sfDir, "graft-clips-ranged") { dir =>
      val base = ClipsTable.base(spark, sfDir)
        .withColumn("ord_day", (col("ord") / 4096).cast("int"))
      graft.io.TableFormat.commit(base, dir, "ord_day", statsCols = Seq("clip_id"))
    }

  /** Manifest-stats range scan (Iceberg data-skipping analogue): fetch a
    * clip_id range from the range-laid-out snapshot via
    * TableFormat.readWhere. The oracle replays the same range predicate
    * over the base CTE — equality proves pruning never drops a matching
    * row (TableFormatSpec proves it actually SKIPS files). */
  def skipScan(spark: SparkSession, sfDir: String): DataFrame = {
    val table = stagedRangedTable(spark, sfDir)
    graft.io.TableFormat
      .readWhere(spark, table, "clip_id",
        "clip-000000001000", "clip-000000002999")
      .select("clip_id", "sr_hz", "dur_ms", "codec", "bucket")
  }

  /** Clips snapshot with one bucket's out-of-range sr_hz rows corrected and
    * recommitted via dynamic-partition overwrite — the fix-and-revalidate
    * cycle: at a 10^12-row table the fix rewrites ONLY bucket 3's
    * partition (TableFormat.overwritePartitions), never the table; the
    * carried dirs exclude the replaced partition manifest-side. Staged once
    * per input ([[graft.io.Scratch.staged]]). */
  def stagedOverwriteTable(spark: SparkSession, sfDir: String): String =
    graft.io.Scratch.staged(sfDir, "graft-clips-overwrite") { dir =>
      val base = ClipsTable.base(spark, sfDir)
      graft.io.TableFormat.commit(base, dir, "bucket")
      val fixed = base.filter(col("bucket") === 3)
        .withColumn("sr_hz",
          when(col("sr_hz") === 7999, lit(16000)).otherwise(col("sr_hz")))
      graft.io.TableFormat.overwritePartitions(fixed, dir, "bucket")
    }

  /** Post-overwrite revalidation (per-bucket): row counts and remaining
    * sr_hz range violations over the overwritten snapshot. The oracle
    * replays the fix arithmetically on the base CTE (bucket 3's 7999s
    * become 16000), so equality proves the overwrite read path returns the
    * fixed partition's replacement rows, all other partitions' originals,
    * and no ghosts from the replaced files — the corrected bucket must
    * come back CLEAN while every other bucket's violations are intact. */
  def overwriteVerdicts(spark: SparkSession, sfDir: String): DataFrame = {
    val table = stagedOverwriteTable(spark, sfDir)
    graft.io.TableFormat.read(spark, table)
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("sr_hz") < 8000 || col("sr_hz") > 48000, lit(1)))
          .as("n_sr_bad"))
  }

  /** Clips snapshot whose lineage EVOLVES mid-stream: the base commit has
    * no snr_db column; the append ships one (a measured SNR landing in the
    * pipeline later in the table's life — the additive-schema-evolution
    * case TableFormat supports). Readers see pre-evolution rows with
    * snr_db null. Staged once per input
    * ([[graft.io.Scratch.staged]]). */
  def stagedEvolveTable(spark: SparkSession, sfDir: String): String =
    graft.io.Scratch.staged(sfDir, "graft-clips-evolve") { dir =>
      val base = ClipsTable.base(spark, sfDir)
      graft.io.TableFormat.commit(
        base.filter(col("ord") % 3 =!= 0), dir, "bucket")
      graft.io.TableFormat.append(
        base.filter(col("ord") % 3 === 0)
          .withColumn("snr_db", col("ord") % 40 + 10),
        dir, "bucket")
    }

  /** Per-bucket validation over the evolved lineage: row counts, how many
    * rows carry the late-arriving snr_db column, and its sum. The oracle
    * replays the evolution arithmetically (ord % 3 = 0 rows carry
    * ord % 40 + 10, the rest read null), so equality proves the union
    * schema, the null fill for pre-evolution rows, and the evolved
    * values all survive the snapshot round trip. */
  def evolveVerdicts(spark: SparkSession, sfDir: String): DataFrame = {
    val table = stagedEvolveTable(spark, sfDir)
    graft.io.TableFormat.read(spark, table)
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("snr_db")).as("n_with_snr"),
        sum("snr_db").as("snr_sum"))
  }

  /** Incremental validation of an append commit — the production mode for
    * a growing 10^12-row table: validate each commit's DELTA, not the
    * table. The delta rows come from TableFormat.readIncremental (a
    * manifest diff — O(appended data) IO); row + referential checks run as
    * the usual one fused pass over ONLY the delta; global uniqueness runs
    * as ONE narrow key aggregate over (v1 keys ∪ delta keys) that emits
    * only duplicate groups the append formed or grew
    * (CheckCompiler.incrementalDupGroups) — groups entirely inside v1 were
    * already reported when v1 was validated and are NOT re-reported.
    * Total cost: O(delta) wide + O(table) narrow-key columnar, vs the full
    * revalidation's O(table) wide. */
  def incrementalViolations(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.io.TableFormat
    val table = stagedIncrTable(spark, sfDir)
    val delta = TableFormat.readIncremental(spark, table, 1, 2)
    val s = suite(spark, sfDir)
    val rowRef = CheckCompiler.violations(
      delta, s.copy(checks = s.checks.filterNot(_.isInstanceOf[Unique])))
    val v1 = TableFormat.read(spark, table, Some(1))
    s.uniqueChecks.map(u => CheckCompiler
      .incrementalDupGroups(v1.select(u.column), delta.select(u.column), u.column)
      .select(col(u.column).cast("string").as("clip_id"), lit(u.name).as("check_name"),
        lit(u.column).as("column_name"), col("cnt").cast("string").as("detail")))
      .foldLeft(rowRef)(_ unionByName _)
  }

  /** Per-bucket verdict drift across an append commit — "did this commit
    * make the table worse, and where" — computed INCREMENTALLY:
    *
    *   n_bad_after(b) = n_bad_before(b)      // verdicts of v1, already known
    *                  + n_bad_delta(b)       // delta rows, GLOBAL dup flags
    *                  + n_retro(b)           // v1 rows FLIPPED by the append
    *
    * The retro term is the subtle one: global uniqueness makes verdicts
    * non-monotone in appends — a v1 row that was unique flips to bad when
    * the delta lands a colliding key, even though the row itself never
    * changed. incrementalDupGroups' `cnt_old` identifies exactly those
    * groups (cnt_old == 1: the single old member flips unless it was
    * already bad for another reason; cnt_old >= 2: its old members were
    * already duplicate-bad). The flipped rows are recovered by joining the
    * (tiny, bounded-by-new-duplicates) group table back to v1 and
    * re-checking ONLY those rows' row/ref status — a broadcast-filtered,
    * column-pruned scan of v1's checked columns with NO shuffle of v1.
    * That second narrow scan is this query's largest cost at 10^12 rows;
    * a production deployment holding v1's violations side table would
    * semi-join IT instead (O(new duplicates), no re-scan) — the
    * decomposition is the same either way.
    *
    * IncrementalSpec asserts this decomposition equals the direct full
    * recompute of verdicts over v2, and the driver oracle replays it in
    * DuckDB independently. */
  def verdictDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.io.TableFormat
    val table = stagedIncrTable(spark, sfDir)
    // The decomposition needs three duplicate-key scopes, all filters of
    // ONE aggregate over the tagged (v1 keys ∪ delta keys) union
    // (CheckCompiler.keyGroups: cnt and cnt_old per duplicated key):
    //   v1-internal = cnt_old >= 2    (>= 2 members predate the append)
    //   delta       = cnt > cnt_old   (has a delta member: every group a
    //                                  delta row belongs to)
    //   flipped     = cnt_old == 1    (sole old member of a group the
    //                                  delta joined)
    // Each filter reads cnt_old, so the optimizer keeps one aggregate shape
    // and the three consumers share one group shuffle. IncrementalSpec pins
    // the decomposition against the direct recompute; the driver oracle
    // replays the direct formulation.
    val s = suite(spark, sfDir)
    val v1 = TableFormat.read(spark, table, Some(1))
      .withColumn("bucket", col("bucket").cast("long"))
    val delta = TableFormat.readIncremental(spark, table, 1, 2)
      .withColumn("bucket", col("bucket").cast("long"))
    val grouped = CheckCompiler.keyGroups(v1, delta, "clip_id")
    val before = CheckCompiler.verdicts(v1, s,
        dupKeys = Map("clip_id" -> grouped.filter(col("cnt_old") >= 2).select("clip_id")))
      .select(col("bucket"), col("n_bad").as("n_bad_before"))
    val deltaBad = CheckCompiler.verdicts(delta, s,
        dupKeys = Map("clip_id" -> grouped.filter(col("cnt") > col("cnt_old")).select("clip_id")))
      .select(col("bucket"), col("n_bad").as("n_bad_delta"))
    // v1 rows flipped by newly-formed groups: sole old member of a group
    // the delta touched, not already bad for a row/ref reason
    val flippedGroups = grouped.filter(col("cnt_old") === 1).select("clip_id")
    // the "already bad" status of the affected rows is re-derived through
    // the SAME compiler path as every other verdict count (Unique removed:
    // their dup status is exactly what flipped) — not a hand-rolled
    // predicate, so NULL-valued checks and any future ref checks keep the
    // decomposition in lockstep with verdicts' semantics: n_retro =
    // affected rows that verdicts would NOT have counted bad before
    val noUnique = s.copy(checks = s.checks.filterNot(_.isInstanceOf[Unique]))
    // NULL-SAFE semi join: keyGroups groups NULL keys together (the
    // documented null-safe Unique semantics), so the v1 row affected by a NULL-key
    // group must be recovered by the same <=> comparison — a plain
    // equi-join would never match it and n_retro would undercount exactly
    // when a NULL-key append collides with a single NULL-key v1 row
    val retro = CheckCompiler.verdicts(
      v1.join(flippedGroups,
        v1("clip_id") <=> flippedGroups("clip_id"), "left_semi"), noUnique)
      .select(col("bucket"), (col("n_rows") - col("n_bad")).as("n_retro"))
    before
      .join(deltaBad, Seq("bucket"), "full_outer")
      .join(retro, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_bad_before"), lit(0L)).as("n_bad_before"),
        (coalesce(col("n_bad_before"), lit(0L)) + coalesce(col("n_bad_delta"), lit(0L))
          + coalesce(col("n_retro"), lit(0L))).as("n_bad_after"))
      .withColumn("regressed", col("n_bad_after") > col("n_bad_before"))
  }

  private val C = ClipsTable.cte

  val oracles: Map[String, String] = Map(
    "vc_violations" ->
      s"""$C
         |SELECT clip_id, 'not_null_transcript' AS check_name, 'transcript' AS column_name, 'null' AS detail FROM clips WHERE transcript IS NULL
         |UNION ALL SELECT clip_id, 'not_empty_transcript', 'transcript', 'empty' FROM clips WHERE transcript = ''
         |UNION ALL SELECT clip_id, 'in_range_sr_hz', 'sr_hz', cast(sr_hz AS VARCHAR) FROM clips WHERE sr_hz < 8000 OR sr_hz > 48000
         |UNION ALL SELECT clip_id, 'enum_codec', 'codec', codec FROM clips WHERE codec NOT IN ('pcm_s16le','flac','opus','mp3')
         |UNION ALL SELECT clip_id, 'unique_clip_id', 'clip_id', cast(cnt AS VARCHAR) FROM (SELECT clip_id, count(*) AS cnt FROM clips GROUP BY clip_id HAVING count(*) > 1) d
         |UNION ALL SELECT c.clip_id, 'ref_clip_id_refs', 'clip_id', 'missing_ref' FROM clips c WHERE NOT EXISTS (SELECT 1 FROM refs r WHERE r.clip_id = c.clip_id)""".stripMargin,
    // the headline pipeline: metadata checks + the two audio invariants
    // (SNR < 30dB at ord%149, byte/dur mismatch at ord%157) + global
    // uniqueness + referential presence, aggregated per bucket
    "vc_full_verdicts" ->
      s"""$C, flagged AS (
         |  SELECT c.bucket,
         |    (c.transcript IS NULL) OR (c.transcript = '')
         |    OR (c.sr_hz < 8000 OR c.sr_hz > 48000)
         |    OR (c.codec NOT IN ('pcm_s16le','flac','opus','mp3'))
         |    OR (c.ord % 149 = 0) OR (c.ord % 157 = 0)
         |    OR (count(*) OVER (PARTITION BY c.clip_id) > 1)
         |    OR (r.clip_id IS NULL) AS bad
         |  FROM clips c LEFT JOIN refs r ON c.clip_id = r.clip_id
         |)
         |SELECT bucket, count(*) AS n_rows,
         |  count(CASE WHEN bad THEN 1 END) AS n_bad,
         |  count(CASE WHEN bad THEN 1 END) = 0 AS pass
         |FROM flagged GROUP BY bucket""".stripMargin,
    "vc_verdicts" ->
      s"""$C, flagged AS (
         |  SELECT c.bucket,
         |    (c.transcript IS NULL) OR (c.transcript = '')
         |    OR (c.sr_hz < 8000 OR c.sr_hz > 48000)
         |    OR (c.codec NOT IN ('pcm_s16le','flac','opus','mp3'))
         |    OR (count(*) OVER (PARTITION BY c.clip_id) > 1)
         |    OR (r.clip_id IS NULL) AS bad
         |  FROM clips c LEFT JOIN refs r ON c.clip_id = r.clip_id
         |)
         |SELECT bucket, count(*) AS n_rows,
         |  count(CASE WHEN bad THEN 1 END) AS n_bad,
         |  count(CASE WHEN bad THEN 1 END) = 0 AS pass
         |FROM flagged GROUP BY bucket""".stripMargin,
    "vc_stats" ->
      s"""$C
         |SELECT 'sr_hz' AS column_name, count(*) AS n_rows,
         |  count(CASE WHEN sr_hz IS NULL THEN 1 END) AS n_nulls,
         |  cast(min(sr_hz) AS BIGINT) AS min_v, cast(max(sr_hz) AS BIGINT) AS max_v,
         |  cast(sum(sr_hz) AS BIGINT) AS sum_v,
         |  round(cast(cast(sum(sr_hz) AS BIGINT) AS DOUBLE) / count(sr_hz), 4) AS mean_v
         |FROM clips
         |UNION ALL
         |SELECT 'dur_ms', count(*),
         |  count(CASE WHEN dur_ms IS NULL THEN 1 END),
         |  cast(min(dur_ms) AS BIGINT), cast(max(dur_ms) AS BIGINT),
         |  cast(sum(dur_ms) AS BIGINT),
         |  round(cast(cast(sum(dur_ms) AS BIGINT) AS DOUBLE) / count(dur_ms), 4)
         |FROM clips
         |UNION ALL
         |SELECT 'transcript_len', count(*),
         |  count(CASE WHEN transcript IS NULL THEN 1 END),
         |  cast(min(length(transcript)) AS BIGINT), cast(max(length(transcript)) AS BIGINT),
         |  cast(sum(length(transcript)) AS BIGINT),
         |  round(cast(cast(sum(length(transcript)) AS BIGINT) AS DOUBLE) / count(transcript), 4)
         |FROM clips""".stripMargin,
    "vc_quantiles" ->
      s"""$C
         |SELECT 'dur_ms' AS column_name, cast(0.25 AS DOUBLE) AS p, round(cast(quantile_cont(dur_ms, 0.25) AS DOUBLE), 4) AS v FROM clips
         |UNION ALL SELECT 'dur_ms', cast(0.5 AS DOUBLE), round(cast(quantile_cont(dur_ms, 0.5) AS DOUBLE), 4) FROM clips
         |UNION ALL SELECT 'dur_ms', cast(0.75 AS DOUBLE), round(cast(quantile_cont(dur_ms, 0.75) AS DOUBLE), 4) FROM clips
         |UNION ALL SELECT 'dur_ms', cast(0.95 AS DOUBLE), round(cast(quantile_cont(dur_ms, 0.95) AS DOUBLE), 4) FROM clips
         |UNION ALL SELECT 'dur_ms', cast(0.99 AS DOUBLE), round(cast(quantile_cont(dur_ms, 0.99) AS DOUBLE), 4) FROM clips""".stripMargin,
    "vc_drift_chi2" ->
      s"""$C, cc AS (
         |  SELECT codec,
         |    count(CASE WHEN ord % 2 = 0 THEN 1 END) AS a,
         |    count(CASE WHEN ord % 2 = 1 THEN 1 END) AS b
         |  FROM clips GROUP BY codec
         |), tot AS (SELECT cast(sum(a) AS DOUBLE) AS na, cast(sum(b) AS DOUBLE) AS nb FROM cc)
         |SELECT round(sum(
         |    (a - (a+b)*na/(na+nb)) * (a - (a+b)*na/(na+nb)) / ((a+b)*na/(na+nb))
         |  + (b - (a+b)*nb/(na+nb)) * (b - (a+b)*nb/(na+nb)) / ((a+b)*nb/(na+nb))
         |  ), 4) AS chi2,
         |  count(*) - 1 AS dof
         |FROM cc, tot""".stripMargin,
    "vc_drift_ks" ->
      s"""$C, binned AS (
         |  SELECT cast(floor(dur_ms / 10) AS BIGINT) AS bin,
         |    count(CASE WHEN ord % 2 = 0 THEN 1 END) AS a,
         |    count(CASE WHEN ord % 2 = 1 THEN 1 END) AS b
         |  FROM clips GROUP BY 1
         |), tot AS (SELECT cast(sum(a) AS DOUBLE) AS na, cast(sum(b) AS DOUBLE) AS nb FROM binned),
         |c AS (
         |  SELECT bin,
         |    sum(a) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         |    sum(b) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
         |  FROM binned
         |)
         |SELECT round(max(abs(ca/na - cb/nb)), 6) AS ks FROM c, tot""".stripMargin,
    // the t-digest estimates are sketch-dependent; the hard invariant the
    // query itself emits is the within-2%-of-exact verdict per quantile
    "vc_tdigest" ->
      """SELECT 'dur_ms' AS column_name, cast(0.25 AS DOUBLE) AS p, TRUE AS within_tol
        |UNION ALL SELECT 'dur_ms', cast(0.5 AS DOUBLE), TRUE
        |UNION ALL SELECT 'dur_ms', cast(0.75 AS DOUBLE), TRUE
        |UNION ALL SELECT 'dur_ms', cast(0.95 AS DOUBLE), TRUE
        |UNION ALL SELECT 'dur_ms', cast(0.99 AS DOUBLE), TRUE""".stripMargin,
    "vc_dedup_lww" ->
      s"""$C
         |SELECT clip_id, max(ord) AS kept_ord, count(*) AS n_versions
         |FROM clips GROUP BY clip_id HAVING count(*) > 1""".stripMargin,
    "vc_codec_counts" ->
      s"""$C
         |SELECT codec, count(*) AS n_clips FROM clips GROUP BY codec""".stripMargin,
    // manifest-stats data skipping: the pruned scan must return exactly the
    // range predicate's rows — DuckDB replays the predicate directly
    "vc_skip" ->
      s"""$C
         |SELECT clip_id, sr_hz, dur_ms, codec, bucket FROM clips
         |WHERE clip_id >= 'clip-000000001000' AND clip_id <= 'clip-000000002999'""".stripMargin,
    // dynamic-partition overwrite: the fix (bucket 3's 7999 -> 16000) is
    // replayed arithmetically on the base CTE — per-bucket revalidation
    // over the overwritten snapshot must match it exactly (the corrected
    // bucket clean, every other bucket's violations intact, no ghosts)
    "vc_overwrite" ->
      s"""$C
         |SELECT bucket,
         |       count(*) AS n_rows,
         |       count(CASE WHEN sr2 < 8000 OR sr2 > 48000 THEN 1 END) AS n_sr_bad
         |FROM (SELECT bucket,
         |             CASE WHEN bucket = 3 AND sr_hz = 7999
         |                  THEN CAST(16000 AS INTEGER) ELSE sr_hz END AS sr2
         |      FROM clips)
         |GROUP BY bucket""".stripMargin,
    // additive schema evolution: the late-arriving snr_db column is
    // replayed arithmetically — pre-evolution rows (ord % 3 <> 0) read
    // null, evolved rows carry ord % 40 + 10
    "vc_evolve" ->
      s"""$C
         |SELECT bucket,
         |       count(*) AS n_rows,
         |       count(CASE WHEN ord % 3 = 0 THEN 1 END) AS n_with_snr,
         |       cast(sum(CASE WHEN ord % 3 = 0 THEN ord % 40 + 10 END) AS BIGINT)
         |         AS snr_sum
         |FROM clips GROUP BY bucket""".stripMargin,
    "vc_transcript_eq" ->
      s"""$C
         |SELECT clip_id, 'transcript_equality' AS check_name
         |FROM clips WHERE ord % 173 = 0 AND transcript IS NOT NULL""".stripMargin,
    // fixed-bin histogram: bin i covers [20 + 10*i, 30 + 10*i); dur_ms is
    // always in [20, 500) so no clamping branch is exercised
    "vc_hist" ->
      s"""$C
         |SELECT cast(floor((dur_ms - 20) / 10.0) AS BIGINT) AS bin, count(*) AS n
         |FROM clips GROUP BY 1""".stripMargin,
    // incremental validation of the append commit (snapshot v1 = ord%64<32,
    // v2 appends the rest): row/ref checks over ONLY the delta; uniqueness
    // emits ONLY duplicate groups the append formed or grew (>=1 delta
    // member) — groups entirely inside v1 are deliberately absent (they
    // were v1's commit's findings)
    "vc_incr" ->
      s"""$C, delta AS (SELECT * FROM clips WHERE ord % 64 >= 32)
         |SELECT clip_id, 'not_null_transcript' AS check_name, 'transcript' AS column_name, 'null' AS detail FROM delta WHERE transcript IS NULL
         |UNION ALL SELECT clip_id, 'not_empty_transcript', 'transcript', 'empty' FROM delta WHERE transcript = ''
         |UNION ALL SELECT clip_id, 'in_range_sr_hz', 'sr_hz', cast(sr_hz AS VARCHAR) FROM delta WHERE sr_hz < 8000 OR sr_hz > 48000
         |UNION ALL SELECT clip_id, 'enum_codec', 'codec', codec FROM delta WHERE codec NOT IN ('pcm_s16le','flac','opus','mp3')
         |UNION ALL SELECT c.clip_id, 'ref_clip_id_refs', 'clip_id', 'missing_ref' FROM delta c WHERE NOT EXISTS (SELECT 1 FROM refs r WHERE r.clip_id = c.clip_id)
         |UNION ALL SELECT clip_id, 'unique_clip_id', 'clip_id', cast(cnt AS VARCHAR) FROM (
         |  SELECT clip_id, count(*) AS cnt FROM clips GROUP BY clip_id
         |  HAVING count(*) > 1 AND max(CASE WHEN ord % 64 >= 32 THEN 1 ELSE 0 END) = 1) d""".stripMargin,
    // verdict drift across the append: the oracle is the DIRECT formulation
    // (before = v1 with v1-internal dup scope; after = full table with
    // global dups), deliberately NOT the engine's incremental decomposition
    // — so the decomposition's n_bad_before + n_bad_delta + n_retro
    // arithmetic is validated against an independent derivation
    "vc_verdict_drift" ->
      s"""$C, v1 AS (SELECT * FROM clips WHERE ord % 64 < 32),
         |bf AS (
         |  SELECT c.bucket,
         |    (c.transcript IS NULL) OR (c.transcript = '')
         |    OR (c.sr_hz < 8000 OR c.sr_hz > 48000)
         |    OR (c.codec NOT IN ('pcm_s16le','flac','opus','mp3'))
         |    OR (count(*) OVER (PARTITION BY c.clip_id) > 1)
         |    OR (r.clip_id IS NULL) AS bad
         |  FROM v1 c LEFT JOIN refs r ON c.clip_id = r.clip_id
         |), af AS (
         |  SELECT c.bucket,
         |    (c.transcript IS NULL) OR (c.transcript = '')
         |    OR (c.sr_hz < 8000 OR c.sr_hz > 48000)
         |    OR (c.codec NOT IN ('pcm_s16le','flac','opus','mp3'))
         |    OR (count(*) OVER (PARTITION BY c.clip_id) > 1)
         |    OR (r.clip_id IS NULL) AS bad
         |  FROM clips c LEFT JOIN refs r ON c.clip_id = r.clip_id
         |), b AS (SELECT bucket, count(CASE WHEN bad THEN 1 END) AS n_bad_before FROM bf GROUP BY bucket),
         |a AS (SELECT bucket, count(CASE WHEN bad THEN 1 END) AS n_bad_after FROM af GROUP BY bucket)
         |SELECT a.bucket, coalesce(b.n_bad_before, 0) AS n_bad_before,
         |  a.n_bad_after,
         |  a.n_bad_after > coalesce(b.n_bad_before, 0) AS regressed
         |FROM a LEFT JOIN b ON a.bucket = b.bucket""".stripMargin
  )
}
