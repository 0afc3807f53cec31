package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.audio.AudioQueries
import graft.queries.ClipQueries

/** Spark integration tests over the deterministic sf0.001 fixture.
  * Expected sets follow the arithmetic injection rules in ClipsTable. */
class EngineSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("flagship entry returns verdict rows") {
    assert(SparkEntry.entry(spark).count() == 32)
  }

  test("violations contain exactly the injected classes") {
    val v = ClipQueries.violations(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // ord=89 -> null transcript
    assert(v.contains(("clip-000000000089", "not_null_transcript")))
    // ord=113 -> empty transcript
    assert(v.contains(("clip-000000000113", "not_empty_transcript")))
    // ord=97 -> sr 7999
    assert(v.contains(("clip-000000000097", "in_range_sr_hz")))
    // ord=211 -> codec speex
    assert(v.contains(("clip-000000000211", "enum_codec")))
    // ord=101 -> duplicate of clip 102
    assert(v.contains(("clip-000000000102", "unique_clip_id")))
    // ord=131 -> withheld from refs
    assert(v.contains(("clip-000000000131", "ref_clip_id_refs")))
    val byCheck = v.groupBy(_._2).view.mapValues(_.size).toMap
    // orderkeys are 0..1499: count of multiples of each injection modulus
    assert(byCheck("not_null_transcript") == 17)   // k % 89 == 0
    assert(byCheck("in_range_sr_hz") == 16)        // k % 97 == 0
    assert(byCheck("enum_codec") == 8)             // k % 211 == 0
  }

  test("verdict totals are consistent with the violation table") {
    val verd = ClipQueries.verdicts(spark, sfDir).collect()
    assert(verd.map(_.getLong(1)).sum == 1500)
    assert(verd.forall(r => (r.getLong(2) == 0) == r.getBoolean(3)))
  }

  test("t-digest quantiles track exact percentiles within 2%") {
    val exact = ClipQueries.quantiles(spark, sfDir)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val sketch = ClipQueries.tdigest(spark, sfDir)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    exact.foreach { case (p, ev) =>
      assert(math.abs(sketch(p) - ev) / math.max(1.0, ev) < 0.02,
        s"p=$p exact=$ev sketch=${sketch(p)}")
    }
  }

  test("specialized pipeline verdicts equal the generic compiler path") {
    import org.apache.spark.sql.functions._
    // specialized (window-fused referential) on replicate=1
    val fused = graft.run.ValidationPipeline.verdicts(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    // generic: same audio flags + CheckCompiler with an explicit refs table
    val meta = graft.clips.ClipsTable.base(spark, sfDir)
    val flagged = {
      import spark.implicits._
      graft.audio.AudioQueries.fullFrom(spark, meta).map { c =>
        val snr = graft.audio.WavReference.snrVsClean(c.bytes, graft.audio.AudioQueries.seedOf(c.clip_id))
        val n = graft.audio.Wav.decode(c.bytes).map(_._2.length.toLong).getOrElse(-1L)
        (c.clip_id, c.sr_hz, c.dur_ms, c.codec, c.transcript, c.ord, c.bucket,
          snr.isNaN || snr < 30.0, n != c.sr_hz.toLong * c.dur_ms / 1000L)
      }.toDF("clip_id", "sr_hz", "dur_ms", "codec", "transcript", "ord", "bucket",
        "snr_bad", "dur_bad")
    }
    val base = ClipQueries.suite(spark, sfDir)
    val suite = base.copy(checks = base.checks ++ Seq(
      graft.dsl.RowExpr("audio_snr", "bytes", col("snr_bad") === true, lit("snr")),
      graft.dsl.RowExpr("audio_dur", "bytes", col("dur_bad") === true, lit("dur"))))
    val generic = graft.compile.CheckCompiler.verdicts(flagged, suite)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(fused == generic)
  }

  test("declarative full suite over augmented clips equals the fused pipeline") {
    val fused = graft.run.ValidationPipeline.verdicts(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val aug = graft.run.ValidationPipeline.augmented(spark, sfDir)
    val suite = graft.run.ValidationPipeline.fullSuite(spark, sfDir)
    val declarative = graft.compile.CheckCompiler.verdicts(aug, suite)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(fused == declarative)
    // the violation table attributes the audio failures to their checks
    val v = graft.compile.CheckCompiler.violations(aug, suite)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val snrRows = v.filter(_._2 == "audio_snr_min").map(_._1).toSet
    val durRows = v.filter(_._2 == "audio_dur_consistency").map(_._1).toSet
    val clips = graft.clips.ClipsTable.base(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(5))
    assert(snrRows == clips.filter(_._2 % 149 == 0).map(_._1).toSet)
    assert(durRows == clips.filter(_._2 % 157 == 0).map(_._1).toSet)
  }

  test("replicated full suite: refs and duplicates follow the replicated base") {
    import graft.run.ValidationPipeline
    val k = 2
    // the recompute: per clip_id over the collected replicated base, its
    // row count and whether any of its rows is kept in refs (ord % 131 != 0)
    val base = ValidationPipeline.replicatedBase(spark, sfDir, k).collect()
    val rows = base.map(r => (r.getString(0), r.getLong(5)))
    val byId = rows.groupBy(_._1)
    val missingRef = byId.collect { case (id, rs) if rs.forall(_._2 % 131 == 0) => id }.toSet
    val dup = byId.collect { case (id, rs) if rs.length > 1 => id }.toSet
    assert(missingRef.nonEmpty && dup.nonEmpty)
    val refViolations = graft.compile.CheckCompiler.violations(
        ValidationPipeline.augmented(spark, sfDir, k), ValidationPipeline.fullSuite(spark, sfDir, k))
      .filter(org.apache.spark.sql.functions.col("check_name") === "ref_clip_id_refs")
      .collect().map(_.getString(0))
    assert(refViolations.sorted.toSeq ==
      rows.filter(r => missingRef(r._1)).map(_._1).sorted.toSeq)
    // a bad row: a metadata injection (carried in its columns), an audio
    // injection (planted on its replicated ord), a missing ref, or a
    // duplicated clip_id (the ord % 101 collisions)
    val expectedBad = base.count { r =>
      val (id, sr, codec, tr, o) = (r.getString(0), r.getInt(1), r.getString(3),
        Option(r.getString(4)), r.getLong(5))
      tr.forall(_.isEmpty) || sr < 8000 || sr > 48000 ||
        !Set("pcm_s16le", "flac", "opus", "mp3")(codec) ||
        o % 149 == 0 || o % 157 == 0 || missingRef(id) || dup(id)
    }
    val verdicts = ValidationPipeline.verdicts(spark, sfDir, k).collect()
    assert(verdicts.map(_.getLong(1)).sum == rows.length)
    assert(verdicts.map(_.getLong(2)).sum == expectedBad)
  }

  test("Runner executes the full audio suite with checkpoint resume") {
    val out = java.nio.file.Files.createTempDirectory("graft-runner-audio").toString
    val aug = graft.run.ValidationPipeline.augmented(spark, sfDir)
    val suite = graft.run.ValidationPipeline.fullSuite(spark, sfDir)
    graft.run.Runner.run(spark, aug, suite, out, maxBuckets = 16)
    graft.run.Runner.run(spark, aug, suite, out)
    val resumed = graft.run.Runner.verdicts(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val oneShot = graft.run.ValidationPipeline.verdicts(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(resumed == oneShot)
  }

  test("uniqueness verdicts survive a 10^5x hot duplicate key with no window hot-spot") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one clip_id duplicated 100,000x plus unique tails — the pathological
    // skew the round-2 count(*) OVER (PARTITION BY clip_id) window funnelled
    // into a single task
    val skewed = spark.range(0, 100000).select(
      lit("clip-hot").as("clip_id"), col("id").as("ord"), (col("id") % 8).as("bucket"))
      .unionByName(spark.range(0, 1000).select(
        concat(lit("clip-u"), col("id")).as("clip_id"),
        (col("id") + 200000).as("ord"), (col("id") % 8).as("bucket")))
    val suite = graft.dsl.CheckSuite("clip_id", "bucket", Seq(graft.dsl.Unique("clip_id")))
    val verdicts = graft.compile.CheckCompiler.verdicts(skewed, suite)
    val rows = verdicts.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // every bucket: 12,500 hot rows all bad + 125 unique rows all good
    assert(rows == (0L until 8L).map(b => (b, 12625L, 12500L)).toSet)
    // plan assertion (final adaptive plan, after execution): uniqueness
    // compiles to aggregate + join — the hot key is pre-combined map-side,
    // never collected into one window task; with the tiny dup-key side AQE
    // picks a broadcast join at runtime (no forced hint: dup cardinality is
    // data-dependent)
    val plan = verdicts.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"verdict plan still contains a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the tiny dup-key side:\n$plan")
  }

  test("duplicate NULL keys: verdicts and violations agree (null-safe dup join)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (Option.empty[String], 0L, 0L), (Option.empty[String], 1L, 0L),
      (Some("k1"), 2L, 1L), (Some("k2"), 3L, 1L))
      .toDF("clip_id", "ord", "bucket")
    val suite = graft.dsl.CheckSuite("clip_id", "bucket", Seq(graft.dsl.Unique("clip_id")))
    val verd = graft.compile.CheckCompiler.verdicts(df, suite)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the two NULL-key rows in bucket 0 are duplicates of each other
    assert(verd == Set((0L, 2L, 2L), (1L, 2L, 0L)))
    val viol = graft.compile.CheckCompiler.violations(df, suite).collect()
    assert(viol.length == 1 && viol.head.getString(1) == "unique_clip_id")
  }

  test("salted codec counts equal the naive aggregation") {
    val salted = ClipQueries.codecCounts(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val naive = graft.clips.ClipsTable.base(spark, sfDir)
      .groupBy("codec").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == naive)
    // the deliberate skew is present: hot codec carries ~70% of rows
    assert(salted("pcm_s16le").toDouble / salted.values.sum > 0.6)
  }

  test("fused pipeline plan shape: one synth pass, no window, AQE-broadcast anomalies") {
    // lock in the 100x-scale plan: the expensive synth stream is scanned
    // once (exactly one typed MapPartitions), global checks arrive via a
    // join of pre-aggregated anomalous keys (no clip_id window); the join
    // is unhinted — at this scale the anomaly side is small, so the FINAL
    // adaptive plan must show AQE converting it to a broadcast join
    val verdicts = graft.run.ValidationPipeline.verdicts(spark, sfDir)
    verdicts.collect()
    // AdaptiveSparkPlan.toString prints Final AND Initial sections —
    // assert on the final one only
    val plan = verdicts.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"), s"window in fused plan:\n$plan")
    assert("MapPartitions".r.findAllIn(plan).size == 1,
      s"synth pass not single-scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the small anomaly side:\n$plan")
  }

  test("json_repair_schema: no CodegenFallback; codegen output equals direct evaluation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    assert(!graft.functions.JsonSchemaRepairExpr(
        org.apache.spark.sql.catalyst.expressions.Literal("{}"), "{}", salvage = false)
      .isInstanceOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])
    val schema =
      """{"type": "object", "properties": {"k": {"type": "integer"}}, "required": ["k"]}"""
    val inputs = Seq("{'k': '7'}", "{}", "{k: 3,}", "not json at all", """{"k": 11}""")
    val got = inputs.toDF("s")
      .select(col("s"),
        graft.functions.JsonRepairFunctions.jsonRepairSchema(spark, col("s"), schema).as("r"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    val sv = graft.repair.PyJson.loads(schema).get
    val want = inputs.map { s =>
      s -> (try Some(graft.repair.PyJson.dumps(
          graft.repair.SchemaRepair.loads(s, sv, graft.repair.SchemaRepair.Standard)))
        catch { case _: graft.repair.SchemaRepair.RepairError => None })
    }.toMap
    assert(got == want)
  }

  test("audio SNR violations are exactly the ord%149 rows") {
    val got = AudioQueries.snrViolations(spark, sfDir)
      .collect().map(_.getString(0)).sorted
    val expected = (0 until 1500).filter(_ % 149 == 0)
      .map(k => f"clip-${if (k % 101 == 0) k + 1 else k}%012d").sorted
    assert(got.toSeq == expected)
  }

  test("duration mismatches are exactly the ord%157 rows") {
    val got = AudioQueries.durMismatch(spark, sfDir).collect()
    assert(got.length == (0 until 1500).count(_ % 157 == 0))
    got.foreach(r => assert(r.getLong(2) > 0))
  }

  test("violations plan: one wide scan; row+ref checks fused, no window") {
    // round-4 restructure: the old one-branch-per-check union re-scanned
    // (and re-derived) the wide input once per row/ref branch — Catalyst
    // does not dedupe common subtrees across union branches. The fused
    // shape scans the wide columns ONCE (row structs + ref presence joins
    // + one explode); only the uniqueness aggregate reads the input again,
    // column-pruned to the key
    val v = ClipQueries.violations(spark, sfDir)
    v.collect()
    val plan = v.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Window"), s"window in violations plan:\n$plan")
    // wide transcript-bearing columns read exactly once
    val scanLines = plan.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scanLines.count(_.contains("o_orderpriority")) == 1,
      s"wide columns scanned more than once:\n$plan")
    // total parquet scans: wide pass + refs build + uniqueness agg = 3
    // (the latter two pruned to o_orderkey; round-3 shape had 4)
    assert(scanLines.size == 3,
      s"expected 3 parquet scans (1 wide + 2 key-pruned):\n$plan")
    // ref presence arrives via a join the planner may broadcast, and the
    // violation structs are built in the SAME stage as that join's probe
    assert(plan.contains("LeftOuter"), s"ref presence join missing:\n$plan")
  }

  test("violations plan at N=2 refs: still one wide scan, N+2 scans total") {
    // the fused one-wide-scan shape must hold for ARBITRARY ref counts:
    // each extra RefIntegrity adds exactly one key-pruned ref-build scan
    // and one presence left-join on the SAME wide pass — never a second
    // scan of the wide columns (round-5 stretch; generalizes the N=1
    // assertion above)
    import graft.dsl._
    val dir = java.nio.file.Files.createTempDirectory("graft-tworef").toString
    try {
      // second, differently-keyed ref: a codec registry with mp3 absent,
      // so the added check provably fires
      spark.createDataFrame(Seq(Tuple1("pcm_s16le"), Tuple1("flac"), Tuple1("opus")))
        .toDF("codec").write.mode("overwrite").parquet(dir)
      val s0 = ClipQueries.suite(spark, sfDir)
      val suite2 = s0.copy(
        checks = s0.checks :+ RefIntegrity("codec", "codec_registry"),
        refs = s0.refs + ("codec_registry" -> spark.read.parquet(dir)))
      val v = graft.compile.CheckCompiler.violations(
        graft.clips.ClipsTable.base(spark, sfDir), suite2)
      val rows = v.collect()
      assert(rows.exists(_.getString(1) == "ref_codec_codec_registry"),
        "second ref check produced no violations — fixture is vacuous")
      // baseline checks unchanged by the extra ref
      val base = ClipQueries.violations(spark, sfDir).count()
      assert(rows.count(_.getString(1) != "ref_codec_codec_registry") == base)
      val plan = v.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(!plan.contains("Window"), s"window in two-ref plan:\n$plan")
      val scanLines = plan.linesIterator.filter(_.contains("FileScan parquet")).toSeq
      assert(scanLines.count(_.contains("o_orderpriority")) == 1,
        s"wide columns scanned more than once:\n$plan")
      // 1 wide pass + 2 ref builds + 1 uniqueness agg = 4
      assert(scanLines.size == 4,
        s"expected 4 parquet scans (1 wide + 3 key-pruned):\n$plan")
    } finally graft.io.Scratch.deleteRecursively(dir)
  }

  test("bench action: noop-sink write retains the projection count() prunes") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val jr = graft.queries.RepairQueries.repaired(spark, sfDir)
    // the round-3 defect, pinned: under a global count Catalyst prunes the
    // whole projection — the repair expression vanishes from the plan, so
    // timing count() times a bare parquet scan
    val countPlan = jr.groupBy().count().queryExecution.optimizedPlan.toString
    assert(!countPlan.toLowerCase.contains("jsonrepair"),
      s"count() no longer prunes — revisit the bench rationale:\n$countPlan")
    // the noop DSv2 sink consumes every output column: the executed write
    // plan must still contain the repair expression
    @volatile var captured: String = null
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured = qe.executedPlan.toString
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      jr.write.format("noop").mode("overwrite").save()
      val deadline = System.currentTimeMillis() + 20000
      while (captured == null && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(l)
    assert(captured != null, "QueryExecutionListener never fired for the noop write")
    assert(captured.toLowerCase.contains("jsonrepair"),
      s"noop write pruned the projection — bench numbers would be vacuous:\n$captured")
  }
}
