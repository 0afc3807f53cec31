package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.clips.ClipsTable
import graft.io.TableFormat

/** Iceberg-layout emulation: snapshot commits, time travel, partition
  * pruning on the bucket column. */
class TableFormatSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("commit -> read round trip with snapshot versioning and pruning") {
    val table = Files.createTempDirectory("graft-table").toString
    val clips = ClipsTable.base(spark, sfDir)

    val v1 = TableFormat.commit(clips, table, "bucket")
    assert(v1 == 1)
    assert(TableFormat.read(spark, table).count() == 1500)

    // second snapshot with fewer rows; latest read sees it, v1 still intact
    val v2 = TableFormat.commit(clips.filter(col("ord") < 100), table, "bucket")
    assert(v2 == 2)
    assert(TableFormat.snapshots(table) == Seq(1, 2))
    assert(TableFormat.read(spark, table).count() == 100)
    assert(TableFormat.read(spark, table, Some(1)).count() == 1500)

    // partition pruning: a bucket filter must hit PartitionFilters, not data
    val pruned = TableFormat.read(spark, table, Some(1)).filter(col("bucket") === 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan.take(500))
    assert(pruned.count() == clips.filter(col("bucket") === 3).count())
  }

  test("snapshot writes do not fan out small files per partition dir") {
    // regression pin for the round-6 small-files fix: without the
    // repartition-by-partition-column inside writeSnapshot, a P-partition
    // table written from T upstream tasks lands P×T files (measured 1,024
    // per version on the 32-bucket clips table) and every read-back pays
    // the open/footer cost per file. After the shuffle each bucket dir
    // should hold O(1) files at test data volumes.
    val table = Files.createTempDirectory("graft-table-files").toString
    TableFormat.commit(ClipsTable.base(spark, sfDir).repartition(16), table, "bucket")
    val bucketDirs = Files.list(java.nio.file.Paths.get(table, "data", "v1"))
      .iterator().asScala.filter(p => p.getFileName.toString.startsWith("bucket=")).toSeq
    assert(bucketDirs.size == 32)
    bucketDirs.foreach { d =>
      val nParquet = Files.list(d).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(nParquet <= 2,
        s"$d holds $nParquet parquet files — the per-dir fan-out is back")
    }
  }

  test("compact rewrites the append lineage into one generation; expiry reclaims it") {
    val table = Files.createTempDirectory("graft-table-compact").toString
    val clips = ClipsTable.base(spark, sfDir)
    TableFormat.commit(clips.filter(col("ord") % 3 === 0), table, "bucket")
    TableFormat.append(clips.filter(col("ord") % 3 === 1), table, "bucket")
    TableFormat.append(clips.filter(col("ord") % 3 === 2), table, "bucket")
    val total = TableFormat.read(spark, table).count()
    // three generations of files before compaction
    assert(TableFormat.dataDirs(table, 3).size == 3)

    val v4 = TableFormat.compact(spark, table)
    assert(v4 == 4)
    // identical data, one generation, history intact
    assert(TableFormat.read(spark, table).count() == total)
    assert(TableFormat.dataDirs(table, 4).size == 1)
    assert(TableFormat.read(spark, table, Some(3)).count() == total)
    assert(TableFormat.read(spark, table, Some(1)).count() ==
      clips.filter(col("ord") % 3 === 0).count())

    // expiry reclaims the superseded generations; the compacted read stands
    TableFormat.expireSnapshots(table, keep = 1)
    assert(TableFormat.snapshots(table) == Seq(4))
    assert(!Files.exists(java.nio.file.Paths.get(table, "data", "v1")))
    assert(TableFormat.read(spark, table).count() == total)
  }

  test("compact keeps the partition column's type: appends still commit afterwards") {
    val table = Files.createTempDirectory("graft-table-compact-append").toString
    val clips = ClipsTable.base(spark, sfDir)
    assert(clips.schema("bucket").dataType == org.apache.spark.sql.types.LongType)
    TableFormat.commit(clips.filter(col("ord") % 3 === 0), table, "bucket")
    TableFormat.append(clips.filter(col("ord") % 3 === 1), table, "bucket")
    TableFormat.compact(spark, table)
    // the compacted snapshot must still record bigint (the manifest's
    // declared type, which every read takes) so the table's own rows append
    TableFormat.append(clips.filter(col("ord") % 3 === 2), table, "bucket")
    val got = TableFormat.read(spark, table).select("clip_id", "ord", "bucket")
    assert(got.count() == clips.count())
    assert(got.exceptAll(clips.select("clip_id", "ord", "bucket")).isEmpty)
  }

  test("string partition column: manifest stays valid JSON and reads back") {
    // round-2 advice: partition values were embedded unquoted in the
    // manifest, so a non-numeric partition column produced invalid JSON and
    // every read threw 'lists no data'
    val table = Files.createTempDirectory("graft-strpart").toString
    val clips = ClipsTable.base(spark, sfDir).limit(200)
    val v = TableFormat.commit(clips, table, "codec")
    assert(v == 1)
    assert(TableFormat.dataDirs(table, 1).nonEmpty)
    assert(TableFormat.read(spark, table).count() == 200)
    // the manifest itself must parse under the strict grammar
    val snap = java.nio.file.Paths.get(table, "metadata", "snap-1.json")
    assert(graft.repair.PyJson.loads(Files.readString(snap)).isDefined)
  }

  test("append snapshots accumulate data; time travel sees per-batch states") {
    val table = Files.createTempDirectory("graft-append").toString
    val clips = ClipsTable.base(spark, sfDir)

    val v1 = TableFormat.append(clips.filter(col("ord") < 500), table, "bucket")
    val v2 = TableFormat.append(
      clips.filter(col("ord") >= 500 && col("ord") < 1000), table, "bucket")
    val v3 = TableFormat.append(clips.filter(col("ord") >= 1000), table, "bucket")
    assert((v1, v2, v3) == ((1, 2, 3)))

    val total = clips.count()
    assert(TableFormat.read(spark, table).count() == total)
    assert(TableFormat.read(spark, table, Some(1)).count() ==
      clips.filter(col("ord") < 500).count())
    assert(TableFormat.read(spark, table, Some(2)).count() ==
      clips.filter(col("ord") < 1000).count())
    // appends never rewrite: v1's manifest references exactly one dir,
    // v3's references three
    assert(TableFormat.dataDirs(table, 1).size == 1)
    assert(TableFormat.dataDirs(table, 3).size == 3)
  }

  test("manifest column stats: readWhere skips files and loses no rows") {
    // Iceberg data-skipping analogue: a range-laid-out table (ord_day =
    // ord / 256) with clip_id min/max recorded per partition. A clip_id
    // range lookup must (a) return exactly the plain filter's rows and
    // (b) OPEN strictly fewer files than a full scan — the manifest prunes
    // before Spark ever lists the skipped dirs.
    val table = Files.createTempDirectory("graft-skip").toString
    val clips = ClipsTable.base(spark, sfDir)
      .withColumn("ord_day", (col("ord") / 256).cast("int"))
    TableFormat.commit(clips, table, "ord_day", statsCols = Seq("clip_id"))

    val lo = "clip-000000000300"
    val hi = "clip-000000000599"
    val pruned = TableFormat.readWhere(spark, table, "clip_id", lo, hi)
      .select("clip_id", "ord")
    val direct = clips.filter(col("clip_id") >= lo && col("clip_id") <= hi)
      .select("clip_id", "ord")
    assert(pruned.count() == direct.count() && direct.count() > 0)
    assert(pruned.except(direct).isEmpty && direct.except(pruned).isEmpty)

    val fullFiles = TableFormat.read(spark, table).inputFiles.length
    val prunedFiles = pruned.inputFiles.length
    assert(prunedFiles > 0 && prunedFiles < fullFiles / 2,
      s"expected manifest pruning to skip most files: $prunedFiles of $fullFiles read")
  }

  test("readWhere prunes across an append lineage; stat-less dirs are kept") {
    val table = Files.createTempDirectory("graft-skip-append").toString
    val clips = ClipsTable.base(spark, sfDir)
      .withColumn("ord_day", (col("ord") / 256).cast("int"))
    // v1 carries stats; v2 (an old writer, say) recorded none
    TableFormat.commit(clips.filter(col("ord") % 2 === 0), table, "ord_day",
      statsCols = Seq("clip_id"))
    TableFormat.append(clips.filter(col("ord") % 2 === 1), table, "ord_day")

    val lo = "clip-000000000300"
    val hi = "clip-000000000599"
    val pruned = TableFormat.readWhere(spark, table, "clip_id", lo, hi)
    val direct = clips.filter(col("clip_id") >= lo && col("clip_id") <= hi)
    assert(pruned.count() == direct.count() && direct.count() > 0)
    // the stat-less v2 dir must be read in full (correctness never depends
    // on stats being present), so v2's file count lower-bounds the scan
    val v2Files = spark.read.parquet(s"$table/data/v2").inputFiles.length
    val prunedFiles = pruned.inputFiles.length
    val fullFiles = TableFormat.read(spark, table).inputFiles.length
    assert(prunedFiles >= v2Files && prunedFiles < fullFiles,
      s"files: pruned=$prunedFiles v2=$v2Files full=$fullFiles")
  }

  test("compaction preserves the column-stats contract; numeric stats prune") {
    val table = Files.createTempDirectory("graft-skip-compact").toString
    val clips = ClipsTable.base(spark, sfDir)
      .withColumn("ord_day", (col("ord") / 256).cast("int"))
    TableFormat.commit(clips.filter(col("ord") % 2 === 0), table, "ord_day",
      statsCols = Seq("ord"))
    TableFormat.append(clips.filter(col("ord") % 2 === 1), table, "ord_day",
      statsCols = Seq("ord"))
    TableFormat.compact(spark, table)

    val pruned = TableFormat.readWhere(spark, table, "ord", 300L, 599L)
    val direct = clips.filter(col("ord") >= 300 && col("ord") <= 599)
    assert(pruned.count() == direct.count() && direct.count() > 0)
    val fullFiles = TableFormat.read(spark, table).inputFiles.length
    assert(pruned.inputFiles.length < fullFiles,
      s"compacted table lost its stats: ${pruned.inputFiles.length} of $fullFiles read")
  }

  test("overwritePartitions: fix-and-revalidate replaces only the touched partitions") {
    val table = Files.createTempDirectory("graft-overwrite").toString
    val clips = ClipsTable.base(spark, sfDir)
    val v1 = TableFormat.commit(clips, table, "bucket")
    // the fix cycle: bucket 3's out-of-range sr_hz corrected, ONLY that
    // partition rewritten
    val fixed = clips.filter(col("bucket") === 3)
      .withColumn("sr_hz", when(col("sr_hz") === 7999, lit(16000)).otherwise(col("sr_hz")))
    val v2 = TableFormat.overwritePartitions(fixed, table, "bucket")
    assert(v2 == v1 + 1)

    val expected = clips.filter(col("bucket") =!= 3).unionByName(fixed)
    val got = TableFormat.read(spark, table)
    assert(got.count() == expected.count() && got.count() == clips.count())
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
    // time travel to v1 still sees the uncorrected originals
    val old = TableFormat.read(spark, table, Some(v1))
    assert(old.except(clips).isEmpty && clips.except(old).isEmpty)
    // the incremental delta of the overwrite is its replacement rows
    val delta = TableFormat.readIncremental(spark, table, v1, v2)
    assert(delta.except(fixed).isEmpty && fixed.except(delta).isEmpty)
    // the replaced partition's v1 files are never opened by the new read
    assert(!got.inputFiles.exists(f => f.contains("/v1/") && f.contains("/bucket=3/")),
      "excluded partition subdir was read")
    // the manifests alone give the same per-partition rows: v1's bucket 3
    // is excluded, the fresh dir's counts instead
    val readRows = got.groupBy("bucket").count().collect()
      .map(r => (r.getAs[Number](0).longValue(): Any) -> r.getLong(1)).toMap
    assert(TableFormat.partitionRows(table, v2) == readRows)
  }

  test("stats of a type the footer reader skips come from the scan fallback, exactly") {
    // chunkStatValues handles no DateType, so the commit takes scanPartStats
    val table = Files.createTempDirectory("graft-stats-fallback").toString
    val clips = ClipsTable.base(spark, sfDir)
      .withColumn("d", expr("date_add(date'2024-01-01', cast(ord % 97 as int))"))
    TableFormat.commit(clips, table, "bucket", statsCols = Seq("d"))
    val exact = clips.groupBy("bucket")
      .agg(count(lit(1)), min("d").cast("string"), max("d").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    val rows = TableFormat.partitionRows(table, 1)
    val bounds = TableFormat.dirStats(table, "data/v1", "d").get
    val manifest = bounds.map { case (pv, lo, hi) =>
      val b = pv.asInstanceOf[BigInt].toLong
      (b, rows(b), lo.get.toString, hi.get.toString)
    }.toSet
    assert(exact.size == 32 && manifest == exact)
  }

  test("overwrite composes with append, compaction, and stats-pruned reads") {
    val table = Files.createTempDirectory("graft-overwrite-mix").toString
    val clips = ClipsTable.base(spark, sfDir)
      .withColumn("ord_day", (col("ord") / 256).cast("int"))
    // split INSIDE day 2 (512-767) so the replaced partition spans both
    // carried dirs — the overwrite must exclude it from each
    TableFormat.commit(clips.filter(col("ord") <= 600), table, "ord_day",
      statsCols = Seq("ord"))
    TableFormat.append(clips.filter(col("ord") > 600), table, "ord_day",
      statsCols = Seq("ord"))
    // replace day 2 with a shifted copy, then append fresh day-2 rows: the
    // append must NOT resurrect the replaced originals
    val day2Fix = clips.filter(col("ord_day") === 2)
      .withColumn("dur_ms", col("dur_ms") + 1000)
    TableFormat.overwritePartitions(day2Fix, table, "ord_day",
      statsCols = Seq("ord"))
    val day2Extra = clips.filter(col("ord").isin(513, 514, 515))
      .withColumn("clip_id", concat(lit("extra-"), col("clip_id")))
    assert(day2Fix.count() > 0 && day2Extra.count() > 0, "fixture empty")
    TableFormat.append(day2Extra, table, "ord_day", statsCols = Seq("ord"))

    val expected = clips.filter(col("ord_day") =!= 2)
      .unionByName(day2Fix).unionByName(day2Extra)
    val got = TableFormat.read(spark, table)
    assert(got.count() == expected.count())
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)

    // stats-pruned range read over the overwritten lineage loses no rows
    // and returns no ghosts from the replaced partition
    val pruned = TableFormat.readWhere(spark, table, "ord", 600L, 700L)
    val direct = expected.filter(col("ord") >= 600 && col("ord") <= 700)
    assert(pruned.count() == direct.count() && direct.count() > 0)
    assert(pruned.except(direct).isEmpty && direct.except(pruned).isEmpty)
    assert(pruned.select("dur_ms").collect().forall(_.getInt(0) > 1000),
      "ghost rows from the replaced partition")

    // compaction materializes the exclusions away and preserves content
    val vc = TableFormat.compact(spark, table)
    val compacted = TableFormat.read(spark, table)
    assert(compacted.except(expected).isEmpty && expected.except(compacted).isEmpty)
    assert(TableFormat.dirExcludes(table, vc).isEmpty,
      "compacted snapshot must carry no exclusions")
  }

  test("additive schema evolution: appended column reads back, old rows null") {
    val table = Files.createTempDirectory("graft-evolve").toString
    val clips = ClipsTable.base(spark, sfDir)
    TableFormat.commit(clips.filter(col("ord") % 3 =!= 0), table, "bucket")
    // mid-lineage the pipeline starts shipping a measured snr_db column
    val evolved = clips.filter(col("ord") % 3 === 0)
      .withColumn("snr_db", col("ord") % 40 + 10)
    TableFormat.append(evolved, table, "bucket")

    val got = TableFormat.read(spark, table)
    assert(got.columns.contains("snr_db"))
    assert(got.count() == clips.count())
    // pre-evolution rows read the new column as null; evolved rows carry it
    assert(got.filter(col("snr_db").isNull).count() ==
      clips.filter(col("ord") % 3 =!= 0).count())
    assert(got.filter(col("snr_db").isNotNull).count() == evolved.count())
    // the incremental delta carries the evolved column fully populated
    val delta = TableFormat.readIncremental(spark, table, 1, 2)
    assert(delta.columns.contains("snr_db"))
    assert(delta.filter(col("snr_db").isNull).count() == 0)
    // a batch MISSING an existing column is rejected loudly (additive only)
    val ex = intercept[IllegalArgumentException] {
      TableFormat.append(clips.drop("codec"), table, "bucket")
    }
    assert(ex.getMessage.contains("codec"))
    // compaction rewrites one generation carrying the full evolved schema
    TableFormat.compact(spark, table)
    val compacted = TableFormat.read(spark, table)
    assert(compacted.count() == clips.count())
    assert(compacted.filter(col("snr_db").isNotNull).count() == evolved.count())
  }

  test("an empty append commits a valid, readable snapshot") {
    val table = Files.createTempDirectory("graft-empty-append").toString
    val clips = ClipsTable.base(spark, sfDir)
    TableFormat.commit(clips, table, "bucket")
    // a commit cycle that adds no rows: the manifest must not reference a
    // fileless data dir (schema inference over one poisons every read)
    val v2 = TableFormat.append(clips.filter(lit(false)), table, "bucket")
    assert(v2 == 2)
    assert(TableFormat.read(spark, table).count() == clips.count())
    assert(TableFormat.dataDirs(table, v2) == Seq("data/v1"))
  }

  test("overwrite exclusion filter is null-safe on the partition column") {
    val table = Files.createTempDirectory("graft-overwrite-null").toString
    import spark.implicits._
    val base = Seq((1L, "p1"), (2L, "p1"), (3L, "p2"), (4L, null: String))
      .toDF("id", "grp")
    TableFormat.commit(base, table, "grp")
    // replacing p1 must keep the null-partition row
    TableFormat.overwritePartitions(Seq((9L, "p1")).toDF("id", "grp"), table, "grp")
    val afterP1 = TableFormat.read(spark, table)
    assert(afterP1.count() == 3)
    assert(afterP1.filter(col("grp").isNull).count() == 1)
    assert(afterP1.filter(col("grp") === "p1").select("id").as[Long].collect().toSeq == Seq(9L))
    // replacing the null partition itself drops only the null rows
    TableFormat.overwritePartitions(
      Seq((10L, null: String)).toDF("id", "grp"), table, "grp")
    val afterNull = TableFormat.read(spark, table)
    assert(afterNull.count() == 3)
    assert(afterNull.filter(col("grp").isNull).select("id").as[Long].collect().toSeq == Seq(10L))
  }

  test("write guards: type change and partition-col mismatch fail loudly; stats contract survives a stat-less append") {
    val table = Files.createTempDirectory("graft-guards").toString
    val clips = ClipsTable.base(spark, sfDir)
      .withColumn("ord_day", (col("ord") / 256).cast("int"))
    TableFormat.commit(clips.filter(col("ord") <= 600), table, "ord_day",
      statsCols = Seq("ord"))
    // changing an existing column's TYPE would commit fine and then poison
    // every read at union time — rejected at the write instead
    val exType = intercept[IllegalArgumentException] {
      TableFormat.append(
        clips.filter(col("ord") > 600)
          .withColumn("sr_hz", col("sr_hz").cast("string")), table, "ord_day")
    }
    assert(exType.getMessage.contains("sr_hz"))
    // targeting a different partition column would record dir_excludes
    // values an overwrite applies to the WRONG column of carried dirs
    val exPc = intercept[IllegalArgumentException] {
      TableFormat.overwritePartitions(
        clips.filter(col("ord") > 600), table, "bucket")
    }
    assert(exPc.getMessage.contains("ord_day"))
    // a stat-less append must not launder the stats contract away: after
    // compaction, range reads still prune
    TableFormat.append(clips.filter(col("ord") > 600), table, "ord_day") // no statsCols
    TableFormat.compact(spark, table)
    val pruned = TableFormat.readWhere(spark, table, "ord", 100L, 200L)
    val direct = clips.filter(col("ord") >= 100 && col("ord") <= 200)
    assert(pruned.count() == direct.count() && direct.count() > 0)
    val fullFiles = TableFormat.read(spark, table).inputFiles.length
    assert(pruned.inputFiles.length < fullFiles,
      s"stats contract lost: ${pruned.inputFiles.length} of $fullFiles files read")
  }

  test("rollback: O(1) undo to a retained version, history continues on top") {
    val table = Files.createTempDirectory("graft-rollback").toString
    val clips = ClipsTable.base(spark, sfDir)
    val v1 = TableFormat.commit(clips.filter(col("ord") <= 600), table, "bucket")
    TableFormat.append(clips.filter(col("ord") > 600), table, "bucket")
    // the second commit turns out bad: instant undo, no data IO
    val v3 = TableFormat.rollback(table, v1)
    assert(v3 == 3)
    val rolled = TableFormat.read(spark, table)
    val expected = clips.filter(col("ord") <= 600)
    assert(rolled.count() == expected.count())
    assert(rolled.except(expected).isEmpty && expected.except(rolled).isEmpty)
    // the bad commit stays on history (auditable) until expired
    assert(TableFormat.read(spark, table, Some(2)).count() == clips.count())
    // life continues on top of the rollback: appends land normally
    TableFormat.append(clips.filter(col("ord") > 600), table, "bucket")
    assert(TableFormat.read(spark, table).count() == clips.count())
    // rolling back to an expired version fails loudly
    TableFormat.expireSnapshots(table, keep = 1)
    val ex = intercept[IllegalStateException] { TableFormat.rollback(table, v1) }
    assert(ex.getMessage.contains("expired"))
  }

  test("readWhere with a fully-disjoint range returns an empty typed frame") {
    val table = Files.createTempDirectory("graft-skip-empty").toString
    val clips = ClipsTable.base(spark, sfDir)
      .withColumn("ord_day", (col("ord") / 256).cast("int"))
    TableFormat.commit(clips, table, "ord_day", statsCols = Seq("ord"))
    val out = TableFormat.readWhere(spark, table, "ord", -100L, -1L)
    assert(out.count() == 0)
    assert(out.columns.toSeq == TableFormat.read(spark, table).columns.toSeq)
  }

  test("reads take the manifest schema: no Spark job before an action, every partition value kept") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft-declared").toString
    // "00123" would infer as int 123; Spark escapes "a/b=c %d" in its dir name
    val odd = "a/b=c %d"
    val base = Seq((1L, "00123"), (2L, odd), (3L, "p"), (4L, null: String), (5L, odd))
      .toDF("id", "grp")
    val v1 = TableFormat.commit(base, table, "grp", statsCols = Seq("id"))
    val delta = Seq((6L, "00123"), (7L, "00123")).toDF("id", "grp")
    val v2 = TableFormat.append(delta, table, "grp", statsCols = Seq("id"))

    // building the frames reads manifests and lists dirs only: no Spark
    // job starts before the marker job
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobGroups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val (all, incr, where) = try {
      val frames = (TableFormat.read(spark, table),
        TableFormat.readIncremental(spark, table, v1, v2),
        TableFormat.readWhere(spark, table, "id", 2L, 6L))
      sc.setJobGroup("after-build", "marker")
      spark.range(4).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobGroups.contains("after-build") && System.nanoTime() < deadline) Thread.sleep(20)
      frames
    } finally sc.removeSparkListener(listener)
    assert(jobGroups.contains("after-build"), "marker job never reached the listener")
    val beforeMarker = jobGroups.asScala.takeWhile(_ != "after-build").toSeq
    assert(beforeMarker.isEmpty, s"building three reads ran ${beforeMarker.size} Spark jobs")

    // values round-trip exactly, with the session's partition-type
    // inference left at its default (on)
    assert(spark.conf.get("spark.sql.sources.partitionColumnTypeInference.enabled") == "true")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "grp").as[(Long, String)].collect().toSet
    val expected = base.unionByName(delta)
    assert(all.schema("grp").dataType == org.apache.spark.sql.types.StringType)
    assert(rows(all) == rows(expected))
    assert(rows(incr) == rows(delta))
    assert(rows(where) == rows(expected.filter(col("id").between(2L, 6L))))

    // overwriting the escaped and the numeric-looking value replaces
    // exactly their rows, and never opens their replaced subdirs
    val fix = Seq((8L, odd), (9L, "00123")).toDF("id", "grp")
    TableFormat.overwritePartitions(fix, table, "grp", statsCols = Seq("id"))
    val fixed = expected.filter(col("grp").isNull || !col("grp").isin(odd, "00123")).unionByName(fix)
    val got = TableFormat.read(spark, table)
    assert(rows(got) == rows(fixed) && got.count() == fixed.count())
    assert(got.inputFiles.filter(f => f.contains("/v1/") || f.contains("/v2/")).forall(f =>
      f.contains("/grp=p/") || f.contains("/grp=__HIVE_DEFAULT_PARTITION__/")),
      got.inputFiles.mkString(", "))
    // a stats-pruned range read over the result equals a direct filter
    assert(rows(TableFormat.readWhere(spark, table, "id", 2L, 8L)) ==
      rows(fixed.filter(col("id").between(2L, 8L))))
  }

  test("a commit that crashed before moving the version hint: expiry keeps the current snapshot") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft-crashed-commit").toString
    def rows(vs: Range) = vs.map(i => (i.toLong, i % 3)).toDF("id", "bucket")
    TableFormat.commit(rows(0 until 10), table, "bucket")
    TableFormat.commit(rows(10 until 20), table, "bucket")
    // v3 writes its data and manifest, then the process dies before the
    // hint moves: the on-disk state is v3's files with the hint still at 2
    TableFormat.commit(rows(20 until 30), table, "bucket")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(table, "metadata", "version-hint.txt"), "2")
    assert(TableFormat.snapshots(table) == Seq(1, 2))
    TableFormat.expireSnapshots(table, 1)
    assert(TableFormat.snapshots(table) == Seq(2))
    assert(TableFormat.read(spark, table).select("id").as[Long].collect().sorted.toSeq ==
      (10L until 20L))
    // keep = 0 still keeps the current snapshot; the next commit replaces v3's leftovers
    TableFormat.expireSnapshots(table, 0)
    assert(TableFormat.read(spark, table).count() == 10)
    assert(TableFormat.commit(rows(30 until 35), table, "bucket") == 3)
    assert(TableFormat.read(spark, table).count() == 5)
  }
}
