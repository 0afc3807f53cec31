package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-format seam (SURVEY.md §7.1 io/): the engine targets Iceberg-layout
  * tables, but no Iceberg jars ship in this sandbox, so this seam emulates
  * the layout with partitioned parquet + snapshot metadata:
  *
  * ```
  * <table>/data/v<k>/bucket=<n>/  # partitioned data files (parquet)
  * <table>/metadata/snap-<v>.json  # snapshot: partitions + row counts
  * <table>/metadata/version-hint.txt  # current snapshot version
  * ```
  *
  * Snapshot commits are atomic (temp + rename of the version hint), so a
  * reader always sees a complete snapshot — the property the Runner's
  * resume manifest relies on. Swapping in real Iceberg replaces this object
  * with `spark.read.format("iceberg")` and catalog commits; no caller
  * changes.
  */
object TableFormat {

  private def metaDir(table: String): Path = Paths.get(table, "metadata")

  /** JSON-encode a partition value by type — the manifest is load-bearing
    * (read()/dataDirs() parse it with the strict PyJson parser), so a
    * string partition value must be quoted/escaped or every read of the
    * table would fail with 'lists no data'. */
  private def jsonLit(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double if !java.lang.Double.isFinite(d) => s""""$d"""" // NaN/Inf: no JSON literal
    case f: Float if !java.lang.Float.isFinite(f) => s""""$f""""
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double |
              _: java.math.BigDecimal | _: BigInt | _: BigDecimal) => n.toString
    case other => graft.repair.PyJson.dumps(graft.repair.JStr(other.toString))
  }

  private def jsonKey(s: String): String =
    graft.repair.PyJson.dumps(graft.repair.JStr(s))

  /** Full-replace snapshot of `df` partitioned by `partitionCol`. Returns
    * the committed snapshot version. `statsCols` names columns whose
    * per-partition min/max are recorded in the manifest — the Iceberg
    * column-stats analogue that [[readWhere]] prunes on. */
  def commit(df: DataFrame, table: String, partitionCol: String,
      statsCols: Seq[String] = Nil): Int =
    writeSnapshot(df, table, partitionCol, carryForward = false, statsCols)

  /** Append snapshot: the new version's manifest references every data dir
    * of the previous snapshot PLUS this batch's fresh dir — the
    * Iceberg-append shape (a snapshot is a manifest of files; appends never
    * rewrite existing data). Readers of version v see all rows committed
    * through v; time travel to an older version sees fewer. */
  def append(df: DataFrame, table: String, partitionCol: String,
      statsCols: Seq[String] = Nil): Int =
    writeSnapshot(df, table, partitionCol, carryForward = true, statsCols)

  /** Dynamic-partition overwrite — the Iceberg `overwrite` (REPLACE WHERE on
    * partition values) analogue, and the write mode of the fix-and-revalidate
    * cycle: a corrected bucket is recommitted by rewriting ONLY that bucket's
    * partition, never the table. The new snapshot carries every previous data
    * dir forward and records df's partition values as EXCLUDED from all of
    * them (`dir_excludes` in the manifest), so readers of this version see
    * the replaced partitions' rows only from the fresh dir; time travel to
    * older versions still sees the originals, and [[compact]] materializes
    * the exclusions away. Cost is O(replaced partitions) write + a manifest
    * commit — at a 10^12-row table fixing one bucket never touches the other
    * 10^12·(B-1)/B rows. */
  def overwritePartitions(df: DataFrame, table: String, partitionCol: String,
      statsCols: Seq[String] = Nil): Int =
    writeSnapshot(df, table, partitionCol, carryForward = true, statsCols,
      overwrite = true)

  /** One written partition's manifest entry: decoded partition value, row
    * count, and per-statsCol (min, max) bounds (None/None = all-null). */
  private final case class PartStats(pv: Any, rows: Long,
      stats: Map[String, (Option[Any], Option[Any])])

  /** Decode a partition-dir-name value (the text after "pc=") to the
    * batch's own partition type — EXACT, no inference: a numeric-looking
    * STRING partition value ("00123") must round-trip verbatim, which
    * Spark's partition-type inference would destroy. */
  private def decodePartValue(raw: String,
      dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    val unescaped = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(raw)
    if (unescaped == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case LongType => unescaped.toLong
      case IntegerType => unescaped.toInt
      case ShortType => unescaped.toShort
      case ByteType => unescaped.toByte
      case DoubleType => unescaped.toDouble
      case FloatType => unescaped.toFloat
      case BooleanType => unescaped.toBoolean
      case _: DecimalType => BigDecimal(unescaped)
      case _ => unescaped // strings & exotic types: the dir name IS the value
    }
  }

  /** (min, max) of one parquet column-chunk statistics object as JVM
    * values of the column's Spark type; None = type this reader does not
    * handle (caller falls back to the scan path). */
  private def chunkStatValues(st: org.apache.parquet.column.statistics.Statistics[_],
      dt: org.apache.spark.sql.types.DataType): Option[(Any, Any)] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType =>
        Some((st.genericGetMin, st.genericGetMax)) // boxed numerics — cmp() compares them
      case StringType =>
        Some((
          st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
          st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8))
      case _ => None
    }
  }

  // read-only after construction: its default resources load once, not
  // once per partition dir of a commit
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** The engine's one parquet-footer reader: the row groups (row counts,
    * column-chunk statistics) of each file, footers opened one after
    * another on the calling thread — no Spark job, no data pages. Throws
    * on the first unreadable footer; callers fall back to an exact count
    * or scan, never to a partial answer. */
  private[graft] def footerRowGroups(files: Seq[Path])
      : Seq[org.apache.parquet.hadoop.metadata.BlockMetaData] =
    files.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), hadoopConf)
      scala.util.Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(in))(
        _.getFooter.getBlocks.asScala.toSeq)
    }

  /** Manifest stats straight from the written parquet FOOTERS — the
    * Iceberg mechanism: per-partition row counts and min/max bounds read
    * from file metadata ON THE DRIVER, no Spark job, no data IO (round-7:
    * the commit previously paid a full extra evaluation of the batch, and
    * then a scan read-back, for these numbers). Returns None when any
    * required statistic is unavailable, unhandled, or uncomparable — the
    * caller then falls back to [[scanPartStats]]; correctness never
    * depends on footer stats being readable. Footers are read one after
    * another on the calling thread: no pool, no wait to bound. Binary
    * (string) footer bounds use parquet's
    * unsigned-lexicographic ordering, which is exactly Spark's UTF8 binary
    * collation and [[cmp]]'s comparison — the same order readWhere prunes
    * with. */
  private def footerPartStats(dirPath: Path, pcol: String,
      pdt: org.apache.spark.sql.types.DataType, statsCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Option[Seq[PartStats]] = {
    final case class Unavailable() extends RuntimeException
    try {
      val subdirs = scala.util.Using.resource(Files.list(dirPath)) { s =>
        s.iterator().asScala.filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith(s"$pcol=")).toSeq
      }
      if (subdirs.isEmpty) return None
      Some(subdirs.map { sub =>
        val pv = decodePartValue(sub.getFileName.toString.stripPrefix(s"$pcol="), pdt)
        var rows = 0L
        val mins = scala.collection.mutable.Map.empty[String, Any]
        val maxs = scala.collection.mutable.Map.empty[String, Any]
        val files = scala.util.Using.resource(Files.list(sub)) { s =>
          s.iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".parquet"))
            .toSeq
        }
        footerRowGroups(files).foreach { block =>
          rows += block.getRowCount
          statsCols.foreach { c =>
            val chunk = block.getColumns.asScala
              .find(_.getPath.toDotString == c)
              .getOrElse(throw Unavailable())
            val st = chunk.getStatistics
            if (st == null) throw Unavailable()
            if (st.hasNonNullValue) {
              val (mn, mx) = chunkStatValues(st, schema(c).dataType)
                .getOrElse(throw Unavailable())
              mins.get(c) match {
                case Some(cur) =>
                  if (cmp(mn, cur).getOrElse(throw Unavailable()) < 0) mins(c) = mn
                case None => mins(c) = mn
              }
              maxs.get(c) match {
                case Some(cur) =>
                  if (cmp(mx, cur).getOrElse(throw Unavailable()) > 0) maxs(c) = mx
                case None => maxs(c) = mx
              }
            } else if (!(st.isNumNullsSet && st.getNumNulls == block.getRowCount)) {
              // not provably an all-null chunk: the stats were dropped
              // or unreliable — recording (None, None) here would let
              // readWhere WRONGLY prune the partition as all-null
              throw Unavailable()
            }
          }
        }
        PartStats(pv, rows,
          statsCols.map(c => c -> ((mins.get(c), maxs.get(c)))).toMap)
      })
    } catch {
      case _: Unavailable => None
      case scala.util.control.NonFatal(_) => None // unreadable footer → scan path
    }
  }

  /** Scan-based fallback for [[footerPartStats]]: one column-pruned Spark
    * aggregation over the freshly written dir. Partition-type inference is
    * disabled (lossy for numeric-looking string partition values); the
    * raw dir-name string is cast to the batch's own partition type. */
  private def scanPartStats(df: DataFrame, dirPath: Path, pcol: String,
      statsCols: Seq[String]): Seq[PartStats] = {
    val spark = df.sparkSession
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val inferPrev = spark.conf.get(inferKey)
    spark.conf.set(inferKey, "false")
    val statAggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    try spark.read.parquet(dirPath.toString)
      .withColumn(pcol, col(pcol).cast(df.schema(pcol).dataType))
      .groupBy(col(pcol))
      .agg(count(lit(1)).as("n"), statAggs: _*)
      .collect()
      .toSeq.map { r =>
        PartStats(r.get(0), r.getLong(1),
          statsCols.zipWithIndex.map { case (c, i) =>
            c -> ((Option(r.get(2 + 2 * i)), Option(r.get(3 + 2 * i))))
          }.toMap)
      }
    finally spark.conf.set(inferKey, inferPrev)
  }

  private def writeSnapshot(df: DataFrame, table: String, partitionCol: String,
      carryForward: Boolean, statsCols: Seq[String] = Nil,
      overwrite: Boolean = false): Int = {
    val prev = currentVersion(table)
    val prevDirs =
      if (carryForward) prev.map(v => dataDirs(table, v)).getOrElse(Seq.empty)
      else Seq.empty
    val prevExcludes: Map[String, Seq[Any]] =
      if (carryForward) prev.map(v => dirExcludes(table, v)).getOrElse(Map.empty)
      else Map.empty
    // Additive schema evolution (the Iceberg add-column analogue): an
    // append/overwrite batch may ADD columns — readers fill pre-evolution
    // rows with null — but a batch MISSING columns the table already has,
    // CHANGING an existing column's type, or targeting a DIFFERENT
    // partition column is rejected loudly. All three are deferred-failure
    // bombs if allowed through: a missing column silently null-pads new
    // data, a type change commits fine and then poisons every read at
    // unionByName, and a mismatched partition column records dir_excludes
    // values that an overwrite would apply to the WRONG column of the
    // carried dirs (silently deleting unrelated partitions). The checks
    // are manifest-vs-manifest (the snapshot records names and types),
    // no file IO.
    if (carryForward) prev.foreach { v =>
      val prevCols = tableColumns(table, v)
      val missing = prevCols.filterNot(df.columns.toSet)
      if (prevCols.nonEmpty && missing.nonEmpty) throw new IllegalArgumentException(
        s"batch for $table is missing existing columns ${missing.mkString(", ")} — " +
          "schema evolution on this seam is additive only (drop columns via a " +
          "full-replace commit, which rewrites the lineage)")
      val prevTypes = tableSchema(table, v)
      val dfTypes = df.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
      val changed = prevTypes.collect {
        case (c, t) if dfTypes.get(c).exists(_ != t) => s"$c: $t -> ${dfTypes(c)}"
      }
      if (changed.nonEmpty) throw new IllegalArgumentException(
        s"batch for $table changes existing column types (${changed.mkString("; ")}) — " +
          "a type change would commit fine and then fail every subsequent read " +
          "at union time; rewrite the lineage with a full-replace commit instead")
      snapPartitionCol(table, v).foreach { pc =>
        if (pc != partitionCol) throw new IllegalArgumentException(
          s"batch for $table targets partition column '$partitionCol' but the " +
            s"table is partitioned by '$pc' — an overwrite would exclude " +
            s"'$partitionCol' VALUES from dirs partitioned by '$pc', silently " +
            "dropping unrelated partitions (repartition via a full-replace commit)")
      }
    }
    val version = prev.getOrElse(0) + 1
    val dataPath = s"data/v$version"

    // WRITE FIRST, then derive the manifest's row counts and per-partition
    // min/max column stats (Iceberg manifest-entry lower_bounds/
    // upper_bounds analogue) from the FRESHLY WRITTEN FILES — the Iceberg
    // discipline, and the stronger of the two fixes the round-6 advice
    // named for the one-evaluation problem: the batch plan is evaluated
    // exactly once (the write), and the recorded bounds describe exactly
    // the rows on disk even for a non-deterministic batch — readWhere's
    // pruning can never diverge from the data it prunes. (Round-7 first
    // tried persist(): correct, but the cache materialization measurably
    // cost more than re-deriving the batch.) Counts and bounds come from
    // the parquet FOOTERS on the driver ([[footerPartStats]] — no Spark
    // job at all), with a column-pruned scan aggregation as the fallback
    // whenever a footer statistic is unavailable.
    //
    // Repartition BY THE PARTITION COLUMN before the dynamic-partition
    // write: without it every upstream task owns rows of every partition
    // value, so a P-partition table written from T tasks lands P×T small
    // files (measured: the 32-bucket clips snapshot at 32 shuffle
    // partitions wrote ~1,024 files per version and every subsequent
    // snapshot READ paid the open/footer cost ~32×). After the shuffle
    // each task owns whole partition values → ~1 file per dir, and the
    // same shape holds at 10^12 rows (file count scales with data volume
    // via maxRecordsPerFile, not with writer parallelism).
    df.repartition(col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(s"$table/$dataPath")
    val dirPath = Paths.get(table, dataPath)
    // an empty batch writes only _SUCCESS (no partition subdirs): its
    // fileless dir must not reach the manifest (it would fail schema
    // inference and poison every read), so drop it and record no rows
    val hasData = scala.util.Using.resource(Files.list(dirPath)) { s =>
      s.iterator().asScala.exists(Files.isDirectory(_))
    }
    if (!hasData) Scratch.deleteRecursively(dirPath.toString)
    val partStats: Seq[PartStats] =
      if (!hasData) Seq.empty
      else footerPartStats(dirPath, partitionCol,
          df.schema(partitionCol).dataType, statsCols, df.schema)
        .getOrElse(scanPartStats(df, dirPath, partitionCol, statsCols))
    // An empty FULL-REPLACE is rejected loudly (round-7, per the round-6
    // advice): it used to commit a manifest with "data_dirs": [] and
    // atomically advance the version hint, after which every
    // read/readWhere/compact threw 'lists no data' — a poisoned current
    // snapshot produced silently at write time. Empty APPENDS stay valid
    // (a commit cycle that added no rows is a normal lineage event; the
    // carried dirs keep the snapshot readable).
    if (!carryForward && partStats.isEmpty) throw new IllegalArgumentException(
      s"refusing an empty full-replace commit at $table: it would produce a " +
        "current snapshot with no data dirs, unreadable until the next " +
        "commit (append an empty batch instead if this cycle added no rows)")
    val counts = partStats.map { p =>
        val stats =
          if (statsCols.isEmpty) ""
          else statsCols.map { c =>
            val (lo, hi) = p.stats(c)
            s"""${jsonKey(c)}: {"min": ${jsonLit(lo.orNull)}, "max": ${jsonLit(hi.orNull)}}"""
          }.mkString(""", "stats": {""", ", ", "}")
        s"""{"${partitionCol}": ${jsonLit(p.pv)}, "rows": ${p.rows}$stats}"""
      }
    // an overwrite excludes this batch's partition values from every carried
    // dir; appends carry prior exclusions forward untouched (an append after
    // an overwrite must not resurrect the replaced rows)
    val newExcludes: Map[String, Seq[Any]] =
      if (!overwrite) prevExcludes
      else {
        val replaced = partStats.map(_.pv)
        prevDirs.map(d =>
          d -> (prevExcludes.getOrElse(d, Seq.empty) ++ replaced).distinct).toMap
      }
    Files.createDirectories(metaDir(table))
    val newDirs = if (partStats.isEmpty) prevDirs else prevDirs :+ dataPath
    val allDirs = newDirs.map(d => s""""$d"""").mkString(", ")
    // the DIR records its own stats (what this batch measured); the
    // SNAPSHOT records the table's stats CONTRACT — the union with the
    // carried manifest's, so one stat-less append can't make a later
    // compact() silently drop the stats every readWhere depends on
    val contractStatsCols =
      if (carryForward)
        (prev.map(v => snapStatsCols(table, v)).getOrElse(Seq.empty) ++ statsCols).distinct
      else statsCols
    val statsColsJson = statsCols.map(jsonKey).mkString("[", ", ", "]")
    val contractStatsJson = contractStatsCols.map(jsonKey).mkString("[", ", ", "]")
    val schemaJson = df.schema.fields
      .map(f => s"${jsonKey(f.name)}: ${jsonKey(f.dataType.catalogString)}")
      .mkString("{", ", ", "}")
    val excludesJson = newExcludes.filter(_._2.nonEmpty).map { case (d, vs) =>
      s"""${jsonKey(d)}: ${vs.map(jsonLit).mkString("[", ", ", "]")}"""
    }.mkString("{", ", ", "}")
    // the snapshot's column names + types: the write-side evolution guard
    // reads them manifest-to-manifest; an empty batch keeps the previous
    // schema (it wrote no data to evolve anything with)
    val (columnsJson, schemaJsonFinal) =
      if (partStats.isEmpty) {
        val cols = prev.map(v => tableColumns(table, v)).getOrElse(Seq.empty)
        val types = prev.map(v => tableSchema(table, v)).getOrElse(Map.empty)
        (cols.map(jsonKey).mkString("[", ", ", "]"),
          cols.flatMap(c => types.get(c).map(t => s"${jsonKey(c)}: ${jsonKey(t)}"))
            .mkString("{", ", ", "}"))
      } else
        (df.columns.toSeq.map(jsonKey).mkString("[", ", ", "]"), schemaJson)
    val snap =
      s"""{"version": $version, "data_dirs": [$allDirs], "partition_col": "$partitionCol",
         | "stats_cols": $contractStatsJson, "dir_excludes": $excludesJson,
         | "columns": $columnsJson, "schema": $schemaJsonFinal,
         | "partitions_added": [${counts.mkString(", ")}]}""".stripMargin
    Files.writeString(metaDir(table).resolve(s"snap-$version.json"), snap)
    // Per-DIR metadata (partition col + column stats), in its own file with
    // the DATA DIR's lifetime — found by the lifecycle model test (seed 7):
    // snapshot manifests are deleted by expireSnapshots while their data
    // dirs live on under retained snapshots, so dir-scoped metadata parked
    // in snap-<k>.json dies too early — an expired overwrite target then
    // failed loudly ("carries exclusions but ... no partition_col") and
    // stats pruning silently degraded to full scans. Readers prefer this
    // file and fall back to the snap manifest for pre-existing tables;
    // expiry deletes it only alongside its data dir.
    if (partStats.nonEmpty)
      Files.writeString(metaDir(table).resolve(s"dir-v$version.json"),
        s"""{"partition_col": "$partitionCol", "stats_cols": $statsColsJson,
           | "partitions_added": [${counts.mkString(", ")}]}""".stripMargin)
    val tmp = metaDir(table).resolve(".version-hint.tmp")
    Files.writeString(tmp, version.toString)
    Files.move(tmp, metaDir(table).resolve("version-hint.txt"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    version
  }

  /** Data dirs referenced by a snapshot's manifest (parsed with the
    * engine's own strict JSON parser — dogfooding graft.repair.PyJson). */
  def dataDirs(table: String, version: Int): Seq[String] = {
    val snapFile = metaDir(table).resolve(s"snap-$version.json")
    graft.repair.PyJson.loads(Files.readString(snapFile)) match {
      case Some(graft.repair.JObj(f)) => f.get("data_dirs") match {
        case Some(graft.repair.JArr(xs)) =>
          xs.toSeq.collect { case graft.repair.JStr(s) => s }
        case _ => f.get("data") match { // legacy single-dir snapshot
          case Some(graft.repair.JStr(d)) => Seq(d)
          case _ => Seq.empty
        }
      }
      case _ => Seq.empty
    }
  }

  /** Per-partition (partitionValue, min, max) bounds recorded for `colName`
    * by the snapshot that ADDED `dir` (dir names encode their writing
    * version: `data/v<k>` ↔ `snap-<k>.json`'s `partitions_added`). Returns
    * None when that snapshot recorded no stats for the column — the caller
    * must then keep the whole dir (pruning is an optimization, never a
    * correctness gate). Min/max of None = an all-null partition. */
  def dirStats(table: String, dir: String, colName: String)
      : Option[Seq[(Any, Option[Any], Option[Any])]] = {
    import graft.repair.{JArr, JObj, JStr}
    dirMetaFields(table, dir)
      .filter(_.get("stats_cols").exists {
        case JArr(cs) => cs.contains(JStr(colName))
        case _ => false
      })
      .flatMap(partitionsAdded)
      .map { case (pcol, parts) => parts.map { p =>
        val (lo, hi) = p.get("stats") match {
          case Some(JObj(st)) => st.get(colName) match {
            case Some(JObj(mm)) =>
              (mm.get("min").map(jsonScalar).filter(_ != null),
               mm.get("max").map(jsonScalar).filter(_ != null))
            case _ => (None, None)
          }
          case _ => (None, None)
        }
        (p.get(pcol).map(jsonScalar).orNull, lo, hi)
      }}
  }

  /** A dir's partition column and its `partitions_added` entries, from the
    * dir's metadata fields; None when either is missing. */
  private def partitionsAdded(f: Map[String, graft.repair.JsonValue])
      : Option[(String, Seq[collection.Map[String, graft.repair.JsonValue]])] = {
    import graft.repair.{JArr, JObj, JStr}
    (f.get("partition_col"), f.get("partitions_added")) match {
      case (Some(JStr(pc)), Some(JArr(ps))) => Some((pc, ps.toSeq.collect { case JObj(p) => p }))
      case _ => None
    }
  }

  /** Rows per partition value in snapshot `version`, from the manifests
    * alone (no Spark job, no data IO): each data dir's `partitions_added`,
    * minus the values its `dir_excludes` replaced, summed over dirs.
    * Integral values come back as Long. Throws when a dir's metadata is
    * gone (legacy layout), where only a scan could answer. */
  def partitionRows(table: String, version: Int): Map[Any, Long] = {
    val excludes = dirExcludes(table, version)
    dataDirs(table, version).flatMap { d =>
      val (pc, parts) = dirMetaFields(table, d).flatMap(partitionsAdded).getOrElse(
        throw new IllegalStateException(s"dir $d at $table has no metadata listing its partitions"))
      val excluded = excludes.getOrElse(d, Seq.empty).toSet
      parts.map(p => (p.get(pc).map(jsonScalar).orNull, p.get("rows")))
        .filterNot(e => excluded(e._1)).map {
          case (pv, Some(graft.repair.JInt(n))) =>
            (pv match { case b: BigInt => b.toLong: Any; case other => other }) -> n.toLong
          case (pv, _) => throw new IllegalStateException(
            s"dir $d at $table records no row count for partition $pv")
        }
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private val DirVersion = "data/v(\\d+)".r

  /** The metadata fields describing data dir `dir`: its own `dir-v<k>.json`
    * (lifetime = the dir's, survives snapshot expiry) when present, else
    * the writing snapshot's manifest (pre-dir-meta tables), else None
    * (legacy single-dir layout, or both files expired). */
  private def dirMetaFields(table: String, dir: String)
      : Option[Map[String, graft.repair.JsonValue]] = {
    val ver = dir match {
      case DirVersion(v) => v.toInt
      case _ => return None
    }
    Seq(s"dir-v$ver.json", s"snap-$ver.json").iterator
      .map(metaDir(table).resolve(_))
      .filter(Files.exists(_))
      .flatMap(p => graft.repair.PyJson.loads(Files.readString(p)) match {
        case Some(graft.repair.JObj(f)) => Some(f.toMap)
        case _ => None
      })
      .nextOption()
  }

  /** Column names recorded by snapshot `version`'s manifest (write-side
    * evolution guard input). Empty for legacy manifests without the field
    * — the guard then skips, never blocks. */
  def tableColumns(table: String, version: Int): Seq[String] =
    snapField(table, version, "columns") match {
      case Some(graft.repair.JArr(cs)) =>
        cs.toSeq.collect { case graft.repair.JStr(c) => c }
      case _ => Seq.empty
    }

  /** Column name → catalog type recorded by snapshot `version`'s manifest
    * (write-side type-evolution guard input). Empty for legacy manifests. */
  def tableSchema(table: String, version: Int): Map[String, String] =
    snapField(table, version, "schema") match {
      case Some(graft.repair.JObj(f)) => f.collect {
        case (c, graft.repair.JStr(t)) => c -> t
      }.toMap
      case _ => Map.empty
    }

  /** The partition column recorded by snapshot `version`'s manifest. */
  def snapPartitionCol(table: String, version: Int): Option[String] =
    snapField(table, version, "partition_col").collect {
      case graft.repair.JStr(c) => c
    }

  /** The snapshot-level stats CONTRACT (union of every statsCols the
    * lineage has carried — see the writeSnapshot note). */
  def snapStatsCols(table: String, version: Int): Seq[String] =
    snapField(table, version, "stats_cols") match {
      case Some(graft.repair.JArr(cs)) =>
        cs.toSeq.collect { case graft.repair.JStr(c) => c }
      case _ => Seq.empty
    }

  private def snapField(table: String, version: Int, field: String)
      : Option[graft.repair.JsonValue] = {
    val snapFile = metaDir(table).resolve(s"snap-$version.json")
    if (!Files.exists(snapFile)) return None
    graft.repair.PyJson.loads(Files.readString(snapFile)) match {
      case Some(graft.repair.JObj(f)) => f.get(field)
      case _ => None
    }
  }

  /** JSON manifest scalar → JVM value (shared by the stats and excludes
    * readers — keep the decoding in ONE place). */
  private def jsonScalar(v: graft.repair.JsonValue): Any = v match {
    case graft.repair.JStr(s) => s
    case graft.repair.JInt(n) => n
    case graft.repair.JFloat(d) => d
    case graft.repair.JBool(b) => b
    case _ => null
  }

  /** Partition values EXCLUDED per data dir by snapshot `version`'s manifest
    * — the read-side contract of [[overwritePartitions]]: rows of these
    * partition values in the named dirs were replaced by a later dir and
    * must not be read. Missing/legacy field → no exclusions. */
  def dirExcludes(table: String, version: Int): Map[String, Seq[Any]] = {
    import graft.repair.{JArr, JObj}
    snapField(table, version, "dir_excludes") match {
      case Some(JObj(ex)) => ex.collect {
        case (d, JArr(vs)) => d -> vs.toSeq.map(jsonScalar)
      }.toMap
      case _ => Map.empty
    }
  }

  /** Keep-filter implementing a dir's exclusion list: a row survives unless
    * its partition value is in `vals`. Null-safe in both directions — a
    * null partition value is kept unless null itself was replaced, and an
    * excluded value never drags null rows with it (bare `!isin` would: its
    * null result is falsy under `where`). Exclusion values round-trip
    * through the manifest as BigInt — folded to Long so the partition
    * column's comparison stays numeric. */
  private def excludeFilter(pcol: String, vals: Seq[Any])
      : org.apache.spark.sql.Column = {
    val hasNull = vals.contains(null)
    val nonNull = vals.filter(_ != null).map {
      case b: BigInt => b.toLong: Any
      case other => other
    }
    val keep =
      if (nonNull.isEmpty) lit(true)
      else coalesce(!col(pcol).isin(nonNull: _*), lit(true))
    if (hasNull) keep && col(pcol).isNotNull else keep
  }

  /** One manifest dir of snapshot `version`, exclusions applied. Excluded
    * partition subdirs are dropped at LISTING time (their files are never
    * even enumerated, the readWhere economics), and the row-level
    * keep-filter still applies as the correctness backstop for partition
    * values whose on-disk subdir names Spark escapes differently than
    * their toString (exotic chars) — a name miss then costs pruning, never
    * rows. */
  private def readDir(spark: SparkSession, table: String, dir: String,
      excludes: Map[String, Seq[Any]]): DataFrame = {
    val dirPath = Paths.get(table, dir)
    excludes.get(dir) match {
      case Some(vals) if vals.nonEmpty =>
        val pc = dirPartitionCol(table, dir).getOrElse(
          throw new IllegalStateException(
            s"dir $dir at $table carries exclusions but its writing " +
              "snapshot records no partition_col — cannot apply them"))
        val excludedNames = vals.map {
          case null => s"$pc=__HIVE_DEFAULT_PARTITION__"
          case v => s"$pc=$v"
        }.toSet
        // Files.list streams hold a directory fd until closed — materialize
        // inside Using so repeated snapshot reads on one long-lived JVM
        // (the bench sweep) don't leak descriptors (round-6 advice)
        val kept = scala.util.Using.resource(Files.list(dirPath)) { s =>
          s.iterator().asScala
            .filter(p => Files.isDirectory(p) &&
              p.getFileName.toString.startsWith(s"$pc="))
            .filterNot(p => excludedNames(p.getFileName.toString))
            .toSeq
        }
        if (kept.isEmpty)
          // every partition replaced: schema from the (excluded) files,
          // zero rows
          spark.read.parquet(dirPath.toString).where(lit(false))
        else
          spark.read.option("basePath", dirPath.toString)
            .parquet(kept.map(_.toString): _*)
            .where(excludeFilter(pc, vals))
      case _ => spark.read.parquet(dirPath.toString)
    }
  }

  /** The partition column recorded for the writing of `dir` (dir-meta
    * file first; snap manifest fallback — see [[dirMetaFields]]). */
  private def dirPartitionCol(table: String, dir: String): Option[String] =
    dirMetaFields(table, dir).flatMap(_.get("partition_col")).collect {
      case graft.repair.JStr(c) => c
    }

  /** Total order over manifest-stat scalars for pruning comparisons.
    * JSON round-trips numbers as BigInt/Double; callers pass Int/Long/
    * String bounds. Mixed string/number → None (caller must not prune). */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    // UTF-8 byte order, NOT String.compareTo: Spark orders strings by
    // unsigned UTF-8 bytes (UTF8String binary collation) while Java
    // compareTo orders by UTF-16 code units — they disagree for
    // supplementary characters vs [U+E000, U+FFFF], and a divergent order
    // here would let the pruner drop a partition Spark's own comparison
    // would have matched (pruning must never be a correctness gate)
    case (x: String, y: String) =>
      Some(java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case (x, y) =>
      def num(v: Any): Option[BigDecimal] = v match {
        case n: BigInt => Some(BigDecimal(n))
        case n: BigDecimal => Some(n)
        case n: java.math.BigDecimal => Some(BigDecimal(n))
        case n: Int => Some(BigDecimal(n))
        case n: Long => Some(BigDecimal(n))
        case n: Short => Some(BigDecimal(n.toInt))
        case n: Byte => Some(BigDecimal(n.toInt))
        case n: Double if java.lang.Double.isFinite(n) => Some(BigDecimal(n))
        case n: Float if java.lang.Float.isFinite(n) => Some(BigDecimal(n.toDouble))
        case _ => None
      }
      for (x1 <- num(x); y1 <- num(y)) yield x1.compare(y1)
  }

  /** Stats-pruned range scan — the Iceberg data-skipping analogue. Reads
    * only the (data dir, partition value) pairs whose recorded
    * [min, max] bounds for `colName` intersect [lo, hi], then applies the
    * range predicate exactly (stats are necessary, not sufficient). The
    * pruning is MANIFEST-side: a skipped dir is never listed, a skipped
    * partition value becomes a partition-discovery filter — so at a
    * 10^12-row table a clip-id range lookup over a range-laid-out table
    * opens O(matching partitions) files, not O(table), before Spark's own
    * parquet row-group pruning even starts. Dirs or partitions written
    * without stats for `colName` are kept (correctness never depends on
    * stats being present). */
  def readWhere(spark: SparkSession, table: String, colName: String,
      lo: Any, hi: Any, version: Option[Int] = None): DataFrame = {
    val v = version.orElse(currentVersion(table)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $table"))
    val dirs = dataDirs(table, v)
    if (dirs.isEmpty) throw new IllegalStateException(s"snapshot $v at $table lists no data")
    val excludes = dirExcludes(table, v)
    val rangeFilter = col(colName) >= lit(lo) && col(colName) <= lit(hi)
    val reads = dirs.flatMap { d =>
      dirStats(table, d, colName) match {
        case None => Some(readDir(spark, table, d, excludes)) // no stats: keep all
        case Some(parts) =>
          // keep a partition unless it PROVABLY misses [lo, hi]: max < lo
          // or min > hi with a defined comparison. An all-null partition
          // (no bounds) has no row matching a range predicate → prunes;
          // an uncomparable bound (type mismatch) → kept, never pruned.
          val kept = parts.collect { case (pv, mn, mx)
              if (mn.isDefined || mx.isDefined) &&
                 !mx.flatMap(cmp(_, lo)).exists(_ < 0) &&
                 !mn.flatMap(cmp(_, hi)).exists(_ > 0) => pv }
          if (kept.isEmpty) None // whole dir skipped — never even listed
          else if (kept.size == parts.size) Some(readDir(spark, table, d, excludes))
          else {
            // read ONLY the kept partition subdirs (basePath keeps the
            // partition column in the schema): the skipped subdirs are
            // never listed, so at 10^12 rows the lookup's file-listing
            // cost is O(kept partitions), not O(table). Falls back to a
            // partition-discovery isin filter if any kept value's subdir
            // name can't be located verbatim (exotic chars Spark escapes
            // in dir names), and to an unpruned read if the partition
            // value set contains null (isin would wrongly drop it).
            val pcol = dirPartitionCol(table, d)
            val dirPath = Paths.get(table, d)
            val subPaths = pcol.map(pc => kept.map(v => dirPath.resolve(s"$pc=$v")))
            // exclusions compose with stats pruning: each branch below ends
            // with the dir's exclusion keep-filter (on the partition column,
            // so Spark partition pruning still applies), and the full-dir
            // fallbacks go through readDir which does the same
            val exclKeep = (pc: String) => excludes.get(d) match {
              case Some(vals) if vals.nonEmpty => excludeFilter(pc, vals)
              case _ => lit(true)
            }
            if (pcol.isEmpty || kept.contains(null))
              Some(readDir(spark, table, d, excludes))
            else if (subPaths.get.forall(Files.isDirectory(_)))
              Some(spark.read.option("basePath", dirPath.toString)
                .parquet(subPaths.get.map(_.toString): _*)
                .where(exclKeep(pcol.get)))
            else
              Some(spark.read.parquet(s"$table/$d").where(col(pcol.get).isin(kept.map {
                case b: BigInt => b.toLong: Any
                case other => other
              }: _*) && exclKeep(pcol.get)))
          }
      }
    }
    if (reads.isEmpty)
      // every dir pruned: an empty frame with the table's schema, derived
      // from the NEWEST dir only — its schema is a superset of every older
      // dir's (the additive-evolution write guard enforces it), and listing
      // one dir keeps the cheapest possible query (a no-match lookup) from
      // paying the table-wide file listing a full read() would
      spark.read.parquet(s"$table/${dirs.last}").where(lit(false))
    else reads.reduce(_.unionByName(_, allowMissingColumns = true)).where(rangeFilter)
  }

  /** Roll the table back to `toVersion` — the Iceberg rollback analogue:
    * commits a NEW snapshot whose manifest duplicates the target's data
    * dirs, exclusions, and schema, so the bad commits stay on history
    * (auditable, and reclaimable by [[expireSnapshots]]) while readers of
    * the current version see the pre-damage state immediately. O(1): one
    * manifest write, no data IO — the undo a 10^12-row table can actually
    * afford. The rollback snapshot itself ADDS no data dir, so appends and
    * overwrites continue on top of it normally. Fails loudly if the target
    * manifest was expired. */
  def rollback(table: String, toVersion: Int): Int = {
    val targetFile = metaDir(table).resolve(s"snap-$toVersion.json")
    if (!Files.exists(targetFile)) throw new IllegalStateException(
      s"cannot roll back $table to v$toVersion: its manifest is expired or never existed")
    val current = currentVersion(table).getOrElse(throw new IllegalStateException(
      s"no committed snapshot at $table"))
    val version = current + 1
    graft.repair.PyJson.loads(Files.readString(targetFile)) match {
      case Some(graft.repair.JObj(f)) =>
        f.update("version", graft.repair.JInt(version))
        // this snapshot adds nothing; per-dir stats live with the dirs
        f.update("partitions_added", graft.repair.JArr.empty)
        Files.writeString(metaDir(table).resolve(s"snap-$version.json"),
          graft.repair.PyJson.dumps(graft.repair.JObj(f)))
      case _ => throw new IllegalStateException(
        s"unreadable snapshot manifest snap-$toVersion.json at $table")
    }
    val tmp = metaDir(table).resolve(".version-hint.tmp")
    Files.writeString(tmp, version.toString)
    Files.move(tmp, metaDir(table).resolve("version-hint.txt"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    version
  }

  def currentVersion(table: String): Option[Int] = {
    val hint = metaDir(table).resolve("version-hint.txt")
    if (Files.exists(hint)) Some(Files.readString(hint).trim.toInt) else None
  }

  def snapshots(table: String): Seq[Int] = {
    val dir = metaDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else scala.util.Using.resource(Files.list(dir)) { s =>
      // same fd-lifetime discipline as readDir's listing (round-6 advice)
      s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
        .map(_.stripPrefix("snap-").stripSuffix(".json").toInt)
        .toSeq.sorted
    }
  }

  /** Expire all but the newest `keep` snapshots — the Iceberg
    * `expire_snapshots` analogue: deletes the manifest files of expired
    * versions and every data dir no RETAINED snapshot references (append
    * snapshots carry dirs forward, so reference-counting against the kept
    * manifests is required — a dir age alone is not droppable). Time
    * travel to expired versions is gone by design; callers that need
    * history (the DedupSpec idempotent-regeneration test) simply don't
    * call this. */
  def expireSnapshots(table: String, keep: Int = 1): Unit = {
    val all = snapshots(table)
    val (expired, kept) = all.splitAt(math.max(0, all.size - keep))
    if (expired.nonEmpty) {
      val referenced = kept.flatMap(v => dataDirs(table, v)).toSet
      expired.foreach { v =>
        dataDirs(table, v).filterNot(referenced).foreach { d =>
          graft.io.Scratch.deleteRecursively(Paths.get(table, d).toString)
          // the dir-meta file shares the DATA DIR's lifetime, not the
          // snapshot's: a retained snapshot may still reference this dir
          // (and need its partition col / stats) long after the snapshot
          // that wrote it expired
          d match {
            case DirVersion(k) =>
              Files.deleteIfExists(metaDir(table).resolve(s"dir-v$k.json"))
            case _ =>
          }
        }
        Files.deleteIfExists(metaDir(table).resolve(s"snap-$v.json"))
      }
    }
  }

  /** Compaction — the Iceberg `rewrite_data_files` analogue: after N append
    * commits every partition dir set has N generations of files, and each
    * read pays the per-file open cost N times over. Compacting rewrites the
    * CURRENT snapshot as one fresh full-replace version (one right-sized
    * file set per partition, since writeSnapshot shuffles by the partition
    * column), leaving history intact for time travel; follow with
    * [[expireSnapshots]] to reclaim the superseded generations' bytes.
    * Returns the new snapshot version. */
  def compact(spark: SparkSession, table: String): Int = {
    val v = currentVersion(table).getOrElse(throw new IllegalStateException(
      s"no committed snapshot at $table"))
    val partitionCol = snapPartitionCol(table, v).getOrElse(
      throw new IllegalStateException(
        s"snapshot manifest at $table lists no partition_col"))
    // partition discovery re-types the partition column (a bigint bucket
    // reads back as int); commit it as the manifest's recorded type, or
    // every later append of the table's own schema is refused as a type change
    val read0 = read(spark, table)
    val current = tableSchema(table, v).get(partitionCol)
      .fold(read0)(t => read0.withColumn(partitionCol, col(partitionCol).cast(t)))
    // carry the column-stats CONTRACT through the rewrite (the manifest
    // records the union over the lineage, so a stat-less append can't
    // launder the stats away) — a compaction that dropped stats would turn
    // every subsequent readWhere into a full scan
    commit(current, table, partitionCol, snapStatsCols(table, v))
  }

  /** Incremental scan (the Iceberg incremental-append-scan analogue): the
    * rows committed AFTER `fromVersion`, as of `toVersion` — the union of
    * the data dirs `toVersion`'s manifest references that `fromVersion`'s
    * does not. Reading the delta is a manifest DIFF, so its cost is
    * O(appended data): at a 10^12-row table this is the production
    * validation mode — each append commit's delta is validated in
    * O(new rows) plus one narrow key scan for the global checks
    * (CheckCompiler.incrementalDupGroups), never O(table). Defined for
    * append lineages; a full-replace commit rewrites its dir set, so its
    * manifest diff is the whole new snapshot — which is exactly the
    * correct "delta" for a replace. */
  def readIncremental(spark: SparkSession, table: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    val before = dataDirs(table, fromVersion).toSet
    // a valid snapshot always lists >= 1 dir, and dataDirs returns empty on
    // an unparseable/missing manifest — without this guard a corrupted base
    // manifest would silently turn the "delta" into the FULL table (every
    // v1-internal duplicate re-reported), the opposite of failing loudly
    if (before.isEmpty) throw new IllegalStateException(
      s"snapshot $fromVersion at $table lists no data dirs — refusing an " +
        "incremental scan whose base manifest is unreadable")
    val dirs = dataDirs(table, toVersion).filterNot(before)
    if (dirs.isEmpty) throw new IllegalStateException(
      s"incremental scan $fromVersion->$toVersion at $table adds no data dirs")
    // toVersion's exclusions apply to the delta dirs too: a dir appended at
    // j in (from, to] may have had partitions replaced by a later overwrite
    // in the same span — without the filter the delta would double-report
    // the superseded rows (removed-row tracking is out of scope: an
    // overwrite's "delta" is its replacement rows)
    val excludes = dirExcludes(table, toVersion)
    dirs.map(d => readDir(spark, table, d, excludes))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Read a snapshot (latest by default) — the union of every data dir in
    * its manifest. Filters on the partition column prune at the directory
    * level (Spark partition discovery). */
  def read(spark: SparkSession, table: String, version: Option[Int] = None): DataFrame = {
    val v = version.orElse(currentVersion(table)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $table"))
    val dirs = dataDirs(table, v)
    if (dirs.isEmpty) throw new IllegalStateException(s"snapshot $v at $table lists no data")
    // one partition-discovered read per manifest dir, unioned — each branch
    // keeps its own PartitionFilters pruning (a single multi-root read
    // trips Spark's conflicting-directory-structures check); per-dir
    // exclusion filters implement overwritePartitions' replaced-rows
    // semantics at the same partition-pruning level
    val excludes = dirExcludes(table, v)
    dirs.map(d => readDir(spark, table, d, excludes))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }
}
