package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

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
  * resume manifest relies on. As in the Iceberg spec, a snapshot is read
  * with the schema its manifest records, never one inferred from its data
  * files: every read goes through [[scan]], whose frame is built from
  * manifests and directory listings alone and starts no Spark job before
  * its first action. Swapping in real Iceberg replaces this object
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
  private def decodePartValue(raw: String, dt: DataType): Any = {
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
  private def footerPartStats(dirPath: Path, pcol: String, statsCols: Seq[String],
      schema: StructType): Option[Seq[PartStats]] = {
    final case class Unavailable() extends RuntimeException
    try {
      val subdirs = partSubdirs(dirPath, pcol, schema(pcol).dataType)
      if (subdirs.isEmpty) return None
      Some(subdirs.map { case (sub, pv) =>
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
    * aggregation over the freshly written dir, read through [[scan]] with
    * the batch's own schema (the dir has no manifest yet), so partition
    * values come back in the batch's own types. */
  private def scanPartStats(df: DataFrame, table: String, dataPath: String,
      pcol: String, statsCols: Seq[String]): Seq[PartStats] = {
    val statAggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    scan(df.sparkSession, table, Seq(dataPath), pcol, df.schema)((_, _) => false)
      .groupBy(col(pcol))
      .agg(count(lit(1)).as("n"), statAggs: _*)
      .collect()
      .toSeq.map { r =>
        PartStats(r.get(0), r.getLong(1),
          statsCols.zipWithIndex.map { case (c, i) =>
            c -> ((Option(r.get(2 + 2 * i)), Option(r.get(3 + 2 * i))))
          }.toMap)
      }
  }

  private def writeSnapshot(df: DataFrame, table: String, partitionCol: String,
      carryForward: Boolean, statsCols: Seq[String] = Nil,
      overwrite: Boolean = false): Int = {
    val prevVersion = currentVersion(table)
    // the carried snapshot's manifest, parsed once for every use below
    val prev = if (carryForward) prevVersion.map(manifest(table, _)) else None
    val prevDirs = prev.fold(Seq.empty[String])(_.dirs)
    val prevExcludes = prev.fold(Map.empty[String, Seq[Any]])(_.excludes)
    // Additive schema evolution (the Iceberg add-column analogue): an
    // append/overwrite batch may ADD columns — readers fill pre-evolution
    // rows with null — but a batch MISSING columns the table already has,
    // CHANGING an existing column's type, or targeting a DIFFERENT
    // partition column is rejected loudly. All three are deferred-failure
    // bombs if allowed through: a missing column silently null-pads new
    // data, a type change commits fine and then poisons every read of the
    // older files, and a mismatched partition column records dir_excludes
    // values that an overwrite would apply to the WRONG column of the
    // carried dirs (silently deleting unrelated partitions). The checks
    // are manifest-vs-manifest (the snapshot records names and types),
    // no file IO.
    prev.foreach { m =>
      val missing = m.schema.fieldNames.filterNot(df.columns.toSet)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"batch for $table is missing existing columns ${missing.mkString(", ")} — " +
          "schema evolution on this seam is additive only (drop columns via a " +
          "full-replace commit, which rewrites the lineage)")
      val dfTypes = df.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
      val changed = m.schema.fields.map(f => (f.name, f.dataType.catalogString)).collect {
        case (c, t) if dfTypes.get(c).exists(_ != t) => s"$c: $t -> ${dfTypes(c)}"
      }
      if (changed.nonEmpty) throw new IllegalArgumentException(
        s"batch for $table changes existing column types (${changed.mkString("; ")}) — " +
          "a type change would commit fine and then fail every subsequent read " +
          "of the older files; rewrite the lineage with a full-replace commit instead")
      val pc = m.partitionCol
      if (pc != partitionCol) throw new IllegalArgumentException(
        s"batch for $table targets partition column '$partitionCol' but the " +
          s"table is partitioned by '$pc' — an overwrite would exclude " +
          s"'$partitionCol' VALUES from dirs partitioned by '$pc', silently " +
          "dropping unrelated partitions (repartition via a full-replace commit)")
    }
    val version = prevVersion.getOrElse(0) + 1
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
    // fileless dir holds nothing to read, so drop it and record no rows
    val hasData = scala.util.Using.resource(Files.list(dirPath)) { s =>
      s.iterator().asScala.exists(Files.isDirectory(_))
    }
    if (!hasData) Scratch.deleteRecursively(dirPath.toString)
    val partStats: Seq[PartStats] =
      if (!hasData) Seq.empty
      else footerPartStats(dirPath, partitionCol, statsCols, df.schema)
        .getOrElse(scanPartStats(df, table, dataPath, partitionCol, statsCols))
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
    val contractStatsCols = (prev.fold(Seq.empty[String])(_.statsCols) ++ statsCols).distinct
    val statsColsJson = statsCols.map(jsonKey).mkString("[", ", ", "]")
    val contractStatsJson = contractStatsCols.map(jsonKey).mkString("[", ", ", "]")
    val excludesJson = newExcludes.filter(_._2.nonEmpty).map { case (d, vs) =>
      s"""${jsonKey(d)}: ${vs.map(jsonLit).mkString("[", ", ", "]")}"""
    }.mkString("{", ", ", "}")
    // the snapshot's column names + types: every read of the snapshot takes
    // them as its schema, and the write-side evolution guard compares them
    // manifest-to-manifest; an empty batch keeps the previous schema (it
    // wrote no data to evolve anything with)
    val schema = if (partStats.isEmpty) prev.fold(df.schema)(_.schema) else df.schema
    val columnsJson = schema.fieldNames.map(jsonKey).mkString("[", ", ", "]")
    val schemaJson = schema.fields
      .map(f => s"${jsonKey(f.name)}: ${jsonKey(f.dataType.catalogString)}")
      .mkString("{", ", ", "}")
    val snap =
      s"""{"version": $version, "data_dirs": [$allDirs], "partition_col": "$partitionCol",
         | "stats_cols": $contractStatsJson, "dir_excludes": $excludesJson,
         | "columns": $columnsJson, "schema": $schemaJson,
         | "partitions_added": [${counts.mkString(", ")}]}""".stripMargin
    Files.writeString(metaDir(table).resolve(s"snap-$version.json"), snap)
    // Per-DIR metadata (partition col + column stats), in its own file with
    // the DATA DIR's lifetime — found by the lifecycle model test (seed 7):
    // snapshot manifests are deleted by expireSnapshots while their data
    // dirs live on under retained snapshots, so dir-scoped metadata parked
    // in snap-<k>.json dies too early — an expired overwrite target then
    // failed loudly and stats pruning silently degraded to full scans.
    // Expiry deletes it only alongside its data dir.
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

  /** A snapshot manifest, parsed once: its data dirs, partition column,
    * stats-column contract, per-dir exclusions, and the table schema —
    * the read schema of every read of the snapshot, data columns in
    * manifest order then the partition column (where Spark places a
    * partition column even under a declared schema). Parsed with the
    * engine's own strict JSON parser (dogfooding graft.repair.PyJson); an
    * unparseable manifest parses to no dirs, which every reader refuses
    * loudly. */
  private final case class Manifest(dirs: Seq[String], partitionCol: String,
      statsCols: Seq[String], excludes: Map[String, Seq[Any]], schema: StructType) {
    /** Whether an [[overwritePartitions]] replaced partition value `pv` of
      * `dir` — its rows there must not be read. */
    def excluded(dir: String, pv: Any): Boolean =
      excludes.get(dir).exists(_.exists(samePartValue(_, pv)))
  }

  private def manifest(table: String, version: Int): Manifest = {
    import graft.repair.{JArr, JObj, JStr}
    val f: collection.Map[String, graft.repair.JsonValue] = graft.repair.PyJson
      .loads(Files.readString(metaDir(table).resolve(s"snap-$version.json"))) match {
      case Some(JObj(fields)) => fields
      case _ => Map.empty
    }
    def strings(field: String): Seq[String] = f.get(field) match {
      case Some(JArr(xs)) => xs.toSeq.collect { case JStr(x) => x }
      case _ => Seq.empty
    }
    val pcol = f.get("partition_col").collect { case JStr(c) => c }.getOrElse("")
    val types = f.get("schema") match {
      case Some(JObj(ts)) => ts.collect { case (c, JStr(t)) => c -> t }.toMap
      case _ => Map.empty[String, String]
    }
    val (dataCols, partCol) = strings("columns").partition(_ != pcol)
    Manifest(strings("data_dirs"), pcol, strings("stats_cols"),
      f.get("dir_excludes") match {
        case Some(JObj(ex)) => ex.collect { case (d, JArr(vs)) => d -> vs.toSeq.map(jsonScalar) }.toMap
        case _ => Map.empty
      },
      StructType((dataCols ++ partCol).map(c => StructField(c, DataType.fromDDL(types(c))))))
  }

  /** The manifest of `version` (the current snapshot by default); throws
    * when there is none or it lists no data. */
  private def snapshot(table: String, version: Option[Int]): Manifest = {
    val v = version.orElse(currentVersion(table)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $table"))
    val m = manifest(table, v)
    if (m.dirs.isEmpty) throw new IllegalStateException(s"snapshot $v at $table lists no data")
    m
  }

  /** Data dirs referenced by a snapshot's manifest. */
  def dataDirs(table: String, version: Int): Seq[String] = manifest(table, version).dirs

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
    * missing or unreadable, where only a scan could answer. */
  def partitionRows(table: String, version: Int): Map[Any, Long] = {
    val m = manifest(table, version)
    m.dirs.flatMap { d =>
      val (pc, parts) = dirMetaFields(table, d).flatMap(partitionsAdded).getOrElse(
        throw new IllegalStateException(s"dir $d at $table has no metadata listing its partitions"))
      parts.map(p => (p.get(pc).map(jsonScalar).orNull, p.get("rows")))
        .filterNot(e => m.excluded(d, e._1)).map {
          case (pv, Some(graft.repair.JInt(n))) =>
            (pv match { case b: BigInt => b.toLong: Any; case other => other }) -> n.toLong
          case (pv, _) => throw new IllegalStateException(
            s"dir $d at $table records no row count for partition $pv")
        }
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private val DirVersion = "data/v(\\d+)".r

  /** The metadata fields describing data dir `dir`: its own `dir-v<k>.json`
    * (lifetime = the dir's, survives snapshot expiry — the writer adds a
    * dir to a manifest only in the commit that writes this file); None
    * when it is missing or unparseable. */
  private def dirMetaFields(table: String, dir: String)
      : Option[Map[String, graft.repair.JsonValue]] = dir match {
    case DirVersion(v) =>
      Some(metaDir(table).resolve(s"dir-v$v.json")).filter(Files.exists(_))
        .flatMap(p => graft.repair.PyJson.loads(Files.readString(p)))
        .collect { case graft.repair.JObj(f) => f.toMap }
    case _ => None
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
    * must not be read. */
  def dirExcludes(table: String, version: Int): Map[String, Seq[Any]] =
    manifest(table, version).excludes

  /** The `pcol=` subdirs of a written data dir, each with its partition
    * value decoded to type `pdt` by [[decodePartValue]]. */
  private def partSubdirs(dirPath: Path, pcol: String, pdt: DataType): Seq[(Path, Any)] =
    // Files.list holds a directory fd until closed — materialize inside
    // Using so repeated snapshot reads on one long-lived JVM (the bench
    // sweep) don't leak descriptors
    scala.util.Using.resource(Files.list(dirPath)) { s =>
      s.iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(s"$pcol="))
        .map(p => p -> decodePartValue(p.getFileName.toString.stripPrefix(s"$pcol="), pdt))
        .toSeq
    }

  /** The one snapshot reader: data dirs `dirs` of `table`, read with the
    * declared `schema`, minus every partition subdir whose decoded value
    * `drop(dir, value)` rejects. Values are decoded from the dir names
    * with the writer's own [[decodePartValue]], so an escaped name can't
    * miss and no row-level backstop is needed. A dir with nothing dropped
    * is read from its root; one with nothing kept is not read at all; no
    * dir left gives a local empty frame of `schema`. With the schema
    * declared Spark infers nothing (no partition retyping, no footer
    * job): building the frame lists files on the driver and starts no
    * Spark job. Every branch shares `schema`, so a plain union joins them
    * — one read per dir, each keeping its own partition pruning (a single
    * multi-root read trips Spark's conflicting-directory-structures
    * check). */
  private def scan(spark: SparkSession, table: String, dirs: Seq[String], pcol: String,
      schema: StructType)(drop: (String, Any) => Boolean): DataFrame =
    dirs.flatMap { d =>
      val dirPath = Paths.get(table, d)
      val subdirs = partSubdirs(dirPath, pcol, schema(pcol).dataType)
      val kept = subdirs.collect { case (p, pv) if !drop(d, pv) => p.toString }
      val reader = spark.read.schema(schema)
      if (kept.isEmpty) None
      else if (kept.size == subdirs.size) Some(reader.parquet(dirPath.toString))
      else Some(reader.option("basePath", dirPath.toString).parquet(kept: _*))
    }.reduceOption(_ union _)
      .getOrElse(spark.createDataFrame(java.util.List.of[Row](), schema))

  /** Partition-value equality across the manifest's JSON round trip, which
    * returns integers as BigInt, decimals and floats as Double, and
    * non-finite floats as strings: equal as numbers, or equal as written
    * to the manifest. */
  private def samePartValue(a: Any, b: Any): Boolean =
    cmp(a, b).contains(0) || jsonLit(a) == jsonLit(b)

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
    * pruning is MANIFEST-side: a skipped dir is never listed and a skipped
    * partition subdir is never read — so at a 10^12-row table a clip-id
    * range lookup over a range-laid-out table opens O(matching partitions)
    * files, not O(table), before Spark's own parquet row-group pruning
    * even starts. Dirs written without stats for `colName` are kept
    * (correctness never depends on stats being present). */
  def readWhere(spark: SparkSession, table: String, colName: String,
      lo: Any, hi: Any, version: Option[Int] = None): DataFrame = {
    val m = snapshot(table, version)
    // per dir with stats: the partition values that may meet [lo, hi] —
    // all but those that PROVABLY miss it (max < lo or min > hi with a
    // defined comparison). An all-null partition (no bounds) has no row
    // matching a range predicate; an uncomparable bound is never pruned.
    val mayMatch: Map[String, Seq[Any]] = m.dirs.flatMap(d =>
      dirStats(table, d, colName).map(parts => d -> parts.collect {
        case (pv, mn, mx) if (mn.isDefined || mx.isDefined) &&
            !mx.flatMap(cmp(_, lo)).exists(_ < 0) &&
            !mn.flatMap(cmp(_, hi)).exists(_ > 0) => pv
      })).toMap
    scan(spark, table, m.dirs.filterNot(mayMatch.get(_).exists(_.isEmpty)),
        m.partitionCol, m.schema) { (d, pv) =>
      m.excluded(d, pv) || mayMatch.get(d).exists(!_.exists(samePartValue(_, pv)))
    }.where(col(colName) >= lit(lo) && col(colName) <= lit(hi))
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

  /** Committed versions, up to the version hint: a manifest above it is a
    * commit that crashed before moving the hint; the next commit replaces it. */
  def snapshots(table: String): Seq[Int] = currentVersion(table).fold(Seq.empty[Int]) { cur =>
    scala.util.Using.resource(Files.list(metaDir(table))) { s =>
      // same fd-lifetime discipline as partSubdirs' listing (round-6 advice)
      s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
        .map(_.stripPrefix("snap-").stripSuffix(".json").toInt)
        .filter(_ <= cur).toSeq.sorted
    }
  }

  /** Expire all but the newest `keep` snapshots (never the current one) — the Iceberg
    * `expire_snapshots` analogue: deletes the manifest files of expired
    * versions and every data dir no RETAINED snapshot references (append
    * snapshots carry dirs forward, so reference-counting against the kept
    * manifests is required — a dir age alone is not droppable). Time
    * travel to expired versions is gone by design; callers that need
    * history (the DedupSpec idempotent-regeneration test) simply don't
    * call this. */
  def expireSnapshots(table: String, keep: Int = 1): Unit = {
    val all = snapshots(table)
    val (expired, kept) = all.splitAt(math.max(0, all.size - math.max(1, keep)))
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
    val m = snapshot(table, None)
    // carry the column-stats CONTRACT through the rewrite (the manifest
    // records the union over the lineage, so a stat-less append can't
    // launder the stats away) — a compaction that dropped stats would turn
    // every subsequent readWhere into a full scan
    commit(scan(spark, table, m.dirs, m.partitionCol, m.schema)(m.excluded),
      table, m.partitionCol, m.statsCols)
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
    val m = manifest(table, toVersion)
    val dirs = m.dirs.filterNot(before)
    if (dirs.isEmpty) throw new IllegalStateException(
      s"incremental scan $fromVersion->$toVersion at $table adds no data dirs")
    // toVersion's exclusions apply to the delta dirs too: a dir appended at
    // j in (from, to] may have had partitions replaced by a later overwrite
    // in the same span — without them the delta would double-report the
    // superseded rows (removed-row tracking is out of scope: an
    // overwrite's "delta" is its replacement rows)
    scan(spark, table, dirs, m.partitionCol, m.schema)(m.excluded)
  }

  /** Read a snapshot (latest by default) — the union of every data dir in
    * its manifest, minus the partitions [[overwritePartitions]] replaced.
    * The schema is the manifest's: data columns in manifest order, then
    * the partition column, typed as written. On an evolved table a column
    * added by a later append therefore comes before the partition column.
    * Building the frame reads manifests and lists directories only; no
    * Spark job starts before its first action. Filters on the partition
    * column prune at the directory level (Spark partition discovery). */
  def read(spark: SparkSession, table: String, version: Option[Int] = None): DataFrame = {
    val m = snapshot(table, version)
    scan(spark, table, m.dirs, m.partitionCol, m.schema)(m.excluded)
  }
}
