package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.JsonRepairFunctions
import graft.repair.JsonRepair

/** json_repair at dataset scale plus the text dedup operators: repair a
  * table of malformed JSON strings sampled from the reference-recorded
  * corpora, write it, then run exact and char-5-gram dedup over a document
  * table with planted duplicates. No audio, no snapshots, no Runner. */
final class CorpusWorkload(spark: SparkSession, seed: Long, repo: String) extends Workload {
  val NStrings = 20000
  val NDocs = 3000
  val NExact = 60
  val NNear = 120
  val Threshold = 0.8

  /** `json_repair_actions` throws on this reference case (an out-of-range
    * substring when the repair log cuts its context snippet), which fails
    * the whole Spark job. The seeded sample leaves it out; the side
    * operation, which repairs both corpora in full, meets it in every round. */
  val ActionsFault = ("fuzz_corpus.json", 2354)

  private var input: String = _
  private var cases: Array[Gen.RepairCase] = _
  /** Corpus case of each generated string, by row id. */
  private var caseOf: Array[Int] = _
  private var inputMb = 0.0
  private var docs: Gen.Docs = _

  def setup(dir: String): Unit = {
    import spark.implicits._
    val rng = new SplittableRandom(seed)
    cases = Gen.repairCorpus(repo)
    val sampled = cases.indices.filterNot(i => (cases(i).file, cases(i).index) == ActionsFault)
    caseOf = Array.fill(NStrings)(sampled(rng.nextInt(sampled.length)))
    inputMb = caseOf.map(c => cases(c).input.getBytes("UTF-8").length.toLong).sum / 1e6
    caseOf.zipWithIndex.map { case (c, id) => (id.toLong, cases(c).input) }.toSeq
      .toDF("id", "s").coalesce(1).write.parquet(s"$dir/strings.parquet")
    cases.indices.map(i => (i.toLong, cases(i).input))
      .toDF("id", "s").coalesce(1).write.parquet(s"$dir/corpus.parquet")
    docs = Gen.docs(rng, NDocs, NExact, NNear)
    Gen.writeDocs(spark, docs.rows.toSeq, s"$dir/documents.parquet")
    input = dir
  }

  /** Writes every output column of the three repair expressions over the
    * strings in `from`. */
  private def repairAll(from: String, to: String): Unit = {
    val s = col("s")
    spark.read.parquet(from).select(col("id"),
        JsonRepairFunctions.jsonRepair(spark, s).as("repaired"),
        JsonRepairFunctions.jsonStrictValid(spark, s).as("strict_valid"),
        JsonRepairFunctions.jsonRepairActions(spark, s).as("actions"))
      .write.parquet(to)
  }

  /** Inputs whose repaired text in `rows` (as `repairAll` writes them) is
    * not the reference's. */
  private def wrongRepairs(rows: Seq[Row], caseOfId: Long => Int): Seq[String] =
    rows.filter(r => r.getString(1) != cases(caseOfId(r.getLong(0))).expected)
      .map(r => cases(caseOfId(r.getLong(0))).input.take(80))

  /** Repairs both reference corpora in full (input not seeded). */
  override def sideOp: Option[String => Seq[String]] = Some { opDir =>
    repairAll(s"$input/corpus.parquet", s"$opDir/corpus-repaired")
    val wrong = wrongRepairs(spark.read.parquet(s"$opDir/corpus-repaired").collect().toSeq, _.toInt)
    if (wrong.isEmpty) Nil else Seq(s"${wrong.size} corpus repairs differ, e.g. ${wrong.head}")
  }

  def op(opDir: String, t: Tracer): OpResult = {
    val in = s"$opDir/in"
    Files2.copyTree(input, in)
    val out = s"$opDir/repaired"
    t.step("functions.repair_all")(repairAll(s"$in/strings.parquet", out))
    val (exact, near) = t.step("dedup.all") {
      val exact = t.step("dedup.exact")(Dedup.exact(spark, in).collect())
      val nearDf = t.step("dedup.ngram")(Dedup.ngramJaccard(spark, in, Threshold))
      val near = nearDf.collect()
      nearDf.unpersist(false)
      (exact, near)
    }
    t.record("dedup.pairs", near.length)

    val bad = mutable.Buffer[String]()
    import Workload.check
    val repaired = spark.read.parquet(out).collect()
    check(repaired.length == NStrings, s"${repaired.length} repaired rows of $NStrings", bad)
    val wrong = wrongRepairs(repaired.toSeq, id => caseOf(id.toInt))
    check(wrong.isEmpty, s"${wrong.length} json_repair outputs differ from the reference, e.g. ${wrong.headOption}", bad)
    check(repaired.forall(r => !r.isNullAt(2) && !r.isNullAt(3) && r.getInt(3) >= 0),
      "json_strict_valid / json_repair_actions returned null or a negative count", bad)

    val text = docs.rows.map(r => r._1 -> r._3).toMap
    val wantExact = docs.rows.groupBy(_._3).values.filter(_.length > 1)
      .map(g => (g.map(_._1).min, g.length.toLong)).toSet
    val gotExact = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    check(gotExact == wantExact, s"exact groups $gotExact, recompute $wantExact", bad)
    val gotPairs = near.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val planted = docs.nearPairs ++ docs.rows.groupBy(_._3).values.flatMap { g =>
      val ids = g.map(_._1).sorted
      for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    }
    val missed = planted.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.filterNot(gotPairs.contains)
    check(missed.isEmpty, s"${missed.size} planted pairs not found, e.g. ${missed.take(3)}", bad)
    gotPairs.foreach { case ((a, b), j) =>
      val want = Oracle.jaccard(text(a), text(b))
      check(want >= Threshold && math.abs(want - j) < 1e-4, s"pair ($a, $b) jaccard $j, recompute $want", bad)
    }

    val repairS = t.wall("functions.repair_all")
    OpResult(Files2.bytes(out) / 1e6,
      Map("repair_mb_per_s" -> inputMb / repairS,
        "dedup_docs_per_s" -> NDocs / t.wall("dedup.all")),
      bad.toSeq)
  }

  def probes(opDir: String, t: Tracer): Unit = {
    val in = s"$opDir/in"
    val strings = caseOf.map(c => cases(c).input)
    t.step("repair.loop")(strings.foreach(s => JsonRepair.repair(s)))
    t.record("repair.chars_per_s", strings.map(_.length.toLong).sum / t.wall("repair.loop"))
    val s = col("s")
    val df = spark.read.parquet(s"$in/strings.parquet")
    t.step("functions.repair")(Workload.force(df.select(JsonRepairFunctions.jsonRepair(spark, s))))
    t.step("functions.strict_valid")(Workload.force(df.select(JsonRepairFunctions.jsonStrictValid(spark, s))))
    t.step("functions.actions")(Workload.force(df.select(JsonRepairFunctions.jsonRepairActions(spark, s))))
    t.step("dedup.shingle")(docs.rows.foreach(r => Dedup.charShingles(r._3)))
    t.record("dedup.shingle_ns_per_doc", t.wall("dedup.shingle") * 1e9 / docs.rows.length)
  }
}
