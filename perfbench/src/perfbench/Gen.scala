package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Seeded input generator. The program only ever sees the files written
  * here; the benchmark keeps what it needs to check the outputs in memory. */
object Gen {

  /** `n` ascending order keys starting at `from`. A quarter of the steps skip
    * 1 to 3 keys, so which `ord % 101` rows find their `ord + 1` partner (the
    * duplicate-key rule) depends on the seed. */
  def keysWithGaps(rng: SplittableRandom, n: Int, from: Long): Array[Long] = {
    val out = new Array[Long](n)
    var k = from
    var i = 0
    while (i < n) {
      out(i) = k
      k += 1 + (if (rng.nextDouble() < 0.25) 1 + rng.nextInt(3) else 0)
      i += 1
    }
    out
  }

  private val Status = Array("F", "O", "P")
  private val Priority = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Orders-shaped parquet files holding the columns `ClipsTable.base`
    * reads, one `<dir>/<name>/orders.parquet` per named key set, written by
    * one Spark job. */
  def writeOrders(spark: SparkSession, sets: Seq[(String, Seq[Long])], rng: SplittableRandom,
      dir: String): Unit = {
    import spark.implicits._
    val staged = s"$dir/_orders"
    sets.flatMap { case (name, keys) =>
      keys.map(k => (name, k, Status(rng.nextInt(Status.length)), Priority(rng.nextInt(Priority.length))))
    }.toDF("set", "o_orderkey", "o_orderstatus", "o_orderpriority")
      .repartition(col("set")).write.partitionBy("set").parquet(staged)
    sets.foreach { case (name, _) =>
      Files.createDirectories(Paths.get(dir, name))
      Files.move(Paths.get(staged, s"set=$name"), Paths.get(dir, name, "orders.parquet"))
    }
    Files2.delete(staged)
  }

  /** A reference-recorded repair case: malformed input and the text the
    * reference library returned for it, with its corpus file and index. */
  final case class RepairCase(file: String, index: Int, input: String, expected: String)

  /** Both fuzz corpora, parsed with Jackson (not with the program's parser). */
  def repairCorpus(repo: String): Array[RepairCase] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq("fuzz_corpus.json", "fuzz_corpus2.json").flatMap { f =>
      val root = mapper.readTree(new java.io.File(s"$repo/src/test/resources/$f"))
      (0 until root.size).map { i =>
        val c = root.get(i)
        RepairCase(f, i, c.get("input").asText, c.get("expected").asText)
      }
    }.toArray
  }

  /** Documents for dedup: random word sequences, plus planted exact copies
    * and near copies (one word replaced). Holds (doc_id, lang, text) rows
    * and the planted near pairs (source id, copy id). */
  final case class Docs(rows: Array[(Long, String, String)], nearPairs: Set[(Long, Long)])

  def docs(rng: SplittableRandom, n: Int, nExact: Int, nNear: Int): Docs = {
    val vocab = Array.fill(4000) {
      val len = 3 + rng.nextInt(7)
      new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
    }
    val langs = Array("en", "de", "fr", "es")
    def text(): String = {
      val target = 150 + rng.nextInt(250)
      val sb = new StringBuilder
      while (sb.length < target) {
        if (sb.nonEmpty) sb += ' '
        sb ++= vocab(rng.nextInt(vocab.length))
      }
      sb.toString
    }
    val nFresh = n - nExact - nNear
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    (0 until nFresh).foreach(i => rows += ((i.toLong, langs(rng.nextInt(langs.length)), text())))
    val near = scala.collection.mutable.Set[(Long, Long)]()
    (0 until nExact).foreach { _ =>
      val (_, lang, t) = rows(rng.nextInt(nFresh))
      rows += ((rows.size.toLong, lang, t))
    }
    (0 until nNear).foreach { _ =>
      val (srcId, lang, t) = rows(rng.nextInt(nFresh))
      val words = t.split(" ")
      val at = rng.nextInt(words.length)
      var w = vocab(rng.nextInt(vocab.length))
      while (w == words(at)) w = vocab(rng.nextInt(vocab.length))
      words(at) = w
      val id = rows.size.toLong
      rows += ((id, lang, words.mkString(" ")))
      near += ((srcId, id))
    }
    Docs(rows.toArray, near.toSet)
  }

  def writeDocs(spark: SparkSession, rows: Seq[(Long, String, String)], path: String): Unit = {
    import spark.implicits._
    rows.map { case (id, lang, t) => (id, t, lang, "perfbench", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(path)
  }
}
