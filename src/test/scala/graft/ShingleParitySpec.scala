package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Dedup, DedupReference}

/** The sort-and-compact shingle kernels against their first-occurrence
  * reference forms: per text, the same gram set and count, and a
  * bit-identical MinHash signature. */
class ShingleParitySpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Seeded texts over a small vocabulary (so grams repeat) joined by
    * whitespace runs, plus the edge cases: empty, shorter than the gram
    * width, fewer than three words, leading/trailing whitespace. */
  private def seededTexts: Seq[String] = {
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "ab", "the", "cat", "sat", "on", "mat", "xyzzy", "é", "")
    val seps = Seq(" ", "  ", "\t", "\n", " \t ")
    val random = (1 to 2000).map { _ =>
      val n = rnd.nextInt(40)
      (0 until n).map { _ =>
        vocab(rnd.nextInt(vocab.size)) + seps(rnd.nextInt(seps.size))
      }.mkString
    }
    val edges = Seq("", " ", "abcd", "abcde", "aaaaaaaaaaaa", "abababababab",
      "one", "one two", "  one two  ", "a b c", "\ta\tb\tc\t", "x x x x x x x")
    edges ++ random
  }

  private def assertParity(kernel: String => Array[Long],
      reference: String => Array[Long], texts: Seq[String]): Unit =
    texts.foreach { t =>
      val got = kernel(t)
      val want = reference(t)
      assert(got.length == want.length && got.toSet == want.toSet,
        s"gram set differs for ${t.take(60)}")
      assert(got.sameElements(got.sorted) && got.distinct.length == got.length,
        s"grams not strictly ascending for ${t.take(60)}")
      assert(Dedup.signature(got).sameElements(Dedup.signature(want)),
        s"signature differs for ${t.take(60)}")
    }

  private def documents: Seq[String] =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(_.getString(0)).toSeq

  test("charShingles: same gram set, count and signature as the reference") {
    val docs = documents
    assert(docs.size == 500)
    assertParity(Dedup.charShingles(_), DedupReference.charShingles(_), docs ++ seededTexts)
  }

  test("shingles: same gram set, count and signature as the reference") {
    assertParity(Dedup.shingles, DedupReference.shingles, documents ++ seededTexts)
  }
}
