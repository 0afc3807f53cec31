package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.repair._

/** Differential fuzz corpus: 2,500 seeded random documents put through 1-3
  * random corruption operators (quote swaps, truncation, prose, fences,
  * comments, bare keys, doubled docs, escape mangling, ...) with expected
  * outputs computed by executing the reference library at extraction time.
  * The engine must agree on every case, and its logging path
  * (`repairWithLog`) must repair every case to the same value. */
class FuzzDifferentialSpec extends AnyFunSuite {

  test("differential fuzz corpus agrees with the reference") {
    runCorpus("/fuzz_corpus.json")
  }

  test("aggressive fuzz corpus (inserted delimiters, escapes, tuples, smart quotes) agrees") {
    runCorpus("/fuzz_corpus2.json")
  }

  private def runCorpus(resource: String): Unit = {
    val raw = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(resource), "UTF-8").mkString
    val JArr(items) = PyJson.loads(raw).getOrElse(fail("cannot parse corpus"))
    var failures = List.empty[String]
    items.foreach {
      case JObj(f) =>
        val input = f("input").asInstanceOf[JStr].value
        val expected = f("expected").asInstanceOf[JStr].value
        val got =
          try JsonRepair.repair(input)
          catch { case e: Throwable => s"<exception ${e.getClass.getSimpleName}: ${e.getMessage}>" }
        if (got != expected)
          failures ::= s"input=${esc(input)}\n  expected=${esc(expected)}\n  got     =${esc(got)}"
        // the logging path repairs to the same value and never throws
        val logged =
          try JsonRepair.repairWithLog(input)._1 match {
            case JStr("") => ""
            case v => PyJson.dumps(v)
          }
          catch { case e: Throwable => s"<exception ${e.getClass.getSimpleName}: ${e.getMessage}>" }
        if (logged != got)
          failures ::= s"input=${esc(input)}\n  repair       =${esc(got)}\n  repairWithLog=${esc(logged)}"
      case _ =>
    }
    info(s"fuzz: ${items.size - failures.size}/${items.size}")
    if (failures.nonEmpty)
      fail(s"${failures.size} mismatches\n" + failures.take(15).mkString("\n"))
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\n", "\\n").replace("\t", "\\t").take(160)
}
