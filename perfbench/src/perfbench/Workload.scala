package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one operation reports besides its wall and CPU time (which the
  * Tracer sums over the operation's outermost calls): bytes left on disk,
  * its phase figures and the checks it failed (empty when every output
  * matched the independent recompute). */
final case class OpResult(writtenMb: Double, phases: Map[String, Double],
    mismatches: Seq[String])

/** A workload: seeded inputs made once by `setup`, then closed-loop
  * operations, each on fresh input and output dirs under `opDir`. */
trait Workload {
  /** Writes the seeded inputs into `dir` (and keeps the expectations). */
  def setup(dir: String): Unit
  def op(opDir: String, t: Tracer): OpResult
  /** The discarded operation before the timed ones. */
  def warmup(opDir: String, t: Tracer): Unit = op(opDir, t)
  /** A second operation of each round, on input that does not depend on
    * the seed, whose outputs are checked but not timed; it returns its
    * mismatches. See CorpusWorkload. */
  def sideOp: Option[String => Seq[String]] = None
  /** The traced run's extra layer calls, made after an operation's timed
    * part, on the dirs that operation left in `opDir`. */
  def probes(opDir: String, t: Tracer): Unit
}

object Workload {
  /** Runs `df` to completion without collecting it. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def check(cond: Boolean, what: => String, out: scala.collection.mutable.Buffer[String]): Unit =
    if (!cond) out += what

  def apply(name: String, spark: SparkSession, seed: Long, repo: String): Workload = name match {
    case "validate" => new ValidateWorkload(spark, seed)
    case "append-revalidate" => new AppendWorkload(spark, seed)
    case "corpus-clean" => new CorpusWorkload(spark, seed, repo)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
