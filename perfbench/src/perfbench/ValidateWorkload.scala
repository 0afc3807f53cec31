package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.audio.{AudioQueries, Wav}
import graft.clips.ClipsTable
import graft.io.TableFormat
import graft.run.{Runner, ValidationPipeline}

/** The `graft.SubmitJob` lifecycle: a fresh all-bucket run, then a run
  * stopped after 24 of 32 buckets and its resume, each into a fresh dir. */
final class ValidateWorkload(spark: SparkSession, seed: Long) extends Workload {
  val NClips = 3000
  private var input: String = _
  private var expect: Oracle.Verdicts = _

  def setup(dir: String): Unit = {
    val rng = new SplittableRandom(seed)
    val keys = Gen.keysWithGaps(rng, NClips, 1L + rng.nextInt(1000))
    Gen.writeOrders(spark, Seq("clips" -> keys.toSeq), rng, dir)
    expect = Oracle.verdicts(keys)
    input = s"$dir/clips"
  }

  private def lifecycle(in: String, out: String, maxBuckets: Int): Runner.RunSummary =
    Runner.run(spark, ValidationPipeline.augmented(spark, in),
      ValidationPipeline.fullSuite(spark, in), out,
      maxBuckets = maxBuckets, snapshotTable = Some(s"$out/verdict_table"),
      scopedInput = Some(todo => ValidationPipeline.augmented(spark, in, buckets = Some(todo))),
      globalInput = Some(ValidationPipeline.replicatedBase(spark, in, 1)))

  /** One pass of the fused pipeline: it compiles the synth kernel and the
    * scan, shuffle and aggregate paths an operation runs, at a tenth of an
    * operation's cost (one operation takes 25 s or more on 4 threads). */
  override def warmup(opDir: String, t: Tracer): Unit = {
    Files2.copyTree(input, s"$opDir/in")
    ValidationPipeline.verdicts(spark, s"$opDir/in").collect()
  }

  def op(opDir: String, t: Tracer): OpResult = {
    val in = s"$opDir/in"
    Files2.copyTree(input, in)
    val fresh = s"$opDir/fresh"
    val resumed = s"$opDir/resumed"
    val s1 = t.step("run.fresh")(lifecycle(in, fresh, Int.MaxValue))
    val s2 = t.step("run.crash")(lifecycle(in, resumed, 24))
    val s3 = t.step("run.resume")(lifecycle(in, resumed, Int.MaxValue))

    val bad = mutable.Buffer[String]()
    import Workload.check
    check(s1.processed.size == 32 && s1.skipped.isEmpty, s"fresh run processed ${s1.processed.size} buckets", bad)
    check(s2.processed.size == 24, s"stopped run processed ${s2.processed.size} buckets", bad)
    check(s3.processed.size == 8 && s3.skipped.size == 24,
      s"resume processed ${s3.processed.size}, skipped ${s3.skipped.size}", bad)
    val want = (0L until 32L).map(b => (b, expect.rows.getOrElse(b, 0L), expect.bad.getOrElse(b, 0L))).toSet
    val fromRuns = Seq(s1.processed, s2.processed ++ s3.processed)
      .map(_.map(r => (r.bucket, r.nRows, r.nBad)).toSet)
    check(fromRuns.forall(_ == want), s"run verdicts differ from recompute: ${fromRuns.map(_ -- want)}", bad)
    for (out <- Seq(fresh, resumed)) {
      val snap = TableFormat.read(spark, s"$out/verdict_table")
        .select(col("bucket").cast("long"), col("n_rows"), col("n_bad")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      check(snap.length == 32 && snap.toSet == want, s"$out verdict table differs from recompute", bad)
      val counts = Runner.violations(spark, out).groupBy("check_name").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      check(counts == expect.checks, s"$out violation counts $counts, recompute ${expect.checks}", bad)
    }
    val clipsPerS = expect.nClips / t.wall("run.fresh")
    OpResult(Files2.bytes(fresh) / 1e6,
      Map("clips_per_s" -> clipsPerS, "resume_s" -> t.wall("run.resume"),
        "crash_s" -> t.wall("run.crash")),
      bad.toSeq)
  }

  def probes(opDir: String, t: Tracer): Unit = {
    val in = s"$opDir/in"
    val fresh = s"$opDir/fresh"
    t.step("clips.derive") {
      Workload.force(ClipsTable.base(spark, in))
      Workload.force(ClipsTable.refs(spark, in))
    }
    val clips = ClipsTable.base(spark, in).select("clip_id", "sr_hz", "dur_ms", "ord").collect()
    val buf = new Array[Byte](64 * 1024)
    t.step("audio.kernel") {
      clips.foreach { r =>
        val ord = r.getLong(3)
        val snrDb = if (ord % 149 == 0) Wav.CorruptSnrDb else Wav.CleanSnrDb
        val extra = if (ord % 157 == 0) 7 else 0
        Wav.synthValidateInto(buf, AudioQueries.seedOf(r.getString(0)), ord,
          r.getInt(1), r.getInt(2), snrDb, extra)
      }
    }
    t.record("audio.kernel_ns_per_clip", t.wall("audio.kernel") * 1e9 / clips.length)
    t.step("run.augment")(Workload.force(ValidationPipeline.augmented(spark, in)))
    t.step("run.verdicts")(ValidationPipeline.verdicts(spark, in).collect())
    t.step("run.manifest_read")(Runner.manifestResults(fresh))
    t.step("run.snapshot_sync")(Runner.syncSnapshot(spark, fresh, s"$fresh/verdict_table"))
    t.step("io.snapshot_read")(TableFormat.read(spark, s"$fresh/verdict_table").collect())
  }
}
