package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer of the program, made by the benchmark. */
final case class Span(id: Int, name: String, op: Int, phase: String, parent: Int,
    startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** Times the benchmark's calls into the program. Every call is timed, since
  * the end-to-end figures are sums of call walls; only when `enabled` are
  * spans kept and the Spark jobs a call starts tagged with the span, the
  * operation and the phase ("op" for the timed operation, "probe" for the
  * traced run's extra layer calls), so the listener can attribute them. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  var op = -1
  var phase = "op"
  val spans = mutable.ArrayBuffer[Span]()
  /** Counts and rates a layer reports for one operation, keyed by op. */
  val values = mutable.Map[(Int, String), Double]()
  private val opWalls = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  /** Wall, and CPU seconds of the JVM's Java threads, of the current
    * operation's outermost calls. */
  var opWall = 0.0
  var opCpu = 0.0
  private val heap = new HeapPeak
  private val heapWindows = mutable.ArrayBuffer[(Map[String, Long], Map[String, Long])]()

  /** Starts a new operation: forgets the previous one's call walls. */
  def begin(opId: Int, opPhase: String): Unit = {
    op = opId; phase = opPhase; opWalls.clear(); opWall = 0.0; opCpu = 0.0
    heap.clear(); heapWindows.clear()
  }

  /** Peak heap in use after a garbage collection during the current
    * operation's outermost calls, in MB; the benchmark's own staging and
    * checks between them are left out. */
  def opHeapMb: Double = heap.mb(heapWindows.toSeq)

  def step[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val outermost = stack.isEmpty
    if (enabled) {
      sc.setLocalProperty("perfbench.span", name)
      sc.setLocalProperty("perfbench.op", op.toString)
      sc.setLocalProperty("perfbench.phase", phase)
    }
    stack = (id, name) :: stack
    val cpu0 = if (outermost) Cpu.javaThreads() else Map.empty[Long, Long]
    val gc0 = if (outermost) heap.counts() else Map.empty[String, Long]
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      opWalls.getOrElseUpdate(name, mutable.ArrayBuffer()) += (t1 - t0) / 1e9
      stack = stack.tail
      if (outermost) {
        opWall += (t1 - t0) / 1e9
        opCpu += Cpu.javaSecondsSince(cpu0)
        heapWindows += gc0 -> heap.counts()
      }
      if (enabled) {
        spans += Span(id, name, op, phase, parent, t0, t1)
        // outside every span nothing is attributed: the benchmark's own
        // checks run there
        sc.setLocalProperty("perfbench.span", stack.headOption.map(_._2).orNull)
        if (stack.isEmpty) {
          sc.setLocalProperty("perfbench.op", null)
          sc.setLocalProperty("perfbench.phase", null)
        }
      }
    }
  }

  /** Walls of the calls named `name` in the current operation. */
  def walls(name: String): Seq[Double] = opWalls.getOrElse(name, Nil).toSeq
  def wall(name: String): Double = walls(name).sum

  def record(name: String, v: Double): Unit =
    if (enabled) values((op, name)) = v
}

/** Per-job Spark counters, filled from listener events. */
final class JobRec(val id: Int, val startMs: Long, val span: String, val op: Int,
    val phase: String, val name: String) {
  var endMs = 0L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  val taskDurMs = mutable.ArrayBuffer[Long]()
}

/** The traced run's listener: one record per job, with the stage and task
  * counters of every stage the job ran (a stage belongs to the first job
  * that lists it; later jobs that reuse its shuffle output skip it). */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = new JobRec(e.jobId, e.time, prop("perfbench.span").getOrElse("-"),
      prop("perfbench.op").map(_.toInt).getOrElse(-1),
      prop("perfbench.phase").getOrElse("-"), name)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      j.taskDurMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Jobs of operation `op` in `phase`, in start order. */
  def jobsOf(op: Int, phase: String): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.op == op && j.phase == phase).toSeq
  }

  /** The `spark.*` per-layer counters of one operation. */
  def counters(op: Int): Map[String, Double] = {
    val js = jobsOf(op, "op")
    val durs = js.flatMap(_.taskDurMs).sorted
    val mb = 1e6
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.task_s" -> js.map(_.taskMs).sum / 1e3,
      "spark.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> js.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> js.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> js.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> js.map(_.spill).sum / mb,
      "spark.input_mb" -> js.map(_.input).sum / mb,
      "spark.output_mb" -> js.map(_.output).sum / mb,
      "spark.max_task_s" -> (if (durs.isEmpty) 0.0 else durs.last / 1e3),
      "spark.median_task_s" -> (if (durs.isEmpty) 0.0 else Stats.median(durs.map(_.toDouble)) / 1e3))
  }
}
