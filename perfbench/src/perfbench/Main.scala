package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (started by run.py, which builds the classpath and
  * passes the work dir): one workload, one seed, one JVM, a closed loop with
  * one client. Prints the result as the last line of standard output. */
object Main {
  val SetupRepeats = 3
  val WarmupOps = 1
  val MinOps = 1

  /** The session every run uses: the settings `graft.SubmitJob` sets, at
    * `threads` local task threads, with all scratch space under `work`. */
  def session(threads: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def args2map(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = args2map(args)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val threads = a("threads").toInt

    val t0 = System.nanoTime()
    val c0 = Cpu.seconds
    val spark = session(threads, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sessionCpu = Cpu.seconds - c0

    // set-up: the inputs are made several times into fresh dirs; the last
    // set is kept for the operations
    val wl = Workload(workload, spark, seed, a("repo"))
    val setups = (0 until SetupRepeats).map { i =>
      val dir = s"$work/input-$i"
      val (s0, cpu0) = (System.nanoTime(), Cpu.seconds)
      wl.setup(dir)
      val s = ((System.nanoTime() - s0) / 1e9, Cpu.seconds - cpu0)
      if (i < SetupRepeats - 1) Files2.delete(dir)
      s
    }
    // CPU seconds, not wall: on a shared host the wall of a JVM and Spark
    // start swings by half from run to run with the CPU other tenants take
    val setupS = sessionCpu + Stats.median(setups.map(_._2))

    val tracer = new Tracer(spark.sparkContext)
    var opId = 0
    var attempted = 0
    var failed = 0
    val mismatches = mutable.Buffer[String]()
    final case class Done(r: OpResult, wallS: Double, cpuS: Double, heapMb: Double, id: Int)
    val done = mutable.Buffer[Done]()

    def runOp(timed: Boolean): Unit = {
      val dir = s"$work/op-$opId"
      System.gc()
      tracer.begin(opId, "op")
      def attempt(f: => Unit): Unit = {
        if (timed) attempted += 1
        try f
        catch {
          case e: Exception =>
            if (timed) failed += 1
            System.err.println(s"op $opId failed: $e")
        }
      }
      try {
        attempt {
          if (!timed) wl.warmup(dir, tracer)
          else {
            val r = wl.op(dir, tracer)
            mismatches ++= r.mismatches.map(m => s"op $opId: $m")
            done += Done(r, tracer.opWall, tracer.opCpu, tracer.opHeapMb, opId)
            if (tracer.enabled) {
              tracer.phase = "probe"
              wl.probes(dir, tracer)
            }
          }
        }
        wl.sideOp.foreach(f => attempt(mismatches ++= f(s"$dir/side").map(m => s"op $opId side: $m")))
      } finally Files2.delete(dir)
      opId += 1
    }

    def loop(budgetS: Double): Unit = {
      val start = System.nanoTime()
      var n = 0
      while (n < MinOps || (System.nanoTime() - start) / 1e9 < budgetS) {
        runOp(timed = true)
        n += 1
      }
    }

    (0 until WarmupOps).foreach(_ => runOp(timed = false))
    val listener = new JobListener
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      tracer.enabled = true
    }
    loop(seconds)
    if (traced) {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }

    println(s"workload $workload seed $seed threads $threads ops ${done.size} " +
      f"session wall $sessionS%.3f s cpu $sessionCpu%.3f s, set-ups wall/cpu " +
      setups.map { case (w, c) => f"$w%.3f/$c%.3f" }.mkString(", "))
    mismatches.take(20).foreach(m => System.err.println(s"MISMATCH $m"))

    // no operation ran to its end: there is nothing to measure
    val metrics: Map[String, (Double, String)] = if (done.isEmpty) Map.empty else {
      def med(f: Done => Double): Double = Stats.median(done.toSeq.map(f))
      /** The operation's wall and the figures of single workloads. */
      val phases = done.head.r.phases.keys.map(p => p -> med(_.r.phases(p))).toMap +
        ("op_s" -> med(_.wallS))
      val e2e = Map(
        "setup_s" -> (setupS, "s"),
        "op_cpu_s" -> (med(_.cpuS), "s"),
        "peak_heap_mb" -> (med(_.heapMb), "MB"),
        "written_mb" -> (med(_.r.writtenMb), "MB"))
      println("phases " + Json.obj(phases.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
      if (!traced) e2e
      else {
        // the end-to-end figures of the traced operations, to set against
        // an untraced run of the same seed
        println("e2e " + Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, (v, _)) => k -> Json.num(v) }))
        val report = TraceReport(tracer, listener, done.map(_.id).toSeq)
        report.print()
        report.write(s"${a("trace-out")}", workload, seed, phases)
        report.perLayer + ("op.wall_s" -> (phases("op_s"), "s"))
      }
    }

    spark.stop()
    val correct = mismatches.isEmpty && done.nonEmpty
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.exit(if (done.isEmpty) 1 else 0)
  }
}

/** The build's training run: one warm-up round of every workload, so the
  * JVM can record the classes they load in a class-data-sharing archive
  * that later runs map instead of loading each class again. */
object Train {
  def main(args: Array[String]): Unit = {
    val a = Main.args2map(args)
    val spark = Main.session(a("threads").toInt, a("work"))
    val tracer = new Tracer(spark.sparkContext)
    Seq("validate", "append-revalidate", "corpus-clean").foreach { name =>
      val wl = Workload(name, spark, 1L, a("repo"))
      val dir = s"${a("work")}/$name"
      wl.setup(s"$dir/input")
      wl.warmup(s"$dir/op", tracer)
      wl.sideOp.foreach(f => scala.util.Try(f(s"$dir/side")))
    }
    spark.stop()
  }
}

/** Minimal JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v).replace("E", "e")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ", ", "]")
}
