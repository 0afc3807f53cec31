package perfbench

import java.nio.file.{Files, Paths}

/** The traced run's per-layer numbers, from the spans of the traced
  * operations and the listener's job records. */
final case class TraceReport(tracer: Tracer, listener: JobListener, ops: Seq[Int]) {

  private val units = Map("jobs" -> "count", "stages" -> "count", "tasks" -> "count")
  private def unitOf(name: String): String = {
    val last = name.split('.').last
    units.getOrElse(last,
      if (last.endsWith("_mb")) "MB"
      else if (last.endsWith("_per_s")) "1/s"
      else if (last.endsWith("_ns_per_doc") || last.endsWith("_ns_per_clip")) "ns"
      else if (last.endsWith("_s")) "s"
      else "count")
  }

  /** `spark.*` counters per operation, median over the traced operations. */
  private val counters: Map[String, (Double, String)] = {
    val per = ops.map(listener.counters)
    per.head.keys.map(k => k -> (Stats.median(per.map(_(k))), unitOf(k))).toMap
  }

  /** The metrics of the result line: the counters every workload moves.
    * Spill reads 0 on all three, and the median task time is a whole number
    * of milliseconds that repeats from run to run; both are printed with
    * the layer lines instead. */
  val perLayer: Map[String, (Double, String)] =
    counters -- Seq("spark.spill_mb", "spark.median_task_s")

  /** Median wall of one call, per span name, the recorded values and the
    * counters left out of the result line. */
  val layers: Map[String, (Double, String)] = (counters -- perLayer.keys) ++ {
    val spans = tracer.spans.filter(s => ops.contains(s.op)).groupBy(_.name)
      .map { case (n, ss) => s"${n}_s" -> Stats.median(ss.map(_.secs).toSeq) }
    val recorded = tracer.values.filter { case ((op, _), _) => ops.contains(op) }
      .groupBy(_._1._2).map { case (n, vs) => n -> Stats.median(vs.values.toSeq) }
    (spans ++ recorded).map { case (n, v) => n -> (v, unitOf(n)) }
  }

  private def jobLine(j: JobRec): String =
    f"job ${j.id}%4d ${j.phase}%-5s span ${j.span}%-26s wall_ms ${j.endMs - j.startMs}%6d " +
      f"stages ${j.stages}%2d tasks ${j.tasks}%4d task_ms ${j.taskMs}%7d  ${j.name}"

  def print(): Unit = {
    (perLayer ++ layers).toSeq.sortBy(_._1).foreach { case (n, (v, u)) =>
      println(f"layer $n%-34s $v%14.6f $u")
    }
    val first = ops.head
    println(s"jobs of traced operation $first:")
    (listener.jobsOf(first, "op") ++ listener.jobsOf(first, "probe")).foreach(j => println(jobLine(j)))
  }

  def write(path: String, workload: String, seed: Long, phases: Map[String, Double]): Unit = {
    val t0 = tracer.spans.map(_.startNs).minOption.getOrElse(0L)
    val spans = tracer.spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name), "op" -> s.op.toString,
        "phase" -> Json.str(s.phase), "parent" -> s.parent.toString,
        "start_ms" -> Json.num((s.startNs - t0) / 1e6), "end_ms" -> Json.num((s.endNs - t0) / 1e6)))
    }
    val jobs = listener.jobs.values.map { j =>
      Json.obj(Seq("id" -> j.id.toString, "op" -> j.op.toString, "phase" -> Json.str(j.phase),
        "span" -> Json.str(j.span), "name" -> Json.str(j.name),
        "wall_ms" -> (j.endMs - j.startMs).toString, "stages" -> j.stages.toString,
        "tasks" -> j.tasks.toString, "task_ms" -> j.taskMs.toString,
        "cpu_ms" -> Json.num(j.cpuNs / 1e6), "gc_ms" -> j.gcMs.toString,
        "shuffle_write_bytes" -> j.shuffleWrite.toString,
        "shuffle_read_bytes" -> j.shuffleRead.toString, "spill_bytes" -> j.spill.toString,
        "input_bytes" -> j.input.toString, "output_bytes" -> j.output.toString))
    }
    def metrics(m: Map[String, (Double, String)]) = Json.obj(m.toSeq.sortBy(_._1).map {
      case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val doc = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "traced_ops" -> Json.arr(ops.map(_.toString)),
      "per_layer" -> metrics(perLayer), "layers" -> metrics(layers),
      "phases" -> Json.obj(phases.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(spans), "jobs" -> Json.arr(jobs)))
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, doc + "\n")
  }
}
