package graft.tools

/** Memory-side host-health probe (round 6).
  *
  * WHY THIS EXISTS: the scaling section's pure-CPU control (StrictMath.sin
  * on raw JVM threads, Bench.cpuControlEfficiency) is latency-bound — it
  * measures the host's active-core frequency behavior but is blind to
  * memory-side degradation (bandwidth contention, hypervisor steal on the
  * memory bus). Round 5 documented the blind spot ("the 4N pipeline level
  * swings 28.7-39.4k cps at HEALTHY 0.90-0.95 controls, once
  * anti-correlated"); round 6 then recorded the smoking gun INSIDE one
  * bench run: attempt 1 read engine 6->24 efficiency 0.835 with the 4N
  * level at 35.7k cps under sin-controls 0.810/0.870 (degraded), while
  * attempt 2 — same JVM, same input, minutes later — read 0.760 with the
  * 4N level at 30.5k cps under HEALTHIER sin-controls 0.892/0.858. The
  * engine slowed 15% while the CPU control sped up: the window that hit
  * attempt 2 was memory-side, invisible to the sin loop.
  *
  * THE KERNEL: each of `threads` raw JVM threads streams (sequential
  * 8-byte reads, sum-reduce) a disjoint contiguous chunk of one shared
  * 512 MB Array[Long], `passes` times. The live working set (512 MB across
  * threads) far exceeds any L3 on this host class, so the aggregate rate
  * is memory-bandwidth-bound, not core-bound — the resource the validation
  * pipeline's shuffle/decode mutator phases actually contend on. No
  * allocation after warmup, no shared mutable state, no Spark.
  *
  * The stamp is ABSOLUTE (GB/s at full pressure width), like the sin-loop
  * Mops stamp used for round-over-round normalization: a scaling RATIO of
  * this kernel would be meaningless (memory bandwidth saturates below 24
  * threads by design — on a healthy host the 6->24 ratio of a
  * bandwidth-bound kernel is far from 4x and says nothing about health).
  * Calibration observations for the healthy/degraded threshold are in
  * BASELINE.md next to the Mops history.
  */
object HostProbe {

  /** 64M longs = 512 MB, shared read-only across probe threads. Filled
    * with a mixed pattern so the JIT cannot constant-fold the sum. */
  private lazy val buf: Array[Long] = {
    val a = new Array[Long](1 << 26)
    var i = 0
    while (i < a.length) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    a
  }

  @volatile private var sinkPub: Long = 0L // defeat dead-code elimination

  /** Aggregate streaming-read bandwidth in GB/s across `threads` threads.
    * Each thread re-reads its own ~(512/threads) MB chunk `passes` times;
    * per-chunk footprint (21 MB at 24 threads) defeats per-core caches and
    * the aggregate defeats L3, so the number tracks the memory subsystem. */
  def bandwidthGBs(threads: Int, passes: Int): Double = {
    val n = buf.length
    val chunk = n / threads
    val sink = new Array[Long](threads)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { id =>
      val t = new Thread(() => {
        var acc = 0L
        var p = 0
        while (p < passes) {
          var i = id * chunk
          val end = i + chunk
          while (i < end) { acc += buf(i); i += 1 }
          p += 1
        }
        sink(id) = acc
      })
      t.start(); t
    }
    ts.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    sinkPub = sink.sum
    threads.toLong * chunk * passes * 8L / sec / 1e9
  }

  /** The latency-bound CPU kernel (StrictMath.sin on raw JVM threads) the
    * scaling section has used since round 2 — owned here so Bench's
    * scaling control and host stamps share one definition. Returns the summed sink so the
    * JIT cannot eliminate the loops. */
  def sinRun(threads: Int, work: Long): Double = {
    val sink = new Array[Double](threads)
    val ts = (0 until threads).map { id =>
      val t = new Thread(() => {
        var acc = 0.0
        var j = 0L
        while (j < work) { acc += StrictMath.sin(j * 1e-6); j += 1 }
        sink(id) = acc
      })
      t.start(); t
    }
    ts.foreach(_.join())
    sink.sum
  }

  /** Total sin-loop ops/sec across `threads` raw JVM threads. */
  def sinRate(threads: Int, work: Long): Double = {
    val t0 = System.nanoTime()
    sinRun(threads, work)
    threads * work / ((System.nanoTime() - t0) / 1e9)
  }

  /** Absolute full-width sin stamp in Mops/s (the per-round host-speed
    * yardstick recorded since round 5). */
  def sinMops(threads: Int = 32): Double = {
    sinRate(threads, 5000000L) // warmup
    sinRate(threads, 100000000L) / 1e6
  }
}
