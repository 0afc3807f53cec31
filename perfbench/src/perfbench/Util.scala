package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Files2 {
  private def walk(dir: String): Seq[Path] =
    scala.util.Using.resource(Files.walk(Paths.get(dir)))(_.iterator().asScala.toSeq)

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    walk(from).foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def delete(dir: String): Unit =
    if (Files.exists(Paths.get(dir))) walk(dir).reverse.foreach(Files.delete)

  /** Bytes of every regular file under `dir`. */
  def bytes(dir: String): Long =
    walk(dir).filter(Files.isRegularFile(_)).map(Files.size).sum

  def count(dir: String, suffix: String): Int =
    walk(dir).count(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix))
}

/** CPU time of this JVM. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU seconds of the whole process so far. */
  def seconds: Double = os.getProcessCpuTime / 1e9

  /** CPU nanoseconds of each live Java thread, by thread id. The JIT
    * compiler and GC worker threads are not Java threads, so they are not
    * in it: how much compiling falls into an operation depends on how warm
    * the JVM happens to be, not on the program. */
  def javaThreads(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU seconds the Java threads used since `start` (a [[javaThreads]]
    * snapshot); a thread that ended in between is not counted. */
  def javaSecondsSince(start: Map[Long, Long]): Double =
    javaThreads().map { case (id, ns) => ns - start.getOrElse(id, 0L) }.sum / 1e9
}

/** Heap in use after each garbage collection, so that the peak over the
  * collections of chosen windows can be read: the high-water mark of data the
  * program kept alive while it ran. The heap in use just before a collection
  * would read the young generation's size, which says nothing about the
  * program. */
final class HeapPeak {
  private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  /** Bytes in use after a collection, by collector and collection number. */
  private val after = new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()

  beans.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values().asScala
            .map(_.getUsed).sum
          after.put((info.getGcName, info.getGcInfo.getId), used)
        }
      }, null, null)
    case _ =>
  }

  /** Collections so far, by collector: one end of a window. */
  def counts(): Map[String, Long] = beans.map(b => b.getName -> b.getCollectionCount).toMap

  /** Forgets the collections reported so far. */
  def clear(): Unit = after.clear()

  /** Highest heap in use after a collection made inside one of `windows`
    * (collection counts at its start and end), in MB. The collections'
    * reports arrive on another thread, so it waits up to a second for the
    * last of them. */
  def mb(windows: Seq[(Map[String, Long], Map[String, Long])]): Double = {
    val keys = windows.flatMap { case (from, to) =>
      to.toSeq.flatMap { case (gc, n) => (from.getOrElse(gc, 0L) + 1 to n).map(gc -> _.toLong) }
    }
    val deadline = System.nanoTime() + 1000000000L
    while (!keys.forall(after.containsKey) && System.nanoTime() < deadline) Thread.sleep(5)
    keys.map(after.getOrDefault(_, 0L)).maxOption.getOrElse(0L) / 1e6
  }
}
