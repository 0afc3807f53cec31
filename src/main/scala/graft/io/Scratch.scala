package graft.io

/** Process-lifetime scratch directories for materializations that must
  * outlive a single Spark action (temp TableFormat tables, shared parquet
  * stages): `register` creates and tracks a temp dir, and a shutdown hook
  * removes everything tracked. A production deployment replaces these
  * with real warehouse paths — this seam only exists because the sandbox
  * has no writable warehouse. */
object Scratch {

  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach(deleteRecursively(_))))
  }

  /** Create a fresh temp dir tracked for shutdown removal. */
  def register(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    dirs.add(d)
    d
  }

  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, Any), String]()

  /** The dir `build` filled for (`prefix`, `key`), built once per process:
    * the first call creates a registered dir and runs `build` on it, later
    * calls return that dir without building. A `build` that throws deletes
    * its dir and memoizes nothing, so the next call builds again. The
    * build runs inside the memo's `computeIfAbsent`, so it must not call
    * `staged` itself. */
  def staged(key: Any, prefix: String)(build: String => Unit): String =
    stagedDirs.computeIfAbsent((prefix, key), _ => {
      val d = register(prefix)
      try build(d)
      catch {
        case e: Throwable =>
          deleteRecursively(d)
          dirs.remove(d)
          throw e
      }
      d
    })

  def deleteRecursively(d: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case _: Throwable => () }
}
