package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** In-JVM registry of the per-invocation scratch table dirs the query
  * closures create under target/tmp. Bench/Verify drain it right
  * after each row's execution completes (outside any timed region) so
  * a sweep no longer accumulates thousands of dirs — and, because
  * only paths REGISTERED BY THIS JVM are ever deleted, a concurrent
  * process (a test suite racing a verify run) can never lose its own
  * fresh dirs to another process's hygiene pass (a directory-diff
  * cleanup did exactly that when first tried).
  */
private[graft] object ScratchDirs {

  private val created =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private[queries] def register(p: String): String = { created.add(p); p }

  /** Delete (recursively, best-effort) every dir registered since the
    * last drain. Call only after the work reading those dirs finished.
    */
  private[graft] def dropRegistered(): Unit = {
    var s = created.poll()
    while (s != null) {
      deleteTree(Paths.get(s))
      s = created.poll()
    }
  }

  /** Startup sweep of `root`: delete the children nothing has written
    * to for an hour (earlier sessions' leftovers). Staleness is the
    * NEWEST mtime anywhere under a child — a long-lived dir whose top
    * level is old but whose files are fresh is still in use. Fixture
    * bases, lock files and the shared warehouse/golden dirs are never
    * touched. Best-effort: a failure skips that child.
    */
  private[graft] def sweepStale(root: Path): Unit = {
    val cutoff = System.currentTimeMillis() - 3600L * 1000
    def protectedName(n: String): Boolean =
      n.contains("-base-") || n.endsWith(".lock") ||
        n == "gd-warehouse" || n == "golden"
    def newestMtime(p: Path): Long = {
      val s = Files.walk(p)
      try s.iterator().asScala
        .map(q => Files.getLastModifiedTime(q).toMillis).max
      finally s.close()
    }
    val children =
      try {
        val s = Files.list(root)
        try s.iterator().asScala.toList finally s.close()
      } catch { case _: Throwable => Nil }
    children
      .filterNot(p => protectedName(p.getFileName.toString))
      .filter(p =>
        try newestMtime(p) < cutoff catch { case _: Throwable => false })
      .foreach(deleteTree)
  }

  private def deleteTree(p: Path): Unit =
    try {
      if (Files.exists(p))
        Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(q => Files.deleteIfExists(q))
    } catch { case _: Throwable => () }
}
