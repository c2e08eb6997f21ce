package graft.util

import java.nio.file.{Files, Path}

/** Every temp directory a graft JVM creates, and when it goes away.
  *
  *  - [[scratch]]: per-invocation SCRATCH (bounded-stream sinks and
  *    checkpoints). 13 of the catalog's 21 streaming runners (the 10
  *    parquet-sink drains and the 3 `foreachBatch` drains of
  *    [[graft.streaming.StreamingMetrics]]; the 8 memory-sink drains make
  *    none) create a fresh sink + checkpoint per invocation (fresh dirs
  *    are what make the runs deterministic and re-runnable); nothing
  *    reads them again once the caller has materialized the returned
  *    frame. The harness (Bench/Verify) calls [[sweep]] only AFTER the
  *    query's result is materialized (counted or written) — the returned
  *    DataFrames read the sink dir lazily, so sweeping early would yield
  *    empty reads.
  *    Contract mirrors [[graft.ops.QueryLocal]].
  *  - [[staging]]: source staging dirs and the test warehouse. Their frames may be re-scanned later (a
  *    [[graft.ops.Shared]] rebuild re-reads its whole lineage), so they
  *    are never swept mid-run.
  *
  * Both kinds are deleted at JVM exit if still present, by ONE shutdown
  * hook registered on first use — a full bench session or test run
  * otherwise strews hundreds of dead directories across `java.io.tmpdir`.
  * The hook runs below Spark's own hook (Hadoop FileSystem priority + 30,
  * which stops the context), so the delete runs after the context has
  * stopped writing. */
object TempDirs {

  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]
  private val atExit = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private lazy val hook: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => atExit.forEach(p => delete(p)),
      org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)

  /** Create a temp directory deleted at JVM exit (never swept). */
  def staging(prefix: String): Path = {
    hook
    val dir = Files.createTempDirectory(prefix)
    atExit.add(dir)
    dir
  }

  /** Create and register a scratch directory; returns its path string. */
  def scratch(prefix: String): String = {
    val p = staging(prefix)
    dirs.add(p)
    p.toString
  }

  /** Delete (recursively, best-effort) every scratch directory registered
    * since the last sweep; returns how many were removed. A dir that
    * cannot be deleted stays registered for the exit hook. */
  def sweep(): Int = {
    var n = 0
    var p = dirs.poll()
    while (p != null) {
      if (delete(p)) { atExit.remove(p); n += 1 }
      p = dirs.poll()
    }
    n
  }

  /** Number of registered, not-yet-swept directories (test/report hook). */
  def pending(): Int = dirs.size()

  private def delete(dir: Path): Boolean =
    try {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
      true
    } catch { case scala.util.control.NonFatal(_) => false }
}
