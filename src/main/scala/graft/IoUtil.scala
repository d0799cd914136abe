package graft

/** Small filesystem helpers shared by the bench harness and fixture
  * machinery (one definition — the recursive delete was previously
  * duplicated between Bench and MultimodalQueries). */
object IoUtil {

  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var dir = scratchDirs.poll()
      while (dir != null) {
        try deleteRecursively(dir)
        catch { case scala.util.control.NonFatal(_) => () }
        dir = scratchDirs.poll()
      }
    }))
  }

  /** A new temp dir (`Files.createTempDirectory(prefix)`) deleted at JVM
    * exit. Session memos that write scratch files drop only their map
    * entry when the session ends, so their dirs are swept here, by ONE
    * shutdown hook draining ONE shared queue: a hook per dir would pile
    * up hooks, and the dirs they retain, in a process that creates many
    * sessions. The sweep is best-effort and swallows delete failures. */
  def scratchDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(dir)
    dir
  }

  /** Recursive delete, children first. Closes the walk stream — a bare
    * `Files.walk` holds directory handles until GC, which on some
    * filesystems blocks the deletes it is feeding. Throws nothing away
    * silently: callers choose whether to swallow (both current callers
    * are best-effort cleanup and do). */
  def deleteRecursively(root: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    } finally walk.close()
  }
}
