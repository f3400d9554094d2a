package graft.core

/** Shared scratch-directory registry, swept by ONE JVM shutdown hook.
  *
  * Several gate queries build fixtures on scratch disk whose returned
  * plan reads the files LAZILY — an in-query delete would be wrong, so
  * cleanup belongs at JVM exit. Registering one hook per invocation
  * (the previous shape, copy-pasted across ArchiveQueries/
  * StorageQueries/SimilarityQueries) accumulated one thread + one
  * unswept dir per run in a long-lived session looping Verify/Bench;
  * this registry keeps a single hook and a concurrent list, so N runs
  * cost N list entries and zero extra threads (r15 advice, low).
  */
object Scratch {

  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      var p = dirs.poll()
      while (p != null) {
        try rm(p) catch { case scala.util.control.NonFatal(_) => () }
        p = dirs.poll()
      }
    }, "graft-scratch-cleanup"))

  /** A fresh temp directory registered for the exit-time sweep. */
  def dir(prefix: String): java.nio.file.Path = {
    hookInstalled
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(tmp)
    tmp
  }
}
