package graft.util

/**
 * JVM-scoped scratch directories for fixture-building query gates.
 *
 * Several gates (m27, s37, s38, ...) stage synthetic media FILES on local
 * disk so the real `binaryFile` / file-stream sources exercise genuine
 * file IO. Those dirs are per-run garbage: this registers ONE shutdown
 * hook that recursively deletes every dir handed out, so repeated
 * Verify/Bench runs don't leak fixture trees into the temp filesystem.
 *
 * NOTE the local-mode assumption these gates share: fixture files are
 * written from EXECUTOR tasks and read back by the driver-planned scan,
 * which only lines up when driver and executors share a filesystem
 * (local[n], or a shared mount). On a real cluster the staging step must
 * go through a distributed writer instead — the gates document this at
 * their call sites.
 */
object TempDirs {
  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      registered.forEach(p => deleteRecursively(p))
    }, "graft-tempdirs-cleanup"))
  }

  /** Create a temp dir registered for recursive deletion at JVM exit. */
  def scratch(prefix: String): String = {
    hook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    registered.add(p)
    p.toString
  }

  /** Best-effort recursive delete (a missing root is a no-op). */
  private[graft] def deleteRecursively(root: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.exists(root)) {
      try {
        java.nio.file.Files.walk(root)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => try java.nio.file.Files.deleteIfExists(p) catch {
            case _: java.io.IOException => ()
          })
      } catch { case _: java.io.IOException => () }
    }
  }
}
