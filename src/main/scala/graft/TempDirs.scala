package graft

import java.nio.file.{Files, Path}

/** Scratch directories deleted recursively when the JVM exits — for
  * work whose output a caller still reads after the creating call
  * returns (a gate query's lazy DataFrame over a streaming sink's
  * directory, a synthetic bench table). */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  // a background thread (e.g. the checkpoint materializer) may still
  // write into a table dir while the JVM exits: retry a racing walk
  sys.addShutdownHook(dirs.forEach { d =>
    (1 to 3).find { _ =>
      scala.util.Using(Files.walk(d)) { paths =>
        paths.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
      }.isSuccess || !Files.exists(d)
    }
  })

  /** A fresh directory under the JVM temp dir, deleted at JVM exit. */
  def create(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }
}
