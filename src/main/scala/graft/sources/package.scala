package graft

package object sources {

  /** Delete `p` and everything beneath it, deepest entries first; a
    * missing `p` is a no-op. Returns the number of regular files removed
    * (VACUUM's orphan sweeps report it). */
  def deleteTree(p: java.nio.file.Path): Int = {
    if (!java.nio.file.Files.exists(p)) return 0
    var files = 0
    val walk = java.nio.file.Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach { q =>
      val isFile = java.nio.file.Files.isRegularFile(q)
      if (java.nio.file.Files.deleteIfExists(q) && isFile) files += 1
    }
    finally walk.close()
    files
  }

  /** Run `body` over a fresh temp directory named `prefix…` and delete
    * the directory when it returns or throws. For build-time scratch only:
    * a frame returned by `body` must not read from the directory. */
  def withScratch[A](prefix: String)(body: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir) finally deleteTree(dir)
  }
}
