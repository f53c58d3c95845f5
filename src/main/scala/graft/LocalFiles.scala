package graft

import java.nio.file.{Files, Path, Paths}

/** Local-filesystem housekeeping shared by the mains, the index updater
  * and the tests. */
private[graft] object LocalFiles {

  /** Delete `path` and everything under it (children before their
    * parent; symlinks are deleted, not followed). A missing path is a
    * no-op. */
  def deleteRecursively(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.toArray(new Array[Path](_)).reverseIterator.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}
