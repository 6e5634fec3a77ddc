package graft.spark

import java.nio.file.{Files, Path}

/** Temp-dir cleanup shared by the Spark specs. */
object TestDirs {
  /** Deletes `root` and everything under it; a missing root is a no-op. */
  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val w = Files.walk(root)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
    finally w.close()
  }
}
