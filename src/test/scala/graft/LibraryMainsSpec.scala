package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library jar ships the library: its only mains are the spark-submit
  * job, the table generator and the frozen instruments (and `BoxProbe`,
  * which `Bench` calls). Measurement harnesses live in the test tree and run
  * with `Test/runMain`. Spark-free.
  */
class LibraryMainsSpec extends AnyFunSuite {

  test("src/main declares exactly the five shipped mains") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the checkout root (cwd ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(root)
    val mains = try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains("def main("))
      .map((p: Path) => p.getFileName.toString.stripSuffix(".scala")).toSet
    finally files.close()
    assert(mains == Set("Bench", "Verify", "BoxProbe", "SketchJob", "TranscriptGen"))
  }
}
