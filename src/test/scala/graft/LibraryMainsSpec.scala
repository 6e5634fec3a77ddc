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

  /** Every Scala source under `src/main/scala` with its text. */
  private def sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the checkout root (cwd ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally files.close()
  }

  test("src/main declares exactly the five shipped mains") {
    val mains = sources.collect { case (p, text) if text.contains("def main(") =>
      p.getFileName.toString.stripSuffix(".scala")
    }.toSet
    assert(mains == Set("Bench", "Verify", "BoxProbe", "SketchJob", "TranscriptGen"))
  }

  test("src/main declares exactly one TypedImperativeAggregate, SketchAgg") {
    val extend = """\b(?:extends|with)\s+TypedImperativeAggregate\b""".r
    val decl = """\bclass\s+(\w+)""".r
    // each extension, named by the last class declared before it
    val aggs = for ((p, text) <- sources; m <- extend.findAllMatchIn(text).toList)
      yield s"${p.getFileName}:${decl.findAllMatchIn(text.take(m.start)).toList.last.group(1)}"
    assert(aggs == Seq("SketchAggs.scala:SketchAgg"))
  }
}
