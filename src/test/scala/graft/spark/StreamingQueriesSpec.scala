package graft.spark

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingQueries

/** The oracle-gated streaming replays (`q_stream_*`) over a small events
  * table, and the chunk staging they replay from.
  */
class StreamingQueriesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _
  private val tables = scala.collection.mutable.Buffer.empty[String]

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-streaming-queries-test")
      .config("spark.sql.shuffle.partitions", 3)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dir = writeEvents()
    tables += dir
  }

  override def afterAll(): Unit = {
    // the table dirs and every stage (events, keyed, flush) built from them
    val stageRoot = Paths.get(sys.props("java.io.tmpdir"), "graft-stage")
    val ids = tables.map(t => s"-${Integer.toHexString(t.hashCode)}-")
    if (Files.exists(stageRoot))
      names(stageRoot).filter(n => ids.exists(n.contains))
        .foreach(n => TestDirs.deleteTree(stageRoot.resolve(n)))
    tables.foreach(t => TestDirs.deleteTree(Paths.get(t)))
    if (spark != null) spark.stop()
  }

  /** 8 users × 4 days × 2 bursts of 5 events 5 minutes apart, bursts hours
    * apart: many gap-separated sessions, with the last ones still unsealed
    * at the final watermark.
    */
  private def writeEvents(): String = {
    val d = Files.createTempDirectory("graft-sq").toString
    val sp = spark
    import sp.implicits._
    val t0 = 1704067200L // 2024-01-01T00:00:00Z
    val rnd = new scala.util.Random(7)
    val rows = for {
      u <- 1 to 8; day <- 0 until 4; burst <- 0 until 2; i <- 0 until 5
    } yield {
      val sec = t0 + day * 86400L + u * 1000L + burst * 30000L + i * 300L + rnd.nextInt(60)
      (u.toLong * 100 + day * 10 + burst, new Timestamp(sec * 1000L + rnd.nextInt(1000)),
        u.toLong, Seq("click", "view", "buy")(rnd.nextInt(3)), rnd.nextInt(1000) / 10.0)
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(2).write.parquet(s"$d/events.parquet")
    d
  }

  private def run(name: String, at: String = dir): Array[Row] = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val rows = graft.SparkEntry.queries(name)(spark, at).collect()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      s"$name left spark.sql.shuffle.partitions changed")
    rows
  }

  private def stage(at: String): Path =
    Paths.get(StreamingQueries.stageEventsByTime(spark, at, 4))

  private def stampOf(stage: Path): String = Files.readString(stage.resolve("_STAGED"))

  private def names(dir: Path): Seq[String] = {
    val l = Files.list(dir)
    try l.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally l.close()
  }

  /** Each chunk's rows, sorted, by chunk file name. */
  private def chunkRows(stage: Path): Map[String, Seq[String]] =
    names(stage).filter(_.startsWith("chunk-")).map { n =>
      n -> spark.read.parquet(stage.resolve(n).toString).collect().map(_.toString).toSeq.sorted
    }.toMap

  private def copyTable(): String = {
    val d = Files.createTempDirectory("graft-sq-copy")
    val src = Paths.get(dir, "events.parquet")
    val w = Files.walk(src)
    try w.forEach(p => Files.copy(p, d.resolve("events.parquet").resolve(src.relativize(p).toString)))
    finally w.close()
    tables += d.toString
    d.toString
  }

  test("q_stream_restart returns q_stream_sessions's rows; q_stream_flush's rows contain them") {
    val sessions = run("q_stream_sessions")
    assert(sessions.nonEmpty)
    assert(run("q_stream_restart").toSeq == sessions.toSeq)
    val flushed = run("q_stream_flush")
    assert(sessions.toSet.subsetOf(flushed.toSet))
    assert(flushed.length > sessions.length, "the drain must also emit the unsealed sessions")
  }

  test("every streaming query restores spark.sql.shuffle.partitions") {
    for (q <- Seq("q_stream_windowed_sketches", "q_stream_dedup", "q_stream_dedup_bounded"))
      assert(run(q).nonEmpty, q)
  }

  test("two threads staging one table at once get one complete, single-staging chunk set") {
    val single = stage(copyTable())
    val shared = copyTable()
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val both = try {
      val fs = Seq.fill(2)(pool.submit(() => { go.await(); stage(shared) }))
      go.countDown()
      fs.map(_.get(5, TimeUnit.MINUTES))
    } finally pool.shutdown()
    assert(both.distinct.size == 1)
    val p = both.head
    assert(stampOf(p) == stampOf(single))
    assert(names(p) == names(single))
    assert(chunkRows(p) == chunkRows(single))
    val name = p.getFileName.toString
    assert(names(p.getParent).filter(_.startsWith(s"$name.")).isEmpty,
      "no temp or moved-aside copy may be left next to the stage")
  }

  test("a stage left with chunks but no _STAGED marker is rebuilt") {
    val at = copyTable()
    val p = stage(at)
    val (stamp, chunks, rows) = (stampOf(p), names(p), chunkRows(p))
    // a crash mid-build: marker missing, one chunk gone, a stray part file
    Files.delete(p.resolve("_STAGED"))
    Files.delete(p.resolve("chunk-001.parquet"))
    Files.writeString(p.resolve("part-00000-stray.parquet"), "not parquet")
    assert(stage(at) == p)
    assert(stampOf(p) == stamp)
    assert(names(p) == chunks)
    assert(chunkRows(p) == rows)
  }
}
