package graft.text

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Connected components (large-star/small-star rounds, one-task union-find
  * finish): planted shapes, equality with a brute-force union-find on
  * seeded random graphs, the O(log n) round bound on a long path (plain
  * propagation would need diameter rounds and trip MaxIter), and invariance
  * to input presentation. Every case runs both regimes — the bound forced
  * to 0 (distributed rounds to the fixpoint) and the default (one-task
  * finish) — and asserts equal labels; the handover between them and the
  * session's confs are checked too.
  */
class ConnectedComponentsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-cc-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Labels of `df` through both regimes, asserted equal. */
  private def runBoth(df: DataFrame): Map[Long, Long] = {
    val rounds = labels(ConnectedComponents.components(df, localEdges = 0)._1)
    val local = labels(ConnectedComponents.components(df)._1)
    assert(rounds == local, "distributed rounds and one-task finish disagree")
    local
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val ss = spark; import ss.implicits._
    runBoth(edges.toDF("a", "b"))
  }

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // union-by-min above makes every root the component min; snapshot keys
    // before the final find pass (path compression mutates the map)
    val ks = parent.keys.toList
    ks.map(k => k -> find(k)).toMap
  }

  test("planted shapes: chain, star, pair, self-loop, duplicates") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),   // chain -> rep 1
      (11L, 10L), (12L, 10L), (10L, 13L),       // star  -> rep 10
      (21L, 20L),                               // pair  -> rep 20
      (30L, 30L),                               // self-loop only: dropped entirely
      (2L, 1L), (1L, 2L))                       // duplicates / reversed
    val got = run(edges)
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L)
    assert(got == want)
  }

  test("matches brute-force union-find on seeded random graphs") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 200
      val edges = Seq.fill(160)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(run(edges) == unionFind(edges), s"seed=$seed")
    }
  }

  test("long path converges within the O(log n) round budget") {
    // a 300-node path has diameter 299: plain min-propagation would blow
    // the 50-round cap; large-star/small-star needs ~2*log2(n)+4 rounds
    val edges = (0L until 299L).map(i => (i, i + 1))
    val got = run(edges)
    assert(got.size == 300 && got.values.forall(_ == 0L))
  }

  test("result is invariant to input presentation (order / direction / partitioning)") {
    val ss = spark; import ss.implicits._
    val rnd = new scala.util.Random(9)
    val edges = Seq.fill(120)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter { case (a, b) => a != b }
    val base = run(edges)
    val shuffled = rnd.shuffle(edges.map { case (a, b) => (b, a) })
    val df = shuffled.toDF("x", "y").repartition(7)
    val got = runBoth(df)
    assert(got == base)
  }

  test("chain plus hub: both regimes label like union-find") {
    // a 200-node chain whose middle node is also the hub of a 100-leaf
    // star, plus a separate hub whose leaves sit below and above it
    val chain = (1000L until 1199L).map(i => (i, i + 1))
    val hub = (2000L until 2100L).map(i => (1100L, i))
    val star = (1L to 50L).map(i => (500L, i)) ++ (501L to 550L).map(i => (i, 500L))
    val edges = chain ++ hub ++ star
    val got = run(edges)
    assert(got == unionFind(edges))
    assert(got.values.toSet == Set(1000L, 1L))
  }

  test("the rounds hand over to the one-task finish once the edge list fits the bound") {
    val ss = spark; import ss.implicits._
    // dense random graph: 600 edges over 60 nodes shrink toward a star
    // forest of at most 59 edges, so a 150-edge bound is crossed mid-run
    val rnd = new scala.util.Random(3)
    val edges = Seq.fill(600)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val initial = edges.map { case (a, b) => (math.max(a, b), math.min(a, b)) }.distinct.size
    assert(initial > 150)
    val df = edges.toDF("a", "b")
    val (full, fullRounds) = ConnectedComponents.components(df, localEdges = 0)
    val (mid, midRounds) = ConnectedComponents.components(df, localEdges = 150)
    assert(midRounds > 0 && midRounds < fullRounds,
      s"expected a mid-run handover: $midRounds of $fullRounds rounds")
    assert(labels(mid) == labels(full))
    assert(labels(mid) == unionFind(edges))
  }

  test("neither regime changes the session's shuffle, AQE or codegen confs") {
    val ss = spark; import ss.implicits._
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.codegen.wholeStage")
    val session = keys.map(k => k -> spark.conf.get(k)).toMap
    val marker = "graft.test.cc.marker"
    // each job's view: the live session conf when the listener sees the
    // job, and the SQL confs the job was submitted with (its properties)
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = {
        if (job.properties != null && job.properties.getProperty(marker) != null) drained = true
        else keys.foreach { k =>
          seen.add(k -> spark.conf.get(k))
          Option(job.properties).flatMap(p => Option(p.getProperty(k))).foreach(v => seen.add(k -> v))
        }
      }
    }
    val edges = (0L until 99L).map(i => (i, i + 1)).toDF("a", "b")
    spark.sparkContext.addSparkListener(listener)
    try {
      for (bound <- Seq(0L, 250000L)) {
        seen.clear(); drained = false
        labels(ConnectedComponents.components(edges, localEdges = bound)._1)
        // a marker job after the run: once the listener has seen it, it
        // has seen every job the run submitted
        spark.sparkContext.setLocalProperty(marker, "1")
        try spark.sparkContext.parallelize(Seq(1)).count()
        finally spark.sparkContext.setLocalProperty(marker, null)
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
        assert(drained, "listener never saw the marker job")
        val views = seen.asScala.toSeq
        assert(views.nonEmpty, s"bound=$bound ran no jobs")
        val off = views.filter { case (k, v) => session(k) != v }.distinct
        assert(off.isEmpty, s"bound=$bound: jobs ran under $off, session has $session")
        keys.foreach(k => assert(spark.conf.get(k) == session(k)))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
