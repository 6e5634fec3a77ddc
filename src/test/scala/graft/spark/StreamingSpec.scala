package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sketch.agg.SketchFunctions

/** Sketch UDAFs under Structured Streaming: mergeable state makes them valid
  * streaming aggregates (`update` output mode) — the incremental path the
  * north rule leaves open (SURVEY.md §1.4 note on streaming).
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val fns = SketchFunctions.default

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-streaming-test")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  // restartScenario's roots: its callers inspect the returned checkpoint,
  // so the dirs outlive the scenario and go after the last test
  private val restartRoots = scala.collection.mutable.Buffer.empty[java.nio.file.Path]

  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() }
    finally restartRoots.foreach(TestDirs.deleteTree)

  test("flatMapGroupsWithState sessionization: event-time timeout closes sessions") {
    import graft.streaming.TranscriptStream
    import graft.streaming.TranscriptStream.{TurnEvent, SessionSummary}
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    def ts(min: Int): java.sql.Timestamp = new java.sql.Timestamp(1735689600000L + min * 60000L)
    val stream = MemoryStream[TurnEvent]
    val sessions = TranscriptStream.sessionize(stream.toDS(), gapSeconds = 120)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()

    // conv A: 3 turns within the gap; conv B: 1 turn. Then advance the
    // watermark far past A/B's last event to force both timeouts.
    stream.addData(
      TurnEvent("A", "user", 10.0, ts(0)),
      TurnEvent("A", "assistant", 30.0, ts(1)),
      TurnEvent("B", "user", 50.0, ts(1)))
    q.processAllAvailable()
    stream.addData(TurnEvent("A", "user", 20.0, ts(2)))
    q.processAllAvailable()
    stream.addData(TurnEvent("C", "user", 5.0, ts(60))) // pushes watermark
    q.processAllAvailable()
    stream.addData(TurnEvent("D", "user", 5.0, ts(120))) // ensure eviction batch
    q.processAllAvailable()
    q.stop()

    val out = sp.sql("SELECT * FROM sessions").as[SessionSummary].collect()
      .map(s => s.conv_id -> s).toMap
    assert(out.contains("A") && out.contains("B"), s"got ${out.keySet}")
    val a = out("A")
    assert(a.turns == 3 && a.duration_ms == 120000L)
    assert(a.len_p50 == 20.0, s"median of {10,30,20} = 20, got ${a.len_p50}") // exact: KLL uncompacted
    assert(a.len_max == 30.0)
    val b = out("B")
    assert(b.turns == 1 && b.duration_ms == 0L && b.len_p50 == 50.0)
  }

  test("sessionize splits gap-separated islands inside ONE micro-batch") {
    import graft.streaming.TranscriptStream
    import graft.streaming.TranscriptStream.{TurnEvent, SessionSummary}
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def ts(min: Int): java.sql.Timestamp = new java.sql.Timestamp(1735689600000L + min * 60000L)
    val stream = MemoryStream[TurnEvent]
    val sessions = TranscriptStream.sessionize(stream.toDS(), gapSeconds = 120)
    val q = sessions.writeStream.format("memory").queryName("batch_islands")
      .outputMode("append").start()
    // ONE batch, deliberately out of order: three islands for X
    // (0-1, 10-11, 30) separated by >2min silences — the backfill-replay
    // case where Trigger.AvailableNow lands a whole table in one batch
    stream.addData(
      TurnEvent("X", "user", 30.0, ts(10)),
      TurnEvent("X", "user", 1.0, ts(0)),
      TurnEvent("X", "user", 40.0, ts(11)),
      TurnEvent("X", "user", 2.0, ts(1)),
      TurnEvent("X", "user", 9.0, ts(30)))
    q.processAllAvailable()
    // the engine's own no-data batch advances the watermark to 28 min,
    // which SEALS islands 1 and 2 (ends 1, 11 + 2 min gap < 28) — island 3
    // (end 30) is still bridgeable by admissible events and must stay
    // pending
    val sealedAt28 = sp.sql("SELECT * FROM batch_islands").as[SessionSummary].collect()
    assert(sealedAt28.length == 2,
      s"islands ending 1,11 sealed at wm=28; island at 30 pending, got ${sealedAt28.toSeq}")
    stream.addData(TurnEvent("PUSHX", "user", 1.0, ts(300))) // wm -> 298 seals the third
    q.processAllAvailable()
    stream.addData(TurnEvent("PUSHX2", "user", 1.0, ts(301)))
    q.processAllAvailable()
    q.stop()
    val out = sp.sql("SELECT * FROM batch_islands WHERE conv_id = 'X'")
      .as[SessionSummary].collect().sortBy(_.first_ts_ms)
    assert(out.length == 3, s"three islands for X, got ${out.length}")
    val Array(s1, s2, s3) = out
    assert(s1.turns == 2 && s1.first_ts_ms == ts(0).getTime && s1.duration_ms == 60000L
      && s1.len_p50 == 1.0 && s1.len_max == 2.0, s"island 1: $s1")
    assert(s2.turns == 2 && s2.first_ts_ms == ts(10).getTime && s2.duration_ms == 60000L
      && s2.len_p50 == 30.0 && s2.len_max == 40.0, s"island 2: $s2")
    assert(s3.turns == 1 && s3.first_ts_ms == ts(30).getTime && s3.duration_ms == 0L
      && s3.len_p50 == 9.0 && s3.len_max == 9.0, s"island 3: $s3")
  }

  test("sessionize: admissible event BRIDGES two pending islands into one session") {
    import graft.streaming.TranscriptStream
    import graft.streaming.TranscriptStream.{TurnEvent, SessionSummary}
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def tss(sec: Int): java.sql.Timestamp = new java.sql.Timestamp(1735689600000L + sec * 1000L)
    val stream = MemoryStream[TurnEvent]
    val sessions = TranscriptStream.sessionize(stream.toDS(), gapSeconds = 120)
    val q = sessions.writeStream.format("memory").queryName("bridged")
      .outputMode("append").start()
    // batch 1: islands [0,60] and [210,240] (150 s apart > 120 s gap); the
    // watermark lands at 240-120 = 120 s, so neither island is sealed
    // ([0,60]: 60+120 = 180 > 120) and an event at 150 s is admissible
    stream.addData(
      TurnEvent("X", "user", 1.0, tss(0)), TurnEvent("X", "user", 2.0, tss(60)),
      TurnEvent("X", "user", 3.0, tss(210)), TurnEvent("X", "user", 4.0, tss(240)))
    q.processAllAvailable()
    // batch 2: t=150 attaches to [0,60] (90 <= gap) AND bridges to
    // [210,240] (210-150 = 60 <= gap) — global sessionization sees ONE
    // session [0,240]; the old eager-emit code would have already split
    // off [0,60] and produced two sessions
    stream.addData(TurnEvent("X", "user", 9.0, tss(150)))
    q.processAllAvailable()
    stream.addData(TurnEvent("PUSHB", "user", 1.0, tss(3600)))
    q.processAllAvailable()
    stream.addData(TurnEvent("PUSHB2", "user", 1.0, tss(3660)))
    q.processAllAvailable()
    q.stop()
    val out = sp.sql("SELECT * FROM bridged WHERE conv_id = 'X'")
      .as[SessionSummary].collect()
    assert(out.length == 1, s"bridged into ONE session, got ${out.toSeq}")
    val s = out.head
    assert(s.turns == 5 && s.first_ts_ms == tss(0).getTime && s.duration_ms == 240000L
      && s.len_max == 9.0, s"bridged session: $s")
    assert(s.len_p50 == 3.0, s"median of {1,2,9,3,4} = 3, got ${s.len_p50}")
  }

  test("sessionize == Spark's built-in session_window on a pseudo-random stream") {
    // third, independent oracle for island boundaries: batch
    // groupBy(session_window(ts, gap)) computes exact gap-sessionization;
    // sessionize (streamed in 3 arbitrary batch cuts, then watermark pushed
    // far past everything) must produce the same (key, start, count) set
    import graft.streaming.TranscriptStream
    import graft.streaming.TranscriptStream.{TurnEvent, SessionSummary}
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val base = 1735689600000L
    // deterministic pseudo-random events: 6 keys x 40 events over ~3h,
    // in ts order across batches (so no event is ever behind the watermark)
    val evs = (for (k <- 0 until 6; i <- 0 until 40) yield {
      val h = graft.sketch.core.XxHash64.hashLong(k * 1000L + i, 7L)
      val tsMs = base + (math.abs(h) % 10800000L)
      TurnEvent(s"k$k", "user", (math.abs(h) % 97).toDouble,
        new java.sql.Timestamp(tsMs))
    }).sortBy(_.ts.getTime)
    val gap = 300L // 5 min
    val stream = MemoryStream[TurnEvent]
    val q = TranscriptStream.sessionize(stream.toDS(), gapSeconds = gap)
      .writeStream.format("memory").queryName("sw_check")
      .outputMode("append").start()
    evs.grouped(80).foreach { chunk => stream.addData(chunk: _*); q.processAllAvailable() }
    // push the watermark far past the last event so every island seals
    stream.addData(TurnEvent("PUSH", "user", 1.0,
      new java.sql.Timestamp(base + 20000000L)))
    q.processAllAvailable()
    stream.addData(TurnEvent("PUSH2", "user", 1.0,
      new java.sql.Timestamp(base + 20060000L)))
    q.processAllAvailable()
    q.stop()
    val streamed = sp.sql(
      "SELECT conv_id, first_ts_ms, turns FROM sw_check WHERE conv_id LIKE 'k%'")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = evs.toDF()
      .groupBy(col("conv_id"), session_window(col("ts"), s"$gap seconds"))
      .agg(count(lit(1)).as("turns"))
      .select(col("conv_id"),
        unix_millis(col("session_window.start")).as("first_ts_ms"), col("turns"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size}; " +
        s"diff=${(streamed diff batch) ++ (batch diff streamed)}")
  }

  test("sessionize emits an island whose seal point == watermark, final wm at wm+1 (old 1 ms edge)") {
    // Regression for the round-3 documented edge: with the old strict-<
    // seal and max(seal, wm+1) arm, an island whose seal point s equalled
    // the watermark at its key's last data invocation, with the FINAL
    // watermark landing exactly at wm+1, could never be emitted — the
    // clamped timeout (wm+1) is not < the final watermark (wm+1), and the
    // strict seal kept the data invocation from emitting it. The triple,
    // ms-exact (gap 10 s, so seal = end + 10000):
    //   batch 1: E@B, E@B+5s (island1 end B+5000, s1 = B+15000) and a
    //            nudge@B+25s  => watermark after batch 1 = B+15000 == s1
    //   batch 2: E@B+20s (new island2 — cannot attach, B+20000 > s1) runs
    //            E's data invocation AT wm == s1; nudge2@B+25.001s leaves
    //            the FINAL watermark at B+15001 = wm+1
    // New semantics (<= seal + arm at seal-1): island1 is emitted (by the
    // post-batch-1 timeout at s1-1 or by batch 2's data invocation);
    // island2 (s2 = B+30000 > final wm) must stay pending.
    import graft.streaming.TranscriptStream
    import graft.streaming.TranscriptStream.{TurnEvent, SessionSummary}
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val base = 1735689600000L
    def t(ms: Long): java.sql.Timestamp = new java.sql.Timestamp(base + ms)
    val stream = MemoryStream[TurnEvent]
    val sessions = TranscriptStream.sessionize(stream.toDS(), gapSeconds = 10)
    val q = sessions.writeStream.format("memory").queryName("edge_sessions")
      .outputMode("append").start()
    stream.addData(
      TurnEvent("E", "user", 1.0, t(0)),
      TurnEvent("E", "user", 2.0, t(5000)),
      TurnEvent("NUDGE", "user", 1.0, t(25000)))
    q.processAllAvailable()
    stream.addData(
      TurnEvent("E", "user", 3.0, t(20000)),
      TurnEvent("NUDGE2", "user", 1.0, t(25001)))
    q.processAllAvailable()
    q.stop()
    val out = sp.sql("SELECT * FROM edge_sessions WHERE conv_id = 'E'")
      .as[SessionSummary].collect()
    assert(out.length == 1, s"island1 sealed at the watermark must emit " +
      s"(and island2 at B+20000 stays pending), got ${out.toSeq}")
    val s = out.head
    assert(s.turns == 2 && s.first_ts_ms == base && s.duration_ms == 5000L
      && s.len_max == 2.0, s"island1: $s")
  }

  test("drain sentinel seals every trailing island of a finite backfill") {
    import graft.streaming.TranscriptStream
    import graft.streaming.TranscriptStream.{TurnEvent, SessionSummary}
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def ts(min: Int): java.sql.Timestamp = new java.sql.Timestamp(1735689600000L + min * 60000L)
    val gapSec = 120L
    val stream = MemoryStream[TurnEvent]
    val sessions = TranscriptStream.sessionize(stream.toDS(), gapSeconds = gapSec)
    val q = sessions.writeStream.format("memory").queryName("drain_out")
      .outputMode("append").start()
    // Y has an early island (0-1) and a TRAILING island (10-11) that ends at
    // the stream's max event time: the final watermark (11 - 2 min = 9) can
    // never reach its seal point 13, so without a drain it stays pending —
    // exactly the sessions the finite-backfill flush exists to emit.
    stream.addData(
      TurnEvent("Y", "user", 1.0, ts(0)),
      TurnEvent("Y", "user", 3.0, ts(1)),
      TurnEvent("Y", "user", 7.0, ts(10)),
      TurnEvent("Y", "user", 5.0, ts(11)))
    q.processAllAvailable()
    assert(sp.sql("SELECT * FROM drain_out WHERE first_ts_ms >= " + ts(10).getTime)
      .count() == 0, "trailing island must be pending before the drain")
    // one sentinel event under a reserved key at the drain timestamp seals
    // EVERY real island (watermark lands margin past the max seal point)
    val drainTs = TranscriptStream.drainSentinelMs(ts(11).getTime, gapSec)
    stream.addData(TurnEvent(" drain", "user", 0.0, new java.sql.Timestamp(drainTs)))
    q.processAllAvailable()
    q.stop()
    val out = sp.sql("SELECT * FROM drain_out WHERE conv_id = 'Y'")
      .as[SessionSummary].collect().sortBy(_.first_ts_ms)
    assert(out.length == 2, s"both Y islands must be emitted after the drain, got ${out.toSeq}")
    val Array(s1, s2) = out
    assert(s1.turns == 2 && s1.first_ts_ms == ts(0).getTime && s1.len_max == 3.0, s"island 1: $s1")
    assert(s2.turns == 2 && s2.first_ts_ms == ts(10).getTime && s2.len_p50 == 5.0
      && s2.len_max == 7.0, s"trailing island: $s2")
    // the sentinel's own island never seals and must not leak into the output
    assert(sp.sql("SELECT * FROM drain_out WHERE conv_id != 'Y'").count() == 0,
      "sentinel key must not emit")
  }

  test("sessionize survives events far behind the watermark (no crash, row dropped)") {
    import graft.streaming.TranscriptStream
    import graft.streaming.TranscriptStream.{TurnEvent, SessionSummary}
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def ts(min: Int): java.sql.Timestamp = new java.sql.Timestamp(1735689600000L + min * 60000L)
    val stream = MemoryStream[TurnEvent]
    val sessions = TranscriptStream.sessionize(stream.toDS(), gapSeconds = 120)
    val q = sessions.writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    // batch 1 pushes the watermark to ~ts(58); batch 2 then delivers an
    // event 50 minutes BEHIND it (> 2x the gap). Spark 4.1's
    // FlatMapGroupsWithStateExec filters rows behind the watermark before
    // the state function (watermarkPredicateForDataForLateEvents), so the
    // late event must be silently dropped; the timeout clamp in sessionize
    // additionally guarantees no IllegalArgumentException from
    // setTimeoutTimestamp on engines that do deliver late rows.
    stream.addData(TurnEvent("FRESH", "user", 1.0, ts(60)))
    q.processAllAvailable()
    stream.addData(TurnEvent("LATE", "user", 7.0, ts(10)))
    q.processAllAvailable()
    stream.addData(TurnEvent("PUSH", "user", 1.0, ts(240))) // evict FRESH
    q.processAllAvailable()
    stream.addData(TurnEvent("PUSH2", "user", 1.0, ts(241)))
    q.processAllAvailable()
    q.stop()
    val out = sp.sql("SELECT * FROM late_sessions").as[SessionSummary].collect()
      .map(s => s.conv_id -> s).toMap
    assert(out.contains("FRESH"), s"query must keep running past the late row, got ${out.keySet}")
    assert(!out.contains("LATE"), "row behind the watermark is dropped, not sessionized")
  }

  test("watermarked windowed sketch aggregation finalizes per-window rows") {
    import graft.streaming.TranscriptStream
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def ts(min: Int): java.sql.Timestamp = new java.sql.Timestamp(1735689600000L + min * 60000L)
    val stream = MemoryStream[(String, String, Double, java.sql.Timestamp)]
    val df = stream.toDF().toDF("conv_id", "role", "text_len", "ts")
    val agg = TranscriptStream.windowedRoleSketches(df,
      windowLen = "10 minutes", watermark = "5 minutes")
    val q = agg.writeStream.format("memory").queryName("windowed")
      .outputMode("append").start()
    stream.addData((0 until 40).map(i => (s"c$i", if (i % 2 == 0) "user" else "tool",
      i.toDouble, ts(i % 10))): _*)
    q.processAllAvailable()
    stream.addData(("late", "user", 1.0, ts(60))) // watermark past window 1
    q.processAllAvailable()
    q.stop()
    val rows = sp.sql("SELECT role, approx_convs, turns FROM windowed ORDER BY role").collect()
    assert(rows.length == 2, s"one finalized window x 2 roles, got ${rows.length}")
    assert(rows.map(_.getLong(2)).sum == 40)
    assert(rows.forall(r => math.abs(r.getLong(1) - 20) <= 1)) // 20 distinct convs/role
  }

  test("streaming groupBy + sketch UDAFs == batch result after all batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val stream = MemoryStream[(String, String)] // (role, conv_id)
    val agg = stream.toDF().toDF("role", "conv_id")
      .groupBy($"role")
      .agg(fns.hllAgg($"conv_id").as("hll"), count(lit(1)).as("n"))
      .select($"role", fns.hllCardinality($"hll").as("d"), $"n")

    val query = agg.writeStream
      .format("memory")
      .queryName("stream_out")
      .outputMode("update")
      .start()

    val all = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    (0 until 5).foreach { batch =>
      val rows = (0 until 200).map { i =>
        val role = if (i % 2 == 0) "user" else "assistant"
        (role, s"conv-${batch * 37 + i % 140}")
      }
      all ++= rows
      stream.addData(rows)
      query.processAllAvailable()
    }
    query.stop()

    // last update per role reflects the full stream
    val streamed = sp.sql(
      "SELECT role, d FROM stream_out ORDER BY role, d")
      .collect().groupBy(_.getString(0)).map { case (r, rs) => r -> rs.map(_.getLong(1)).max }
    val batch = all.toSeq.toDF("role", "conv_id")
      .groupBy($"role").agg(fns.hllAgg($"conv_id").as("hll"))
      .select($"role", fns.hllCardinality($"hll").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = all.groupBy(_._1).map { case (r, xs) => r -> xs.map(_._2).distinct.size }

    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (role, d) =>
      assert(streamed(role) == d, s"stream vs batch for $role")
      assert(math.abs(d - exact(role)) <= math.max(1, exact(role) / 100),
        s"accuracy for $role: $d vs ${exact(role)}")
    }
  }

  test("sessionize: stop after >=2 micro-batches, restart from checkpoint, " +
      "emitted set == uninterrupted run (incl. a session spanning the restart)") {
    restartScenario("hdfs")
  }

  test("sessionize restart recovery under the RocksDB state store (the 10^12-turn backend)") {
    // Same stop/restart contract, but with state in RocksDB instead of the
    // default HDFS-backed provider. At 10^12 turns the HDFS provider keeps
    // every pending session in executor HEAP (state size == heap bound);
    // RocksDB spills to local disk + uploads snapshots to the checkpoint,
    // which is the only state backend that survives the north-rule scale.
    // The emitted multiset must be byte-identical to the uninterrupted run,
    // and the checkpoint must show RocksDB actually held the state.
    val sp = spark
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getOption(key)
    sp.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = restartScenario("rocksdb")
      // RocksDB checkpoints upload versioned .zip snapshots (+ optional
      // .changelog files); the HDFS provider writes .delta/.snapshot. A zip
      // under state/ proves the provider was actually in effect across both
      // segments, not silently defaulted.
      val stateFiles = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(ckpt, "state")).map(_.getName)
      }
      assert(stateFiles.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
        s"no RocksDB snapshot files under the checkpoint state dir: $stateFiles")
      assert(!stateFiles.exists(_.endsWith(".delta")),
        s"HDFS-provider .delta files present — provider conf did not take: $stateFiles")
    } finally {
      prev match {
        case Some(v) => sp.conf.set(key, v)
        case None    => sp.conf.unset(key)
      }
    }
  }

  /** Shared stop/restart scenario; returns the interrupted run's checkpoint
    * dir so callers can inspect the state store files.
    */
  private def restartScenario(tag: String): String = {
    import graft.streaming.TranscriptStream
    import graft.streaming.TranscriptStream.{TurnEvent, SessionSummary}
    import org.apache.spark.sql.streaming.Trigger
    val sp = spark
    import sp.implicits._
    val base = 1735689600000L
    def ts(min: Int): java.sql.Timestamp = new java.sql.Timestamp(base + min * 60000L)
    // four time-ordered chunk files (every event in chunk i+1 is newer than
    // all of chunks <= i, like the driver replay staging). Session A(10,11)
    // SPANS the chunk-1/2 boundary — exactly where the stream is stopped —
    // so its first half must survive the stop inside the checkpointed
    // state store. Z(120) stays pending forever (final wm = 118) in BOTH
    // runs, proving unsealed state is not flushed by a restart either.
    val chunks: Seq[Seq[TurnEvent]] = Seq(
      Seq(TurnEvent("A", "user", 10.0, ts(0)), TurnEvent("A", "assistant", 30.0, ts(1)),
        TurnEvent("B", "user", 5.0, ts(1))),
      Seq(TurnEvent("A", "user", 7.0, ts(10)), TurnEvent("C", "user", 3.0, ts(10))),
      Seq(TurnEvent("A", "user", 9.0, ts(11)), TurnEvent("B", "user", 4.0, ts(11))),
      Seq(TurnEvent("Z", "user", 1.0, ts(60)), TurnEvent("Z", "user", 2.0, ts(120))))
    val root = java.nio.file.Files.createTempDirectory(s"graft-stream-restart-$tag").toFile
    restartRoots += root.toPath
    val schema = org.apache.spark.sql.Encoders.product[TurnEvent].schema
    def addChunk(dir: java.io.File, i: Int): Unit = {
      dir.mkdirs()
      val tmp = new java.io.File(root, s"tmp-$i")
      sp.createDataset(chunks(i)).coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(dir, f"chunk-$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(base + i * 1000L) // ascending mtimes = source order
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
    // one run segment: AvailableNow over whatever chunk files exist,
    // 1 file per micro-batch; IDENTICAL plan every time (restart contract)
    def runStream(src: java.io.File, ckpt: String, out: String)
        : org.apache.spark.sql.streaming.StreamingQuery = {
      val in = sp.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src.getPath).as[TurnEvent]
      val q = TranscriptStream.sessionize(in, gapSeconds = 120)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    // MULTISET of emitted rows: a Set compare would silently swallow a
    // duplicate re-emission of an already-sealed session across the restart
    // — exactly the exactly-once regression this test exists to catch
    def readOut(out: String): Map[SessionSummary, Int] =
      sp.read.parquet(out).as[SessionSummary].collect()
        .groupBy(identity).map { case (k, v) => k -> v.length }

    // interrupted run: chunks 0-1, stop, add 2-3, restart SAME checkpoint
    val srcInt = new java.io.File(root, "src-int")
    val ckptInt = new java.io.File(root, "ckpt-int").getPath
    val outInt = new java.io.File(root, "out-int").getPath
    Seq(0, 1).foreach(addChunk(srcInt, _))
    val q1 = runStream(srcInt, ckptInt, outInt)
    assert(q1.recentProgress.count(_.numInputRows > 0) >= 2,
      "first segment must process >= 2 data micro-batches before the stop")
    val afterStop = readOut(outInt)
    // wm after segment 1 = 10min - gap = 8min: A(0,1) and B(1) sealed;
    // A(10) and C(10) pending in the state store
    assert(afterStop.keys.exists(s => s.conv_id == "A" && s.turns == 2),
      s"A(0,1) sealed before the stop, got $afterStop")
    assert(!afterStop.keys.exists(s => s.first_ts_ms >= ts(10).getTime),
      s"nothing at/after min 10 may be sealed at wm=8min, got $afterStop")
    Seq(2, 3).foreach(addChunk(srcInt, _))
    runStream(srcInt, ckptInt, outInt) // restart from checkpointLocation
    val restarted = readOut(outInt)

    // uninterrupted reference: all four chunks, fresh checkpoint
    val srcRef = new java.io.File(root, "src-ref")
    (0 to 3).foreach(addChunk(srcRef, _))
    val refOut = new java.io.File(root, "out-ref").getPath
    runStream(srcRef, new java.io.File(root, "ckpt-ref").getPath, refOut)
    val reference = readOut(refOut)

    assert(restarted == reference,
      s"restarted emitted multiset != uninterrupted run:\n  restarted=$restarted\n  reference=$reference")
    assert(restarted.values.forall(_ == 1),
      s"every session must be emitted exactly once, got $restarted")
    // the boundary-spanning session was emitted ONLY after the restart —
    // its pre-stop half came back out of the checkpointed state store
    val boundary = restarted.keys.filter(s =>
      s.conv_id == "A" && s.first_ts_ms == ts(10).getTime)
    assert(boundary.size == 1 && boundary.head.turns == 2 &&
      boundary.head.duration_ms == 60000L && boundary.head.len_max == 9.0,
      s"A(10,11) session wrong: $boundary")
    assert(!afterStop.keys.exists(_.first_ts_ms == ts(10).getTime),
      "the boundary session must not exist before the restart")
    // Z(120) pending in both runs: final watermark 118 < seal point 122
    assert(!reference.keys.exists(s => s.conv_id == "Z" && s.first_ts_ms == ts(120).getTime))
    ckptInt
  }
}
