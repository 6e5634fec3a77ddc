package graft.spark

import java.sql.Timestamp

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact state semantics of `dropDuplicatesWithinWatermark` on the
  * execution shape q_stream_dedup_bounded runs (file source,
  * maxFilesPerTrigger=1, Trigger.AvailableNow) so the row's closed-form
  * DuckDB oracle replicates the engine bit-for-bit. The rules pinned here
  * (Spark 4.1.2, StreamingDeduplicateWithinWatermarkExec — verified against
  * the bytecode and asserted black-box below):
  *
  *  1. LOOKUP drops a duplicate when state is PRESENT — expiry is NOT
  *     checked at lookup time; an expired-but-unswept key still suppresses.
  *  2. The state SWEEP runs at the END of each batch (CompletionIterator),
  *     with that batch's eviction watermark = max event time of data
  *     through the PREVIOUS batch minus the delay. So state visible to
  *     batch b survived the sweep at end of batch b-1, whose watermark
  *     reflects data through batch b-2 — a one-batch lag. (MemoryStream +
  *     processAllAvailable would hide this: it inserts no-data batches
  *     that re-sweep with the newest watermark; the AvailableNow file
  *     replay runs data batches back-to-back and only adds the extra
  *     no-data batch at the END, where no lookups remain.)
  *  3. Eviction comparison: state removed iff watermark_us >= expiresAt_us
  *     (equality evicts).
  *  4. expiresAt = event-time MICROS + delay_ms * 1000 — sub-millisecond
  *     event time is NOT floored to ms.
  *  5. A dropped duplicate does NOT extend the stored expiry.
  */
class DedupSemanticsProbeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-dedup-probe")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("dropDuplicatesWithinWatermark state machine on the AvailableNow file replay") {
    val sp = spark
    val base = 1735689600000L // 2025-01-01, far above the initial watermark
    def tus(usOffset: Long): Timestamp = {
      val abs = base * 1000L + usOffset
      val t = new Timestamp(abs / 1000L)
      t.setNanos(((abs % 1000000L) * 1000L).toInt)
      t
    }
    def ms(n: Long): Long = n * 1000L // offset-ms -> offset-us
    val dir = java.nio.file.Files.createTempDirectory("dedup-probe").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("dedup-probe-ckpt").toString
    try {
      // delay 10s. Four chunk files; max event-time per file (ms offsets):
      //   f0: 100_000   f1: 130_000   f2: 160_000   f3: 200_000
      // Eviction watermark (lag rule) in play DURING batch b — i.e. the one
      // the end-of-batch-(b-1) sweep used — is maxMs(files <= b-2) - 10_000:
      //   b1: (initial) 0    b2: 90_000    b3: 120_000
      val chunks = Seq(
        // f0
        Seq("k1" -> ms(100000), "k4" -> ms(95000), "mx0" -> ms(100000)),
        // f1
        Seq("k1" -> ms(121000), "k2" -> ms(110000),
          "k3" -> (ms(110000) + 500L), // 110_000.5 ms — sub-ms expiry plant
          "k4" -> ms(125000), "mx1" -> ms(130000)),
        // f2
        Seq("k1" -> ms(131000), "mx2" -> ms(160000)),
        // f3
        Seq("k2" -> ms(161000), "k3" -> (ms(161000) + 500L),
          "k4" -> ms(162000), "mx3" -> ms(200000)))
      chunks.zipWithIndex.foreach { case (rows, i) =>
        import sp.implicits._
        rows.map { case (k, us) => (k, tus(us)) }.toDF("key", "ts")
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(s"${dir.getPath}/tmp-$i")
        val src = new java.io.File(s"${dir.getPath}/tmp-$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(dir, f"chunk-$i%03d.parquet")
        java.nio.file.Files.move(src.toPath, dst.toPath)
        dst.setLastModified(System.currentTimeMillis() - 120000L + i * 1000L)
      }
      val schema = sp.read.parquet(s"${dir.getPath}/chunk-000.parquet").schema
      val q = sp.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.getPath)
        .withWatermark("ts", "10 seconds")
        .dropDuplicatesWithinWatermark("key")
        .writeStream.format("memory").queryName("dedup_probe")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 4, s"expected 4 data micro-batches, saw $dataBatches")
      val out = sp.sql("SELECT key, ts FROM dedup_probe").collect()
        .map(r => (r.getString(0),
          r.getTimestamp(1).getTime * 1000L +
            r.getTimestamp(1).getNanos / 1000L % 1000L - base * 1000L))
        .toSet

      // k1: emits in b0 (e=110_000). b1 dup @121_000: state present (sweep
      // before b1 used wm 0) -> DROPPED even though 121_000 > e — rule 1.
      // b2 dup @131_000: sweep at end of b1 used wm 90_000 < e -> state STILL
      // present -> DROPPED. A no-lag sweep (wm 120_000 >= e) would have
      // evicted it and re-emitted — rule 2.
      assert(out.contains("k1" -> ms(100000)), s"k1 first occurrence must emit: $out")
      assert(!out.contains("k1" -> ms(121000)), s"k1 within-delay dup must drop: $out")
      assert(!out.contains("k1" -> ms(131000)),
        s"k1 @131s must drop (sweep watermark lags one batch): $out")

      // k2: emits in b1 (e=120_000). Sweep at end of b2 uses wm = maxMs(<=f1)
      // - 10_000 = 120_000 == e exactly -> EVICTED (>= comparison) -> the b3
      // dup @161_000 re-emits — rule 3.
      assert(out.contains("k2" -> ms(110000)), s"k2 first occurrence must emit: $out")
      assert(out.contains("k2" -> ms(161000)),
        s"k2 @161s must re-emit (equality evicts): $out")

      // k3: emits in b1 at 110_000.5 ms (e = 120_000.5 ms in MICROS). The
      // same end-of-b2 sweep wm 120_000.0 < e -> KEPT -> the b3 dup DROPPED.
      // An ms-floored expiry would have evicted and re-emitted — rule 4.
      assert(out.contains("k3" -> (ms(110000) + 500L)), s"k3 first occurrence must emit: $out")
      assert(!out.contains("k3" -> (ms(161000) + 500L)),
        s"k3 @161s must drop (expiry keeps sub-ms micros): $out")

      // k4: emits in b0 (e=105_000). b1 dup @125_000 dropped (state present).
      // If the drop EXTENDED expiry to 135_000, the end-of-b2 sweep
      // (wm 120_000) would keep it and the b3 dup would drop; without
      // extension 120_000 >= 105_000 evicts -> b3 re-emits — rule 5.
      assert(out.contains("k4" -> ms(95000)), s"k4 first occurrence must emit: $out")
      assert(!out.contains("k4" -> ms(125000)), s"k4 within-delay dup must drop: $out")
      assert(out.contains("k4" -> ms(162000)),
        s"k4 @162s must re-emit (dropped dup does not extend expiry): $out")

      q.stop()
    } finally {
      TestDirs.deleteTree(dir.toPath)
      TestDirs.deleteTree(java.nio.file.Paths.get(ckpt))
    }
  }
}
