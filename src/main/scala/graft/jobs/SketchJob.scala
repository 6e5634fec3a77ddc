package graft.jobs

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sketch.{BloomSketch, CmsSketch}
import graft.sketch.agg.{SketchFunctions, ToolInterner, TurnSketches}
import graft.sketch.core.Codec

/** Per-partition checkpoint row: every sketch built from one input split,
  * for one role group, plus lineage (partition id, rows seen, wall ms).
  */
case class PartitionSketches(
    partition_id: Int,
    role: String,
    rows_seen: Long,
    wall_ms: Long,
    hll_conv: Array[Byte],
    cms_tool: Array[Byte],
    topk_tool: Array[Byte],
    tdigest_len: Array[Byte],
    kll_len: Array[Byte],
    bloom_conv: Array[Byte])

/** The spark-submit main of the north rule: partition-pruned scan → per-input-
  * partition sketching (map-side full combine — the raw 10^12 rows are never
  * shuffled) → per-partition checkpoint files with lineage → distributed
  * tree merge (Spark partial+final aggregation over the small checkpoint
  * table) → final per-role results.
  *
  * Resumability: each input partition writes `part-NNNNN.ckpt` atomically
  * (write temp + rename). A re-run with the same input manifest skips
  * partitions whose checkpoint exists — kill the job at any point and resume
  * reproduces the identical final sketches. A manifest guards against
  * resuming over a changed input set or filter.
  */
object SketchJob {

  val CkptMagic = 0x47434b50 // "GCKP"

  case class Config(
      input: String,
      output: String,
      checkpointDir: String,
      dateFrom: Option[String] = None,
      dateTo: Option[String] = None,
      cmsWidth: Int = CmsSketch.DefaultBins,
      cmsDepth: Int = CmsSketch.DefaultHash,
      // resume granularity: coalesce the scan into this many chunks, each
      // checkpointed atomically. 0 = one checkpoint per raw input split.
      // At 100TB / ~800k splits, per-split checkpoints would write TBs of
      // sketch state; ~10k chunks keeps checkpoint volume ~0.1% of input.
      checkpointChunks: Int = 0)

  /** Pruned scan: the ts_date filter reaches the file index (Iceberg-style
    * partition pruning on the Parquet stand-in layout).
    */
  def scan(spark: SparkSession, cfg: Config): DataFrame = {
    var df = spark.read.parquet(cfg.input)
    cfg.dateFrom.foreach(d => df = df.filter(col("ts_date") >= lit(d)))
    cfg.dateTo.foreach(d => df = df.filter(col("ts_date") <= lit(d)))
    df
  }

  // ---- checkpoint codec (one file per input partition) ----

  private[graft] def encodeCkpt(pid: Int, groups: Seq[PartitionSketches]): Array[Byte] = {
    def len(p: PartitionSketches) =
      64 + p.role.length * 3 + Seq(p.hll_conv, p.cms_tool, p.topk_tool,
        p.tdigest_len, p.kll_len, p.bloom_conv).map(_.length + 4).sum
    val bb = ByteBuffer.allocate(24 + groups.map(len).sum).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(CkptMagic); bb.putInt(1); bb.putInt(pid); bb.putInt(groups.size)
    groups.foreach { p =>
      val rb = p.role.getBytes("UTF-8")
      bb.putInt(rb.length); bb.put(rb)
      bb.putLong(p.rows_seen); bb.putLong(p.wall_ms)
      Seq(p.hll_conv, p.cms_tool, p.topk_tool, p.tdigest_len, p.kll_len, p.bloom_conv)
        .foreach { a => bb.putInt(a.length); bb.put(a) }
    }
    val out = new Array[Byte](bb.position()); bb.flip(); bb.get(out); out
  }

  /** Checkpoint files are outside input: every length prefix is checked
    * before anything is allocated, and a corrupt or truncated file fails
    * with a typed `IllegalArgumentException`.
    */
  def decodeCkpt(gzBytes: Array[Byte]): Seq[PartitionSketches] = {
    val in = new java.util.zip.InflaterInputStream(
      new java.io.ByteArrayInputStream(gzBytes), new java.util.zip.Inflater(), 1 << 16)
    val bytes = try in.readAllBytes() catch {
      case e: java.io.IOException =>
        throw new IllegalArgumentException(s"corrupt checkpoint: ${e.getMessage}", e)
    } finally in.close()
    Codec.decodeUntagged(bytes, "checkpoint") { bb =>
      require(bb.getInt() == CkptMagic, "bad checkpoint magic")
      require(bb.getInt() == 1, "bad checkpoint version")
      val pid = bb.getInt()
      // a role group is at least its 7 length prefixes and 2 longs
      (0 until Codec.readCount(bb, 44)).map { _ =>
        val role = new String(Codec.readBytes(bb), "UTF-8")
        val rows = bb.getLong(); val wall = bb.getLong()
        def arr(): Array[Byte] = Codec.readBytes(bb)
        PartitionSketches(pid, role, rows, wall, arr(), arr(), arr(), arr(), arr(), arr())
      }
    }
  }

  /** A stage-1 group's empty state: SketchJob always builds the default conv-id Bloom. */
  private def emptyGroup(c: Config): TurnSketches = TurnSketches.create(
    c.cmsWidth, c.cmsDepth, BloomSketch.DefaultBits, BloomSketch.DefaultHash)

  private def sketches(p: PartitionSketches): TurnSketches = TurnSketches.fromParts(
    p.rows_seen, p.hll_conv, p.cms_tool, p.topk_tool, p.tdigest_len, p.kll_len, p.bloom_conv)

  private[graft] def checkpointRow(pid: Int, role: String, wallMs: Long,
      t: TurnSketches): PartitionSketches = {
    val r = t.result
    PartitionSketches(pid, role, r.turns, wallMs,
      r.hll_conv, r.cms_tool, r.topk_tool, r.tdigest_len, r.kll_len, r.bloom_conv)
  }

  /** The exact DataFrame stage 1 maps over — also used to pin the planned
    * partition count into the manifest (resume correctness depends on the
    * split layout, not just the file list).
    */
  def plannedInput(spark: SparkSession, cfg: Config): DataFrame = {
    val in = scan(spark, cfg)
    val len = if (in.columns.contains("text_len")) col("text_len") else length(col("text"))
    val scanned = in.select(col("conv_id"), col("role"), col("tool"),
      len.cast("double").as("text_len"))
    if (cfg.checkpointChunks > 0) scanned.coalesce(cfg.checkpointChunks) else scanned
  }

  /** Stage 1: sketch every input partition, checkpointing each one atomically;
    * partitions already checkpointed are skipped (resume). It consumes
    * `InternalRow`s straight off the physical plan
    * (`queryExecution.toRdd`) and feeds each role's [[TurnSketches]]
    * through its `UTF8String` add — the same zero-materialization hot path
    * as the native flagship aggregate. Nothing is allocated per row: no
    * encoder tuple, no byte[] copies, no String decode (role and tool are
    * interned through [[graft.sketch.agg.ToolInterner]], which decodes each
    * distinct pattern once per partition). `df` is [[plannedInput]], planned
    * once by `run` for the manifest, the partition count and stage 1.
    */
  def buildPartitionSketches(spark: SparkSession, cfg: Config, df: DataFrame): Unit = {
    val ckptDir = cfg.checkpointDir
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val c = cfg

    df.queryExecution.toRdd.mapPartitions { rows =>
      val pid = TaskContext.getPartitionId()
      val fs = FileSystem.get(new java.net.URI(ckptDir), hadoopConf.value)
      val finalPath = new Path(ckptDir, f"part-$pid%05d.ckpt")
      if (fs.exists(finalPath)) Iterator.empty // resumed: already done
      else {
        val t0 = System.nanoTime()
        val groups = mutable.HashMap.empty[String, TurnSketches]
        val roles = new ToolInterner // ~4 distinct values
        rows.foreach { row =>
          // null role groups under "" (a null role must not NPE the
          // resumable deliverable)
          val role = if (row.isNullAt(1)) "" else {
            val r = row.getUTF8String(1)
            roles.intern(r.getBaseObject, r.getBaseOffset, r.numBytes)
          }
          val hasLen = !row.isNullAt(3)
          // a NULL column feeds no sketch, as in both aggregates
          groups.getOrElseUpdate(role, emptyGroup(c)).add(
            if (row.isNullAt(0)) null else row.getUTF8String(0),
            if (row.isNullAt(2)) null else row.getUTF8String(2),
            if (hasLen) row.getDouble(3) else 0.0, hasLen)
        }
        val wallMs = (System.nanoTime() - t0) / 1000000
        val out = groups.toSeq.sortBy(_._1).map { case (role, g) =>
          checkpointRow(pid, role, wallMs, g)
        }
        val tmp = new Path(ckptDir,
          f"part-$pid%05d.ckpt.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
        // level-1 deflate: sketch state is sparse-ish and compresses well;
        // BEST_SPEED keeps checkpoint cost ~3x cheaper than default gzip
        val os = new java.util.zip.DeflaterOutputStream(fs.create(tmp, true),
          new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED), 1 << 16)
        os.write(encodeCkpt(pid, out))
        os.close()
        if (!fs.rename(tmp, finalPath)) {
          // a failed rename is only benign if a concurrent attempt already
          // committed; otherwise fail the task so Spark retries it instead
          // of silently dropping this partition from the final merge
          val committed = fs.exists(finalPath)
          fs.delete(tmp, false)
          if (!committed) {
            throw new java.io.IOException(
              s"checkpoint commit failed for partition $pid: rename($tmp -> $finalPath)")
          }
        }
        Iterator.empty: Iterator[Int]
      }
    }.count() // force execution
  }

  /** Stage 2: distributed tree merge of all checkpoint files. Spark's
    * partial (map-side) + final aggregation over the checkpoint rows IS the
    * treeReduce two-level merge — each executor merges its checkpoint shard,
    * then the d-role final groups merge the partials.
    */
  def mergeCheckpoints(spark: SparkSession, cfg: Config): Dataset[PartitionSketches] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.ckpt")
      .load(cfg.checkpointDir)
      .select("content")
      .as[Array[Byte]]
      .flatMap(decodeCkpt(_))
  }

  /** Level-1 bucket width of the deterministic tree merge: checkpoint rows
    * with `partition_id` in [k*fanout, (k+1)*fanout) fold together (in id
    * order) into bucket partial k, then level 2 folds the bucket partials
    * (in bucket order) into one row per role. At the 100 TB envelope
    * (~10k checkpoint chunks) this is ~160 level-1 folds of ≤64 states each
    * — bounded task memory, two shuffles of a table that is ~0.1% of the
    * input by construction.
    */
  val MergeFanout = 64

  /** Fold one run of same-(role,bucket) checkpoint rows — already sorted by
    * partition_id — into a single partial. Decodes each sketch once and
    * merges in ascending id order, so the result is a pure function of the
    * run's CONTENTS and the canonical order, never of arrival order.
    */
  private def foldRun(first: PartitionSketches,
      rest: Iterator[PartitionSketches], outPid: Int): PartitionSketches = {
    val acc = sketches(first)
    var wallMs = first.wall_ms
    rest.foreach { r =>
      wallMs = math.max(wallMs, r.wall_ms)
      acc.merge(sketches(r))
    }
    checkpointRow(outPid, first.role, wallMs, acc)
  }

  /** Group a partition's sorted row stream into key runs and fold each. */
  private def foldSortedRuns(it: Iterator[PartitionSketches],
      key: PartitionSketches => (String, Int)): Iterator[PartitionSketches] =
    new Iterator[PartitionSketches] {
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): PartitionSketches = {
        val first = buf.next()
        val k = key(first)
        val rest = new Iterator[PartitionSketches] {
          def hasNext: Boolean = buf.hasNext && key(buf.head) == k
          def next(): PartitionSketches = buf.next()
        }
        foldRun(first, rest, outPid = k._2)
      }
    }

  /** Deterministic two-level tree merge (the north star's "treeReduce-style
    * two-level merge", made order-canonical): level 1 folds checkpoint rows
    * in ascending `partition_id` within fixed id-range buckets; level 2
    * folds the bucket partials in ascending bucket id. The result is a pure
    * function of the checkpoint CONTENTS.
    *
    * Why not `groupBy(role).agg(sketch merge UDAFs)`: Spark merges partial
    * aggregation states in whatever order map outputs arrive, and even the
    * INPUT order varies run to run — the wall_ms lineage embedded in each
    * checkpoint perturbs compressed file sizes, which perturbs the
    * binaryFile source's size-ordered bin packing. HLL/CMS/Bloom merges are
    * algebraically order-free so they never noticed, but t-digest merge is
    * greedy clustering (order-sensitive by construction; reference
    * t-digest.js:169-188 folds sequentially for the same reason), and KLL /
    * space-saving share the hazard in adversarial regimes. Observed before
    * this canonicalization: a spark-submit kill→resume run and its
    * uninterrupted twin agreed on every count, HLL, CMS, top-k, KLL and
    * Bloom column bit-for-bit but moved len_p50_td/len_p99_td in the 4th
    * significant digit — breaking run()'s "resume reproduces the identical
    * final sketches" contract. With the canonical fold the contract holds
    * under any arrival order, file packing, or scheduling.
    */
  def mergeDeterministic(parts: Dataset[PartitionSketches],
      fanout: Int = MergeFanout): Dataset[PartitionSketches] = {
    val bucket = (col("partition_id") / lit(fanout)).cast("int")
    val level1 = parts
      .repartition(col("role"), bucket)
      .sortWithinPartitions(col("role"), col("partition_id"))
      .mapPartitions(foldSortedRuns(_,
        r => (r.role, r.partition_id / fanout)))(parts.encoder)
    level1
      .repartition(col("role"))
      .sortWithinPartitions(col("role"), col("partition_id"))
      .mapPartitions(foldSortedRuns(_, r => (r.role, -1)))(parts.encoder)
  }

  def finalResultsFrom(parts: Dataset[PartitionSketches]): DataFrame = {
    val fns = SketchFunctions.default
    mergeDeterministic(parts)
      .withColumnRenamed("rows_seen", "turns")
      .select(
        col("role"), col("turns"),
        fns.hllCardinality(col("hll_conv")).as("approx_distinct_convs"),
        fns.topk(col("topk_tool"), lit(5)).as("top5_tools"),
        fns.cmsQuery(col("cms_tool"), lit("search")).as("cms_search"),
        fns.cmsQuery(col("cms_tool"), lit("bash")).as("cms_bash"),
        fns.tdigestQuantile(col("tdigest_len"), lit(0.5)).as("len_p50_td"),
        fns.tdigestQuantile(col("tdigest_len"), lit(0.99)).as("len_p99_td"),
        fns.kllQuantile(col("kll_len"), lit(0.5)).as("len_p50_kll"),
        fns.bloomSize(col("bloom_conv")).as("bloom_conv_size"))
  }

  /** Input manifest: guards resume against a changed input/filter AND a
    * changed split layout. Checkpoint files are keyed by partition id, so a
    * resume is only valid when the planner maps the same rows to the same
    * ids — which requires the same file list, the same split-sizing configs,
    * and the same planned partition count. Any drift invalidates.
    */
  /** Manifest text plus the planned partition count it embeds (the count
    * is returned as a value — never re-parsed out of the string, so the
    * completeness check below cannot silently fail open on format drift).
    */
  private def manifest(spark: SparkSession, cfg: Config, planned: DataFrame): (String, Int) = {
    val files = planned.inputFiles.sorted
    val h = files.foldLeft(17L)((acc, f) => acc * 31 + f.hashCode)
    val conf = spark.sessionState.conf
    val split = s"maxPartitionBytes=${conf.filesMaxPartitionBytes} " +
      s"openCost=${conf.filesOpenCostInBytes} " +
      s"defaultParallelism=${spark.sparkContext.defaultParallelism}"
    val parts = planned.queryExecution.toRdd.getNumPartitions
    (s"files=${files.length} hash=$h from=${cfg.dateFrom} to=${cfg.dateTo} " +
      s"chunks=${cfg.checkpointChunks} parts=$parts $split", parts)
  }

  /** Require checkpoints 0..N-1 all present before merging — a missing file
    * (lost task, manual deletion) must fail loudly, not drop rows silently.
    */
  def verifyCheckpointsComplete(fs: FileSystem, dir: Path, expectedParts: Int): Unit = {
    val present = fs.listStatus(dir)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("part-") && n.endsWith(".ckpt") =>
        val id = n.stripPrefix("part-").stripSuffix(".ckpt")
        require(id.nonEmpty && id.forall(_.isDigit), s"foreign file in checkpoint dir: $n")
        id.toInt
      }.toSet
    val missing = (0 until expectedParts).filterNot(present.contains)
    require(missing.isEmpty,
      s"checkpoint set incomplete: ${missing.size}/$expectedParts missing " +
        s"(first: ${missing.take(5).mkString(",")})")
    require(present.size == expectedParts,
      s"unexpected checkpoint ids beyond 0..${expectedParts - 1}: " +
        s"${present.filter(_ >= expectedParts).take(5).mkString(",")}")
  }

  def run(spark: SparkSession, cfg: Config): DataFrame = {
    val fs = FileSystem.get(
      new java.net.URI(cfg.checkpointDir), spark.sparkContext.hadoopConfiguration)
    val dir = new Path(cfg.checkpointDir)
    fs.mkdirs(dir)
    val manifestPath = new Path(dir, "_manifest")
    val planned = plannedInput(spark, cfg)
    val (m, plannedParts) = manifest(spark, cfg, planned)
    if (fs.exists(manifestPath)) {
      val prev = {
        val in = fs.open(manifestPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      }
      if (prev != m) { // input changed — checkpoints invalid
        fs.delete(dir, true); fs.mkdirs(dir)
      }
    }
    if (!fs.exists(manifestPath)) {
      val os = fs.create(manifestPath, true)
      os.write(m.getBytes("UTF-8")); os.close()
    }

    val t0 = System.nanoTime()
    buildPartitionSketches(spark, cfg, planned)
    verifyCheckpointsComplete(fs, dir, plannedParts)
    val t1 = System.nanoTime()
    // one decode pass shared by the final merge and the lineage summary
    val parts = mergeCheckpoints(spark, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val res = finalResultsFrom(parts)
    res.write.mode("overwrite").parquet(cfg.output)
    val t2 = System.nanoTime()

    // lineage + metrics sidecar
    import spark.implicits._
    val lineage = parts
      .groupBy(col("partition_id"))
      .agg(sum("rows_seen").as("rows_seen"), max("wall_ms").as("wall_ms"))
      .orderBy("partition_id")
      .collect()
    val totalRows = lineage.map(_.getAs[Long]("rows_seen")).sum
    val json = {
      val parts = lineage.map { r =>
        s"""{"partition_id":${r.getAs[Int]("partition_id")},"rows_seen":${r
            .getAs[Long]("rows_seen")},"wall_ms":${r.getAs[Long]("wall_ms")}}"""
      }.mkString("[", ",", "]")
      s"""{"stage1_sec":${(t1 - t0) / 1e9},"stage2_sec":${(t2 - t1) / 1e9},""" +
        s""""rows":$totalRows,"throughput_rows_per_sec":${totalRows / ((t2 - t0) / 1e9)},""" +
        s""""partitions":$parts}"""
    }
    val os = fs.create(new Path(cfg.output, "_metrics.json"), true)
    os.write(json.getBytes("UTF-8")); os.close()
    parts.unpersist()
    spark.read.parquet(cfg.output)
  }

  def main(args: Array[String]): Unit = {
    val m = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val cfg = Config(
      input = m("--input"),
      output = m("--output"),
      checkpointDir = m("--checkpoint"),
      dateFrom = m.get("--date-from"),
      dateTo = m.get("--date-to"))
    val spark = SparkSession.builder()
      .appName("SketchJob")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try run(spark, cfg).show(10, truncate = false)
    finally spark.stop()
  }
}
