package graftbench

import java.io.File

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.SketchJob
import graft.plans.TurnSketchNativeAgg
import graft.sketch.{CmsSketch, HllSketch}
import graft.sketch.agg.TurnSketchAgg

/** Raw turns to sketches. Each rep runs the flagship native aggregate, the
  * same composite through `udaf(new TurnSketchAgg(..))` (only four groups
  * cross the shuffle, so per-row `add` and partial aggregation do the work),
  * then the rollup phase ([[Rollup.Phase]]). Traced runs add SketchJob run
  * fresh, then resumed after half its checkpoints are deleted, and the
  * local[1] half of the scaling pair.
  */
object Ingest {
  // the flagship's CMS sizing (Bench.scala): the tool domain has ~50 keys
  val CmsW = 8192
  val CmsD = 5
  val Files = 8
  /** Rollup queries per rep. */
  val RollupQueries = 6
  /** Flagship builds per rep. */
  val NativePerRep = 3
  /** Tolerance of HLL checks, in standard errors (see perfbench/README.md). */
  val HllZ = 5.0

  /** The generated table at `path` and its exact answers. */
  final class Data(val g: Gen.Turns, val path: String, val truth: Gen.TurnTruth)

  val Convs = 25000L

  /** Generates the table, writes it and checks that it reads back with the
    * generator's row count and content hash: the generator pass (4 threads)
    * and the writer (8 tasks) slice the rows differently, so the same seed
    * must give the same content however it is split. Every run writes anew.
    */
  def prepare(ctx: Ctx, g: Gen.Turns): Data = {
    val path = new File(ctx.dir("run"), "turns").getPath
    val truth = Gen.turnTruth(g, 4)
    Gen.writeTurns(ctx.spark, g, path, Files)
    ctx.verify("ingest.gen") {
      val (n, h) = Gen.hashTurns(ctx.spark, path)
      Check.eq("rows", n, truth.rows) ++ Check.eq("content hash", h, truth.hash)
    }
    new Data(g, path, truth)
  }

  /** Set-up's JIT warm-up pass: one rep's ops over the table, unchecked. */
  def warmup(ctx: Ctx, d: Data): Unit = {
    (0 until NativePerRep).foreach(_ => nativeBuild(ctx.spark, d.path))
    udafBuild(ctx.spark, d.path)
    Rollup.warmup(ctx, d.path, d.g.seed, RollupQueries)
  }

  def register(spark: SparkSession): Unit =
    TurnSketchNativeAgg.register(spark, cmsWidth = CmsW, cmsDepth = CmsD)

  def nativeBuild(spark: SparkSession, path: String): Array[Row] = {
    spark.read.parquet(path).createOrReplaceTempView("turns")
    spark.sql(
      """SELECT role, turn_sketch_native(conv_id, tool, CAST(text_len AS DOUBLE)) AS sk
        |FROM turns GROUP BY role""".stripMargin)
      .select(col("role"), col("sk.*")).collect()
  }

  def udafBuild(spark: SparkSession, path: String): Array[Row] = {
    val agg = udaf(new TurnSketchAgg(cmsWidth = CmsW, cmsDepth = CmsD))
    spark.read.parquet(path)
      .select(col("conv_id").cast("binary").as("conv_id"), col("role"),
        col("tool").cast("binary").as("tool"), col("text_len").cast("double").as("len"))
      .groupBy(col("role"))
      .agg(agg(col("conv_id"), col("tool"), col("len")).as("sk"))
      .select(col("role"), col("sk.*")).collect()
  }

  /** Exact per-role turn totals, HLL within its error bound of the exact
    * distinct count, CMS never under and at most e/w * N over.
    */
  def checkBuild(rows: Array[Row], t: Gen.TurnTruth): Seq[String] = {
    val byRole = rows.map(r => r.getString(0) -> r).toMap
    Check.eq("roles", byRole.keySet, Gen.Roles.toSet) ++ Gen.Roles.indices.flatMap { ri =>
      byRole.get(Gen.Roles(ri)).toSeq.flatMap { r =>
        val role = Gen.Roles(ri)
        val exact = t.distinct(ri, 0, Gen.MaxDays - 1).toDouble
        val hll = HllSketch.fromBytes(r.getAs[Array[Byte]]("hll_conv")).cardinality.toDouble
        val cms = CmsSketch.fromBytes(r.getAs[Array[Byte]]("cms_tool"))
        val search = t.toolIn(ri, 0, 0, Gen.MaxDays - 1)
        val est = cms.query("search")
        Check.eq(s"$role turns", r.getAs[Long]("turns"), t.turnsIn(ri, 0, Gen.MaxDays - 1)) ++
          Check.within(s"$role hll", hll, exact, HllZ * Check.hllSigma(HllSketch.DefaultP) * exact) ++
          (if (est < search || est > search + math.E / cms.width * cms.num)
            Seq(s"$role cms(search) $est vs exact $search") else Nil)
      }
    }
  }

  private def sameStates(a: Array[Row], b: Array[Row]): Seq[String] = {
    def key(rs: Array[Row]) = rs.map(r => r.getString(0) ->
      (r.getAs[Array[Byte]]("hll_conv").toSeq, r.getAs[Array[Byte]]("cms_tool").toSeq,
        r.getAs[Long]("turns"))).toMap
    if (key(a) == key(b)) Nil else Seq("udaf and native HLL/CMS states differ")
  }

  /** Merged per-role sketch bytes of a checkpoint set (canonical merge). */
  private def mergedStates(spark: SparkSession, cfg: SketchJob.Config): Map[String, Seq[Seq[Byte]]] =
    SketchJob.mergeDeterministic(SketchJob.mergeCheckpoints(spark, cfg)).collect().map { p =>
      p.role -> Seq(p.hll_conv, p.cms_tool, p.topk_tool, p.tdigest_len, p.kll_len,
        p.bloom_conv).map(_.toSeq)
    }.toMap

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".")) 0L
    else f.length()

  private def checkJob(rows: Array[Row], t: Gen.TurnTruth): Seq[String] = {
    val byRole = rows.map(r => r.getString(0) -> r).toMap
    Check.eq("roles", byRole.keySet, Gen.Roles.toSet) ++ Gen.Roles.indices.flatMap { ri =>
      byRole.get(Gen.Roles(ri)).toSeq.flatMap { r =>
        val exact = t.distinct(ri, 0, Gen.MaxDays - 1).toDouble
        Check.eq(s"${Gen.Roles(ri)} turns", r.getAs[Long]("turns"), t.turnsIn(ri, 0, Gen.MaxDays - 1)) ++
          Check.within(s"${Gen.Roles(ri)} distinct", r.getAs[Long]("approx_distinct_convs").toDouble,
            exact, HllZ * Check.hllSigma(HllSketch.DefaultP) * exact)
      }
    }
  }

  /** Reps of (3 flagship builds, udaf build, rollup build, query batch) on a
    * local[4] session; then, when `full`, one SketchJob cycle (fresh, then
    * resumed) and the local[1] half of the scaling pair, which leaves a
    * local[1] session open. A rep's `rep_s` is the sum of its ops.
    */
  def run(ctx: Ctx, d: Data, seconds: Double, minReps: Int, full: Boolean): Unit = {
    val spark = ctx.spark
    val rows = d.truth.rows.toDouble
    val rollup = new Rollup.Phase(ctx, d, RollupQueries)
    ctx.repeat(seconds, minReps) { rep =>
      // three flagship builds a rep give it a quarter of rep_s
      val natives = (0 until NativePerRep).flatMap { _ =>
        ctx.op("ingest.native")(nativeBuild(spark, d.path))(checkBuild(_, d.truth))
      }
      natives.foreach { case (_, s) => ctx.samples.add("build_turns_per_s", "turns/s", rows / s) }
      val viaUdaf = ctx.op("ingest.udaf")(udafBuild(spark, d.path)) { r =>
        checkBuild(r, d.truth) ++ natives.headOption.toSeq.flatMap(n => sameStates(n._1, r))
      }
      viaUdaf.foreach { case (_, s) => ctx.samples.add("udaf_build_turns_per_s", "turns/s", rows / s) }
      val rolled = rollup.rep(first = rep == 0)
      for ((_, u) <- viaUdaf; (build, queries) <- rolled if natives.size == NativePerRep)
        ctx.samples.add("rep_s", "s", natives.map(_._2).sum + u + build + queries)
    }
    rollup.finish()
    if (full) jobAndScaling(ctx, d)
  }

  private def jobAndScaling(ctx: Ctx, d: Data): Unit = {
    val spark = ctx.spark
    val rows = d.truth.rows.toDouble
    val ckpt = ctx.dir("run", "ingest-ckpt")
    val out = new File(ctx.dir("run"), "ingest-out")
    val cfg = SketchJob.Config(input = d.path, output = out.getPath, checkpointDir = ckpt.getPath)
    val fs = FileSystem.get(new java.net.URI(ckpt.getPath), spark.sparkContext.hadoopConfiguration)
    def clean(): Unit = { fs.delete(new Path(ckpt.getPath), true); fs.delete(new Path(out.getPath), true) }

    // one job cycle: fresh, then resumed after deleting half the checkpoints
    clean()
    val fresh = ctx.op("ingest.job")(SketchJob.run(spark, cfg).collect())(checkJob(_, d.truth))
    val parts = fs.listStatus(new Path(ckpt.getPath)).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".ckpt")).sortBy(_.getName)
    fresh.foreach { case (_, s) =>
      ctx.samples.add("job_s", "s", s)
      ctx.samples.add("ingest.stored_bytes", "bytes", (dirBytes(ckpt) + dirBytes(out)).toDouble)
      val v0 = System.nanoTime()
      SketchJob.verifyCheckpointsComplete(fs, new Path(ckpt.getPath), parts.length)
      val verifyS = (System.nanoTime() - v0) / 1e9
      val m = scala.io.Source.fromFile(new File(out, "_metrics.json"), "UTF-8")
      val metrics = try m.mkString finally m.close()
      def field(k: String) = s""""$k":([0-9.eE+-]+)""".r.findFirstMatchIn(metrics).get.group(1).toDouble
      val (st1, st2) = (field("stage1_sec"), field("stage2_sec"))
      ctx.samples.add("jobs.stage1_s", "s", math.max(0.0, st1 - verifyS))
      ctx.samples.add("jobs.verify_s", "s", verifyS)
      ctx.samples.add("jobs.stage2_s", "s", st2)
      ctx.samples.add("jobs.tail_s", "s", math.max(0.0, s - st1 - st2))
      ctx.samples.add("jobs.ckpt_files", "count", parts.length.toDouble)
    }
    val before = if (fresh.isDefined) Some(mergedStates(spark, cfg)) else None
    parts.zipWithIndex.foreach { case (p, i) => if (i % 2 == 0) fs.delete(p, false) }
    val kept = parts.length - (parts.length + 1) / 2
    ctx.op("ingest.resume")(SketchJob.run(spark, cfg).collect()) { r =>
      checkJob(r, d.truth) ++
        fresh.toSeq.flatMap(f => Check.eq("resumed rows", r.toSeq, f._1.toSeq)) ++
        before.toSeq.flatMap(b => Check.eq("resumed sketch bytes", mergedStates(spark, cfg), b))
    }.foreach { case (_, s) =>
      ctx.samples.add("resume_s", "s", s)
      ctx.samples.add("jobs.resume_reused_ratio", "ratio", kept.toDouble / math.max(1, parts.length))
    }
    clean()

    // the local[1] half of the scaling pair: same table, same tasks
    ctx.startSession(1)
    register(ctx.spark)
    ctx.repeat(0, 2) { _ =>
      ctx.op("ingest.native_1")(nativeBuild(ctx.spark, d.path))(checkBuild(_, d.truth))
        .foreach { case (_, s) => ctx.samples.add("build_turns_per_s_1", "turns/s", rows / s) }
    }
    val t4 = ctx.samples.get("build_turns_per_s")
    val t1 = ctx.samples.get("build_turns_per_s_1")
    if (t4.nonEmpty && t1.nonEmpty)
      ctx.samples.add("scaling_eff_1_4", "ratio", Stats.median(t4) / (4 * Stats.median(t1)))
  }

  /** The reader ceiling: the columns the flagship reads, fed to a consumer
    * that only walks the rows.
    */
  def scanOnly(ctx: Ctx, d: Data, reps: Int): Unit = {
    val df = ctx.spark.read.parquet(d.path).select("conv_id", "role", "tool", "text_len")
    (0 until reps).foreach { _ =>
      ctx.op("ingest.scan")(df.queryExecution.toRdd.mapPartitions { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator(n)
      }.collect().sum)(n => Check.eq("scanned rows", n, d.truth.rows))
        .foreach { case (_, s) =>
          ctx.samples.add("ingest.scan_only_turns_per_s", "turns/s", d.truth.rows / s)
        }
    }
  }

}
