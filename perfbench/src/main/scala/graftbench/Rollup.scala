package graftbench

import java.io.File

import org.apache.spark.sql.{Row, SaveMode, SparkSession}

import graft.sketch.{CmsSketch, HllSketch}
import graft.sketch.agg.{SketchConfig, SketchFunctions}

/** Sketch rollup and interactive reads over it, run inside the ingest
  * workload on its table. The write phase builds one row of sketches per
  * (ts_date, role, shard) group through the separately registered SQL UDAFs
  * and stores them as a sketch-column table: ~2k groups of small
  * Kryo-buffered states, where the flagship has four. The read phase
  * answers seeded dashboard queries by merging sketch columns over a date
  * range, so merge/decode work and per-query planning dominate.
  */
object Rollup {
  // domain-sized CMS: the tool domain has 50 keys; the 27191x9 default
  // would make every one of the ~2k rows 2 MB
  val CmsW = 512
  val CmsD = 5
  /** Rank-error tolerance of quantile checks: twice KLL's 99%-confidence
    * single-quantile bound at k = 200 (1.33%).
    */
  val RankTol = 2 * 0.0133
  val Quantiles: Array[Double] = Array(0.5, 0.9, 0.99)

  def register(spark: SparkSession): Unit =
    SketchFunctions(SketchConfig(cmsWidth = CmsW, cmsDepth = CmsD)).register(spark)

  private val BuildSql =
    """SELECT ts_date, role, shard, count(*) AS turns,
      |       hll_agg(conv_id) AS hll,
      |       kll_agg(CAST(text_len AS DOUBLE)) AS kll,
      |       tdigest_agg(CAST(text_len AS DOUBLE)) AS td,
      |       topk_agg(tool) AS topk,
      |       cms_agg(tool) AS cms
      |FROM rollup_turns GROUP BY ts_date, role, shard""".stripMargin

  /** Write phase: raw turns to the sketch table. */
  def build(spark: SparkSession, path: String, out: String): Unit = {
    spark.read.parquet(path).createOrReplaceTempView("rollup_turns")
    spark.sql(BuildSql).write.mode(SaveMode.Overwrite).parquet(out)
  }

  private def day(d: Int): String = java.time.LocalDate.ofEpochDay(
    Math.floorDiv(Gen.BaseTsMillis, 86400000L) + d).toString

  /** One seeded dashboard query over days [d0, d1]. */
  sealed trait Query { def d0: Int; def d1: Int; def sql: String }
  final case class Readout(role: Int, d0: Int, d1: Int, q: Double) extends Query {
    def sql: String =
      s"""SELECT sum(turns) AS turns,
         |       hll_cardinality(hll_merge_agg(hll)) AS convs,
         |       kll_quantile(kll_merge_agg(kll), $q) AS kll_q,
         |       tdigest_quantile(tdigest_merge_agg(td), $q) AS td_q,
         |       topk(topk_merge_agg(topk), 5) AS top5,
         |       cms_query(cms_merge_agg(cms), 'search') AS cms_search
         |FROM rollup_sk WHERE role = '${Gen.Roles(role)}'
         |  AND ts_date BETWEEN DATE'${day(d0)}' AND DATE'${day(d1)}'""".stripMargin
  }
  final case class SetAlgebra(a: Int, b: Int, d0: Int, d1: Int) extends Query {
    private def side(r: Int) =
      s"""(SELECT hll_merge_agg(hll) AS h FROM rollup_sk WHERE role = '${Gen.Roles(r)}'
         |  AND ts_date BETWEEN DATE'${day(d0)}' AND DATE'${day(d1)}')""".stripMargin
    def sql: String = s"SELECT hll_set_algebra(x.h, y.h) AS s FROM ${side(a)} x CROSS JOIN ${side(b)} y"
  }

  def queries(seed: Long, n: Int): IndexedSeq[Query] = {
    val r = new java.util.SplittableRandom(seed * 31 + 7)
    (0 until n).map { _ =>
      val d0 = r.nextInt(Gen.Days)
      val d1 = d0 + r.nextInt(Gen.Days - d0)
      if (r.nextInt(4) == 0) {
        val a = r.nextInt(4)
        SetAlgebra(a, (a + 1 + r.nextInt(3)) % 4, d0, d1)
      } else Readout(r.nextInt(4), d0, d1, Quantiles(r.nextInt(Quantiles.length)))
    }
  }

  private def rank(what: String, t: Gen.TurnTruth, role: Int, q: Query, v: Double,
      target: Double): Seq[String] = {
    val (lo, hi) = t.rankOf(role, q.d0, q.d1, v)
    if (target >= lo - RankTol && target <= hi + RankTol) Nil
    else Seq(f"$what($target) = $v%.1f has rank [$lo%.4f, $hi%.4f]")
  }

  /** Every answer against the generator's exact aggregates. */
  def check(q: Query, r: Row, t: Gen.TurnTruth): Seq[String] = {
    val sigma = Ingest.HllZ * Check.hllSigma(HllSketch.DefaultP)
    q match {
      case x @ Readout(role, d0, d1, quant) =>
        val exact = t.distinct(role, d0, d1).toDouble
        val tools = Gen.Tools.indices.map(i => Gen.Tools(i) -> t.toolIn(role, i, d0, d1)).toMap
        val toolN = tools.values.sum
        val top = r.getSeq[Row](4)
        val cms = r.getLong(5)
        Check.eq("turns", r.getLong(0), t.turnsIn(role, d0, d1)) ++
          Check.within("convs", r.getLong(1).toDouble, exact, sigma * exact) ++
          rank("kll", t, role, x, r.getDouble(2), quant) ++
          rank("tdigest", t, role, x, r.getDouble(3), quant) ++
          top.flatMap { e =>
            val (v, c, err) = (e.getString(0), e.getLong(1), e.getLong(2))
            val exactC = tools.getOrElse(v, -1L)
            if (exactC >= c - err && exactC <= c) Nil else Seq(s"topk $v=$c+-$err, exact $exactC")
          } ++
          Check.eq("top5 size", top.size, math.min(5, tools.count(_._2 > 0))) ++
          (if (cms < tools("search") || cms > tools("search") + math.E / CmsW * toolN)
            Seq(s"cms(search) $cms vs exact ${tools("search")}") else Nil)
      case SetAlgebra(a, b, d0, d1) =>
        val (na, nb, nu, ni) = t.setSizes(a, b, d0, d1)
        val s = r.getStruct(0)
        Check.within("union", s.getDouble(0), nu.toDouble, sigma * nu) ++
          Check.within("intersection", s.getDouble(1), ni.toDouble, sigma * (na + nb + nu))
    }
  }

  /** Merging every day's sketches of a role must equal one pass over the
    * raw turns of that role: same HLL estimate, same CMS counters.
    */
  def checkMergeEqualsOnePass(spark: SparkSession): Seq[String] = {
    def rows(sql: String) = spark.sql(sql).collect().map(r =>
      r.getString(0) -> (HllSketch.fromBytes(r.getAs[Array[Byte]](1)).estimate,
        CmsSketch.fromBytes(r.getAs[Array[Byte]](2)).table.toSeq)).toMap
    val merged = rows("SELECT role, hll_merge_agg(hll), cms_merge_agg(cms) FROM rollup_sk GROUP BY role")
    val onePass = rows("SELECT role, hll_agg(conv_id), cms_agg(tool) FROM rollup_turns GROUP BY role")
    Check.eq("roles", merged.keySet, onePass.keySet) ++ merged.keys.toSeq.flatMap { k =>
      Check.eq(s"$k merged hll estimate", merged(k)._1, onePass(k)._1) ++
        (if (merged(k)._2 == onePass(k)._2) Nil else Seq(s"$k merged CMS differs from one pass"))
    }
  }

  private def dirBytes(f: File): Long =
    Option(f.listFiles()).map(_.filter(x => !x.getName.startsWith(".")).map(_.length).sum).getOrElse(0L)

  /** The rollup's part of set-up's warm-up pass: one build and `n`
    * queries, drawn from another seed than the timed ones.
    */
  def warmup(ctx: Ctx, path: String, seed: Long, n: Int): Unit = {
    val out = new File(ctx.dir("run"), "rollup-warmup").getPath
    build(ctx.spark, path, out)
    ctx.spark.read.parquet(out).createOrReplaceTempView("rollup_sk")
    queries(seed + 1, n).foreach(q => ctx.spark.sql(q.sql).collect())
  }

  /** The rollup phase of an ingest rep: the write phase, then a batch of
    * seeded queries over the table it wrote.
    */
  final class Phase(ctx: Ctx, d: Ingest.Data, perRep: Int) {
    private val out = new File(ctx.dir("run"), "rollup-sk").getPath
    private val qs = queries(d.g.seed, 4096)
    private var next = 0

    /** Wall seconds of the build and of the query batch, if all succeeded. */
    def rep(first: Boolean): Option[(Double, Double)] = {
      val spark = ctx.spark
      val built = ctx.op("rollup.build")(build(spark, d.path, out)) { _ =>
        val sk = spark.read.parquet(out)
        sk.createOrReplaceTempView("rollup_sk")
        val agg = sk.selectExpr("count(*)", "sum(turns)").head()
        Check.eq("sketch rows total turns", agg.getLong(1), d.truth.rows) ++
          (if (first) checkMergeEqualsOnePass(spark) else Nil)
      }
      built.foreach { case (_, s) =>
        ctx.samples.add("rollup_build_turns_per_s", "turns/s", d.truth.rows / s)
        ctx.samples.add("rollup.stored_bytes", "bytes", dirBytes(new File(out)).toDouble)
      }
      val answered = (0 until perRep).flatMap { _ =>
        val q = qs(next % qs.length); next += 1
        ctx.op("rollup.query", gc = false) {
          val df = spark.sql(q.sql)
          val p0 = System.nanoTime()
          df.queryExecution.executedPlan
          ctx.samples.add("rollup.plan_ms", "ms", (System.nanoTime() - p0) / 1e6)
          df.collect().head
        }(check(q, _, d.truth)).map { case (_, s) =>
          ctx.samples.add("query_ms", "ms", s * 1e3); s
        }
      }
      if (built.isDefined && answered.size == perRep) Some((built.get._2, answered.sum)) else None
    }

    def finish(): Unit = {
      val qms = ctx.samples.get("query_ms")
      if (qms.nonEmpty) {
        ctx.samples.add("query_p50_ms", "ms", Stats.quantile(qms, 0.5))
        ctx.samples.add("query_p95_ms", "ms", Stats.quantile(qms, 0.95))
      }
    }
  }
}
