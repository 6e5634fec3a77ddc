package graft.spark

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{SaltedAgg, SketchJob, TranscriptGen}
import graft.sketch._
import graft.sketch.agg.SketchFunctions

/** End-to-end Spark tests: UDAFs via Dataset.agg and SQL GROUP BY, physical
  * plan checks (ObjectHashAggregate, partition pruning), salted == unsalted,
  * and SketchJob checkpoint/resume (SURVEY.md §5.5).
  */
class SparkIntegrationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var tdir: String = _
  private var transcripts: DataFrame = _
  private lazy val fns = SketchFunctions.default

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.kryo.registrator", "graft.sketch.agg.GraftKryoRegistrator")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tdir = Files.createTempDirectory("graft-it").toString
    TranscriptGen.write(spark, s"$tdir/transcripts", numConvs = 1500,
      hotConvs = 3, hotTurns = 500, parallelism = 8)
    transcripts = spark.read.parquet(s"$tdir/transcripts")
    transcripts.createOrReplaceTempView("transcripts")
    fns.register(spark)
  }

  override def afterAll(): Unit = {
    try { if (spark != null) spark.stop() }
    finally if (tdir != null) TestDirs.deleteTree(Paths.get(tdir))
  }

  test("generator is deterministic and schema matches input_hint") {
    assert(transcripts.columns.toSet ==
      Set("conv_id", "turn_idx", "role", "text", "tool", "ts", "ts_date", "text_len"))
    val again = TranscriptGen.dataset(spark, 50, 1, 100, parallelism = 3)
      .orderBy("conv_id", "turn_idx").collect()
    val again2 = TranscriptGen.dataset(spark, 50, 1, 100, parallelism = 7)
      .orderBy("conv_id", "turn_idx").collect()
    assert(again.toSeq == again2.toSeq, "per-turn equality under different parallelism")
    // planted hot conv
    val hot = transcripts.groupBy("conv_id").count().orderBy(desc("count")).first()
    assert(hot.getLong(1) >= 500)
  }

  test("hll_agg per role matches exact distinct count (sparse near-exact)") {
    val est = spark.sql(
      """SELECT role, hll_cardinality(hll_agg(conv_id)) AS d FROM transcripts
        |GROUP BY role""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = transcripts.groupBy("role")
      .agg(countDistinct("conv_id").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (role, e) =>
      assert(math.abs(est(role) - e) <= math.max(1, e / 100), s"$role: ${est(role)} vs $e")
    }
  }

  test("hll set algebra via SQL: union/intersection/jaccard vs exact role overlap") {
    // user-role convs vs assistant-role convs: every conv has both roles
    // except single-turn system/tool-only edge convs, so the overlap is
    // large and known exactly
    val est = spark.sql(
      """WITH s AS (
        |  SELECT hll_agg(CASE WHEN role = 'user' THEN conv_id END) AS a,
        |         hll_agg(CASE WHEN role = 'assistant' THEN conv_id END) AS b
        |  FROM transcripts)
        |SELECT hll_union_cardinality(a, b) AS u, hll_intersection(a, b) AS i,
        |       hll_jaccard(a, b) AS j, hll_set_algebra(a, b) AS sa FROM s""".stripMargin)
      .collect()(0)
    val exact = transcripts.agg(
      countDistinct(when(col("role") === "user" || col("role") === "assistant",
        col("conv_id"))).as("u"),
      countDistinct(when(col("role") === "user", col("conv_id"))).as("ca"),
      countDistinct(when(col("role") === "assistant", col("conv_id"))).as("cb"))
      .collect()(0)
    val exactU = exact.getLong(0)
    val exactI = exact.getLong(1) + exact.getLong(2) - exactU
    val tol = math.max(2.0, exactU * 0.02)
    // hll_union_cardinality follows hll_cardinality's rounded-Long convention
    assert(math.abs(est.getLong(0) - exactU) <= tol, s"union ${est.getLong(0)} vs $exactU")
    assert(math.abs(est.getDouble(1) - exactI) <= tol, s"inter ${est.getDouble(1)} vs $exactI")
    assert(math.abs(est.getDouble(2) - exactI.toDouble / exactU) <= 0.02,
      s"jaccard ${est.getDouble(2)}")
    // the one-pass struct agrees with the scalar accessors exactly
    val sa = est.getStruct(3)
    assert(math.rint(sa.getDouble(0)).toLong == est.getLong(0)
      && sa.getDouble(1) == est.getDouble(1) && sa.getDouble(2) == est.getDouble(2),
      s"struct $sa != scalars")
  }

  test("Dataset.agg typed path gives the same sketch as SQL path") {
    val sqlBytes = spark.sql(
      "SELECT hll_agg(conv_id) FROM transcripts WHERE role = 'user'")
      .collect()(0).getAs[Array[Byte]](0)
    val dsBytes = transcripts.filter(col("role") === "user")
      .agg(fns.hllAgg(col("conv_id"))).collect()(0).getAs[Array[Byte]](0)
    assert(sqlBytes.toSeq == dsBytes.toSeq, "identical serialized sketch")
  }

  test("cms point queries are exact on the small tool domain") {
    val row = spark.sql(
      """SELECT cms_query(cms_agg(tool), 'search') AS s,
        |       cms_query(cms_agg(tool), 'bash') AS b,
        |       cms_num(cms_agg(tool)) AS n
        |FROM transcripts WHERE tool IS NOT NULL""".stripMargin).collect()(0)
    val exact = transcripts.filter(col("tool").isNotNull)
      .groupBy("tool").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(row.getLong(0) == exact.getOrElse("search", 0L))
    assert(row.getLong(1) == exact.getOrElse("bash", 0L))
    assert(row.getLong(2) == exact.values.sum)
  }

  test("topk_agg returns the exact heavy hitters when capacity covers domain") {
    val top = spark.sql(
      """SELECT topk(topk_agg(tool), 5) AS t FROM transcripts
        |WHERE tool IS NOT NULL""".stripMargin)
      .selectExpr("inline(t)")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val exact = transcripts.filter(col("tool").isNotNull)
      .groupBy("tool").count().orderBy(desc("count"), asc("tool"))
      .limit(5).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.map(_._2).toSeq == exact.map(_._2).toSeq, "top-5 counts")
    assert(top.head._1 == exact.head._1, "heaviest tool")
  }

  test("tdigest and kll quantiles vs exact percentiles within tolerance") {
    val row = spark.sql(
      """SELECT tdigest_quantile(tdigest_agg(cast(length(text) as double)), 0.5) AS td,
        |       kll_quantile(kll_agg(cast(length(text) as double)), 0.5) AS kll,
        |       percentile(length(text), 0.5) AS exact
        |FROM transcripts""".stripMargin).collect()(0)
    val exact = row.getDouble(2)
    assert(math.abs(row.getDouble(0) - exact) / exact < 0.1,
      s"tdigest ${row.getDouble(0)} vs $exact")
    assert(math.abs(row.getDouble(1) - exact) / exact < 0.1,
      s"kll ${row.getDouble(1)} vs $exact")
  }

  test("hll matches Spark's approx_count_distinct as secondary oracle") {
    val mine = spark.sql(
      "SELECT hll_estimate(hll_agg(conv_id)) FROM transcripts").collect()(0).getDouble(0)
    val theirs = transcripts.agg(approx_count_distinct("conv_id")).collect()(0).getLong(0)
    val exact = transcripts.agg(countDistinct("conv_id")).collect()(0).getLong(0)
    assert(math.abs(mine - exact) / exact < 0.03)
    assert(math.abs(mine - theirs) / exact < 0.05)
  }

  test("sketch UDAFs route through ObjectHashAggregate (live-object buffers)") {
    val plan = spark.sql(
      "SELECT role, hll_cardinality(hll_agg(conv_id)) FROM transcripts GROUP BY role")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"plan was:\n$plan")
  }

  test("ts_date filter prunes partitions at the file index") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def filesRead(df: DataFrame): Long = {
      val qe = df.queryExecution
      qe.toRdd.count() // execute this exact plan instance so its metrics fill
      qe.executedPlan.collectLeaves()
        .collectFirst { case f: FileSourceScanExec => f.metrics("numFiles").value }
        .getOrElse(fail("no FileSourceScan in plan"))
    }
    val all = filesRead(spark.read.parquet(s"$tdir/transcripts"))
    val pruned = spark.read.parquet(s"$tdir/transcripts")
      .filter(col("ts_date") === lit("2025-01-05"))
    val prunedFiles = filesRead(pruned)
    assert(prunedFiles < all / 2, s"read $prunedFiles of $all files")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ts_date"))
  }

  test("salted two-phase agg == unsalted, bitwise for linear sketches") {
    val unsalted = transcripts.groupBy("role")
      .agg(fns.hllAgg(col("conv_id")).as("hll"),
        fns.cmsAgg(col("tool")).as("cms"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Array[Byte]](1).toSeq, r.getAs[Array[Byte]](2).toSeq)).toMap
    val salted = SaltedAgg(transcripts, Seq("role"), col("conv_id"), 8,
      Seq(fns.hllAgg(col("conv_id")).as("hll"), fns.cmsAgg(col("tool")).as("cms")),
      Seq(fns.hllMergeAgg(col("hll")).as("hll"), fns.cmsMergeAgg(col("cms")).as("cms")))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Array[Byte]](1).toSeq, r.getAs[Array[Byte]](2).toSeq)).toMap
    assert(salted.keySet == unsalted.keySet)
    salted.keySet.foreach { role =>
      assert(salted(role)._1 == unsalted(role)._1, s"hll bytes differ for $role")
      assert(salted(role)._2 == unsalted(role)._2, s"cms bytes differ for $role")
    }
  }

  test("bloom membership over conv ids: no false negatives, jaccard sane") {
    val sp = spark; import sp.implicits._
    val skA = transcripts.filter(col("role") === "user")
      .agg(fns.bloomAgg(col("conv_id"))).collect()(0).getAs[Array[Byte]](0)
    val skB = transcripts.filter(col("role") === "assistant")
      .agg(fns.bloomAgg(col("conv_id"))).collect()(0).getAs[Array[Byte]](0)
    val a = BloomSketch.fromBytes(skA)
    val userConvs = transcripts.filter(col("role") === "user")
      .select("conv_id").distinct().as[String].collect()
    userConvs.take(200).foreach(cid => assert(a.query(cid), s"false negative $cid"))
    val j = a.jaccard(BloomSketch.fromBytes(skB))
    assert(j > 0.3 && j <= 1.2, s"jaccard $j") // most convs have both roles
  }

  test("SketchJob: checkpointed run, full resume, partial resume — identical bytes") {
    val cfg = SketchJob.Config(
      input = s"$tdir/transcripts",
      output = s"$tdir/job-out",
      checkpointDir = s"$tdir/ckpt")
    val res1 = SketchJob.run(spark, cfg).orderBy("role").collect()
    val ckpts = new java.io.File(s"$tdir/ckpt").listFiles()
      .filter(_.getName.endsWith(".ckpt"))
    assert(ckpts.nonEmpty, "checkpoints written")

    // full resume: all partitions skip; results identical
    val res2 = SketchJob.run(spark, cfg).orderBy("role").collect()
    assert(res1.map(_.toString).toSeq == res2.map(_.toString).toSeq)

    // partial resume: delete half the checkpoints, rerun
    ckpts.zipWithIndex.filter(_._2 % 2 == 0).foreach(_._1.delete())
    val res3 = SketchJob.run(spark, cfg).orderBy("role").collect()
    assert(res1.map(_.toString).toSeq == res3.map(_.toString).toSeq,
      "resume after partial checkpoint loss reproduces identical results")

    // job results agree with the pure-UDAF path
    val udaf = spark.sql(
      """SELECT role, hll_cardinality(hll_agg(conv_id)) AS d FROM transcripts
        |GROUP BY role""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    res1.foreach { r =>
      val role = r.getAs[String]("role")
      assert(r.getAs[Long]("approx_distinct_convs") == udaf(role),
        s"job vs udaf hll for $role")
    }
    // lineage metrics exist
    assert(new java.io.File(s"$tdir/job-out/_metrics.json").exists())
  }

  test("SketchJob final merge is order-canonical under arbitrary arrival order") {
    // The bug this pins down, observed through the real spark-submit path:
    // checkpoint FILES embed wall_ms lineage, so their compressed sizes vary
    // run to run, which reorders the binaryFile source's size-sorted bin
    // packing, which reordered the old groupBy.agg merge — t-digest merge is
    // greedy clustering, so a kill→resume run and its uninterrupted twin
    // disagreed on len_p50_td/len_p99_td while every order-free sketch
    // matched bit-for-bit. mergeDeterministic must yield byte-identical
    // final states for ANY presentation (order, partitioning) of the same
    // checkpoint rows.
    val cfg = SketchJob.Config(
      input = s"$tdir/transcripts",
      output = s"$tdir/canon-out",
      checkpointDir = s"$tdir/canon-ckpt")
    SketchJob.run(spark, cfg)
    val parts = SketchJob.mergeCheckpoints(spark, cfg)
    assert(parts.select("partition_id").distinct().count() >= 3,
      "fixture must span several checkpoint partitions")
    val presentations = Seq(
      parts,
      parts.orderBy(col("partition_id").desc).repartition(7),
      parts.orderBy(rand(42)).coalesce(1),
      parts.repartition(13, col("rows_seen")))
    // fanout 2 forces a real two-level tree even on the small fixture
    def states(ds: org.apache.spark.sql.Dataset[graft.jobs.PartitionSketches]) =
      SketchJob.mergeDeterministic(ds, fanout = 2).collect().sortBy(_.role)
        .map(p => (p.role, p.rows_seen, p.hll_conv.toSeq, p.cms_tool.toSeq,
          p.topk_tool.toSeq, p.tdigest_len.toSeq, p.kll_len.toSeq,
          p.bloom_conv.toSeq)).toSeq
    val ref = states(presentations.head)
    presentations.tail.foreach { p =>
      assert(states(p) == ref, "merged sketch bytes differ across presentations")
    }
    // NOTE deliberately NOT asserted: fanout-invariance. t-digest merge is
    // greedy clustering, so different tree SHAPES give (deterministically)
    // different digests — which is why MergeFanout is a fixed constant, not
    // a tuning knob: determinism is per-shape, and the shape is pinned.
  }

  test("many-group agg survives sort-based fallback (buffer serde mid-agg)") {
    // force ObjectHashAggregate to spill to the sort-based path almost
    // immediately: buffers get serialized/merged through the fallback, which
    // must give the same sketches as the in-memory path and as a local
    // fold of the same rows, for every value and merge aggregate. Group 0 has
    // only NULL inputs (empty sketches); group 1's merge inputs are all NULL.
    val cfg = graft.sketch.agg.SketchConfig(bloomWidth = 2048, cmsWidth = 64, cmsDepth = 3)
    SketchFunctions(cfg).register(spark, "fb_")
    val conf = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.get(conf, "128")
    val groups = 2000
    spark.range(0, groups * 6).selectExpr(
      s"id % $groups AS g", "id % 3 AS sub",
      // non-ASCII values take the sketches' String fallbacks (Bloom's FNV)
      s"CASE WHEN id % $groups = 0 OR id % 7 = 3 THEN NULL " +
        "ELSE concat(IF(id % 4 = 0, 'ü', 'v'), id % 37) END AS s",
      s"CASE WHEN id % $groups = 0 OR id % 5 = 1 THEN NULL " +
        "ELSE CAST(id % 101 AS DOUBLE) / 4 END AS x",
      s"CASE WHEN id % $groups = 0 OR id % 11 = 2 THEN NULL ELSE id * 7919 END AS n",
      "CASE WHEN id % 13 = 4 THEN NULL ELSE id % 5 END AS w")
      .createOrReplaceTempView("fb_rows")
    val valueAggs = Seq(
      "bloom" -> "fb_bloom_agg(s)", "cms" -> "fb_cms_agg(s)", "cmm" -> "fb_cmm_agg(s)",
      "ngram" -> "fb_ngram_agg(s)", "topk" -> "fb_topk_agg(s)",
      "topkw" -> "fb_topk_weighted_agg(s, w)", "td" -> "fb_tdigest_agg(x)",
      "kll" -> "fb_kll_agg(x)", "hll" -> "fb_hll_agg(s)", "hlll" -> "fb_hll_agg_long(n)")
    val mergeFn = Map("bloom" -> "bloom", "cms" -> "cms", "cmm" -> "cmm", "ngram" -> "ngram",
      "topk" -> "topk", "topkw" -> "topk", "td" -> "tdigest", "kll" -> "kll", "hll" -> "hll",
      "hlll" -> "hll")
    val names = valueAggs.map(_._1)
    def select(aggs: Seq[(String, String)], keys: String, from: String) =
      spark.sql(s"SELECT $keys, ${aggs.map { case (n, e) => s"$e AS $n" }.mkString(", ")} " +
        s"FROM $from GROUP BY $keys")
    // order-sensitive sketches (top-k tie order, KLL level-0 order) compare by content
    def canon(c: String, b: Array[Byte]): Any =
      if (b == null) null
      else if (c.startsWith("topk")) SpaceSavingSketch.fromBytes(b).topK(None).toSet
      else if (c == "kll") {
        val k = KllSketch.fromBytes(b)
        if (k.totalN == 0) 0L
        else (k.totalN, k.minValue, k.maxValue, (0 to 20).map(i => k.quantileLower(i / 20.0)))
      } else b.toSeq
    def byGroup(df: DataFrame): Map[Long, Seq[Any]] = df.collect()
      .map(r => r.getLong(0) -> names.map(c => canon(c, r.getAs[Array[Byte]](c)))).toMap
    def check(what: String, q: () => DataFrame, expected: Map[Long, Seq[Any]]): Unit =
      Seq("4", "1000000").foreach { threshold =>
        spark.conf.set(conf, threshold)
        val got = byGroup(q())
        assert(got.keySet == expected.keySet, s"$what groups at threshold $threshold")
        expected.foreach { case (g, want) =>
          names.zip(got(g).zip(want)).foreach { case (c, (a, b)) =>
            assert(a == b, s"$what $c, group $g, threshold $threshold")
          }
        }
      }
    try {
      val rows = spark.table("fb_rows").collect().groupBy(_.getLong(0))
      val folded = rows.map { case (g, rs) =>
        val bloom = BloomSketch(cfg.bloomWidth, cfg.bloomDepth)
        val cms = CmsSketch(cfg.cmsWidth, cfg.cmsDepth)
        val cmm = CmmSketch(cfg.cmsWidth, cfg.cmsDepth)
        val ngram = NGramSketch(cfg.ngramN, cfg.ngramCaseSensitive)
        val topk = SpaceSavingSketch(cfg.topKCapacity)
        val topkw = SpaceSavingSketch(cfg.topKCapacity)
        val td = TDigestSketch.fast(cfg.tdigestCentroids)
        val kll = KllSketch(cfg.kllK)
        val hll = HllSketch(cfg.hllP)
        val hlll = HllSketch(cfg.hllP)
        rs.foreach { r =>
          if (!r.isNullAt(2)) {
            val s = r.getString(2)
            bloom.add(s); cms.add(s); cmm.add(s); ngram.add(s); topk.add(s); hll.add(s)
            topkw.add(s, if (r.isNullAt(5)) 0L else r.getLong(5))
          }
          if (!r.isNullAt(3)) { td.add(r.getDouble(3)); kll.add(r.getDouble(3)) }
          if (!r.isNullAt(4)) hlll.addLong(r.getLong(4))
        }
        g -> names.zip(Seq(bloom.toBytes, cms.toBytes, cmm.toBytes, ngram.toBytes,
          topk.toBytes, topkw.toBytes, td.toBytes, kll.toBytes, hll.toBytes, hlll.toBytes))
          .map { case (c, b) => canon(c, b) }
      }
      assert(folded.size == groups && folded(0L).forall(_ != null))
      check("value aggs", () => select(valueAggs, "g", "fb_rows"), folded)

      spark.conf.set(conf, "4")
      select(valueAggs, "g, sub", "fb_rows")
        .select(col("g") +: col("sub") +: names.map(c =>
          when(col("g") === 1, lit(null).cast("binary")).otherwise(col(c)).as(c)): _*)
        .write.parquet(s"$tdir/fb_parts")
      spark.read.parquet(s"$tdir/fb_parts").createOrReplaceTempView("fb_parts")
      def merged(c: String, bs: Seq[Array[Byte]]): Array[Byte] = {
        def fold[S](dec: Array[Byte] => S, m: (S, S) => S, enc: S => Array[Byte]) =
          bs.map(dec).reduceOption(m).map(enc).orNull
        mergeFn(c) match {
          case "bloom" => fold[BloomSketch](BloomSketch.fromBytes, _ unionInPlace _, _.toBytes)
          case "cms" => fold[CmsSketch](CmsSketch.fromBytes, _ mergeInPlace _, _.toBytes)
          case "cmm" => fold[CmmSketch](CmmSketch.fromBytes, _ mergeInPlace _, _.toBytes)
          case "ngram" => fold[NGramSketch](NGramSketch.fromBytes, _ mergeInPlace _, _.toBytes)
          case "topk" =>
            fold[SpaceSavingSketch](SpaceSavingSketch.fromBytes, _ mergeInPlace _, _.toBytes)
          case "tdigest" =>
            fold[TDigestSketch](TDigestSketch.fromBytes, _ mergeInPlace _, _.toBytes)
          case "kll" => fold[KllSketch](KllSketch.fromBytes, _ mergeInPlace _, _.toBytes)
          case "hll" => fold[HllSketch](HllSketch.fromBytes, _ mergeInPlace _, _.toBytes)
        }
      }
      val parts = spark.table("fb_parts").collect().groupBy(_.getLong(0))
      val mergedLocally = parts.map { case (g, rs) =>
        g -> names.map(c =>
          canon(c, merged(c, rs.toSeq.flatMap(r => Option(r.getAs[Array[Byte]](c))))))
      }
      assert(mergedLocally(1L).forall(_ == null) && mergedLocally(0L).forall(_ != null))
      check("merge aggs", () => select(names.map(c => c -> s"fb_${mergeFn(c)}_merge_agg($c)"),
        "g", "fb_parts"), mergedLocally)

      // the composite through both registrations: its buffer crosses the
      // fallback as TurnSketches codec bytes (the native serialize, the
      // udaf() buffer encoder); bytes for the order-free sketches, answers
      // for top-k, KLL and t-digest
      graft.plans.TurnSketchNativeAgg.register(spark, cmsWidth = cfg.cmsWidth,
        cmsDepth = cfg.cmsDepth, bloomW = cfg.bloomWidth)
      spark.udf.register("fb_turn_udaf", udaf(new graft.sketch.agg.TurnSketchAgg(
        cmsWidth = cfg.cmsWidth, cmsDepth = cfg.cmsDepth, bloomW = cfg.bloomWidth)))
      val tool = "CAST(w AS STRING)"
      def composites(threshold: String): Map[Long, Seq[Seq[Any]]] = {
        spark.conf.set(conf, threshold)
        spark.sql(s"SELECT g, turn_sketch_native(s, $tool, x) AS native, " +
          s"fb_turn_udaf(CAST(s AS BINARY), CAST($tool AS BINARY), x) AS udaf " +
          "FROM fb_rows GROUP BY g").collect().map { r =>
          r.getLong(0) -> Seq("native", "udaf").map { c =>
            val sk = r.getAs[Row](c)
            def part(f: String) = sk.getAs[Array[Byte]](f)
            val td = TDigestSketch.fromBytes(part("tdigest_len"))
            Seq(part("hll_conv").toSeq, part("cms_tool").toSeq, part("bloom_conv").toSeq,
              sk.getAs[Long]("turns"), canon("topk", part("topk_tool")),
              canon("kll", part("kll_len")),
              // an empty digest's quantiles are NaN: compare their bits
              (0 to 20).map(i => java.lang.Double.doubleToLongBits(td.quantile(i / 20.0))))
          }
        }.toMap
      }
      val inMemory = composites("1000000")
      assert(inMemory.size == groups && inMemory(0L).forall(_(3) == 6L))
      assert(composites("4") == inMemory, "composite states differ under sort-based fallback")
    } finally spark.conf.set(conf, prev)
  }

  test("sketch aggregates accept the same SQL input types and reject the rest at analysis") {
    spark.sql(
      """SELECT CAST(id AS INT) AS i, id AS l, CAST(id AS SMALLINT) AS sm,
        |       CAST(id AS DOUBLE) AS d, CAST(id AS FLOAT) AS f, CAST(id AS DECIMAL(10,2)) AS dec,
        |       CAST(id AS STRING) AS s, CAST(CAST(id AS STRING) AS BINARY) AS b,
        |       id % 2 = 0 AS bo, DATE'2024-01-01' AS dt, TIMESTAMP'2024-01-01 00:00:00' AS ts,
        |       array(1) AS arr
        |FROM range(20)""".stripMargin).createOrReplaceTempView("typed_in")
    val all = Set("i", "l", "sm", "d", "f", "dec", "s", "b", "bo", "dt", "ts", "arr")
    val numeric = Set("i", "l", "sm", "d", "f", "dec", "s")
    val accepts =
      Seq("bloom_agg", "cms_agg", "cmm_agg", "ngram_agg", "topk_agg", "hll_agg")
        .map(_ -> (all - "arr")) ++
      Seq("tdigest_agg", "kll_agg", "hll_agg_long").map(_ -> numeric) ++
      Seq("bloom", "cms", "cmm", "ngram", "topk", "tdigest", "kll", "hll")
        .map(n => s"${n}_merge_agg" -> Set("s", "b"))
    def analyze(q: String): Option[org.apache.spark.sql.AnalysisException] =
      try { spark.sql(q).queryExecution.assertAnalyzed(); None }
      catch { case e: org.apache.spark.sql.AnalysisException => Some(e) }
    for ((fn, ok) <- accepts; c <- all) analyze(s"SELECT $fn($c) FROM typed_in") match {
      case None => assert(ok(c), s"$fn($c) should fail analysis")
      case Some(e) =>
        assert(!ok(c), s"$fn($c) should analyze: ${e.getMessage}")
        assert(e.getMessage.contains(fn), s"error for $fn($c) must name it: ${e.getMessage}")
    }
    for (v <- all; w <- Seq("i", "l", "d", "s", "b", "arr")) {
      val ok = v != "arr" && Set("i", "l", "d", "s")(w)
      assert(analyze(s"SELECT topk_weighted_agg($v, $w) FROM typed_in").isEmpty == ok,
        s"topk_weighted_agg($v, $w)")
    }
    // accepted non-native types go through the implicit cast: same bytes
    def bytes(expr: String): Seq[Byte] =
      spark.sql(s"SELECT $expr FROM typed_in").collect()(0).getAs[Array[Byte]](0).toSeq
    Seq(
      "kll_agg(i)" -> "kll_agg(CAST(i AS DOUBLE))",
      "tdigest_agg(dec)" -> "tdigest_agg(CAST(dec AS DOUBLE))",
      "hll_agg(i)" -> "hll_agg(CAST(i AS STRING))",
      "hll_agg_long(i)" -> "hll_agg_long(CAST(i AS BIGINT))",
      "cms_agg(d)" -> "cms_agg(CAST(d AS STRING))",
      "topk_weighted_agg(s, i)" -> "topk_weighted_agg(s, CAST(i AS BIGINT))",
      // a NULL weight counts as 0: the value enters the summary uncounted
      "topk_weighted_agg(s, CAST(NULL AS BIGINT))" -> "topk_weighted_agg(s, 0L)"
    ).foreach { case (a, b) => assert(bytes(a) == bytes(b), s"$a != $b") }
    val hllAsString = spark.sql(
      "SELECT CAST(hll_agg(s) AS STRING) AS h, hll_agg(s) AS hb FROM typed_in")
      .selectExpr("hll_merge_agg(h)", "hll_merge_agg(hb)").collect()(0)
    assert(hllAsString.getAs[Array[Byte]](0).toSeq == hllAsString.getAs[Array[Byte]](1).toSeq)
  }

  test("truncated or bit-flipped sketch cells fail their merge aggregate with a typed error") {
    // (sketch, codec tag, value aggregate building it, offset of a length prefix)
    val cases = Seq(("bloom", 1, "bloom_agg(tool)", 7), ("cms", 2, "cms_agg(tool)", 19),
      ("cmm", 3, "cmm_agg(tool)", 19), ("ngram", 4, "ngram_agg(tool)", 8),
      ("topk", 5, "topk_agg(tool)", 7), ("tdigest", 6, "tdigest_agg(text_len)", 23),
      ("hll", 7, "hll_agg(conv_id)", 8), ("kll", 8, "kll_agg(text_len)", 39))
    val sp = spark
    import sp.implicits._
    for ((sketch, tag, build, prefixAt) <- cases) {
      val good = spark.sql(s"SELECT $build FROM transcripts").collect()(0).getAs[Array[Byte]](0)
      spark.sql(s"SELECT ${sketch}_merge_agg(sk) FROM (SELECT $build AS sk FROM transcripts)")
        .collect()
      def flipped(mask: Int) = {
        val b = good.clone(); b(prefixAt + 3) = (b(prefixAt + 3) ^ mask).toByte; b
      }
      // the length prefix's sign bit, then its bit 30 (a ~1-8 GB request)
      val corrupt = Seq("truncated" -> good.dropRight(1),
        "negative length" -> flipped(0x80), "huge length" -> flipped(0x40),
        "trailing byte" -> (good :+ 0.toByte))
      for ((how, bad) <- corrupt) {
        val e = intercept[Exception] {
          Seq(good, bad).toDF("sk").selectExpr(s"${sketch}_merge_agg(sk)").collect()
        }
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(!chain.exists(t => t.isInstanceOf[NegativeArraySizeException] ||
          t.isInstanceOf[OutOfMemoryError]), s"$sketch $how: $e")
        assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
          t.getMessage.startsWith(s"corrupt sketch (tag $tag) at offset ")),
          s"$sketch $how: ${chain.map(_.toString).mkString(" <- ")}")
      }
    }
  }

  test("sketch UDAFs compose with CUBE / grouping sets") {
    val rows = spark.sql(
      """SELECT role, ts_date, hll_cardinality(hll_agg(conv_id)) AS d
        |FROM transcripts GROUP BY CUBE(role, ts_date)""".stripMargin).collect()
    val total = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(total.length == 1)
    val exact = transcripts.agg(countDistinct("conv_id")).collect()(0).getLong(0)
    assert(math.abs(total(0).getLong(2) - exact) <= math.max(1, exact / 100))
    // per-role slice of the cube == plain GROUP BY role
    val cubeRole = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val plain = spark.sql(
      "SELECT role, hll_cardinality(hll_agg(conv_id)) FROM transcripts GROUP BY role")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cubeRole == plain)
  }

  test("ngram similarity between role text profiles via SQL") {
    val row = spark.sql(
      """SELECT ngram_cosine(a.ng, b.ng) AS cos, ngram_size(a.ng) AS sa
        |FROM (SELECT ngram_agg(text) AS ng FROM transcripts WHERE role='user') a,
        |     (SELECT ngram_agg(text) AS ng FROM transcripts WHERE role='assistant') b
        |""".stripMargin).collect()(0)
    assert(row.getDouble(0) > 0.9, s"same token soup => high cosine, got ${row.getDouble(0)}")
    assert(row.getInt(1) > 50)
  }

  test("weighted top-k over pre-aggregated pairs == raw top-k") {
    val raw = spark.sql(
      """SELECT topk(topk_agg(tool), 5) AS t FROM transcripts
        |WHERE tool IS NOT NULL""".stripMargin)
      .selectExpr("inline(t)").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val weighted = spark.sql(
      """WITH pre AS (SELECT tool, count(*) AS c FROM transcripts
        |             WHERE tool IS NOT NULL GROUP BY tool)
        |SELECT topk(topk_weighted_agg(tool, c), 5) AS t FROM pre""".stripMargin)
      .selectExpr("inline(t)").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(weighted == raw, "weighted add path reproduces raw counts")
  }

  test("kll agrees with Spark's approx_percentile as secondary oracle") {
    val row = spark.sql(
      """SELECT kll_quantile(kll_agg(CAST(text_len AS double)), 0.5) AS kll,
        |       approx_percentile(text_len, 0.5) AS spark_approx,
        |       percentile(text_len, 0.5) AS exact
        |FROM transcripts""".stripMargin).collect()(0)
    val exact = row.getDouble(2)
    assert(math.abs(row.getDouble(0) - exact) / exact < 0.05)
    assert(math.abs(row.getDouble(0) - row.getInt(1)) / exact < 0.05)
  }

  test("native TypedImperativeAggregate == UDAF path, sketch-for-sketch byte parity") {
    graft.plans.TurnSketchNativeAgg.register(spark, bloomW = 1 << 16)
    val native = spark.sql(
      """SELECT role, turn_sketch_native(conv_id, tool, CAST(text_len AS DOUBLE)) AS sk
        |FROM transcripts GROUP BY role""".stripMargin)
      .select(col("role"), col("sk.*")).orderBy("role").collect()
    val udafAgg = udaf(new graft.sketch.agg.TurnSketchAgg(bloomW = 1 << 16))
    val viaUdaf = transcripts
      .select(col("conv_id").cast("binary").as("c"), col("role"),
        col("tool").cast("binary").as("t"), col("text_len").cast("double").as("l"))
      .groupBy("role").agg(udafAgg(col("c"), col("t"), col("l")).as("sk"))
      .select(col("role"), col("sk.*")).orderBy("role").collect()
    assert(native.length == viaUdaf.length && native.nonEmpty)
    native.zip(viaUdaf).foreach { case (n, u) =>
      assert(n.getString(0) == u.getString(0))
      // HLL / CMS / t-digest / KLL / bloom states must be byte-identical;
      // top-k may differ only in eviction tie order, so compare its answers
      for (f <- Seq("hll_conv", "cms_tool", "tdigest_len", "kll_len", "bloom_conv")) {
        assert(n.getAs[Array[Byte]](f).toSeq == u.getAs[Array[Byte]](f).toSeq,
          s"$f mismatch for role ${n.getString(0)}")
      }
      assert(n.getAs[Long]("turns") == u.getAs[Long]("turns"))
      val nt = SpaceSavingSketch.fromBytes(n.getAs[Array[Byte]]("topk_tool")).topK(Some(5))
      val ut = SpaceSavingSketch.fromBytes(u.getAs[Array[Byte]]("topk_tool")).topK(Some(5))
      assert(nt == ut, s"top-5 mismatch for role ${n.getString(0)}")
    }
  }

  test("SketchJob's merged states == the native aggregate's over the same rows") {
    // the third composite path: stage 1 plus the canonical tree merge,
    // against turn_sketch_native with SketchJob's Bloom; NULLIF gives the
    // aggregate SketchJob's rule of skipping empty tools
    val cfg = SketchJob.Config(
      input = s"$tdir/transcripts",
      output = s"$tdir/paths-out",
      checkpointDir = s"$tdir/paths-ckpt")
    SketchJob.run(spark, cfg)
    val job = SketchJob.mergeDeterministic(SketchJob.mergeCheckpoints(spark, cfg))
      .collect().sortBy(_.role)
    graft.plans.TurnSketchNativeAgg.register(spark, bloomW = BloomSketch.DefaultBits)
    val native = spark.sql(
      """SELECT role, turn_sketch_native(conv_id, NULLIF(tool, ''), CAST(text_len AS DOUBLE))
        |AS sk FROM transcripts GROUP BY role""".stripMargin)
      .select(col("role"), col("sk.*")).orderBy("role").collect()
    assert(job.map(_.role).toSeq == native.map(_.getString(0)).toSeq && job.nonEmpty)
    job.zip(native).foreach { case (j, n) =>
      // these merges ignore merge order, so the bytes must agree
      Seq("hll_conv" -> j.hll_conv, "cms_tool" -> j.cms_tool, "bloom_conv" -> j.bloom_conv)
        .foreach { case (f, b) =>
          assert(b.toSeq == n.getAs[Array[Byte]](f).toSeq, s"$f mismatch for role ${j.role}")
        }
      assert(j.rows_seen == n.getAs[Long]("turns"), s"turns for role ${j.role}")
      def top5(b: Array[Byte]) = SpaceSavingSketch.fromBytes(b).topK(Some(5))
      assert(top5(j.topk_tool) == top5(n.getAs[Array[Byte]]("topk_tool")),
        s"top-5 mismatch for role ${j.role}")
    }
  }

  test("truncated or bit-flipped SketchJob checkpoints fail the merge with a typed error") {
    val cfg = SketchJob.Config(
      input = s"$tdir/transcripts",
      output = s"$tdir/job-corrupt-out",
      checkpointDir = s"$tdir/ckpt-corrupt")
    SketchJob.run(spark, cfg)
    val ckpts = new java.io.File(cfg.checkpointDir).listFiles()
      .filter(_.getName.endsWith(".ckpt")).sortBy(_.getName)
    assert(ckpts.length >= 2)
    def read(f: java.io.File) = Files.readAllBytes(f.toPath)
    // flip the sign bit of the first group's HLL length prefix, past the
    // header (magic, version, partition id, group count), the role and the
    // two lineage longs
    val raw = new java.util.zip.InflaterInputStream(
      new java.io.ByteArrayInputStream(read(ckpts(1)))).readAllBytes()
    val roleLen = java.nio.ByteBuffer.wrap(raw, 16, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt()
    val prefixAt = 16 + 4 + roleLen + 16
    raw(prefixAt + 3) = (raw(prefixAt + 3) ^ 0x80).toByte
    val flipped = new java.io.ByteArrayOutputStream()
    val os = new java.util.zip.DeflaterOutputStream(flipped)
    os.write(raw); os.close()
    val cases = Seq(
      ("truncated", ckpts(0), read(ckpts(0)).take(read(ckpts(0)).length / 2)),
      ("bit-flipped length prefix", ckpts(1), flipped.toByteArray))
    for ((how, file, bad) <- cases) {
      val good = read(file)
      // drop the local file system's checksum sidecar, so the bytes reach the decoder
      new java.io.File(file.getParentFile, s".${file.getName}.crc").delete()
      Files.write(file.toPath, bad)
      try {
        val e = intercept[Exception](SketchJob.mergeCheckpoints(spark, cfg).collect())
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(!chain.exists(t => t.isInstanceOf[NegativeArraySizeException] ||
          t.isInstanceOf[java.nio.BufferUnderflowException]), s"$how: $e")
        assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
          t.getMessage.startsWith("corrupt checkpoint")),
          s"$how: ${chain.map(_.toString).mkString(" <- ")}")
      } finally Files.write(file.toPath, good)
    }
  }

  test("GraftExtensions wires the native aggregate into SparkSessionExtensions") {
    // a second SparkContext can't exist in this JVM (and getOrCreate would
    // silently reuse the active session), so verify the injection directly:
    // apply the extensions class and check the registered builder produces
    // a working AggregateExpression
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val reg = org.apache.spark.sql.GraftExtensionsTestAccess.buildRegistry(ext)
    val fid = org.apache.spark.sql.catalyst.FunctionIdentifier(
      graft.plans.TurnSketchNativeAgg.FunctionName)
    assert(reg.functionExists(fid), "turn_sketch_native not injected")
    val expr = reg.lookupFunction(fid, Seq(
      org.apache.spark.sql.catalyst.expressions.Literal("c"),
      org.apache.spark.sql.catalyst.expressions.Literal("t"),
      org.apache.spark.sql.catalyst.expressions.Literal(1.0)))
    assert(expr.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression])
  }

  test("SketchJob completeness guard rejects tampered checkpoint ids") {
    val cfg = SketchJob.Config(
      input = s"$tdir/transcripts",
      output = s"$tdir/job-guard-out",
      checkpointDir = s"$tdir/ckpt-guard")
    SketchJob.run(spark, cfg)
    val ckpts = new java.io.File(s"$tdir/ckpt-guard").listFiles()
      .filter(_.getName.endsWith(".ckpt")).sortBy(_.getName)
    assert(ckpts.length >= 2)
    // push one checkpoint beyond the planned id range: the rerun rebuilds
    // the now-missing id, then must refuse the out-of-range file loudly
    val rogue = new java.io.File(ckpts.head.getParentFile, "part-00099.ckpt")
    assert(ckpts.head.renameTo(rogue))
    val e = intercept[IllegalArgumentException] { SketchJob.run(spark, cfg) }
    assert(e.getMessage.contains("unexpected checkpoint ids"), e.getMessage)
  }

  test("SketchJob date pruning + manifest invalidation on filter change") {
    val cfg = SketchJob.Config(
      input = s"$tdir/transcripts",
      output = s"$tdir/job-pruned-out",
      checkpointDir = s"$tdir/ckpt-pruned",
      dateFrom = Some("2025-01-01"), dateTo = Some("2025-01-10"))
    val res = SketchJob.run(spark, cfg)
    val jobTurns = res.agg(sum("turns")).collect()(0).getLong(0)
    val exact = transcripts
      .filter(col("ts_date") >= "2025-01-01" && col("ts_date") <= "2025-01-10").count()
    assert(jobTurns == exact, s"pruned job saw $jobTurns of $exact rows")

    // changing the filter must invalidate old checkpoints (manifest guard)
    val ckptsBefore = new java.io.File(s"$tdir/ckpt-pruned").listFiles()
      .count(_.getName.endsWith(".ckpt"))
    val cfg2 = cfg.copy(dateTo = Some("2025-01-20"), output = s"$tdir/job-pruned-out2")
    val res2 = SketchJob.run(spark, cfg2)
    val jobTurns2 = res2.agg(sum("turns")).collect()(0).getLong(0)
    val exact2 = transcripts
      .filter(col("ts_date") >= "2025-01-01" && col("ts_date") <= "2025-01-20").count()
    assert(jobTurns2 == exact2, "stale checkpoints were not reused across filter change")
    assert(ckptsBefore > 0)
  }

  test("the five flagship north-star queries run verbatim in SQL (SURVEY §7.3)") {
    // 1. approx distinct conv_id per role
    val q1 = spark.sql(
      "SELECT role, hll_cardinality(hll_agg(conv_id)) AS d FROM transcripts GROUP BY role")
    assert(q1.count() == 4)
    // 2. heavy-hitter tools: topk + cms point checks
    val q2 = spark.sql(
      """WITH tk AS (SELECT explode(topk(topk_agg(tool), 3)) AS t
        |            FROM transcripts WHERE tool IS NOT NULL),
        |     c AS (SELECT cms_agg(tool) AS cms
        |           FROM transcripts WHERE tool IS NOT NULL)
        |SELECT t.value, t.count, cms_query(c.cms, t.value) AS cms_count
        |FROM tk, c""".stripMargin).collect()
    assert(q2.length == 3)
    q2.foreach(r => assert(r.getLong(1) == r.getLong(2), "topk count == cms count (exact regime)"))
    assert(q2.head.getString(0) == "search" || q2.head.getString(0) == "bash")
    // 3. turn-length quantiles, tdigest + kll
    val q3 = spark.sql(
      """SELECT role, tdigest_quantile(tdigest_agg(CAST(text_len AS double)), 0.5) AS p50_td,
        |       kll_quantile(kll_agg(CAST(text_len AS double)), 0.5) AS p50_kll
        |FROM transcripts GROUP BY role""".stripMargin).collect()
    q3.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) / r.getDouble(2) < 0.15,
        s"tdigest and kll agree on median for ${r.getString(0)}")
    }
    // 4. latency quantiles via lag window → tdigest
    val q4 = spark.sql(
      """SELECT tdigest_quantile(tdigest_agg(delta), 0.5) AS p50_ms FROM (
        |  SELECT CAST(unix_millis(CAST(ts AS timestamp)) -
        |    unix_millis(CAST(lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS timestamp))
        |    AS double) AS delta
        |  FROM transcripts) WHERE delta IS NOT NULL""".stripMargin).collect()(0).getDouble(0)
    assert(q4 > 0, s"median inter-turn latency $q4")
    // 5. conv overlap between roles via bloom jaccard
    val q5 = spark.sql(
      """SELECT bloom_jaccard(u.b, a.b) AS j FROM
        |  (SELECT bloom_agg(conv_id) AS b FROM transcripts WHERE role='user') u,
        |  (SELECT bloom_agg(conv_id) AS b FROM transcripts WHERE role='assistant') a
        |""".stripMargin).collect()(0).getDouble(0)
    assert(q5 > 0.3 && q5 <= 1.2, s"jaccard $q5")
  }

  test("CappedIdsAgg bounds hot-bucket memory at ingest and marks overflow") {
    val sp = spark
    import sp.implicits._
    val cap = 16
    val agg = graft.text.TextSqlFunctions.default.cappedIdsAgg(cap)
    // one degenerate band key carrying 5000 ids + one small legit bucket
    val rows = (0 until 5000).map(i => ("hot", i.toLong)) ++
      Seq(("ok", 1L), ("ok", 2L), ("ok", 3L))
    val out = rows.toDF("band", "id")
      .repartition(8) // force partial buffers + merge across partitions
      .groupBy($"band").agg(agg($"id").as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("hot").length == cap + 1, "hot bucket truncated to cap+1 (overflow marker)")
    assert(out("ok").sorted == Seq(1L, 2L, 3L))
    // the query-side predicate drops exactly the overflowed bucket
    val kept = rows.toDF("band", "id").repartition(8)
      .groupBy($"band").agg(agg($"id").as("ids"))
      .filter(size($"ids").between(2, cap))
      .collect().map(_.getString(0))
    assert(kept.toSeq == Seq("ok"))
  }

  test("CappedTaggedIdsAgg keeps (id, tag) adjacency through partial merges") {
    val sp = spark
    import sp.implicits._
    val cap = 16
    val fns = graft.text.TextSqlFunctions.default
    val agg = fns.cappedTaggedIdsAgg(cap)
    // tag is a pure function of id, so adjacency survives ANY merge order
    // iff every (even, odd) slot pair in the result satisfies it
    val rows = (0 until 5000).map(i => ("hot", i.toLong, i.toLong * 7 + 1)) ++
      Seq(("ok", 1L, 8L), ("ok", 2L, 15L), ("ok", 3L, 22L))
    val out = rows.toDF("band", "id", "tag")
      .repartition(8)
      .groupBy($"band").agg(agg($"id", $"tag").as("xs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("hot").length == 2 * (cap + 1), "hot bucket capped at cap+1 occupants")
    out.values.foreach(_.grouped(2).foreach { p =>
      assert(p(1) == p(0) * 7 + 1, s"tag detached from id: $p")
    })
    // pair expansion carries the payloads through
    val ps = graft.text.TextFunctions.taggedPairs(out("ok"))
    assert(ps.map(p => (p.id_a, p.tag_a, p.id_b, p.tag_b)).toSet ==
      Set((1L, 8L, 2L, 15L), (1L, 8L, 3L, 22L), (2L, 15L, 3L, 22L)))
  }

  test("second-level SQL re-aggregation of sketch columns (tree merge)") {
    val perDate = spark.sql(
      """SELECT ts_date, hll_agg(conv_id) AS hll FROM transcripts
        |GROUP BY ts_date""".stripMargin)
    perDate.createOrReplaceTempView("per_date")
    val merged = spark.sql(
      "SELECT hll_cardinality(hll_merge_agg(hll)) FROM per_date").collect()(0).getLong(0)
    val whole = spark.sql(
      "SELECT hll_cardinality(hll_agg(conv_id)) FROM transcripts").collect()(0).getLong(0)
    assert(merged == whole, s"re-agg $merged != direct $whole")
  }

  test("IVF index lifecycle: fit from hash-sample, assign once, reuse across probe batches") {
    import graft.text.{TextFunctions, VectorIvfIndex, VectorLsh}
    import graft.sketch.core.XxHash64
    val sp = spark
    import sp.implicits._
    // clustered vectors (8 true direction clusters, contiguous id blocks —
    // the distribution where the learned codebook beats low-id pivots)
    val dim = 16
    def randVec(id: Long): Array[Float] = Array.tabulate(dim) { i =>
      val h = XxHash64.hashLong(id * 1000 + i, 42L)
      ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat * 2f - 1f
    }
    val centers = (0 until 8).map(c => randVec(90000L + c * 7777L)).toArray
    val vecs = (0 until 400).map { id =>
      val noise = randVec(id.toLong)
      (id.toLong, Array.tabulate(dim)(i => centers(id / 50)(i) + 0.25f * noise(i)).toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")

    // fit is deterministic end-to-end (hash-sample order + RNG-free Lloyd)
    val cents1 = VectorIvfIndex.fit(emb, "vec_id", "embedding", k = 8, sampleCap = 256)
    val cents2 = VectorIvfIndex.fit(emb, "vec_id", "embedding", k = 8, sampleCap = 256)
    assert(cents1.map(_.toSeq).toSeq == cents2.map(_.toSeq).toSeq, "fit must be deterministic")

    // assign ONCE, persist, reuse across two probe batches
    val index = VectorIvfIndex.index(emb, "vec_id", "embedding", cents1).persist()
    assert(index.count() == 400)
    assert(index.storageLevel.useMemory, "index must be persisted for reuse")
    def probeBatch(ids: Seq[Int]): DataFrame =
      ids.map { id =>
        (id.toLong, VectorLsh.perturb(vecs(id)._2, id.toLong, 0.1).toSeq)
      }.toDF("query_id", "qe")
    val all = vecs.toMap
    def check(ids: Seq[Int]): Unit = {
      val got = VectorIvfIndex.top1(
        VectorIvfIndex.search(index, probeBatch(ids), cents1, nprobe = 2))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var hits = 0
      ids.foreach { id =>
        val probe = VectorLsh.perturb(vecs(id)._2, id.toLong, 0.1)
        val truth = vecs.map(_._1).maxBy(j => TextFunctions.cosine(probe.toSeq, all(j)))
        if (got.get(id.toLong).contains(truth)) hits += 1
      }
      assert(hits >= ids.size * 9 / 10, s"IVF recall@1 over persisted index: $hits/${ids.size}")
    }
    check(0 until 40)         // probe batch 1
    check(200 until 240)      // probe batch 2 — same index, no re-assign
    index.unpersist()

    // the hash-sample is partitioning-INVARIANT: a cluster resize (fewer /
    // more partitions) must not change the codebook a production job fits
    val resampled = VectorIvfIndex.sampleVectors(
      emb.repartition(7), "vec_id", "embedding", sampleCap = 256)
    val original = VectorIvfIndex.sampleVectors(
      emb, "vec_id", "embedding", sampleCap = 256)
    assert(original.map(_.toSeq).toSeq == resampled.map(_.toSeq).toSeq,
      "hash-sample must not depend on physical partitioning")
  }

  test("q_decontaminate flags exactly the training docs sharing a full 5-word gram with the eval slice") {
    val dir = Files.createTempDirectory("graft-decon").toString
    try {
      val sp = spark
      import sp.implicits._
      // eval slice = doc_id % 97 == 0 → ids 0 and 97 are the "benchmark suite"
      val docs = Seq(
        (0L, "alpha bravo charlie delta echo foxtrot golf"),
        (97L, "kilo lima mike november oscar papa"),
        // shares the 5-gram "bravo charlie delta echo foxtrot" with doc 0
        (5L, "zulu bravo charlie delta echo foxtrot yankee"),
        // shares only 4 CONSECUTIVE words with doc 0 → below the gram size
        (6L, "bravo charlie delta echo xray whiskey victor uniform"),
        // full 5-grams from BOTH eval docs → eval_hits = 2
        (7L, "alpha bravo charlie delta echo padding kilo lima mike november oscar"),
        // disjoint vocabulary
        (8L, "one two three four five six seven"),
        // too short for any 5-gram even though every word is eval vocabulary
        (9L, "alpha bravo charlie delta")
      ).toDF("doc_id", "text")
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.SparkEntry.queries("q_decontaminate")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.map(_._1).toSeq == Seq(5L, 7L),
        s"contaminated set must be exactly the planted docs, got ${got.toSeq}")
      val m = got.map(x => x._1 -> (x._2, x._3)).toMap
      assert(m(5L) == ((1L, 1L)), "doc 5: one eval doc, one shared gram")
      assert(m(7L)._1 == 2L, "doc 7 hits BOTH eval docs")
    } finally TestDirs.deleteTree(Paths.get(dir))
  }

  test("q_bloom_join_filter: bloom-prefiltered join equals the plain join (no false negatives)") {
    val dir = Files.createTempDirectory("graft-bjf").toString
    try {
      val sp = spark
      import sp.implicits._
      // dim: custkeys 1,2,3 in nation 2; custkey 4 in another nation
      Seq((1L, 2), (2L, 2), (3L, 2), (4L, 7))
        .toDF("c_custkey", "c_nationkey")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      // fact: user 1 twice, user 2 once (all matched), user 4 (wrong nation),
      // user 99 (no such customer) — the last two must be filtered/dropped
      Seq((1L, 10.1234), (1L, 20.5), (2L, 1.0), (4L, 5.0), (99L, 7.0))
        .toDF("user_id", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val row = graft.SparkEntry.queries("q_bloom_join_filter")(spark, dir).collect().head
      assert(row.getAs[Long]("matched_rows") == 3L)
      assert(row.getAs[Long]("matched_users") == 2L)
      assert(row.getAs[Long]("value_sum_milli") == 10123L + 20500L + 1000L)
      assert(row.getAs[Boolean]("prefilter_ok"))
    } finally TestDirs.deleteTree(Paths.get(dir))
  }
}
