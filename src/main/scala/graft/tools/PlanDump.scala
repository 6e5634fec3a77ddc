package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Regenerates PLANS.md: captured physical plans of the load-bearing
  * operators, with the review notes. Run after any plan-shape change.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", s"${128 * 1024 * 1024}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    def dump(title: String, df: org.apache.spark.sql.DataFrame): Unit = {
      sb.append(s"\n===== $title =====\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    val bench = "/root/repo/data/transcripts-c12000000"
    val agg = udaf(new graft.sketch.agg.TurnSketchAgg(cmsWidth = 8192, cmsDepth = 5, bloomW = 0))
    val flagship = spark.read.parquet(bench)
      .filter(col("ts_date") >= "2025-01-05" && col("ts_date") <= "2025-01-15")
      .select(col("conv_id").cast("binary").as("conv_id"), col("role"),
        col("tool").cast("binary").as("tool"), col("text_len").cast("double").as("len"))
      .groupBy(col("role"))
      .agg(agg(col("conv_id"), col("tool"), col("len")).as("sk"))
    dump("FLAGSHIP SKETCH BUILD (pruned scan -> binary ids -> partial/final ObjectHashAggregate)", flagship)

    val fns = graft.sketch.agg.SketchFunctions.default
    val perDate = spark.read.parquet(bench)
      .groupBy(col("ts_date")).agg(fns.hllAgg(col("conv_id")).as("hll"))
    val merged = perDate.agg(fns.hllMergeAgg(col("hll")).as("hll"))
    dump("TWO-LEVEL TREE MERGE (sketch-column re-aggregation)", merged)

    val sf = "/root/testdata/sf0.1"
    dump("q_token_counts (pure built-ins: no ScalaUDF, whole-stage codegen)",
      graft.SparkEntry.queries("q_token_counts")(spark, sf))
    dump("q_minhash_near_dup (one signature pass: capped bucket agg + in-bucket pair expansion, id-dedup before exact-Jaccard verify)",
      graft.SparkEntry.queries("q_minhash_near_dup")(spark, sf))
    dump("q_ann_lsh_recall (r6: probes collected once, driver-side banding; broadcast-map bucket prune BEFORE capped agg, cosine vs broadcast probe matrix, max_by top-1)",
      graft.SparkEntry.queries("q_ann_lsh_recall")(spark, sf))
    dump("q_embed_near_dup (single-shuffle capped bucket grouping, pair dedup before cosine verify)",
      graft.SparkEntry.queries("q_embed_near_dup")(spark, sf))
    dump("q_simhash_near_dup (simhash bands via built-ins, tagged capped buckets carry the fingerprint, codegen bit_count gate on the pair stream — no corpus join-back)",
      graft.SparkEntry.queries("q_simhash_near_dup")(spark, sf))
    dump("q_ann_ivf_recall (r6: IVF cells assigned on the driver for the collected probes; single-cell index equi-join, no dedup needed)",
      graft.SparkEntry.queries("q_ann_ivf_recall")(spark, sf))
    dump("q_salted_agg (skew-defusing two-phase: exchange on (key, salt) then on key)",
      graft.SparkEntry.queries("q_salted_agg")(spark, sf))
    dump("q_hll_set_algebra (r6: users deduped FIRST — map-side-partial distinct, then conditional counts + HLLs; the 4-way Expand of the one-agg form is gone)",
      graft.SparkEntry.queries("q_hll_set_algebra")(spark, sf))
    dump("q_ngram_jaccard_near_dup (r6 count-gated prefix join: df agg -> ONE per-doc prefix-build agg -> short-prefix framed buckets carrying K-prefix arrays -> local merge-intersect gate -> sort-then-verify)",
      graft.SparkEntry.queries("q_ngram_jaccard_near_dup")(spark, sf))
    dump("q_corpus_curation (funnel: ONE conditional-agg scan for stages 1-3, min_by exact dedup materialized once per run, prefix-join near-dup removal via left_anti)",
      graft.SparkEntry.queries("q_corpus_curation")(spark, sf))
    dump("q_token_budget_sample (ONE profile scan, ONE stratum exchange: running cumsum + full-partition budget sum as two Window nodes over the same sort)",
      graft.SparkEntry.queries("q_token_budget_sample")(spark, sf))
    dump("q_decontaminate (eval gram set BROADCASTS — benchmark suites are tiny by construction; the training corpus is scanned once, zero big-side exchanges before the per-doc agg; grams via built-ins only)",
      graft.SparkEntry.queries("q_decontaminate")(spark, sf))
    dump("q_bloom_join_filter (bloom prefilter on the fact side BEFORE the join — runtime row-level filtering with the library's own sketch; ONE fact scan, conditional agg for pass/match stats)",
      graft.SparkEntry.queries("q_bloom_join_filter")(spark, sf))
    // q_neardup_components is NOT dumped: ConnectedComponents.run executes
    // eagerly (per-round eager localCheckpoint — lineage truncation is the
    // correctness-critical design point, see its scaladoc), so the returned
    // frame's plan is just a checkpoint scan; the per-round shape is two
    // groupBy-min shuffles + two joins over the shrinking canonical edge
    // list, asserted by ConnectedComponentsSpec rather than inspected here.

    // the q_ann_ivf_index operator runs eagerly (two probe batches against
    // one persisted index), so dump its SEARCH plan explicitly: the probe
    // batch must scan the cached index (InMemoryTableScan) — the assign UDF
    // appears only inside the InMemoryRelation's cached plan, never in the
    // per-batch execution above it
    locally {
      import graft.text.VectorIvfIndex
      import graft.text.AnnQueries.IvfIndexParams._
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val cents = VectorIvfIndex.fit(emb, "vec_id", "embedding", k = K, sampleCap = SampleCap)
      val index = VectorIvfIndex.index(emb, "vec_id", "embedding", cents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        index.count()
        val tfns = graft.text.TextSqlFunctions.default
        val probes = emb.filter(col("vec_id") < BatchSize)
          .select(col("vec_id").as("query_id"),
            tfns.perturbUdf(col("embedding"), col("vec_id"), lit(PerturbEps)).as("qe"))
        dump("q_ann_ivf_index probe batch (persisted assign-once index: InMemoryTableScan, no re-assign)",
          VectorIvfIndex.top1(VectorIvfIndex.search(index, probes, cents, nprobe = NProbe), "ivf_top1"))
      } finally index.unpersist()
    }

    val header = java.nio.file.Files.readString(
      java.nio.file.Paths.get("/root/repo/scripts/plans_header.md"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("/root/repo/PLANS.md"),
      header + "\n```" + sb.toString + "\n```\n")
    println("PLANS.md written")
    spark.stop()
  }
}
