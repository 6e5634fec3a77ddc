package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sketch.core.XxHash64

/** Scale-headroom evidence for the dedup / near-dup / ANN pipelines.
  *
  * The CORRECTNESS rows run at verify scale (sf0.01: 500 docs / 500
  * vectors; sf0.1: 5k docs / 2k vectors), where their pinned constants
  * (bucket bits, band widths) are sized so the DuckDB oracle stays
  * closed-form. This tool runs the SAME operators at 10–500× those row
  * counts on deterministically synthesized tables of the same schema —
  * planted ground truth, zero RNG — and records wall time, throughput
  * and recovery/gate outcomes in SCALE_HEADROOM.md + scale_headroom.json.
  *
  * Two regimes, deliberately:
  *  - VERBATIM: queries whose shape is scale-free run through
  *    `SparkEntry.queries` unchanged (exact dedup, MinHash-LSH — its
  *    64-bit band keyspace keeps occupancy O(1) at any N — SimHash at
  *    10×, and both IVF rows, whose gates are computed in-query).
  *  - SCALE-SIZED: the hyperplane-LSH pipelines re-run with bucket bits
  *    sized by the occupancy rule bits ≈ log2(N / target_occupancy).
  *    The pinned small-table constants would be wrong here by
  *    construction: at N=1e6 and 12 bits, E[occupancy] = N/2^12 ≈ 244,
  *    so in-bucket pair expansion alone is ~24 tables × 4096 buckets ×
  *    C(244,2) ≈ 2.9e9 pairs — the quadratic blowup the ingest cap
  *    exists to refuse (every bucket would instead overflow a
  *    correctly-small cap and the pipeline would return nothing). Sizing
  *    bits with the table (18–20 bits here) keeps occupancy ~1 and the
  *    candidate volume linear in N, which is the parameterization a
  *    100 TB deployment uses. The rows call the functions q_ann_lsh_recall
  *    and q_embed_near_dup run (`AnnQueries.lshTop1`, `embedNearDups`) at
  *    18 bits × 12 tables and 20 × 48.
  */
object ScaleHeadroom {
  private val DocsN = 200000L
  private val DocDupsN = 2000L
  private val DocDupOffset = 10000000L
  private val SimhashDocsN = 50000L
  private val VecN = 1000000L
  private val Dim = 64
  // decontamination at 400× verify scale: 2M training docs + 2,000 planted
  // contaminated trainers, each carrying ONE full 5-word gram copied from
  // its eval-slice source (ids ≡ 0 mod 97). The planted-id offset lands on
  // residue 81 mod 97, so planted docs can never fall into the eval slice.
  private val DeconN = 2000000L
  private val DeconPlantN = 2000L
  private val DeconOffset = 100000000L
  // bloom-prefiltered join: 50M fact rows over a 10M keyspace against a
  // 5,000-key dim (inside the pinned create(8192, 0.001) design envelope;
  // a larger dim passes a larger n — bits grow linearly)
  private val BjfFactN = 50000000L

  private def genText(srcId: Long, variant: Int): String = {
    // 24 disjoint-per-id fixed-width hex tokens (~430 chars, the sf
    // tables' scale); the variant rewrites only the last 4 chars of
    // token 0 → shingle-Jaccard ≈ 0.96 (planted near-dup; the 16×8
    // banding miss probability per pair is ~1e-9, so exact planted
    // recovery over 2,000 pairs is deterministic in practice), while
    // cross-id Jaccard = 0 (token spaces disjoint).
    val sb = new java.lang.StringBuilder(24 * 17)
    var j = 0
    while (j < 24) {
      val tok = f"${XxHash64.hashLong(srcId * 1000003L + j, 0xfeedL)}%016x"
      if (variant != 0 && j == 0) {
        val base4 = java.lang.Long.parseLong(tok.substring(12), 16)
        val t4 = XxHash64.hashLong(srcId, 0xbeefL) & 0xffffL
        sb.append(tok.substring(0, 12))
        // never collide with the base tail: a variant must stay a distinct
        // text (the dedup row counts distinct texts over base ∪ variants)
        sb.append(f"${if (t4 == base4) t4 ^ 1L else t4}%04x")
      } else sb.append(tok)
      if (j != 23) sb.append(' ')
      j += 1
    }
    sb.toString
  }

  private def genVec(id: Long): Array[Float] = {
    val v = new Array[Float](Dim)
    var j = 0
    var norm = 0.0
    while (j < Dim) {
      val h = XxHash64.hashLong(id * 131 + j, 0x5ca1eL)
      v(j) = ((h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0).toFloat
      norm += v(j).toDouble * v(j)
      j += 1
    }
    val inv = (1.0 / math.sqrt(norm)).toFloat
    j = 0
    while (j < Dim) { v(j) *= inv; j += 1 }
    v
  }

  /** Runs every row, or only the rows named in `args` (an unknown name
    * fails before anything runs). Only a full run rewrites
    * SCALE_HEADROOM.md and scale_headroom.json; a named run prints its rows.
    * The master is `local[$SPARK_GRAFT_CPUS]` (default 32).
    */
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 64)
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val tfns = graft.text.TextSqlFunctions.default
    val base = "/root/repo/data/headroom"
    val genTextUdf = udf((id: Long, variant: Int) => genText(id, variant))
    val genVecUdf = udf((id: Long) => genVec(id))

    // Tables are generated on first use by a row and cached under `base`
    // (an `_OK` marker per dir); generation time is kept out of row times.
    var genNanos = 0L
    def table(dir: String)(write: => Unit): String = {
      val ok = new java.io.File(s"$dir/_OK")
      if (!ok.exists()) {
        val t = System.nanoTime()
        write
        ok.getParentFile.mkdirs(); ok.createNewFile()
        genNanos += System.nanoTime() - t
      }
      dir
    }
    lazy val d200 = table(s"$base/docs200k") {
      val orig = spark.range(0, DocsN, 1, 32)
        .select(col("id").as("doc_id"), genTextUdf(col("id"), lit(0)).as("text"))
      val dups = spark.range(0, DocDupsN, 1, 4)
        .select((col("id") + DocDupOffset).as("doc_id"), genTextUdf(col("id"), lit(1)).as("text"))
      orig.unionByName(dups)
        .withColumn("lang", lit("en")).withColumn("source", lit("headroom"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$base/docs200k/documents.parquet")
    }
    lazy val d50 = table(s"$base/docs50k") {
      // q_simhash_near_dup synthesizes its corpus from doc_id alone
      spark.range(0, SimhashDocsN, 1, 8)
        .select(col("id").as("doc_id"), lit("").as("text"),
          lit("en").as("lang"), lit("headroom").as("source"), lit(0L).as("n_chars"))
        .write.mode("overwrite").parquet(s"$base/docs50k/documents.parquet")
    }
    lazy val v1m = table(s"$base/vec1m") {
      spark.range(0, VecN, 1, 32)
        .select(col("id").as("vec_id"), genVecUdf(col("id")).as("embedding"),
          (col("id") % 64).cast("int").as("label"))
        .write.mode("overwrite").parquet(s"$base/vec1m/embeddings.parquet")
    }
    // decontamination corpus: disjoint-per-id token spaces mean NO natural
    // cross-doc gram sharing; a planted trainer (id = DeconOffset + 97k)
    // appends the first 5 tokens of its eval source genText(97k) — exactly
    // one full src 5-gram (the 4 mixed windows exist in no other doc), so
    // the contaminated truth is closed-form: each planted id with
    // eval_hits = 1, shared_grams = 1, and nothing else.
    val genDeconUdf = udf((id: Long) =>
      if (id >= DeconOffset)
        genText(id, 0) + " " + genText(id - DeconOffset, 0).substring(0, 84)
      else genText(id, 0))
    lazy val decon = table(s"$base/decon2m") {
      val baseDocs = spark.range(0, DeconN, 1, 32)
        .select(col("id").as("doc_id"), genDeconUdf(col("id")).as("text"))
      val planted = spark.range(0, DeconPlantN, 1, 4)
        .select((col("id") * 97L + DeconOffset).as("doc_id"),
          genDeconUdf(col("id") * 97L + DeconOffset).as("text"))
      baseDocs.unionByName(planted)
        .withColumn("lang", lit("en")).withColumn("source", lit("headroom"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(16)
        .write.mode("overwrite").parquet(s"$base/decon2m/documents.parquet")
    }
    lazy val bjf = table(s"$base/bjf50m") {
      spark.range(0, 10000, 1, 2)
        .select(col("id").as("c_custkey"),
          when(col("id") < 5000, 2).otherwise(7).as("c_nationkey"))
        .write.mode("overwrite").parquet(s"$base/bjf50m/customer.parquet")
      spark.range(0, BjfFactN, 1, 64)
        .select((col("id") % 10000000L).as("user_id"),
          (col("id") % 1000L).cast("double").as("value"))
        .write.mode("overwrite").parquet(s"$base/bjf50m/events.parquet")
    }

    // rows register here and run after the name check, in this order
    val registered = scala.collection.mutable.LinkedHashMap[String, (Long, () => (String, Boolean))]()
    def row(name: String, rows: Long)(body: => (String, Boolean)): Unit =
      registered(name) = (rows, () => body)

    // ---- VERBATIM rows through SparkEntry.queries ----
    row("dedup_exact@202k", DocsN + DocDupsN) {
      val r = graft.SparkEntry.queries("q_dedup_exact")(spark, d200).collect()(0)
      (s"docs=${r.getLong(0)} distinct=${r.getLong(1)}",
        r.getLong(0) == DocsN + DocDupsN && r.getLong(1) == DocsN + DocDupsN)
    }
    row("minhash_near_dup@202k", DocsN + DocDupsN) {
      val rows = graft.SparkEntry.queries("q_minhash_near_dup")(spark, d200).collect()
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (0L until DocDupsN).map(i => (i, i + DocDupOffset)).toSet
      (s"pairs=${rows.length}/$DocDupsN planted", got == want)
    }
    row("ngram_prefix_join@202k", DocsN + DocDupsN) {
      // the exact prefix-filtered similarity join (q_ngram_jaccard_near_dup)
      // VERBATIM — no pinned blocking constants to re-size: the prefix length
      // adapts per document (sz − ⌈0.8·sz⌉ + K) and the K=12 count gate is a
      // lemma, not a tuning knob. This corpus is the OPPOSITE stress from the
      // templated verify table that killed KMV blocking (2,041-shingle
      // vocabulary there vs ~82M distinct shingles here, document frequency
      // ≈ 1): the df agg and the per-doc rank window run at 84M
      // (doc, shingle) rows, and candidates must still collapse to exactly
      // the planted pairs (cross-id token spaces are disjoint, so any
      // non-planted candidate would be a lemma violation).
      val rows = graft.SparkEntry.queries("q_ngram_jaccard_near_dup")(spark, d200).collect()
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (0L until DocDupsN).map(i => (i, i + DocDupOffset)).toSet
      (s"pairs=${rows.length}/$DocDupsN planted", got == want)
    }
    row("simhash_near_dup@50k", SimhashDocsN) {
      val rows = graft.SparkEntry.queries("q_simhash_near_dup")(spark, d50).collect()
      (s"pairs=${rows.length}/40 planted", rows.length == 40)
    }
    row("ivf_recall_pivot@1M", VecN) {
      val r = graft.SparkEntry.queries("q_ann_ivf_recall")(spark, v1m).collect()(0)
      (s"recall_ok=${r.getBoolean(1)} prune_ok=${r.getBoolean(2)}",
        r.getBoolean(1) && r.getBoolean(2))
    }
    row("ivf_index_kmeans@1M", VecN) {
      val r = graft.SparkEntry.queries("q_ann_ivf_index")(spark, v1m).collect()(0)
      (s"recall_ok=${r.getBoolean(1)} assign_once_ok=${r.getBoolean(3)}",
        r.getBoolean(1) && r.getBoolean(3))
    }

    // ---- SCALE-SIZED hyperplane-LSH pipelines (the query functions,
    // bits = log2(N / target occupancy)) ----
    lazy val emb = spark.read.parquet(s"$v1m/embeddings.parquet")

    // brute-force spot check on 20 probes: the planted truth (a probe's
    // nearest neighbor is its perturbation source at cos ≈ 0.97; the max
    // random cross-cosine at N=1e6, d=64 is ≈ 0.66) holds on this table
    row("bf_truth_spotcheck@1M", 20L * VecN) {
      val probes = broadcast(emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"),
          tfns.perturbUdf(col("embedding"), col("vec_id"), lit(0.15)).as("qe")))
      val bf = probes.crossJoin(emb.select(col("vec_id").as("nid"), col("embedding").as("ne")))
        .select(col("query_id"), col("nid"), tfns.cosineUdf(col("qe"), col("ne")).as("s"))
        .groupBy(col("query_id")).agg(max_by(col("nid"), col("s")).as("bf_top1"))
        .filter(col("bf_top1") === col("query_id")).count()
      (s"bf_top1==source for $bf/20", bf == 20L)
    }

    row("lsh_recall_18bit@1M", VecN) {
      val (_, top) = graft.text.AnnQueries.lshTop1(emb, 18, 12)
      val hits = top.filter(col("lsh_top1") === col("query_id")).count()
      (s"recall@1=$hits/200 (truth=source, spot-checked)", hits >= 180L)
    }
    row("embed_near_dup_20bitx48@1M", VecN) {
      val got = graft.text.AnnQueries.embedNearDups(emb, 20, 48).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (0L until 50L).map(i => (i, i + graft.text.DedupQueries.SynthDupOffset)).toSet
      (s"pairs=${got.size}/50 planted, 0 false positives", got == want)
    }

    // ---- STREAMING cross-batch dedup at 10× verify scale, under the
    // production parameterization: dropDuplicatesWithinWatermark (bounded
    // key state — q_stream_dedup's oracle row uses unbounded dropDuplicates
    // for exactness) + RocksDBStateStoreProvider (the 10^12-key backend).
    // 4 chunks × 250k fresh keys, chunks 1–3 each replaying 50k of the
    // PREVIOUS chunk's keys 30 min later (cross-batch duplicates, well
    // inside the 3 h watermark window, so suppression is guaranteed by the
    // semantics, not by luck): the emitted count must be exactly 1M.
    row("stream_dedup_rocksdb@1.15M", 1150000L) {
      import java.nio.file.{Files, StandardCopyOption}
      val work = Files.createTempDirectory("headroom-stream-dedup")
      try {
      val src = work.resolve("src"); Files.createDirectories(src)
      val baseTs = 1735689600000L
      (0 until 4).foreach { c =>
        val fresh = spark.range(c * 250000L, (c + 1) * 250000L, 1, 8)
          .select(col("id").as("user_id"),
            timestamp_millis(lit(baseTs + c * 3600000L) + (col("id") % 1000L)).as("ts"))
        val dups =
          if (c == 0) fresh.limit(0)
          else spark.range((c - 1) * 250000L, (c - 1) * 250000L + 50000L, 1, 2)
            .select(col("id").as("user_id"),
              timestamp_millis(lit(baseTs + c * 3600000L + 1800000L)).as("ts"))
        val tmpOut = work.resolve(s"build-$c")
        fresh.unionByName(dups).coalesce(1).write.parquet(tmpOut.toString)
        val part = {
          val l = Files.list(tmpOut)
          try l.filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst().orElseThrow(() => new IllegalStateException(s"no part in $tmpOut"))
          finally l.close()
        }
        val dest = src.resolve(f"chunk-$c%03d.parquet")
        Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
        dest.toFile.setLastModified(baseTs + c * 1000L)
      }
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProv = spark.conf.getOption(provKey)
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      val ckpt = work.resolve("ckpt").toString
      val emitted =
        try {
          spark.conf.set(provKey,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          spark.conf.set("spark.sql.shuffle.partitions", "16")
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType)))
          val q = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src.toString)
            .withWatermark("ts", "3 hours")
            .dropDuplicatesWithinWatermark("user_id")
            .writeStream.format("memory").queryName("headroom_dedup_out")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val batches = q.recentProgress.count(_.numInputRows > 0)
          require(batches >= 4, s"expected >= 4 data micro-batches, saw $batches")
          spark.table("headroom_dedup_out").count()
        } finally {
          prevProv match {
            case Some(v) => spark.conf.set(provKey, v)
            case None    => spark.conf.unset(provKey)
          }
          spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        }
      // the provider must have actually held the state: RocksDB checkpoints
      // versioned .zip snapshots (+ .changelog), never HDFS-provider .delta
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      val stateFiles = walk(new java.io.File(ckpt, "state")).map(_.getName)
      val rocks = stateFiles.exists(n => n.endsWith(".zip") || n.endsWith(".changelog"))
      val noDelta = !stateFiles.exists(_.endsWith(".delta"))
      (s"emitted=$emitted/1000000 exact, rocksdb_files=$rocks no_delta=$noDelta",
        emitted == 1000000L && rocks && noDelta)
      } finally {
        // this row's work area (1.15M-row chunks + RocksDB checkpoint) is
        // per-run scratch, unlike the cached $base tables — sweep it
        val w = Files.walk(work)
        try w.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        finally w.close()
      }
    }

    // ---- BOUNDED state under eviction pressure: the claim that makes
    // dropDuplicatesWithinWatermark the 10^12-key shape is that state size
    // tracks (arrival rate × delay), NOT the key universe — this row
    // MEASURES that. 8 hourly chunks × 250k fresh keys (2M keys total),
    // delay 30 min, so each chunk's state is swept two batches later; each
    // chunk c >= 1 replays 50k keys of chunk c-1 ten minutes on (state
    // live -> suppressed) and each chunk c >= 4 replays a DISJOINT 50k
    // slice of chunk c-4 (state evicted ~3.5 h earlier -> re-emitted).
    // Exact emitted count = 2M fresh + 4×50k re-emits = 2.2M (semantics
    // pinned by DedupSemanticsProbeSpec), and the state store's
    // numRowsTotal must peak at ~2 chunks of keys (<= 700k) — an unbounded
    // dropDuplicates would hold all 2.2M.
    row("stream_dedup_bounded_state@2.55M", 2550000L) {
      import java.nio.file.{Files, StandardCopyOption}
      val work = Files.createTempDirectory("headroom-bounded-dedup")
      try {
        val src = work.resolve("src"); Files.createDirectories(src)
        val baseTs = 1735689600000L
        val hourMs = 3600000L
        (0 until 8).foreach { c =>
          val fresh = spark.range(c * 250000L, (c + 1) * 250000L, 1, 8)
            .select(col("id").as("user_id"),
              timestamp_millis(lit(baseTs + c * hourMs) + (col("id") % 1000L)).as("ts"))
          val nearDups = // ids [base, base+50k) of chunk c-1, 10 min in
            if (c == 0) fresh.limit(0)
            else spark.range((c - 1) * 250000L, (c - 1) * 250000L + 50000L, 1, 2)
              .select(col("id").as("user_id"),
                timestamp_millis(lit(baseTs + c * hourMs + 600000L)).as("ts"))
          val farDups = // ids [base+50k, base+100k) of chunk c-4, 5 min in
            if (c < 4) fresh.limit(0)
            else spark.range((c - 4) * 250000L + 50000L, (c - 4) * 250000L + 100000L, 1, 2)
              .select(col("id").as("user_id"),
                timestamp_millis(lit(baseTs + c * hourMs + 300000L)).as("ts"))
          val tmpOut = work.resolve(s"build-$c")
          fresh.unionByName(nearDups).unionByName(farDups)
            .coalesce(1).write.parquet(tmpOut.toString)
          val part = {
            val l = Files.list(tmpOut)
            try l.filter(p => p.getFileName.toString.endsWith(".parquet"))
              .findFirst().orElseThrow(() => new IllegalStateException(s"no part in $tmpOut"))
            finally l.close()
          }
          val dest = src.resolve(f"chunk-$c%03d.parquet")
          Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
          dest.toFile.setLastModified(baseTs + c * 1000L)
        }
        val provKey = "spark.sql.streaming.stateStore.providerClass"
        val prevProv = spark.conf.getOption(provKey)
        val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
        val ckpt = work.resolve("ckpt").toString
        val (emitted, maxState) =
          try {
            spark.conf.set(provKey,
              "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
            spark.conf.set("spark.sql.shuffle.partitions", "16")
            val schema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("user_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("ts",
                org.apache.spark.sql.types.TimestampType)))
            val q = spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src.toString)
              .withWatermark("ts", "30 minutes")
              .dropDuplicatesWithinWatermark("user_id")
              .writeStream.format("memory").queryName("headroom_bounded_out")
              .option("checkpointLocation", ckpt)
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            val batches = q.recentProgress.count(_.numInputRows > 0)
            require(batches >= 8, s"expected >= 8 data micro-batches, saw $batches")
            val mx = q.recentProgress
              .flatMap(_.stateOperators.map(_.numRowsTotal)).max
            (spark.table("headroom_bounded_out").count(), mx)
          } finally {
            prevProv match {
              case Some(v) => spark.conf.set(provKey, v)
              case None    => spark.conf.unset(provKey)
            }
            spark.conf.set("spark.sql.shuffle.partitions", prevParts)
          }
        (s"emitted=$emitted/2200000 exact, max_state_rows=$maxState (<=700k bound, " +
          "vs 2.2M keys an unbounded dedup would hold)",
          emitted == 2200000L && maxState <= 700000L && maxState > 0L)
      } finally {
        val w = Files.walk(work)
        try w.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        finally w.close()
      }
    }

    row("tree_merge_10k_ckpts", 10000L) {
      // SketchJob.mergeDeterministic at the 100 TB merge envelope: ~10k
      // checkpoint chunks (the checkpointChunks sizing that keeps checkpoint
      // volume ~0.1% of a 100 TB input). Each synthetic chunk carries REAL
      // (small-parameter) sketches whose contents are a pure function of the
      // chunk id — distinct values across the table, so the merged HLL has a
      // closed-form truth. PASS requires (a) byte-identical merged states
      // under an adversarial re-presentation of the same rows (shuffled,
      // then repartitioned by a non-key) — the order-canonicality contract
      // proven by SparkIntegrationSpec at 9 chunks, held here at 10,000 —
      // and (b) every merged per-role HLL within 3σ of its planted distinct
      // count. Task memory stays O(fanout-run) by construction: the level-1
      // fold streams one decoded state at a time.
      import spark.implicits._
      import graft.jobs.{PartitionSketches, SketchJob}
      import graft.sketch.{BloomSketch, CmsSketch, HllSketch, KllSketch, SpaceSavingSketch, TDigestSketch}
      val nCkpt = 10000
      val perRow = 200
      val parts = spark.range(0, nCkpt, 1, 32).as[Long].map { pidL =>
        val pid = pidL.toInt
        val role = s"role_${pid % 4}"
        val hll = HllSketch()
        val cms = CmsSketch(512, 5)
        val topk = SpaceSavingSketch(100)
        val td = TDigestSketch(100)
        val kll = KllSketch(200)
        val bloom = BloomSketch(8192, 5)
        var i = 0
        while (i < perRow) {
          val v = s"v_${pid}_$i"
          hll.add(v); cms.add(v); topk.add(s"t_${(pid + i) % 37}"); bloom.add(v)
          val x = ((pid * 31 + i * 7) % 1000).toDouble
          td.add(x); kll.add(x)
          i += 1
        }
        PartitionSketches(pid, role, perRow.toLong, (pid % 17).toLong,
          hll.toBytes, cms.toBytes, topk.toBytes, td.toBytes, kll.toBytes,
          bloom.toBytes)
      }.persist()
      parts.count() // materialize so both presentations read the same rows
      try {
        def states(ds: org.apache.spark.sql.Dataset[PartitionSketches]) =
          SketchJob.mergeDeterministic(ds).collect().sortBy(_.role)
            .map(p => (p.role, p.rows_seen, p.hll_conv.toSeq, p.cms_tool.toSeq,
              p.topk_tool.toSeq, p.tdigest_len.toSeq, p.kll_len.toSeq,
              p.bloom_conv.toSeq)).toSeq
        val m0 = System.nanoTime()
        val ref = states(parts)
        val mergeSec = (System.nanoTime() - m0) / 1e9
        val shuffled = states(
          parts.orderBy(rand(7)).repartition(17, col("rows_seen")))
        val canonical = ref == shuffled
        val truthPerRole = (nCkpt / 4).toLong * perRow
        val sigma = 1.04 / math.sqrt(1 << HllSketch.DefaultP) * truthPerRole
        val hllOk = ref.forall { s =>
          math.abs(HllSketch.fromBytes(s._3.toArray).estimate - truthPerRole) <= 3 * sigma
        }
        (f"canonical=$canonical roles=${ref.size} merge=${mergeSec}%.1fs " +
          f"hll_3sigma=$hllOk (truth=$truthPerRole)", canonical && ref.size == 4 && hllOk)
      } finally parts.unpersist()
    }

    row("connected_components@2M", 2000000L) {
      // the near-dup CLUSTERING step (q_neardup_components runs it on a
      // ~500-node pair graph) at 4,000× that: 2M nodes / ~2M edges with
      // closed-form component truth and the two adversarial shapes —
      //  - 100 CHAINS of 10,000 nodes (diameter 9,999: plain label
      //    propagation would need ~10k rounds; large-star/small-star must
      //    stay inside the O(log n) budget),
      //  - 100 random recursive TREES of 10,000 nodes (hash parent
      //    pointers — hub-ish fan-outs, no collect_list to blow).
      // Every node's component rep is its block start (floor(id/10k)·10k),
      // so the gate is a distributed mismatch count, not a collect.
      val S = 10000L
      val half = 1000000L
      val chainEdges = spark.range(0, half, 1, 16)
        .filter(pmod(col("id"), lit(S)) =!= (S - 1))
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      val treeEdges = spark.range(half, 2 * half, 1, 16)
        .filter(pmod(col("id"), lit(S)) =!= 0)
        .select(col("id").as("a"),
          (floor(col("id") / S) * S +
            pmod(xxhash64(col("id")), col("id") - floor(col("id") / S) * S)).as("b"))
      val (labels, rounds) =
        graft.text.ConnectedComponents.runWithRounds(chainEdges.unionByName(treeEdges))
      val bad = labels.filter(col("rep") =!= floor(col("node") / S) * S).count()
      val n = labels.count()
      labels.unpersist()
      (s"nodes=$n/2000000 mislabeled=$bad rounds=$rounds (10k-diameter chains)",
        n == 2 * half && bad == 0L && rounds <= 50)
    }

    // Token-budget sampling at 100× verify scale with the skew the window
    // formulation cannot survive: ONE 19M-doc stratum (plus a 1M "pt" one).
    // `PARTITION BY lang` would put all 19M rows in a single task; the
    // range-prefix-sum path spreads them over ~60 of the 64 range slices.
    // Quality is 3 planted levels (heavy ties — every range cut lands
    // inside a tie run, doc_id carries the order) and tokens cycle 1..7,
    // so the kept set has a closed form the gate recomputes independently
    // with a driver-side O(n) simulation of the selection rule.
    row("token_budget@20M", 20000000L) {
      val n = 20000000L; val enN = 19000000L
      val prof = spark.range(0, n, 1, 64).select(
        col("id").as("doc_id"),
        when(col("id") < enN, "en").otherwise("pt").as("lang"),
        (pmod(col("id"), lit(3)).cast("double") * 0.25).as("quality"),
        (lit(1L) + pmod(col("id"), lit(7))).as("tokens"))
      val got = graft.text.TokenBudget.sampleSummary(prof, 0.3, partitions = 64)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      // independent simulation: same total order (quality DESC, doc_id),
      // same floor(total·0.3) budget, straight over the id arithmetic
      def expect(lo: Long, hi: Long): (Long, Long, Double) = {
        var total = 0L; var i = lo
        while (i < hi) { total += 1 + (i % 7); i += 1 }
        val budget = math.floor(total.toDouble * 0.3).toLong
        var cum = 0L; var kept = 0L; var keptTok = 0L; var minQ = 0.0
        var q = 2; var done = false
        while (q >= 0 && !done) {
          var j = lo + ((q - lo % 3 + 3) % 3) // first id >= lo with id%3 == q
          while (j < hi && !done) {
            cum += 1 + (j % 7)
            if (cum <= budget) { kept += 1; keptTok += 1 + (j % 7); minQ = q * 0.25 }
            else done = true
            j += 3
          }
          q -= 1
        }
        (kept, keptTok, minQ)
      }
      val want = Map("en" -> expect(0L, enN), "pt" -> expect(enN, n))
      (s"en kept=${got.get("en").map(_._1).getOrElse(-1L)}/${want("en")._1} " +
        s"pt kept=${got.get("pt").map(_._1).getOrElse(-1L)}/${want("pt")._1} " +
        "(19M-doc single stratum over 64 range slices)",
        got == want)
    }

    // Benchmark decontamination at 400× verify scale, VERBATIM through
    // SparkEntry.queries: the ~20.6k-doc eval slice's exploded gram set
    // broadcasts, the 2M-doc training side is scanned once with zero
    // big-side exchanges, and the contaminated set must be EXACTLY the
    // 2,000 planted trainers (disjoint-per-id token spaces make any other
    // hit impossible; a missed full-gram copy is a recall failure).
    row("decontaminate@2M", DeconN + DeconPlantN) {
      val rows = graft.SparkEntry.queries("q_decontaminate")(spark, decon).collect()
      val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (0L until DeconPlantN).map(k => (DeconOffset + 97L * k, 1L, 1L)).toSet
      (s"contaminated=${rows.length}/$DeconPlantN planted, ~20.6k-doc eval slice broadcast",
        got == want)
    }

    // Bloom-prefiltered join at a fact-table row count, VERBATIM: 50M rows
    // through the const-decoded bloom filter (one decode per task — the
    // per-row fromBytes variant would alloc+copy the bit array 50M times),
    // then the exact join; every output column has a closed form. matched =
    // keys 0..4,999 × 5 occurrences; value = id % 1000 and 10M ≡ 0 (mod
    // 1000), so value_sum_milli = 5 · Σ_{k<5000}(k%1000)·1000.
    row("bloom_join@50M", BjfFactN) {
      val r = graft.SparkEntry.queries("q_bloom_join_filter")(spark, bjf).collect()(0)
      val wantSum = 5L * 5L * (999L * 1000L / 2L) * 1000L
      (s"matched_rows=${r.getAs[Long]("matched_rows")}/25000 users=" +
        s"${r.getAs[Long]("matched_users")}/5000 prefilter_ok=${r.getAs[Boolean]("prefilter_ok")}",
        r.getAs[Long]("matched_rows") == 25000L &&
          r.getAs[Long]("matched_users") == 5000L &&
          r.getAs[Long]("value_sum_milli") == wantSum &&
          r.getAs[Boolean]("prefilter_ok"))
    }

    val unknown = args.filterNot(registered.contains)
    require(unknown.isEmpty,
      s"unknown row(s) ${unknown.mkString(", ")}; rows: ${registered.keys.mkString(", ")}")
    val results = scala.collection.mutable.LinkedHashMap[String, (Long, Double, String, Boolean)]()
    // disk bytes spilled by every task so far (the listener bus runs behind
    // the tasks, so a row's tally can miss its last few tasks)
    val spilled = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) spilled.addAndGet(e.taskMetrics.diskBytesSpilled)
    })
    registered.foreach { case (name, (rows, body)) =>
      if (args.isEmpty || args.contains(name)) {
        val g0 = genNanos
        val s0 = System.nanoTime()
        val d0 = spilled.get
        val (outcome, ok) = body()
        val sec = (System.nanoTime() - s0 - (genNanos - g0)) / 1e9
        results(name) = (rows, sec, outcome, ok)
        println(f"[headroom] $name%-28s ${sec}%8.2f s  ${rows / sec}%12.0f rows/s  " +
          f"spill=${(spilled.get - d0) / 1e6}%.1f MB  ok=$ok  $outcome")
      }
    }
    val genSec = genNanos / 1e9
    if (args.isEmpty) report(results, genSec)
    else println(f"[headroom] table generation $genSec%.1f s; named rows only, report files not rewritten")
    spark.stop()
  }

  private def report(results: scala.collection.Map[String, (Long, Double, String, Boolean)],
      genSec: Double): Unit = {
    val json = new StringBuilder("{\"gen_sec\":" + f"$genSec%.1f" + ",\"ops\":{")
    json.append(results.map { case (n, (rows, sec, out, ok)) =>
      f""""$n":{"rows":$rows,"sec":$sec%.2f,"rows_per_sec":${rows / sec}%.0f,"ok":$ok,"outcome":"$out"}"""
    }.mkString(","))
    json.append("}}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/scale_headroom.json"), json.toString)

    val md = new StringBuilder
    md.append(
      """# SCALE HEADROOM — the dedup / near-dup / ANN pipelines at 10–500× verify scale
        |
        |Generated by `graft.tools.ScaleHeadroom` (deterministic synthetic
        |tables under `data/headroom/`, same schemas as the testdata; zero
        |RNG — every value is an xxHash64 function of the row id, so planted
        |ground truth is closed-form). The CORRECTNESS rows prove semantics
        |at verify scale; this table shows the same operators holding their
        |plan shape, throughput and planted-recovery at 202k documents and
        |1M 64-dim vectors on local[32].
        |
        || operator | rows | wall (s) | rows/s | outcome |
        ||---|---|---|---|---|
        |""".stripMargin)
    results.foreach { case (n, (rows, sec, out, ok)) =>
      md.append(f"| $n | $rows%,d | $sec%.2f | ${rows / sec}%,.0f | ${if (ok) "PASS" else "FAIL"} — $out |%n")
    }
    md.append(
      f"""
        |Table generation (one-off, cached): $genSec%.1f s.
        |
        |## Regimes
        |
        |- **Verbatim** rows run through `SparkEntry.queries` unchanged:
        |  exact dedup; MinHash-LSH (64-bit band keyspace → bucket occupancy
        |  stays O(1) at any N — the planted 2,000 J≈0.96 pairs are recovered
        |  exactly, no false positives survive the exact-Jaccard verify);
        |  SimHash at 10× (its 8×8-bit banding has a 2,048-key keyspace, so
        |  occupancy grows ~N/2048 — at 50k docs that is ~195/bucket and the
        |  capped pair expansion is ~39M gated pairs; web-scale SimHash
        |  re-parameterizes to wider bands, trading the pigeonhole radius);
        |  the exact prefix-filtered n-gram similarity join (nothing to
        |  re-size: the per-doc prefix length and the K=12 count gate are a
        |  lemma, not tuning knobs — and this corpus is the OPPOSITE
        |  vocabulary stress from the templated verify table, ~82M distinct
        |  shingles at df≈1 vs 2,041 there, so between them the two runs
        |  bracket the regimes a real corpus sits in);
        |  and both IVF rows, whose recall/prune/assign-once gates are
        |  computed in-query (the k-means production path fits, assigns once,
        |  and searches two probe batches against 1M vectors). The IVF
        |  rows' wall time is dominated by their GATE evidence — the
        |  broadcast brute-force truth (probes × 1M cosines) and the
        |  ~25M-candidate nprobe/K rerank the recall/prune booleans
        |  require — not by index construction: the accumulator-counted
        |  assign pass is exactly 1M UDF calls.
        |- **Scale-sized** rows re-run the hyperplane-LSH pipelines with
        |  bucket bits from the occupancy rule `bits ≈ log2(N / target)`:
        |  18 bits × 12 tables (N=1e6 → ~4 occupants/bucket/table) for probe
        |  retrieval, 20 bits × 48 tables (~1/bucket/table; more tables
        |  compensate the per-table collision rate narrower buckets cost)
        |  for corpus near-dup. The pinned
        |  verify-scale constants are wrong here BY CONSTRUCTION: 12 bits at
        |  N=1e6 means E[occupancy]=244, and in-bucket pair expansion alone
        |  would be 24×4096×C(244,2) ≈ 2.9e9 pairs — the quadratic blowup
        |  the ingest cap exists to refuse (with a correctly small cap every
        |  bucket overflows and the pipeline returns nothing instead). The
        |  rows call `AnnQueries.lshTop1` and `AnnQueries.embedNearDups`, the
        |  functions q_ann_lsh_recall and q_embed_near_dup run; only bits and
        |  tables differ.
        |  The corpus near-dup row's wall time is the price of 48 tables —
        |  20×48 = 960 hyperplane dot-products per vector plus a 49M-row
        |  banded shuffle — bought to push per-planted-pair miss odds to
        |  ~3e-5; a deployment tunes tables against its recall SLO. The
        |  probe-retrieval row shows the same banding cost collapsing once
        |  the driver-side probe routing prunes the corpus stream to
        |  probe-relevant buckets before the capped agg.
        |
        |- **Streaming dedup, production parameterization**: the
        |  CORRECTNESS row (q_stream_dedup) uses unbounded `dropDuplicates`
        |  because exactness is what the oracle gates; this table's
        |  `stream_dedup_rocksdb` row runs the BOUNDED variant a 100 TB
        |  ingest deploys — `dropDuplicatesWithinWatermark` (key state
        |  evicted past the watermark) under `RocksDBStateStoreProvider`
        |  (key set off-heap) — over 1.15M rows in 4 micro-batches with
        |  150k planted cross-batch duplicates arriving inside the
        |  watermark window: exactly 1M keys emitted, and the checkpoint's
        |  `state/` shows RocksDB snapshots (no HDFS-provider `.delta`),
        |  proving the provider held the state.
        |
        |- **Bounded state under eviction pressure**: the
        |  `stream_dedup_bounded_state` row measures the claim that makes
        |  `dropDuplicatesWithinWatermark` the 10^12-key shape — state size
        |  tracks (arrival rate × delay), not the key universe. 8 hourly
        |  chunks × 250k fresh keys with a 30-min delay: planted near-dups
        |  (10 min after their original) are suppressed by live state,
        |  planted far-dups (4 h after) re-emit after eviction — the exact
        |  emitted count (2.2M) follows from the state machine pinned by
        |  DedupSemanticsProbeSpec — and the state store's numRowsTotal
        |  peaks at ~2 chunks of keys (gated <= 700k) where an unbounded
        |  dedup would hold all 2.2M. At 10^12 turns/day with a 30-min
        |  window this is the difference between ~2×10^10 live keys and
        |  10^12.
        |
        |- **Connected-components clustering at 2M nodes**: the
        |  q_neardup_components operator on a 4,000×-scale planted graph —
        |  100 chains of diameter 9,999 (the shape that stalls plain label
        |  propagation for ~10k rounds) plus 100 random recursive trees —
        |  labels every node with its closed-form component rep, with the
        |  round count reported against the O(log n) large-star/small-star
        |  budget. Per-round cost is two shuffles over a SHRINKING edge
        |  list with lineage truncated every round, so a 10^9-node dup
        |  graph is ~20 rounds of bounded shuffles, not a deep lineage.
        |
        |- **Decontamination at 2M training docs**: the q_decontaminate
        |  operator verbatim — the eval slice (~20.6k docs, the "benchmark
        |  suite") explodes to ~410k grams and BROADCASTS; the 2M-doc
        |  training side is scanned once with zero exchanges before the
        |  per-doc agg, and exactly the 2,000 planted full-gram copies come
        |  back (disjoint-per-id token spaces make any other hit a bug).
        |  At 100 TB the training side scales the scan; the broadcast side
        |  scales with the benchmark suite, not the corpus.
        |
        |- **Bloom-prefiltered join at 50M fact rows**: q_bloom_join_filter
        |  verbatim — the dim-side Bloom (5,000 keys, create(8192, 0.001))
        |  is collected once (~KB) and decoded ONCE per task into the
        |  filter closure (`bloomContainsConst`); the naive per-row
        |  `fromBytes` would alloc+copy the bit array 50M times. Every
        |  output column matches its closed form, and the FP bound holds
        |  with the realized FPR far under the 1%% gate.
        |
        |- **Token-budget sampling at 20M docs, one 19M-doc stratum**: the
        |  exact case the declarative window (`PARTITION BY lang`) cannot
        |  distribute — the whole stratum would be ONE task. The
        |  `graft.text.TokenBudget` range-prefix-sum path spreads it over
        |  the 64 range slices (~312k rows/task regardless of stratum
        |  skew) and the kept set still matches an independent driver-side
        |  simulation of the selection rule exactly — planted quality TIES
        |  mean every range cut lands inside a tie run, so the doc_id
        |  tiebreak is doing the cross-partition ordering work.
        |
        |## What this evidences for 100 TB
        |
        |Candidate volume stays linear in N once occupancy is pinned O(1):
        |banding emits `tables × N` rows, the capped agg bounds every bucket,
        |pairs dedup before anything expensive re-attaches. The brute-force
        |truth (a probe's nearest neighbor is its perturbation source at
        |cos ≈ 0.97; max random cross-cosine ≈ 0.66 at N=1e6, d=64) is
        |spot-checked in-run against 20 probes before the sized recall rows
        |use it as ground truth.
        |""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/SCALE_HEADROOM.md"), md.toString)
    println("[headroom] wrote SCALE_HEADROOM.md + scale_headroom.json")
  }
}
