package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The text-dedup family of the oracle-gated queries, each next to its
  * DuckDB oracle; `SparkEntry.queries` / `SparkEntry.oracleSql` join these
  * maps. Each candidate step has one home: [[bucketPairs]] expands capped
  * LSH buckets (for [[AnnQueries]] too), [[prefixJaccardCandidates]] runs
  * the prefix join, and the exact-Jaccard verify has one function per
  * shape: [[verifiedSorted]] emits the score, [[verifiedPairs]] does not.
  */
object DedupQueries {
  private val tfns = TextSqlFunctions.default

  // LSH degenerate-bucket cap: a band key shared by more than this many
  // rows (empty/boilerplate docs, near-zero vectors) would make the
  // within-bucket join quadratic; such buckets carry no discriminating
  // power and are dropped. 1024^2 pairs is the worst single-bucket cost.
  private[graft] val LshBucketCap = 1024

  /** Planted near-duplicate ids = source id + this offset — far beyond any
    * real doc_id/vec_id at any scale factor, so planted ids can never
    * collide with originals (a collision would both corrupt the pair
    * universe and double-attach rows in the verify joins).
    */
  private[graft] val SynthDupOffset = 1000000000L

  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Capped-bucket pair expansion: ONE shuffle groups each `bucket`'s `id`s
    * through the ingest-capped agg (an overflowed bucket holds cap + 1 ids
    * and the size filter drops it), surviving buckets expand into their
    * unordered id pairs, deduped as columns `a`, `b` before any payload
    * re-attaches.
    */
  private[graft] def bucketPairs(banded: DataFrame, bucket: String, id: String,
      a: String, b: String): DataFrame =
    banded.groupBy(col(bucket))
      .agg(tfns.cappedIdsAgg(LshBucketCap)(col(id)).as("ids"))
      .filter(size(col("ids")).between(2, LshBucketCap))
      .select(explode(tfns.idPairsUdf(col("ids"))).as("p"))
      .select(col("p.id_a").as(a), col("p.id_b").as(b))
      .distinct()

  /** Pairs `(doc_a, doc_b)` with their texts from `docs` as `ta`, `tb`. */
  private def withTexts(pairs: DataFrame, docs: DataFrame): DataFrame =
    pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")

  /** Exact-Jaccard verify that emits the score: the pairs at J >= 0.8 as
    * `(doc_a, doc_b, jaccard)`, ordered by `(doc_a, doc_b)`.
    *
    * SORT BEFORE the verify projection: the range sort's sampling pass
    * executes its child, so orderBy above the jaccard projection ran the
    * exact-Jaccard UDF twice per candidate (sample + sort). Sorting the
    * joined candidate rows first and projecting above the Sort keeps one
    * evaluation per candidate; the non-deterministic marking stops the
    * optimizer pushing the >= 0.8 filter (which references the UDF column)
    * back below the Sort, and a filtered subsequence of a sorted stream is
    * still sorted.
    */
  private def verifiedSorted(pairs: DataFrame, docs: DataFrame): DataFrame =
    withTexts(pairs, docs)
      .orderBy("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        tfns.exactJaccardOnceUdf(col("ta"), col("tb")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)

  /** Exact-Jaccard verify, unscored and unordered: `(doc_a, doc_b)` at
    * J >= 0.8. Its callers neither sort nor keep the score.
    */
  private def verifiedPairs(pairs: DataFrame, docs: DataFrame): DataFrame =
    withTexts(pairs, docs)
      .filter(tfns.exactJaccardUdf(col("ta"), col("tb")) >= 0.8)
      .select(col("doc_a"), col("doc_b"))

  /** Per-document `(doc_id, lang, quality, tokens)`, both budget rows' input. */
  private def budgetProfile(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      tfns.langIdUdf(col("text")).as("lang"),
      tfns.qualityScoreUdf(col("text")).as("quality"),
      tfns.tokenCountCol(col("text")).cast("long").as("tokens"))

  /** Count-gated prefix extension: any J >= τ pair must share at least
    * min(K, α) of each other's (|X| − α + K)-prefixes — see
    * prefixJaccardCandidates. K = 12 cuts the candidate mass 132x on the
    * verify corpus while staying exact.
    */
  private val PrefixGateK = 12

  /** Candidate pairs for EXACT n-gram-Jaccard similarity at the J >= τ =
    * 0.8 gate via COUNT-GATED prefix filtering (the AllPairs/SSJoin prefix
    * filter — Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06 — extended
    * with the K-th-common-token rank bound of adaptive prefix joins, Wang
    * et al. SIGMOD'12).
    *
    * Lemma (exact, no tail): fix any global total order on shingles and
    * let α = ⌈τ·max(|A|,|B|)⌉ (valid since J ≥ τ ⇒ |A∩B| ≥ τ|A∪B| ≥
    * τ·max). Let t_j be the j-th smallest element of A∩B. At most
    * |X| − |A∩B| ≤ |X| − α non-intersection tokens of X precede t_j, so
    * rank_X(t_j) ≤ (j−1) + (|X| − α) + 1 ≤ |X| − α + K for all j ≤
    * min(K, α) — i.e. BOTH documents' (|X| − ⌈τ|X|⌉ + K)-prefixes contain
    * the first min(K, α) common tokens. Gating candidate pairs on
    * shared-prefix-token count ≥ min(K, α) therefore has recall EXACTLY 1.
    *
    * Why the count gate matters: presence-based blocking (share ≥ 1 key)
    * cannot separate moderate from high Jaccard on templated corpora.
    * Measured on the sf0.1 documents table (5000 docs, vocabulary only
    * 2041 distinct 5-gram shingles, 3.7M pairs at J ∈ [0.2, 0.4) vs 256
    * at J ≥ 0.8): bottom-12 KMV blocking → 6.2M candidates (25.6 s);
    * plain 1-token prefixes → 8.2M; the K = 12 count gate → 62k (true
    * pairs' measured min shared count is 14, comfortably over the gate).
    * The rarest-first order (global document frequency, ties by hash)
    * keeps prefix buckets small on organic corpora too.
    *
    * The gate needs no per-pair sizes: for any pair whose larger set has
    * ≥ 15 shingles, α = ⌈0.8·max⌉ ≥ 12 = K, so `shared ≥ K` is exactly
    * the lemma gate. Documents with ≤ 14 distinct shingles ("tiny" —
    * degenerate sub-70-char texts) have α ≤ K and their WHOLE set inside
    * the prefix (p = sz − α + K ≥ sz), so a tiny–tiny true pair shares
    * ALL of its α ≥ 1 intersection tokens: admitting every tiny–tiny
    * bucket pair keeps recall exact, and the downstream exact-Jaccard
    * verify keeps precision exact. The tiny bit rides inside the bucket
    * id (id·2 + tiny), costing nothing.
    *
    * Distributed shape, ALL codegen outside the one shingle UDF: one
    * document-frequency agg (a word-count), one groupBy(doc_id) building
    * both prefix arrays (sort_array over struct(df, g) is the
    * rarest-first order), one bucket agg with the ingest cap as the
    * degenerate-bucket guardrail (no bucket at any verify SF comes near
    * it; a capped drop would undercount a pair and surface as a red
    * oracle row), then LOCAL in-bucket pair counting over the carried
    * prefix arrays (prefixBucketPairs) — no per-pair rows ever cross a
    * shuffle.
    * Downstream callers re-verify every candidate with the exact Jaccard,
    * so false positives are impossible and false negatives are impossible
    * by the lemma: the row is deterministic by construction, not w.o.p.
    */
  private def prefixJaccardCandidates(docs: DataFrame): DataFrame = {
    // hashed distinct shingle set + its size from ONE UDF pass
    val sets = docs
      .select(col("doc_id"), tfns.shingleHashesUdf(col("text")).as("gs"))
      .select(col("doc_id"), size(col("gs")).cast("long").as("sz"),
        explode(col("gs")).as("g"))
    // global document frequency — defines the rarest-first total order (df, g)
    val dfreq = sets.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // Each doc's K-prefix (the sz − ⌈0.8·sz⌉ + K rarest shingles, exact
    // integer arithmetic: ⌈0.8·sz⌉ = (4·sz+4) DIV 5) built in ONE
    // groupBy(doc_id) from the (df, g) rows: sort_array over
    // struct(df, g) IS the rarest-first total order, and two slices cut
    // the K-prefix `pg` (hash-sorted, for the count gate) and the SHORT
    // 1-prefix `ps` (length sz − ⌈0.8·sz⌉ + 1). All built-ins — this
    // replaces a per-doc row_number window + a second groupBy(xid)
    // collect_list, i.e. one full exchange and a per-doc sort fewer for
    // the same arrays (guide §2.4: two operations keyed the same way
    // share one exchange). The bucket id packs the tiny-document bit
    // alongside the doc id.
    //
    // Buckets are built over the SHORT prefix only (j = 1 case of the
    // prefix-filter lemma: the MIN common token t_1 of any true pair has
    // rank_X(t_1) ≤ |X| − α + 1 in BOTH docs, α = ⌈0.8·max(|A|,|B|)⌉ ≥
    // ⌈0.8·|X|⌉ for each side, so bucket t_1 sees the pair) while each
    // occupant CARRIES its full K-prefix array for the count gate —
    // recall stays exactly 1, with 21% fewer bucket rows and 26% fewer
    // in-bucket pair merges at sf0.1 (31.1M → 24.7M; candidate set
    // verified element-equal). The bucket agg collects framed occupants
    // (ingest-capped like every LSH bucket agg), and prefixBucketPairs
    // computes each in-bucket pair's full shared-prefix count by
    // merge-intersecting the two sorted arrays LOCALLY. The shape this
    // replaces exploded Σ C(occ,2) per-pair hit rows (31M at sf0.1 —
    // quadratic in bucket occupancy) into a two-phase count agg whose
    // 31M-row shuffle dominated all three prefix-join queries (measured
    // 11.5 s of q_ngram_jaccard_near_dup's 14 s); carrying the prefix
    // arrays moves O(Σ occ · prefix) bytes once and shuffles no per-pair
    // rows at all (guide §8: decide with compact proxies moved once,
    // never ship per-pair rows). The count is the true
    // |prefix(A) ∩ prefix(B)| — identical to the hit count on any
    // cap-overflow-free data (all verify SFs), and recall-safer under
    // overflow (see prefixBucketPairs scaladoc); callers' exact-Jaccard
    // verify keeps precision exact either way.
    val docPrefix = sets.join(dfreq, "g")
      .groupBy(col("doc_id"), col("sz"))
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("toks"))
      .select(
        (col("doc_id") * 2 + when(col("sz") <= 14, 1L).otherwise(0L)).as("xid"),
        sort_array(expr("transform(slice(toks, 1, CAST(sz - (4*sz+4) DIV 5 + " +
          s"$PrefixGateK AS INT)), x -> x.g)")).as("pg"),
        sort_array(expr("transform(slice(toks, 1, CAST(sz - (4*sz+4) DIV 5 + 1 AS INT)), " +
          "x -> x.g)")).as("ps"))
    val bucketRows = docPrefix.select(col("xid"), col("pg"), explode(col("ps")).as("g"))
    // The pair scan runs DIRECTLY on the bucket-agg output partitions: an
    // earlier repartition(8 × shuffle.partitions) "fanout" between the agg
    // and the scan measured as a net LOSS (6.3 s → 4.4 s for the gated
    // stage at sf0.1 without it) — it reshuffled the fat framed rows
    // (Σ occ · prefix longs, the heaviest rows in the query) to balance
    // work that the ingest cap already bounds at C(cap,2)·prefix ≈ tens of
    // ms per bucket; hash(g) over the vocabulary-sized bucket keys spreads
    // those fine (guide §2.4: remove exchanges that do not change what any
    // task computes).
    bucketRows.groupBy(col("g"))
      .agg(tfns.cappedPrefixAgg(LshBucketCap)(col("xid"), col("pg")).as("occ"))
      // gated pairs come back as a flat [a0,b0,a1,b1,…] primitive array;
      // rebuild (a,b) structs with codegen built-ins before the dedup
      .select(tfns.prefixPairsUdf(LshBucketCap, PrefixGateK)(col("occ")).as("fp"))
      .filter(size(col("fp")) > 0)
      .select(explode(expr(
        "transform(sequence(0, size(fp) DIV 2 - 1), " +
          "i -> struct(fp[i*2] AS a, fp[i*2+1] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
      .select(expr("a DIV 2").as("doc_a"), expr("b DIV 2").as("doc_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // whitespace token counting — pure built-ins (codegen'd, no ScalaUDF)
    "q_token_counts" -> { (s, dir) =>
      // sort first, project after — same sampling-pass rationale as
      // q_text_profile (the split/filter token count ran twice per row)
      documents(s, dir)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .select(col("doc_id"),
          tfns.tokenCountCol(col("text")).cast("long").as("tokens"))
    },
    // exact dedup: hash-groupBy distinct + normalized 64-bit fingerprints
    "q_dedup_exact" -> { (s, dir) =>
      documents(s, dir)
        .agg(
          count(lit(1)).as("docs"),
          countDistinct(col("text")).as("distinct_texts"),
          countDistinct(tfns.fingerprintUdf(col("text"))).as("distinct_fps"),
          (count(lit(1)) - countDistinct(col("text"))).as("dupes"))
    },
    // text-analysis profile: chars / token counts / quality score /
    // language-ID, every column replicated exactly by the DuckDB oracle.
    // SORT FIRST, project after: the range sort's sampling pass executes
    // its child subtree, so orderBy ABOVE the profile projection ran every
    // UDF twice per row (once for the RangePartitioner sample, once for
    // the sort) — sorting the bare (doc_id, text) scan and projecting
    // above the Sort keeps the UDFs at one evaluation per row (guide §2.4
    // ordering-of-operations; measured 0.78 s → 0.40 s at sf0.1). A
    // Project above Sort preserves the global order.
    "q_text_profile" -> { (s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("chars"),
          tfns.tokenCountCol(col("text")).cast("long").as("tokens"),
          tfns.bpeishCountUdf(col("text")).cast("long").as("bpeish_tokens"),
          tfns.qualityScoreUdf(col("text")).as("quality"),
          tfns.langIdUdf(col("text")).as("lang_pred"))
    },
    // MinHash-LSH near-dup pipeline, end to end: signatures → band keys →
    // capped bucket join → id-pair dedup → exact shingle-Jaccard
    // verification (the standard candidate-verify step) → pairs >= 0.8.
    // The oracle computes the same pairs by exact all-pairs Jaccard; the
    // planted near-dups sit at J >= 0.92 where 16x8 banding recall is
    // 1 - 3e-6 per pair, and the next-closest pairs are J <= 0.31.
    "q_minhash_near_dup" -> { (s, dir) =>
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val banded = docs
        .select(col("doc_id"), tfns.minhashSigUdf(col("text")).as("sig"))
        .select(col("doc_id"), explode(tfns.minhashBandsUdf(col("sig"))).as("band"))
      // ONE banding pass: capped bucket agg + in-bucket pair expansion
      // (same shape as q_simhash_near_dup). The old hot-count + anti-join
      // + self-join shape evaluated the uncached minhash-signature UDF
      // subtree THREE times over the corpus (the hot scan and both sides
      // of the self-join) and paid two extra shuffles; the signature is
      // the dominant cost (K hashes per shingle), so at table scale that
      // tripled the pipeline. Cap semantics unchanged: a band with more
      // than LshBucketCap occupants overflows the agg (cap + 1 ids) and
      // the between-filter drops it, exactly as the anti-join did.
      verifiedSorted(bucketPairs(banded, "band", "doc_id", "doc_a", "doc_b"), docs)
    },
    // n-gram Jaccard near-dup dedup — the 4th dedup family alongside exact /
    // MinHash-LSH / SimHash / embedding-cosine: candidates come straight
    // from the n-gram sets themselves via the prefix-filtered EXACT
    // similarity join (see prefixJaccardCandidates — recall is exactly 1
    // by the prefix-filter lemma, no signature structure, no probabilistic
    // tail), and every candidate pair is verified with the EXACT n-gram
    // Jaccard before the >= 0.8 gate, so BOTH false negatives and false
    // positives are impossible by construction. Same closed-form truth as
    // q_minhash_near_dup reached by a deterministic-by-theorem generator:
    // this row distinguishes the exact-join family from the probabilistic
    // MinHash-LSH family. (The first KMV bottom-k implementation was
    // replaced after measurement — see the prefixJaccardCandidates
    // scaladoc for the 6.2M → 62k candidate collapse.)
    "q_ngram_jaccard_near_dup" -> { (s, dir) =>
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      verifiedSorted(prefixJaccardCandidates(docs), docs)
    },
    // Near-dup CLUSTERING: the verified pair set is a graph and a duplicate
    // GROUP is its connected component (A~B, B~C put A,C together even when
    // the pair A~C was never emitted) — the step after pair generation in a
    // real curation funnel, where the survivor is one canonical doc per
    // component. Labels come from the large-star/small-star O(log n)-round
    // DataFrame algorithm (graft.text.ConnectedComponents); the oracle
    // recomputes the exact pair set and takes its transitive closure with a
    // recursive CTE, so chain-linked clusters gate the CLUSTERING itself,
    // not just the pairs.
    "q_neardup_components" -> { (s, dir) =>
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      ConnectedComponents.run(verifiedPairs(prefixJaccardCandidates(docs), docs))
        .select(col("node").as("doc_id"), col("rep").as("rep_id"))
        .orderBy("doc_id")
    },
    // Deterministic quality-ranked selection under a per-language token
    // budget — the sampling step that turns a curated corpus into a
    // training mix: within each language stratum take documents in
    // (quality DESC, doc_id) order until 30% of the stratum's tokens are
    // spent. The stratum budget (floor of 30% of the stratum's total
    // tokens) is a FULL-PARTITION window sum riding the SAME exchange+sort
    // as the running cumsum — one scan, one shuffle, the profile UDFs
    // evaluated once per row (the groupBy-budgets + join-back alternative
    // scans the corpus and runs the UDFs twice; at 100 TB that is the
    // whole job twice). The order key is total (doc_id tiebreak) so the
    // kept set is closed-form; quality/lang/token formulas are the
    // q_text_profile ones, bit-identical across engines.
    "q_token_budget_sample" -> { (s, dir) =>
      val prof = budgetProfile(documents(s, dir))
      val ord = Window.partitionBy(col("lang"))
        .orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.partitionBy(col("lang")) // default frame: entire partition
      prof.withColumn("cum", sum(col("tokens")).over(ord))
        .withColumn("budget", floor(sum(col("tokens")).over(whole) * 0.3))
        .filter(col("cum") <= col("budget"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs_kept"),
          sum(col("tokens")).as("tokens_kept"),
          min(col("quality")).as("min_quality"))
        .coalesce(1).orderBy("lang")
    },
    // The SAME selection through the 100 TB execution shape: the window
    // formulation above is oracle-exact but `PARTITION BY lang` puts every
    // row of a language into ONE task — an 80 TB English stratum lands on a
    // single core. graft.text.TokenBudget replaces it with a two-job
    // distributed prefix-sum over one range shuffle (the zipWithIndex
    // pattern): range-partition by the total order, per-(partition, lang)
    // token sums to the driver (P×L tiny rows), broadcast exclusive offsets
    // + budgets, stream-filter each partition with a seeded running sum.
    // Kept set is bit-identical (range cuts choose WHERE the order is
    // sliced, never the order; same floor(total·frac) double arithmetic),
    // so this row shares the window row's closed-form oracle — gating that
    // the scalable path IS the semantics, not an approximation of it.
    "q_token_budget_scalable" -> { (s, dir) =>
      TokenBudget.sampleSummary(budgetProfile(documents(s, dir)), frac = 0.3)
    },
    // The COMPOSED training-data curation pipeline — what a 100 TB corpus
    // job actually runs, end to end in one query: language-ID filter →
    // quality-score threshold → exact dedup (keep the smallest doc_id per
    // normalized fingerprint) → near-dup removal (remove every doc with a
    // smaller-id survivor at exact 5-gram Jaccard >= 0.8, candidates from
    // the prefix-filtered exact similarity join) → funnel counts + kept
    // token budget.
    // Every stage reuses an operator that already has its own oracle row
    // (q_text_profile / q_dedup_exact / q_ngram_jaccard_near_dup); this row
    // gates their COMPOSITION, stage by stage, against one closed-form
    // DuckDB funnel. Shape notes for scale:
    //  * stages 1–3 are counted in ONE scan via conditional aggregation
    //    (no per-stage pass);
    //  * exact dedup carries the survivor row through the groupBy with
    //    min_by(struct(...)) — no join-back to re-attach text;
    //  * near-dup candidates use the prefix-filtered exact similarity join
    //    (recall 1 by lemma, see prefixJaccardCandidates) with ingest-capped
    //    buckets and pair-dedup before the text join-back (the proven
    //    q_ngram_jaccard_near_dup shape, here over the survivor subset
    //    where bucket occupancy is strictly smaller);
    //  * the removal set joins back as an equi left_anti join (shuffle-
    //    bounded); the profile subtree is shared by the funnel branches
    //    via an eager localCheckpoint of `surv` (measured win this round —
    //    see the inline note at the checkpoint; on a multi-executor
    //    cluster swap for reliable checkpoint/persist).
    // The quality threshold compares doubles that are bit-identical across
    // engines (q_text_profile proves the formula replication), so the 0.85
    // cut is deterministic.
    "q_corpus_curation" -> { (s, dir) =>
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val prof = docs.select(
        col("doc_id"), col("text"),
        tfns.tokenCountCol(col("text")).cast("long").as("tokens"),
        tfns.fingerprintUdf(col("text")).as("fp"),
        tfns.qualityScoreUdf(col("text")).as("quality"),
        tfns.langIdUdf(col("text")).as("lang"))
      val langOk = col("lang").isin("en", "pt")
      val qOk = langOk && col("quality") >= 0.85
      val head = prof.agg(
        count(lit(1)).as("docs_total"),
        count(when(langOk, 1)).as("lang_kept"),
        count(when(qOk, 1)).as("quality_kept"))
      // Survivors MATERIALIZED once (eager localCheckpoint, inside the
      // timed region of every invocation — no cross-run reuse): the
      // funnel references this subtree ~6 times (candidate generator,
      // both verify join sides, anti-join, exact-kept and kept-tokens
      // aggregates), each recomputing the 4 profile UDFs + the dedup
      // groupBy. Round 5 measured recompute cheaper than caching at
      // verify scale; after this round's 5x candidate-generator speedup
      // the balance flipped — 3.05 s → 2.20 s at sf0.1 (OPTIMIZATION_r06.md,
      // result parity exact). At 100 TB this is the documented
      // checkpoint/persist-of-surv shape (guide §5: cache only what is
      // reused AND expensive to recompute).
      val surv = prof.filter(qOk)
        .groupBy(col("fp"))
        .agg(min_by(struct(col("doc_id"), col("text"), col("tokens")),
          col("doc_id")).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
          col("r.tokens").as("tokens"))
        .localCheckpoint(true)
      val docsSurv = surv.select(col("doc_id"), col("text"))
      val removal = verifiedPairs(prefixJaccardCandidates(docsSurv), docsSurv)
        .select(col("doc_b").as("doc_id")).distinct()
      val fin = surv.join(removal, Seq("doc_id"), "left_anti")
      val exactKept = surv.agg(count(lit(1)).as("exact_kept"))
      val tail = fin.agg(
        count(lit(1)).as("neardup_kept"),
        sum(col("tokens")).as("tokens_kept"))
      head.crossJoin(exactKept).crossJoin(tail)
    },
    // Benchmark DECONTAMINATION — the cross-corpus sibling of self-dedup in
    // a training pipeline: flag every TRAINING document sharing a full
    // consecutive 5-word-gram with any held-out EVAL document (the n-gram-
    // overlap rule used to scrub eval benchmarks out of pretraining data;
    // 13-word grams in production, scaled to this corpus' ~30-word synthetic
    // vocabulary where 5 words already makes random collisions rare — the
    // natural contaminated set is 2/1/20 docs across the verify SFs,
    // non-empty at every SF so an implementation returning nothing fails).
    // Eval set = doc_id % 97 == 0, a deterministic "benchmark suite" slice
    // of the same parquet both engines read. Spark shape for 100 TB: the
    // eval side is tiny BY CONSTRUCTION (a benchmark suite, not a corpus),
    // so its exploded gram set BROADCASTS and the training corpus is
    // scanned once with zero exchanges before the final per-doc agg; grams
    // are built from pure built-ins (split → transform/slice/array_join —
    // no ScalaUDF), and the join key is the gram STRING so the row is exact
    // by construction (with a much larger eval suite, hash grams to 64-bit
    // — or bloom them with this library — same plan shape).
    "q_decontaminate" -> { (s, dir) =>
      val n = 5
      val grams = documents(s, dir)
        .select(col("doc_id"),
          filter(split(lower(col("text")), "\\s+"), t => t =!= "").as("tk"))
        .filter(size(col("tk")) >= n)
        .select(col("doc_id"),
          explode(array_distinct(transform(
            sequence(lit(1), size(col("tk")) - (n - 1)),
            i => array_join(slice(col("tk"), i, lit(n)), " ")))).as("g"))
      val evalGrams = grams.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("eval_id"), col("g"))
      grams.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalGrams), "g")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("eval_id")).as("eval_hits"),
          countDistinct(col("g")).as("shared_grams"))
        .orderBy("doc_id")
    },
    // SimHash near-dup recovery with planted ground truth, end to end:
    // 64-bit token SimHash → 8×8-bit banding (pigeonhole: any pair with
    // hamming ≤ 7 shares a band) → capped bucket pair expansion → id-pair
    // dedup → codegen'd bit_count hamming gate ≤ 7. The corpus is the
    // deterministic synthetic one (TextFunctions.synthDoc over doc_id):
    // variant-1 docs (ids offset by 10^9, far beyond any real doc_id, so
    // planted ids can never collide with originals; planted for
    // doc_id < 40) differ from
    // their source in 1 of 400 tokens (measured planted max hamming = 4 at
    // every SF ⇒ banding recall is pigeonhole-GUARANTEED, not
    // probabilistic), while docs of different ids share no tokens (hamming
    // ~ Binom(64, ½); measured min 12 across 12.7M pairs at sf0.1) — so
    // the recovered pair set is exactly the planted set, which the oracle
    // knows in closed form. Real-text SimHash
    // locality is covered by TextFunctionsSpec goldens; real-text J≥0.8
    // recovery is q_minhash_near_dup's job (character-shingle Jaccard and
    // token-set similarity diverge on this corpus, so SimHash candidates
    // cannot be oracle-gated against a shingle-Jaccard truth).
    "q_simhash_near_dup" -> { (s, dir) =>
      val ids = documents(s, dir).select(col("doc_id"))
      // fused synth+simhash UDF: one hash pass per row, no ~8 KB document
      // string materialized and re-split per row (bit-identical fingerprints
      // — see TextFunctions.synthSimhash; the corpus construction is
      // unchanged: originals for every doc_id, variant-1 dups for
      // doc_id < 40 at the collision-proof id offset)
      val originals = ids
        .select(col("doc_id").as("id"), tfns.synthSimhashUdf(col("doc_id"), lit(0)).as("sh"))
      val dups = ids.filter(col("doc_id") < 40)
        .select((col("doc_id") + SynthDupOffset).as("id"),
          tfns.synthSimhashUdf(col("doc_id"), lit(1)).as("sh"))
      val sh = originals.unionByName(dups)
      // band keys from pure built-ins (codegen): byte b of the fingerprint,
      // namespaced by band index
      val bandKeys = array((0 until 8).map(b =>
        shiftrightunsigned(col("sh"), b * 8).bitwiseAND(lit(255L)) + lit(b * 256L)): _*)
      // the 8-byte fingerprint rides along through banding: the pair gate
      // then runs directly on the pair stream, with NO join-back to the
      // corpus — the join-back shape costs two extra shuffles plus a 2nd
      // and 3rd full pass of the text+fingerprint UDFs over the table
      // (Spark recomputes an uncached subtree per reference), which at
      // 100 TB triples the dominant cost for 8 bytes/row of savings
      val banded = sh.select(col("id"), col("sh"), explode(bandKeys).as("band"))
      // cap enforced at ingest (buffer never exceeds cap+1 occupants), so
      // a degenerate hot band costs O(cap) memory, not the whole bucket;
      // occupants come back interleaved [id, sh, ...] (2 slots each)
      banded.groupBy(col("band"))
        .agg(tfns.cappedTaggedIdsAgg(LshBucketCap)(col("id"), col("sh")).as("xs"))
        .filter((size(col("xs")) / 2).between(2, LshBucketCap))
        .select(explode(tfns.taggedPairsUdf(col("xs"))).as("p"))
        // gate == the pigeonhole guarantee: 8 bands of 8 bits recover every
        // pair at hamming <= 7 with certainty, so the gate must not admit
        // more than the banding promises — a <= 8 gate would depend on the
        // cross-id hamming margin (min 12 at sf<=0.1) staying above 8,
        // which shrinks as the corpus grows; <= 7 keeps recall guaranteed
        // (planted max hamming is 4) without betting on the margin tail.
        // Gating BEFORE the pair-dedup distinct shrinks that shuffle to
        // the true near-dup pairs.
        .filter(tfns.hammingCol(col("p.tag_a"), col("p.tag_b")) <= 7)
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
        .distinct()
        .orderBy("id_a", "id_b")
    })

  private val NgramPairCtes: String =
    """sh AS (SELECT DISTINCT doc_id, substr(lower(text), CAST(i AS INT), 5) AS g
      |            FROM (SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS i
      |                  FROM documents WHERE length(text) >= 5)),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)""".stripMargin

  /** Exact all-pairs 5-gram Jaccard over the documents table at the 0.8
    * gate — the ground truth BOTH near-dup-by-Jaccard candidate generators
    * (MinHash-LSH banding and KMV bottom-k shingle blocking) must recover
    * exactly: their final gate is the exact Jaccard, so false positives are
    * impossible and the oracle check is a pure recall test.
    */
  private val ExactNgramJaccardSql: String =
    s"""WITH $NgramPairCtes
      |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      |FROM inter
      |JOIN sz sa ON sa.doc_id = doc_a
      |JOIN sz sb ON sb.doc_id = doc_b
      |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8e0
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Transitive closure of the exact J >= 0.8 pair graph: component labels
    * (min doc_id per component) via a recursive CTE — the ground truth for
    * the distributed large-star/small-star clustering.
    */
  private val NeardupComponentsSql: String =
    s"""WITH RECURSIVE $NgramPairCtes,
      |pairs AS (SELECT doc_a, doc_b FROM inter
      |          JOIN sz sa ON sa.doc_id = doc_a
      |          JOIN sz sb ON sb.doc_id = doc_b
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8e0),
      |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs),
      |reach(n, r) AS (SELECT s, s FROM edges
      |                UNION
      |                SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.n)
      |SELECT n AS doc_id, min(r) AS rep_id FROM reach GROUP BY n ORDER BY doc_id""".stripMargin

  /** DuckDB CTEs `f`, `v`, `w` replicating the q_text_profile per-document
    * features: lengths, token lists and the language-ID stopword votes.
    */
  private val DocFeatureCtes: String =
    """f AS (
      |  SELECT doc_id,
      |    text,
      |    length(text) AS n,
      |    len(regexp_extract_all(text, '\p{L}')) AS alpha,
      |    length(text) - length(replace(text, ' ', '')) AS space,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
      |    list_filter(string_split_regex(lower(text), '[^\p{L}]+'), x -> x <> '') AS ltoks,
      |    len(regexp_extract_all(text, '[\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}]')) AS cjk
      |  FROM documents),
      |v AS (
      |  SELECT *,
      |    len(list_filter(ltoks, x -> list_contains(['the','and','of','to','in','is','that','it','for','was','with','you'], x))) AS h_en,
      |    len(list_filter(ltoks, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein','eine','ich','zu'], x))) AS h_de,
      |    len(list_filter(ltoks, x -> list_contains(['le','la','les','et','est','pas','pour','que','une','dans','je'], x))) AS h_fr,
      |    len(list_filter(ltoks, x -> list_contains(['el','la','los','las','es','de','que','una','para','por','yo'], x))) AS h_es,
      |    len(list_filter(ltoks, x -> list_contains(['il','la','che','di','non','per','una','sono','con','del'], x))) AS h_it,
      |    len(list_filter(ltoks, x -> list_contains(['o','a','os','de','que','uma','para','com','não','por'], x))) AS h_pt,
      |    len(list_filter(ltoks, x -> list_contains(['de','het','een','van','en','is','niet','met','voor','dat'], x))) AS h_nl
      |  FROM f),
      |w AS (SELECT *, greatest(h_en, h_de, h_fr, h_es, h_it, h_pt, h_nl) AS best FROM v)""".stripMargin

  /** [[DocFeatureCtes]] plus the q_text_profile per-document formulas
    * (token count, normalized fingerprint, quality score, language-ID
    * vote) — bit-identical doubles across engines. Ends in a CTE
    * `p(doc_id, text, tokens, fp, quality, lang)`; interpolate as
    * `WITH $DocProfileSqlPrelude, ...` (the remainder must be
    * backslash-free: the s-interpolator processes escapes).
    */
  private val DocProfileSqlPrelude: String =
    DocFeatureCtes + """,
      |p AS (SELECT doc_id, text,
      |  CAST(len(toks) AS BIGINT) AS tokens,
      |  lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp,
      |  CASE WHEN n = 0 THEN 0.0e0 ELSE
      |    0.25e0 * (least(1.0e0, n / 200.0e0)
      |      + CAST(alpha AS DOUBLE) / n
      |      + CASE WHEN CAST(n - space AS DOUBLE) / (space + 1) >= 2 AND CAST(n - space AS DOUBLE) / (space + 1) <= 12 THEN 1.0e0 ELSE 0.5e0 END
      |      + CASE WHEN len(toks) = 0 THEN 0.0e0 ELSE least(1.0e0, len(list_distinct(toks)) * 2.0e0 / len(toks)) END)
      |  END AS quality,
      |  CASE
      |    WHEN alpha > 0 AND CAST(cjk AS DOUBLE) / alpha > 0.3e0 THEN 'zh'
      |    WHEN len(ltoks) = 0 THEN 'und'
      |    WHEN best = 0 OR best * 20 < len(ltoks) THEN 'und'
      |    WHEN h_en = best THEN 'en' WHEN h_de = best THEN 'de'
      |    WHEN h_fr = best THEN 'fr' WHEN h_es = best THEN 'es'
      |    WHEN h_it = best THEN 'it' WHEN h_pt = best THEN 'pt'
      |    ELSE 'nl' END AS lang
      |  FROM w)""".stripMargin

  /** Both budget rows' oracle: the window order is total (quality DESC,
    * doc_id) so the kept set is closed-form, and sum(tokens)*0.3e0 / floor
    * are the same IEEE double ops in both engines.
    */
  private val TokenBudgetSql: String =
    s"""WITH $DocProfileSqlPrelude,
        |b AS (SELECT lang, CAST(floor(sum(tokens) * 0.3e0) AS BIGINT) AS budget
        |      FROM p GROUP BY lang),
        |c AS (SELECT doc_id, lang, quality, tokens,
        |        sum(tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM p),
        |k AS (SELECT c.* FROM c JOIN b USING (lang) WHERE cum <= budget)
        |SELECT lang, count(*) AS docs_kept,
        |       CAST(sum(tokens) AS BIGINT) AS tokens_kept,
        |       min(quality) AS min_quality
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_token_counts" ->
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT count(*) AS docs, count(DISTINCT text) AS distinct_texts,
        |       count(DISTINCT lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS distinct_fps,
        |       count(*) - count(DISTINCT text) AS dupes
        |FROM documents""".stripMargin,
    "q_text_profile" ->
      ("WITH " + DocFeatureCtes + """
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS chars,
        |  CAST(len(toks) AS BIGINT) AS tokens,
        |  CAST(len(regexp_extract_all(text, '\p{L}{1,6}|\p{N}{1,3}|[^\p{L}\p{N}\s]')) AS BIGINT) AS bpeish_tokens,
        |  CASE WHEN n = 0 THEN 0.0e0 ELSE
        |    0.25e0 * (least(1.0e0, n / 200.0e0)
        |      + CAST(alpha AS DOUBLE) / n
        |      + CASE WHEN CAST(n - space AS DOUBLE) / (space + 1) >= 2 AND CAST(n - space AS DOUBLE) / (space + 1) <= 12 THEN 1.0e0 ELSE 0.5e0 END
        |      + CASE WHEN len(toks) = 0 THEN 0.0e0 ELSE least(1.0e0, len(list_distinct(toks)) * 2.0e0 / len(toks)) END)
        |  END AS quality,
        |  CASE
        |    WHEN alpha > 0 AND CAST(cjk AS DOUBLE) / alpha > 0.3e0 THEN 'zh'
        |    WHEN len(ltoks) = 0 THEN 'und'
        |    WHEN best = 0 OR best * 20 < len(ltoks) THEN 'und'
        |    WHEN h_en = best THEN 'en' WHEN h_de = best THEN 'de'
        |    WHEN h_fr = best THEN 'fr' WHEN h_es = best THEN 'es'
        |    WHEN h_it = best THEN 'it' WHEN h_pt = best THEN 'pt'
        |    ELSE 'nl' END AS lang_pred
        |FROM w ORDER BY doc_id""".stripMargin),
    "q_minhash_near_dup" -> ExactNgramJaccardSql,
    "q_ngram_jaccard_near_dup" -> ExactNgramJaccardSql,
    "q_neardup_components" -> NeardupComponentsSql,
    "q_token_budget_sample" -> TokenBudgetSql,
    "q_token_budget_scalable" -> TokenBudgetSql,
    // the composed curation funnel in closed form: the profile CTEs are the
    // q_text_profile formulas verbatim (bit-identical doubles), the exact-
    // dedup key is the q_dedup_exact normalized fingerprint, and the
    // near-dup truth is the exact all-pairs 5-gram Jaccard restricted to
    // the quality/dedup survivors
    "q_corpus_curation" ->
      s"""WITH $DocProfileSqlPrelude,
        |lk AS (SELECT * FROM p WHERE lang IN ('en', 'pt')),
        |qk AS (SELECT * FROM lk WHERE quality >= 0.85e0),
        |keepers AS (SELECT min(doc_id) AS doc_id FROM qk GROUP BY fp),
        |surv AS (SELECT p.doc_id, p.text, p.tokens FROM p JOIN keepers USING (doc_id)),
        |sh AS (SELECT DISTINCT doc_id, substr(lower(text), CAST(i AS INT), 5) AS g
        |       FROM (SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS i
        |             FROM surv WHERE length(text) >= 5)),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |nd AS (SELECT DISTINCT doc_b AS doc_id FROM inter
        |       JOIN sz sa ON sa.doc_id = doc_a
        |       JOIN sz sb ON sb.doc_id = doc_b
        |       WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8e0),
        |fin AS (SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM nd))
        |SELECT (SELECT count(*) FROM p) AS docs_total,
        |       (SELECT count(*) FROM lk) AS lang_kept,
        |       (SELECT count(*) FROM qk) AS quality_kept,
        |       (SELECT count(*) FROM surv) AS exact_kept,
        |       (SELECT count(*) FROM fin) AS neardup_kept,
        |       (SELECT CAST(sum(tokens) AS BIGINT) FROM fin) AS tokens_kept""".stripMargin,
    // identical tokenization (lowercased whitespace split), identical
    // 5-word-gram windows, same eval slice — the contaminated set is exact
    "q_decontaminate" ->
      """WITH toks AS (SELECT doc_id,
        |                     list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
        |              FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS g
        |      FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
        |            FROM toks WHERE len(tk) >= 5)),
        |ev AS (SELECT doc_id AS eval_id, g FROM g WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id, g FROM g WHERE doc_id % 97 <> 0)
        |SELECT tr.doc_id AS doc_id, count(DISTINCT ev.eval_id) AS eval_hits,
        |       count(DISTINCT tr.g) AS shared_grams
        |FROM tr JOIN ev ON tr.g = ev.g
        |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin,
    "q_simhash_near_dup" ->
      s"""SELECT doc_id AS id_a, doc_id + $SynthDupOffset AS id_b
        |FROM documents WHERE doc_id < 40 ORDER BY id_a, id_b""".stripMargin)
}
