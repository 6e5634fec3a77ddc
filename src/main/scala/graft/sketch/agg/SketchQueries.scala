package graft.sketch.agg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySupport.{sortedSmall, table}

/** The sketch and codec family of the oracle-gated queries, each next to its
  * DuckDB oracle; `SparkEntry.queries` / `SparkEntry.oracleSql` join these
  * maps.
  *
  * Three techniques make probabilistic answers deterministic against an
  * exact-SQL oracle:
  *  1. exact-regime sizing — sketch parameters chosen so the structure is
  *     provably exact at verify scale (see [[ExactRegime]]; CMS/top-k run at
  *     the default sizes, whose capacity is >= the key domain);
  *  2. formula replication — when the structure is exact but its read-out
  *     interpolates (t-digest quantile over singleton centroids, CMM's
  *     bias-corrected estimator), the oracle SQL replicates the exact
  *     arithmetic, which is bit-identical across engines (IEEE doubles, same
  *     operation order);
  *  3. bounded-check gating — genuinely approximate outputs (Bloom jaccard,
  *     HLL set algebra) are emitted as exact counts computed BOTH ways plus
  *     booleans asserting the estimate sits inside its published bound; the
  *     booleans are deterministic w.o.p. and the data is fixed.
  *
  * The exact-regime sizing rule, for per-group n at the verify scale
  * factors (sf0.1: ~20k values per event type, ~98.5k latency deltas in one
  * global group, 1.5k distinct users):
  *  - KLL does no compaction while n < k, so every quantile is an exact
  *    order statistic (k = 32768; q_salted_agg fails loudly past it);
  *  - t-digest keeps one centroid per value while nc > πn/2, so its
  *    quantile/cdf are fixed interpolations over order statistics
  *    (nc = 2^18 covers n up to ~166k; buffers grow lazily, so small groups
  *    do not pay for the width);
  *  - HLL at p = 18 stays in its sparse phase up to 65536 entries, and sparse
  *    linear counting over 2^25 buckets rounds to the exact cardinality while
  *    n²/2^26 < 0.5, i.e. n ≲ 5.8k. q_hll_global_users_estimate gates the
  *    estimate within 1% instead of exact equality, so it holds at ANY scale
  *    factor (1% is >5σ even after a promote to dense p = 18, std 0.2%).
  */
object SketchQueries {
  private val fns = SketchFunctions.default

  /** The one exact-regime config (sizing rule in the header). */
  private[graft] val ExactRegime = SketchConfig(kllK = 32768, tdigestCentroids = 262144, hllP = 18)
  private val exactFns = SketchFunctions(ExactRegime)

  /** One entry per sketch operator family from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CMS point queries (count-min.js:67-78): exact on the small domain.
    // ONE scan: the probe list (distinct event types — a tiny domain, and
    // non-null in every driver table) rides the same aggregation as the
    // sketch via collect_set, instead of a second full scan + crossJoin
    // (guide §1.2: don't read the fact table twice for a probe list).
    "q_cms_event_counts" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      sortedSmall(
        ev.agg(fns.cmsAgg(col("event_type")).as("sk"),
            sort_array(collect_set(col("event_type"))).as("types"))
          .select(explode(col("types")).as("event_type"), col("sk"))
          .select(col("event_type"), fns.cmsQuery(col("sk"), col("event_type")).as("cnt")),
        col("event_type"))
    },
    // CMM bias-corrected estimator (count-mean-min.js:31-49); same
    // single-scan probe-list shape as q_cms_event_counts
    "q_cmm_event_counts" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      sortedSmall(
        ev.agg(fns.cmmAgg(col("event_type")).as("sk"),
            sort_array(collect_set(col("event_type"))).as("types"))
          .select(explode(col("types")).as("event_type"), col("sk"))
          .select(col("event_type"), fns.cmmQuery(col("sk"), col("event_type")).as("est")),
        col("event_type"))
    },
    // CMS/CMM sketch-space inner products (count-min.js:83-103,
    // count-mean-min.js:54-77) + num accessor; the CMM dot is gated within
    // 1% of the exact inner product (collision-free regime)
    "q_cms_dot_events" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val a = ev.filter(col("event_id") % 2 === 0).agg(
        fns.cmsAgg(col("event_type")).as("a"), fns.cmmAgg(col("event_type")).as("ma"))
      val b = ev.filter(col("event_id") % 2 === 1).agg(
        fns.cmsAgg(col("event_type")).as("b"), fns.cmmAgg(col("event_type")).as("mb"))
      a.crossJoin(b).select(
        fns.cmsDot(col("a"), col("b")).as("dot"),
        fns.cmsNum(col("a")).as("na"),
        fns.cmsNum(col("b")).as("nb"),
        (abs(fns.cmmDot(col("ma"), col("mb")) - fns.cmsDot(col("a"), col("b")))
          < fns.cmsDot(col("a"), col("b")) * 0.01).as("cmm_dot_ok"))
    },
    // StreamSummary top-k + point query/error accessors
    // (stream-summary.js:110-200): capacity >= domain ⇒ exact
    "q_topk_event_types" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      sortedSmall(
        ev.agg(fns.topkAgg(col("event_type")).as("sk"))
          .select(col("sk"), explode(fns.topkAll(col("sk"))).as("e"))
          .select(col("e.value").as("value"), col("e.count").as("cnt"),
            col("e.error").as("err"),
            fns.topkQuery(col("sk"), col("e.value")).as("qcnt")),
        col("value"))
    },
    // WEIGHTED Space-Saving ingestion (stream-summary.js:84-138 add(v,count)
    // — the §2.2 weighted-add path) on the driver gate: per-key counts are
    // PRE-AGGREGATED (the map-side-combine shape a 100 TB pipeline feeds a
    // top-k from — k rows into the sketch instead of n), then added with
    // their weights in one pass. Exact regime: distinct keys << capacity
    // (5 event types vs 100 counters), so counts are exact and errors 0 —
    // the weighted path must reproduce the raw per-row counts bit-for-bit.
    "q_topk_weighted" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val pre = ev.groupBy(col("event_type")).agg(count(lit(1)).as("c"))
      sortedSmall(
        pre.agg(fns.topkWeightedAgg(col("event_type"), col("c")).as("sk"))
          .select(explode(fns.topkAll(col("sk"))).as("e"))
          .select(col("e.value").as("value"), col("e.count").as("cnt"),
            col("e.error").as("err")),
        col("cnt").desc, col("value"))
    },
    // Bloom membership (bloom.js:64-77): no false negatives; FPR ~0 at 1MB.
    // ONE scan: the probe list (distinct brands — tiny non-null domain —
    // plus two never-inserted sentinels) rides the sketch aggregation via
    // collect_set instead of a second scan + crossJoin.
    "q_bloom_brand_membership" -> { (s, dir) =>
      val part = table(s, dir, "part")
      sortedSmall(
        part.agg(fns.bloomAgg(col("p_brand")).as("sk"),
            concat(sort_array(collect_set(col("p_brand"))),
              array(lit("ZZZ_NOPE_1"), lit("ZZZ_NOPE_2"))).as("probes"))
          .select(explode(col("probes")).as("probe"), col("sk"))
          .select(col("probe"), fns.bloomContains(col("sk"), col("probe")).as("present")),
        col("probe"))
    },
    // HLL++ distinct counts (sparse phase exact at this cardinality)
    "q_hll_users_per_nation" -> { (s, dir) =>
      sortedSmall(
        table(s, dir, "customer")
          .groupBy(col("c_nationkey"))
          .agg(fns.hllLongAgg(col("c_custkey")).as("sk"))
          .select(col("c_nationkey"), fns.hllCardinality(col("sk")).as("d")),
        col("c_nationkey"))
    },
    "q_hll_users_per_event_type" -> { (s, dir) =>
      sortedSmall(
        table(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(fns.hllLongAgg(col("user_id")).as("sk"))
          .select(col("event_type"), fns.hllCardinality(col("sk")).as("d")),
        col("event_type"))
    },
    // global HLL cardinality next to the engine-side exact count, gated
    // within 1% (see the header's sizing rule: exact equality would silently
    // break past ~6k distinct; the 1% gate is deterministic at every SF)
    "q_hll_global_users_estimate" -> { (s, dir) =>
      table(s, dir, "events").agg(
        exactFns.hllLongAgg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("users_exact"))
        .select(col("users_exact"),
          (abs(exactFns.hllCardinality(col("sk")) - col("users_exact"))
            <= greatest(lit(1L), col("users_exact") / 100)).as("hll_within_1pct"))
    },
    // HLL SET ALGEBRA (north-rule HLL surface): two overlapping user
    // populations (user_id mod-3 halves, the q_bloom_jaccard_halves shape —
    // partial overlap guaranteed at every SF), each aggregated into an HLL
    // by CONDITIONAL aggregation (`when(pred, id)` — the UDAF skips nulls),
    // so both sketches AND the exact gate counts come out of ONE scan of
    // the table: at 100 TB the production side is a single pass producing
    // two ~16 KB states, then union / intersection / Jaccard are three
    // scalar calls (register-max merge + inclusion–exclusion). The exact
    // COUNT(DISTINCT)s exist only for the oracle gate (their Expand-based
    // distinct plan is the part a real pipeline would not run); the
    // inclusion–exclusion error is bounded by the union's standard error,
    // so every tolerance is relative to |A∪B| (+2 absolute floor for the
    // near-exact sparse regime at tiny SFs).
    "q_hll_set_algebra" -> { (s, dir) =>
      val inA = col("user_id") % 3 =!= 0
      val inB = col("user_id") % 3 =!= 1
      val tol = greatest(lit(2.0), col("users_union") * 0.02)
      // Dedup users FIRST (one map-side-partial groupBy of the scan), then
      // every population count is a plain conditional count and each HLL
      // ingests each user once: the original single-agg form computed four
      // countDistincts in one aggregate, which plans as a 4-way Expand —
      // every scanned row multiplied into 4 distinct-group rows before the
      // exchange. HLL states are bit-identical either way (register-max is
      // insertion-multiplicity- and order-invariant), and the exact counts
      // are the same distinct counts. Same one-scan pass count; 4x fewer
      // rows into the wide aggregation.
      table(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id")).distinct()
        .agg(
        fns.hllLongAgg(when(inA, col("user_id"))).as("a"),
        fns.hllLongAgg(when(inB, col("user_id"))).as("b"),
        count(when(inA, 1)).as("users_a"),
        count(when(inB, 1)).as("users_b"),
        count(when(inA && inB, 1)).as("users_inter"),
        count(lit(1)).as("users_union"))
      // one-pass struct UDF: all three numbers from a single
      // deserialize+merge of the two states (the scalar accessors each
      // redo the pass — 3× the work per group in a grouped query)
      .withColumn("sa", fns.hllSetAlgebra(col("a"), col("b")))
      .select(
        col("users_a"), col("users_b"), col("users_inter"), col("users_union"),
        (abs(col("sa.union") - col("users_union")) <= tol).as("union_ok"),
        (abs(col("sa.intersection") - col("users_inter")) <= tol).as("inter_ok"),
        // empty/all-null-user table ⇒ 0/0 = NaN in the exact ratio: fail
        // loudly with the cause (q_salted_agg precedent) instead of a
        // silent oracle mismatch
        when(col("users_union") === 0,
          raise_error(lit("q_hll_set_algebra: events has no non-null user_id")))
          .otherwise(abs(col("sa.jaccard")
            - col("users_inter") / col("users_union")) <= 0.02).as("jaccard_ok"))
    },
    // t-digest extremes + total weight, exact in singleton-centroid regime
    "q_tdigest_value_extrema" -> { (s, dir) =>
      sortedSmall(
        table(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(exactFns.tdigestAgg(col("value")).as("sk"))
          .select(col("event_type"),
            // round(·,6): the reference's mean-recentering (t-digest.js:168)
            // injects ~1-ulp float noise into min/max; the data is 2-decimal,
            // so 6-decimal rounding is lossless and both engines agree bitwise
            round(exactFns.tdigestQuantile(col("sk"), lit(0.0)), 6).as("vmin"),
            round(exactFns.tdigestQuantile(col("sk"), lit(1.0)), 6).as("vmax"),
            exactFns.tdigestSize(col("sk")).as("n")),
        col("event_type"))
    },
    // t-digest mid-quantiles + cdf at the boundaries AND at two interior
    // probe values. In the singleton regime quantile(q)/cdf(v) are fixed
    // interpolations over order statistics (t-digest.js:212-235, 239-265 —
    // including cdf's back-shift when v falls below the left midpoint
    // boundary) which the DuckDB oracle replicates branch-for-branch;
    // 6-decimal rounding absorbs the ~1-ulp noise of the digest's
    // buffered-merge arithmetic. v=250 sits above some groups' max at
    // sf0.001, so the v>max → 1.0 guard is on the executed path too.
    "q_tdigest_value_quantiles" -> { (s, dir) =>
      sortedSmall(
        table(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(exactFns.tdigestAgg(col("value")).as("sk"))
          .select(col("event_type"),
            round(exactFns.tdigestQuantile(col("sk"), lit(0.5)), 6).as("p50"),
            round(exactFns.tdigestQuantile(col("sk"), lit(0.9)), 6).as("p90"),
            exactFns.tdigestCdf(col("sk"), lit(-1e18)).as("cdf_low"),
            exactFns.tdigestCdf(col("sk"), lit(1e18)).as("cdf_high"),
            round(exactFns.tdigestCdf(col("sk"), lit(100.0)), 6).as("cdf_100"),
            round(exactFns.tdigestCdf(col("sk"), lit(250.0)), 6).as("cdf_250")),
        col("event_type"))
    },
    // KLL inverse-CDF quantiles, exact with zero compactions
    "q_kll_value_quantiles" -> { (s, dir) =>
      sortedSmall(
        table(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(exactFns.kllAgg(col("value")).as("sk"))
          .select(col("event_type"),
            exactFns.kllQuantile(col("sk"), lit(0.25)).as("p25"),
            exactFns.kllQuantile(col("sk"), lit(0.5)).as("p50"),
            exactFns.kllQuantile(col("sk"), lit(0.75)).as("p75"),
            exactFns.kllQuantile(col("sk"), lit(0.99)).as("p99")),
        col("event_type"))
    },
    // flagship latency shape (SURVEY.md §7.3): lag() window per entity →
    // t-digest of the deltas; exact-regime digest + replicated
    // interpolation formula in the oracle
    "q_latency_quantiles" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      // seconds, not µs: keeps quantile magnitudes ~1e5 where the 6-decimal
      // rounding grid is far above double ulp, so 1-ulp arithmetic noise
      // between engines can never flip a rounded digit
      val deltas = ev
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .filter(col("prev_ts").isNotNull)
        .select(((unix_micros(col("ts").cast("timestamp"))
          - unix_micros(col("prev_ts").cast("timestamp")))
          .cast("double") / 1000000.0).as("delta_s"))
      deltas.agg(exactFns.tdigestAgg(col("delta_s")).as("sk"))
        .select(
          round(exactFns.tdigestQuantile(col("sk"), lit(0.5)), 6).as("p50_s"),
          round(exactFns.tdigestQuantile(col("sk"), lit(0.95)), 6).as("p95_s"),
          exactFns.tdigestSize(col("sk")).as("n"))
    },
    // NGram counting (ngram.js:19-40): exact by construction
    "q_ngram_gram_counts" -> { (s, dir) =>
      val sp = s
      import sp.implicits._
      val part = table(s, dir, "part")
      val sk = part.agg(fns.ngramAgg(col("p_name")).as("sk"))
      sortedSmall(
        Seq("an", "ol", "ra", "re").toDF("gram")
          .crossJoin(sk)
          .select(col("gram"), fns.ngramQuery(col("sk"), col("gram")).as("cnt")),
        col("gram"))
    },
    // NGram similarity surface + size/norm accessors (ngram.js:44-80)
    "q_ngram_brand_similarity" -> { (s, dir) =>
      val part = table(s, dir, "part")
      val a = part.filter(col("p_brand") === "Brand#1").agg(fns.ngramAgg(col("p_name")).as("a"))
      val b = part.filter(col("p_brand") === "Brand#2").agg(fns.ngramAgg(col("p_name")).as("b"))
      a.crossJoin(b).select(
        fns.ngramDot(col("a"), col("b")).as("dot"),
        fns.ngramCosine(col("a"), col("b")).as("cosine"),
        fns.ngramSize(col("a")).cast("long").as("size_a"),
        fns.ngramNorm(col("a")).as("norm_a"))
    },
    // Bloom set-comparison estimators (bloom.js:80-144) over two
    // partially-overlapping p_name sets: exact counts computed both ways,
    // estimators gated inside tight absolute/relative bounds (the filters
    // run at ~0.1% fill where the log-fill estimates are near-exact)
    "q_bloom_jaccard_halves" -> { (s, dir) =>
      val part = table(s, dir, "part")
      val flags = part.select(col("p_name"),
        (col("p_partkey") % 3 =!= 0).as("ina"),
        (col("p_partkey") % 3 =!= 1).as("inb"))
      val m = flags.groupBy(col("p_name"))
        .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))
      val exact = m.agg(
        sum(when(col("ina"), 1L).otherwise(0L)).as("names_a"),
        sum(when(col("inb"), 1L).otherwise(0L)).as("names_b"),
        sum(when(col("ina") && col("inb"), 1L).otherwise(0L)).as("names_inter"),
        count(lit(1)).as("names_union"))
      val a = part.filter(col("p_partkey") % 3 =!= 0).agg(fns.bloomAgg(col("p_name")).as("a"))
      val b = part.filter(col("p_partkey") % 3 =!= 1).agg(fns.bloomAgg(col("p_name")).as("b"))
      exact.crossJoin(a).crossJoin(b).select(
        col("names_a"), col("names_b"), col("names_inter"), col("names_union"),
        (abs(fns.bloomJaccard(col("a"), col("b"))
          - col("names_inter") / col("names_union")) < 0.01).as("jaccard_ok"),
        (abs(fns.bloomCover(col("a"), col("b"))
          - col("names_inter") / least(col("names_a"), col("names_b"))) < 0.01)
          .as("cover_ok"),
        (abs(fns.bloomSize(col("a")) - col("names_a")) < col("names_a") * 0.01)
          .as("size_ok"))
    },
    // Sketches as JOIN infrastructure — runtime row-level filtering
    // (bloom.js:64-77 query surface applied to a relational plan): build a
    // Bloom over the DIM side's join keys with the library's own mergeable
    // UDAF and push `bloom_contains` onto the FACT side BEFORE the join.
    // Bloom filters have no false negatives, so the prefiltered join
    // returns EXACTLY the plain join's rows (false positives only ride to
    // the exact join and drop there) — THAT equality is what this row
    // gates against the plain-join oracle; a bloom losing a key would
    // undercount matched_rows and go red. At 100 TB with a dim too large
    // to broadcast-join (shuffle join on both sides), the ~KB bloom state
    // still broadcasts and cuts the fact side's shuffle volume to
    // ~selectivity·N — the same idea as Catalyst's InjectRuntimeFilter,
    // expressed with the library's sketch so it also works where the
    // optimizer can't see the relationship (pre-aggregated sketch tables
    // persisted across jobs). One fact scan: pass/match stats come from
    // conditional aggregation over the same rows the filter gates. The
    // sketch is collected to the driver (ONE ~KB row — the IVF-codebook
    // precedent for bounded collects) and decoded ONCE into the filter
    // closure (`bloomContainsConst`): per-row `fromBytes` of the bit array
    // would dwarf the membership query itself at fact-table row counts.
    // prefilter_ok bounds the false-positive mass in exact integer
    // arithmetic: fp·100 ≤ nonmatch + 1000, i.e. FPR ≤ 1% + slack —
    // create(8192, 0.001) realizes ~0.1%, a 10× margin. The value sum is
    // over floor(value·1000) integers: order-free, bit-identical across
    // engines.
    "q_bloom_join_filter" -> { (s, dir) =>
      val dim = table(s, dir, "customer").filter(col("c_nationkey") === 2)
        .select(col("c_custkey"))
      val bf = dim.agg(
        fns.bloomCreateAgg(8192, 0.001)(col("c_custkey").cast("string")).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
      val hit = fns.bloomContainsConst(bf)(col("user_id").cast("string"))
      val matched = col("hit") && col("m").isNotNull
      table(s, dir, "events")
        .withColumn("hit", hit)
        .join(broadcast(dim.select(col("c_custkey").as("user_id"), lit(1).as("m"))),
          Seq("user_id"), "left")
        .agg(
          count(lit(1)).as("total_rows"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("pass_rows"),
          sum(when(matched, 1L).otherwise(0L)).as("matched_rows"),
          countDistinct(when(matched, col("user_id"))).as("matched_users"),
          sum(when(matched, floor(col("value") * 1000).cast("long")))
            .as("value_sum_milli"))
        .select(col("matched_rows"), col("matched_users"), col("value_sum_milli"),
          (col("pass_rows") >= col("matched_rows") &&
            (col("pass_rows") - col("matched_rows")) * 100
              <= (col("total_rows") - col("matched_rows")) + 1000)
            .as("prefilter_ok"))
    },
    // capacity-sized construction path (Bloom.create(n, p) /
    // CountMin.create(n, e, p), SURVEY.md §2.1): the realized width/depth
    // are read back off the executed sketches and gated against the
    // closed-form sizing formulas, which the oracle evaluates independently
    // (including the reference's truncation and the CMS d=⌈ln 1000⌉=7
    // default-depth quirk vs the plain constructor's 9). The sized CMS is
    // collision-free on the brand domain, so its point query equals the
    // exact count; the sized Bloom's linear-counting size estimate is gated
    // within 2% = its design FPR regime.
    "q_sized_sketches" -> { (s, dir) =>
      val part = table(s, dir, "part")
      val sk = part.agg(
        fns.bloomCreateAgg(2000, 0.02)(col("p_name")).as("bloom"),
        fns.cmsCreateAgg(50000L, 25.0, 0.001)(col("p_brand")).as("cms"),
        countDistinct(col("p_name")).as("names_exact"),
        sum(when(col("p_brand") === "Brand#1", 1L).otherwise(0L)).as("brand1_exact"))
      sk.select(
        fns.bloomWidth(col("bloom")).cast("long").as("bloom_w"),
        fns.bloomDepth(col("bloom")).cast("long").as("bloom_d"),
        fns.cmsWidth(col("cms")).cast("long").as("cms_w"),
        fns.cmsDepth(col("cms")).cast("long").as("cms_d"),
        col("names_exact"),
        (abs(fns.bloomSize(col("bloom")) - col("names_exact"))
          <= greatest(lit(1.0), col("names_exact") * 0.02)).as("bloom_size_ok"),
        fns.cmsQuery(col("cms"), lit("Brand#1")).as("cms_brand1"),
        col("brand1_exact"))
    },
    // skew-defusing two-phase aggregation on the driver-visible path
    // (north-rule "salted pre-aggregation to defuse conv_id skew",
    // jobs/SaltedAgg.scala): phase 1 groups by (event_type, salt-bucket of
    // user_id) building partial sketches, phase 2 merges partials per
    // event_type — a hot key's rows spread over 8 reducers instead of one.
    // Because every sketch merge is associative+commutative, the salted
    // answer equals the unsalted one: HLL register-max is order-free
    // (bitwise-identical state), and the KLL stays in the zero-compaction
    // exact regime (per-group n << k = 32768), so both columns match the
    // exact DuckDB aggregation. The executed plan is the two-phase shape:
    // two HashAggregate pairs with an exchange on (event_type, __salt)
    // then on event_type.
    "q_salted_agg" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      sortedSmall(
        graft.jobs.SaltedAgg(
          ev, Seq("event_type"), col("user_id"), buckets = 8,
          partialAggs = Seq(
            fns.hllLongAgg(col("user_id")).as("hll"),
            exactFns.kllAgg(col("value")).as("kll"),
            count(lit(1)).as("n")),
          finalAggs = Seq(
            fns.hllMergeAgg(col("hll")).as("hll"),
            exactFns.kllMergeAgg(col("kll")).as("kll"),
            sum(col("n")).as("n")))
          .select(col("event_type"),
            fns.hllCardinality(col("hll")).as("users"),
            // the exactness precondition ENFORCED in-plan (ADVICE r4): a
            // group big enough for KLL compaction (n >= k) would silently
            // turn value_p50 approximate and fail the oracle hash with no
            // hint — fail loudly with the cause instead (sf0.1 is ~20k/type;
            // a future sf1 run trips this with a clear message)
            when(col("n") >= exactFns.config.kllK,
              raise_error(concat(lit("q_salted_agg: per-group n="), col("n"),
                lit(s" >= kllK=${exactFns.config.kllK} — KLL leaves the " +
                  "zero-compaction exact regime; raise kllK or re-derive the oracle"))))
              .otherwise(exactFns.kllQuantile(col("kll"), lit(0.5))).as("value_p50"),
            col("n")),
        col("event_type"))
    },
    // JSON interop codec on the executed path (SURVEY.md §2.5,
    // bloom.js:147-159 / count-min.js:106-118 / ngram.js:83-95 /
    // stream-summary.js:203-230 / t-digest.js:296-317): every sketch kind
    // is exported to the reference's JSON shape, re-imported, and the
    // round trip is gated two ways — the re-export must be byte-identical
    // JSON (export∘import is the identity on the reference shape) and the
    // imported sketch must answer a query identically to the original.
    "q_json_roundtrip" -> { (s, dir) =>
      import graft.sketch._
      val bloomRt = udf((b: Array[Byte]) => {
        val sk = BloomSketch.fromBytes(b); val j = JsonCodec.toJson(sk)
        val sk2 = JsonCodec.bloomFromJson(j)
        JsonCodec.toJson(sk2) == j && sk2.size == sk.size
      })
      val cmsRt = udf((b: Array[Byte]) => {
        val sk = CmsSketch.fromBytes(b); val j = JsonCodec.toJson(sk)
        val sk2 = JsonCodec.cmsFromJson(j)
        JsonCodec.toJson(sk2) == j && sk2.query("click") == sk.query("click")
      })
      val topkRt = udf((b: Array[Byte]) => {
        val sk = SpaceSavingSketch.fromBytes(b); val j = JsonCodec.toJson(sk)
        val sk2 = JsonCodec.spaceSavingFromJson(j)
        JsonCodec.toJson(sk2) == j && sk2.topK(None) == sk.topK(None)
      })
      val tdRt = udf((b: Array[Byte]) => {
        val sk = TDigestSketch.fromBytes(b); val j = JsonCodec.toJson(sk)
        val sk2 = JsonCodec.tdigestFromJson(j)
        JsonCodec.toJson(sk2) == j && sk2.quantile(0.5) == sk.quantile(0.5)
      })
      val ngramRt = udf((b: Array[Byte]) => {
        val sk = NGramSketch.fromBytes(b); val j = JsonCodec.toJson(sk)
        val sk2 = JsonCodec.ngramFromJson(j)
        JsonCodec.toJson(sk2) == j && sk2.norm == sk.norm
      })
      val ev = table(s, dir, "events").agg(
        fns.cmsAgg(col("event_type")).as("cms"),
        fns.topkAgg(col("event_type")).as("topk"),
        exactFns.tdigestAgg(col("value")).as("td"),
        count(lit(1)).as("n_events"))
      val pt = table(s, dir, "part").agg(
        fns.bloomAgg(col("p_brand")).as("bloom"),
        fns.ngramAgg(col("p_name")).as("ngram"))
      ev.crossJoin(pt).select(
        col("n_events"),
        bloomRt(col("bloom")).as("bloom_ok"),
        cmsRt(col("cms")).as("cms_ok"),
        topkRt(col("topk")).as("topk_ok"),
        tdRt(col("td")).as("tdigest_ok"),
        ngramRt(col("ngram")).as("ngram_ok"))
    })

  // ---- oracle SQL builders ----

  /** DuckDB column fragments replicating TDigestSketch.quantile over
    * singleton centroids (see t-digest.js:212-235): given a sorted value
    * list `vs` (1-indexed) and its length `n`, quantile(q) interpolates
    * between midpoint boundaries of adjacent order statistics. The fragment
    * pair (mid, fin) must be applied in two SELECT layers.
    */
  private def tdqMid(q: String, sfx: String): String =
    s"$q * n AS qp$sfx, CASE WHEN floor($q * n) = $q * n THEN CAST($q * n AS BIGINT) - 1 " +
      s"ELSE CAST(floor($q * n) AS BIGINT) END AS i$sfx"
  private def tdqBounds(sfx: String): String =
    s"CASE WHEN i$sfx > 0 THEN vs[CAST(i$sfx AS INT)] + (vs[CAST(i$sfx + 1 AS INT)] - " +
      s"vs[CAST(i$sfx AS INT)]) * (1.0e0 / 2.0e0) ELSE vs[1] END AS l$sfx, " +
      s"CASE WHEN i$sfx < n - 1 THEN vs[CAST(i$sfx + 1 AS INT)] + (vs[CAST(i$sfx + 2 AS INT)]" +
      s" - vs[CAST(i$sfx + 1 AS INT)]) * (1.0e0 / 2.0e0) ELSE vs[CAST(n AS INT)] END AS r$sfx"
  private def tdqFin(sfx: String): String =
    s"CASE WHEN n = 1 THEN vs[1] ELSE l$sfx + (r$sfx - l$sfx) * (qp$sfx - i$sfx) END"

  /** DuckDB fragments replicating TDigestSketch.cdf over singleton centroids
    * (t-digest.js:239-265) branch for branch: i = #values < v (bisect), l/r
    * = midpoint boundaries (or min/max at the edges), back-shift one
    * interval when v < l, then (i + interp(v, l, r)) / n with the v<min → 0
    * and v>max → 1 guards. Four SELECT layers: ci → bounds → shift → fin.
    */
  private def cdfI(v: String, sfx: String): String =
    s"len(list_filter(vs, x -> x < $v)) AS ci$sfx"
  private def cdfBounds(v: String, sfx: String): String =
    s"CASE WHEN ci$sfx > 0 THEN vs[CAST(ci$sfx AS INT)] + (vs[CAST(ci$sfx + 1 AS INT)] - " +
      s"vs[CAST(ci$sfx AS INT)]) * (1.0e0 / 2.0e0) ELSE vs[1] END AS cl$sfx, " +
      s"CASE WHEN ci$sfx < n - 1 THEN vs[CAST(ci$sfx + 1 AS INT)] + " +
      s"(vs[CAST(ci$sfx + 2 AS INT)] - vs[CAST(ci$sfx + 1 AS INT)]) * (1.0e0 / 2.0e0) " +
      s"ELSE vs[CAST(n AS INT)] END AS cr$sfx"
  private def cdfShift(v: String, sfx: String): String =
    s"CASE WHEN $v < cl$sfx THEN ci$sfx - 1 ELSE ci$sfx END AS ci2$sfx, " +
      s"CASE WHEN $v < cl$sfx THEN (CASE WHEN ci$sfx - 1 <> 0 THEN " +
      s"vs[CAST(ci$sfx - 1 AS INT)] + (vs[CAST(ci$sfx AS INT)] - " +
      s"vs[CAST(ci$sfx - 1 AS INT)]) * (1.0e0 / 2.0e0) ELSE vs[1] END) " +
      s"ELSE cl$sfx END AS cl2$sfx, " +
      s"CASE WHEN $v < cl$sfx THEN cl$sfx ELSE cr$sfx END AS cr2$sfx"
  private def cdfFin(v: String, sfx: String): String =
    s"CASE WHEN $v < vs[1] THEN 0.0e0 WHEN $v > vs[CAST(n AS INT)] THEN 1.0e0 ELSE " +
      s"(ci2$sfx + (CASE WHEN cr2$sfx - cl2$sfx > 1e-300 THEN " +
      s"($v - cl2$sfx) / (cr2$sfx - cl2$sfx) ELSE 0.5e0 END)) / n END"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  val oracleSql: Map[String, String] = Map(
    "q_cms_event_counts" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type",
    "q_cmm_event_counts" ->
      """WITH c AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS cnt FROM events GROUP BY event_type),
        |     t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM events)
        |SELECT event_type,
        |       CASE WHEN raw < 0 THEN 0 WHEN raw > cnt THEN cnt ELSE raw END AS est
        |FROM (SELECT event_type, cnt, cnt - (total - cnt) * (1.0/27190.0) AS raw FROM c, t) x
        |ORDER BY event_type""".stripMargin,
    "q_cms_dot_events" ->
      """WITH a AS (SELECT event_type, count(*) AS c FROM events WHERE event_id % 2 = 0 GROUP BY 1),
        |     b AS (SELECT event_type, count(*) AS c FROM events WHERE event_id % 2 = 1 GROUP BY 1)
        |SELECT CAST(COALESCE(SUM(a.c*b.c), 0) AS DOUBLE) AS dot,
        |       (SELECT count(*) FROM events WHERE event_id % 2 = 0) AS na,
        |       (SELECT count(*) FROM events WHERE event_id % 2 = 1) AS nb,
        |       TRUE AS cmm_dot_ok
        |FROM a JOIN b USING (event_type)""".stripMargin,
    // weighted add over pre-aggregated (key, count) pairs reproduces the
    // raw counts exactly in the keys<<capacity regime
    "q_topk_weighted" ->
      """SELECT event_type AS value, count(*) AS cnt, CAST(0 AS BIGINT) AS err
        |FROM events GROUP BY event_type
        |ORDER BY cnt DESC, value""".stripMargin,
    "q_topk_event_types" ->
      """SELECT event_type AS value, count(*) AS cnt, CAST(0 AS BIGINT) AS err,
        |       count(*) AS qcnt
        |FROM events GROUP BY event_type ORDER BY value""".stripMargin,
    "q_bloom_brand_membership" ->
      """SELECT probe, present FROM (
        |  SELECT p_brand AS probe, TRUE AS present FROM (SELECT DISTINCT p_brand FROM part)
        |  UNION ALL SELECT 'ZZZ_NOPE_1' AS probe, FALSE AS present
        |  UNION ALL SELECT 'ZZZ_NOPE_2' AS probe, FALSE AS present)
        |ORDER BY probe""".stripMargin,
    "q_hll_users_per_nation" ->
      "SELECT c_nationkey, count(DISTINCT c_custkey) AS d FROM customer GROUP BY c_nationkey ORDER BY c_nationkey",
    "q_hll_users_per_event_type" ->
      "SELECT event_type, count(DISTINCT user_id) AS d FROM events GROUP BY event_type ORDER BY event_type",
    "q_hll_global_users_estimate" ->
      """SELECT count(DISTINCT user_id) AS users_exact, TRUE AS hll_within_1pct
        |FROM events""".stripMargin,
    // the exact set sizes are recomputed independently; the three estimate
    // gates (tolerances relative to |A∪B|, see the query) must all hold
    "q_hll_set_algebra" ->
      """SELECT count(DISTINCT CASE WHEN user_id % 3 <> 0 THEN user_id END) AS users_a,
        |       count(DISTINCT CASE WHEN user_id % 3 <> 1 THEN user_id END) AS users_b,
        |       count(DISTINCT CASE WHEN user_id % 3 = 2 THEN user_id END) AS users_inter,
        |       count(DISTINCT user_id) AS users_union,
        |       TRUE AS union_ok, TRUE AS inter_ok, TRUE AS jaccard_ok
        |FROM events""".stripMargin,
    "q_tdigest_value_extrema" ->
      """SELECT event_type, round(min(value), 6) AS vmin, round(max(value), 6) AS vmax,
        |       CAST(count(value) AS DOUBLE) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_tdigest_value_quantiles" -> {
      """WITH g AS (SELECT event_type, list(value ORDER BY value) AS vs, count(*) AS n
        |           FROM events GROUP BY event_type),
        |c AS (SELECT event_type, vs, n, MID50, MID90, CDFI_A, CDFI_B FROM g),
        |b AS (SELECT *, BND50, BND90, CDFB_A, CDFB_B FROM c),
        |s AS (SELECT *, CDFS_A, CDFS_B FROM b)
        |SELECT event_type,
        |       round(FIN50, 6) AS p50,
        |       round(FIN90, 6) AS p90,
        |       0.0e0 AS cdf_low, 1.0e0 AS cdf_high,
        |       round(CDFF_A, 6) AS cdf_100,
        |       round(CDFF_B, 6) AS cdf_250
        |FROM s ORDER BY event_type""".stripMargin
        .replace("MID50", tdqMid("0.5e0", "50")).replace("MID90", tdqMid("0.9e0", "90"))
        .replace("BND50", tdqBounds("50")).replace("BND90", tdqBounds("90"))
        .replace("FIN50", tdqFin("50")).replace("FIN90", tdqFin("90"))
        .replace("CDFI_A", cdfI("100.0e0", "a")).replace("CDFI_B", cdfI("250.0e0", "b"))
        .replace("CDFB_A", cdfBounds("100.0e0", "a")).replace("CDFB_B", cdfBounds("250.0e0", "b"))
        .replace("CDFS_A", cdfShift("100.0e0", "a")).replace("CDFS_B", cdfShift("250.0e0", "b"))
        .replace("CDFF_A", cdfFin("100.0e0", "a")).replace("CDFF_B", cdfFin("250.0e0", "b"))
    },
    "q_kll_value_quantiles" ->
      """SELECT event_type,
        |       quantile_disc(value, 0.25) AS p25,
        |       quantile_disc(value, 0.5) AS p50,
        |       quantile_disc(value, 0.75) AS p75,
        |       quantile_disc(value, 0.99) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_latency_quantiles" -> {
      """WITH d AS (
        |  SELECT CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS DOUBLE) / 1000000.0e0 AS delta_s
        |  FROM events),
        |g AS (SELECT list(delta_s ORDER BY delta_s) AS vs, count(*) AS n
        |      FROM d WHERE delta_s IS NOT NULL),
        |c AS (SELECT vs, n, MID50, MID95 FROM g),
        |b AS (SELECT *, BND50, BND95 FROM c)
        |SELECT round(FIN50, 6) AS p50_s,
        |       round(FIN95, 6) AS p95_s,
        |       CAST(n AS DOUBLE) AS n
        |FROM b""".stripMargin
        .replace("MID50", tdqMid("0.5e0", "50")).replace("MID95", tdqMid("0.95e0", "95"))
        .replace("BND50", tdqBounds("50")).replace("BND95", tdqBounds("95"))
        .replace("FIN50", tdqFin("50")).replace("FIN95", tdqFin("95"))
    },
    "q_ngram_gram_counts" ->
      """WITH grams AS (
        |  SELECT lower(substr(p_name, CAST(i AS INT), 2)) AS gram
        |  FROM (SELECT p_name, unnest(range(1, length(p_name))) AS i FROM part))
        |SELECT g.gram, (SELECT count(*) FROM grams WHERE grams.gram = g.gram) AS cnt
        |FROM (SELECT unnest(['an','ol','ra','re']) AS gram) g ORDER BY gram""".stripMargin,
    "q_ngram_brand_similarity" ->
      """WITH ga AS (SELECT gram, count(*) AS c FROM (
        |       SELECT lower(substr(p_name, CAST(i AS INT), 2)) AS gram
        |       FROM (SELECT p_name, unnest(range(1, length(p_name))) AS i
        |             FROM part WHERE p_brand = 'Brand#1')) GROUP BY gram),
        |     gb AS (SELECT gram, count(*) AS c FROM (
        |       SELECT lower(substr(p_name, CAST(i AS INT), 2)) AS gram
        |       FROM (SELECT p_name, unnest(range(1, length(p_name))) AS i
        |             FROM part WHERE p_brand = 'Brand#2')) GROUP BY gram),
        |     d AS (SELECT CAST(COALESCE(SUM(ga.c*gb.c), 0) AS DOUBLE) AS dot
        |           FROM ga JOIN gb USING (gram)),
        |     na AS (SELECT sqrt(CAST(SUM(c*c) AS DOUBLE)) AS n, CAST(count(*) AS BIGINT) AS sz FROM ga),
        |     nb AS (SELECT sqrt(CAST(SUM(c*c) AS DOUBLE)) AS n FROM gb)
        |SELECT d.dot AS dot, d.dot/(na.n*nb.n) AS cosine,
        |       na.sz AS size_a, na.n AS norm_a
        |FROM d, na, nb""".stripMargin,
    "q_bloom_jaccard_halves" ->
      """WITH m AS (SELECT p_name,
        |                  max(CASE WHEN p_partkey % 3 <> 0 THEN 1 ELSE 0 END) AS ina,
        |                  max(CASE WHEN p_partkey % 3 <> 1 THEN 1 ELSE 0 END) AS inb
        |           FROM part GROUP BY p_name)
        |SELECT CAST(sum(ina) AS BIGINT) AS names_a,
        |       CAST(sum(inb) AS BIGINT) AS names_b,
        |       CAST(sum(ina * inb) AS BIGINT) AS names_inter,
        |       count(*) AS names_union,
        |       TRUE AS jaccard_ok, TRUE AS cover_ok, TRUE AS size_ok
        |FROM m""".stripMargin,
    // the plain join IS the truth: bloom prefiltering must lose nothing
    // (no false negatives) and the FP-rate bound is a Spark-side boolean
    "q_bloom_join_filter" ->
      """SELECT count(CASE WHEN c.c_custkey IS NOT NULL THEN 1 END) AS matched_rows,
        |       count(DISTINCT CASE WHEN c.c_custkey IS NOT NULL THEN e.user_id END) AS matched_users,
        |       CAST(sum(CASE WHEN c.c_custkey IS NOT NULL
        |                     THEN CAST(floor(e.value * 1000) AS BIGINT) END) AS BIGINT) AS value_sum_milli,
        |       TRUE AS prefilter_ok
        |FROM events e
        |LEFT JOIN (SELECT c_custkey FROM customer WHERE c_nationkey = 2) c
        |  ON e.user_id = c.c_custkey""".stripMargin,
    "q_sized_sketches" ->
      """SELECT
        |  CAST(ceil(CAST(trunc(-2000.0e0 * ln(0.02e0) / (ln(2.0e0)*ln(2.0e0))) AS BIGINT)
        |       / 32.0e0) * 32 AS BIGINT) AS bloom_w,
        |  CAST(trunc(((-2000.0e0 * ln(0.02e0) / (ln(2.0e0)*ln(2.0e0))) / 2000.0e0)
        |       * ln(2.0e0)) AS BIGINT) AS bloom_d,
        |  CAST(ceil(exp(1.0e0) / (25.0e0 / 50000.0e0)) AS BIGINT) AS cms_w,
        |  CAST(ceil(-ln(0.001e0)) AS BIGINT) AS cms_d,
        |  (SELECT count(DISTINCT p_name) FROM part) AS names_exact,
        |  TRUE AS bloom_size_ok,
        |  (SELECT count(*) FROM part WHERE p_brand = 'Brand#1') AS cms_brand1,
        |  (SELECT count(*) FROM part WHERE p_brand = 'Brand#1') AS brand1_exact""".stripMargin,
    // the salted two-phase plan must equal the plain exact aggregation:
    // HLL state is bitwise order-free, KLL stays zero-compaction exact
    "q_salted_agg" ->
      """SELECT event_type, count(DISTINCT user_id) AS users,
        |       quantile_disc(value, 0.5e0) AS value_p50, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // export∘import is the identity on the reference JSON shape and the
    // imported sketch answers queries identically — both checked engine-side
    // as booleans; DuckDB supplies the anchoring exact count
    "q_json_roundtrip" ->
      """SELECT count(*) AS n_events, TRUE AS bloom_ok, TRUE AS cms_ok,
        |       TRUE AS topk_ok, TRUE AS tdigest_ok, TRUE AS ngram_ok
        |FROM events""".stripMargin)
}
