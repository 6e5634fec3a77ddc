package graft.text

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Scalable quality-ranked token-budget selection — the training-mix
  * sampling step (per language stratum, keep documents in
  * (quality DESC, doc_id) total order until `frac` of the stratum's tokens
  * are spent), computed WITHOUT a per-stratum window.
  *
  * Why this exists: the declarative shape
  * `sum(tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id)`
  * is oracle-exact but puts every row of a language into ONE task — at
  * 100 TB an 80 TB English stratum lands on a single core and the job never
  * finishes. A running sum whose partition key is a handful of giant strata
  * is the textbook case where the window operator's partitioning model is
  * the bottleneck, not the arithmetic.
  *
  * The scalable plan is the classic two-job distributed prefix-sum over ONE
  * range shuffle (the same pattern `RDD.zipWithIndex` uses for its global
  * ordinal):
  *
  *  1. range-partition + sort by the total order (lang, quality DESC,
  *     doc_id) — partitions become consecutive slices of the global order,
  *     each holding ~1/P of the data regardless of stratum skew;
  *  2. job 1: one tiny row per (partition, lang run) — the run's token sum
  *     (a partition is sorted, so each lang is one contiguous run). The
  *     driver folds these P·L rows (P partitions × languages touched, a few
  *     KB) into per-stratum totals → budgets, and per-(partition, lang)
  *     EXCLUSIVE prefix offsets;
  *  3. job 2: broadcast the offsets + budgets, stream each partition once —
  *     seed the running sum from the partition's offset and keep rows while
  *     `offset + local running sum <= budget`.
  *
  * Job 2 reuses job 1's shuffle files (same RDD lineage ⇒ the exchange map
  * stage is skipped), so the expensive part — the profile UDFs + the range
  * exchange — runs exactly once; per-task state is one Long. The kept set is
  * bit-identical to the window formulation: range boundaries only decide
  * WHERE the global order is cut, never the order itself, and the budget is
  * the same `floor(total · frac)` IEEE-double arithmetic.
  *
  * This is the one deliberate RDD use outside SketchJob's checkpoint writer:
  * a cross-partition carry (each partition's seed depends on every earlier
  * partition's sum) is genuine per-partition imperative logic that the
  * DataFrame API cannot express without the degenerate single-partition
  * window. Input/output stay DataFrames.
  *
  * No reference counterpart (builder-brief addition: training-data pipeline
  * operators, like [[ConnectedComponents]]/[[VectorLsh]]/[[VectorIvf]]).
  */
object TokenBudget {

  /** Rows of `prof` kept by the per-`lang` token budget: within each lang,
    * in (quality DESC, doc_id ASC) order, rows whose inclusive running
    * `tokens` sum is ≤ floor(stratum total · frac). `prof` must have
    * columns `doc_id` (long), `lang` (string), `quality` (double),
    * `tokens` (long); output keeps exactly those columns, one row per kept
    * document. The range exchange has the session's shuffle-partition count
    * of slices.
    */
  def sample(prof: DataFrame, frac: Double): DataFrame = {
    val spark = prof.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val cols = Seq(col("doc_id").cast("long").as("doc_id"),
      col("lang").cast("string").as("lang"),
      col("quality").cast("double").as("quality"),
      col("tokens").cast("long").as("tokens"))
    val ranged = prof.select(cols: _*)
      .repartitionByRange(p, col("lang"), col("quality").desc, col("doc_id"))
      .sortWithinPartitions(col("lang"), col("quality").desc, col("doc_id"))
    val schema = ranged.schema
    // ONE materialization of this RDD value: both jobs below hang off it, so
    // job 2 skips the map stage (profile UDFs included) and reads the
    // shuffle files job 1 wrote
    val rdd = ranged.rdd

    // job 1: (partition, lang run) -> run token sum; runs are contiguous
    // because each partition is sorted by lang first
    val runSums: Array[(Int, Array[(String, Long)])] =
      rdd.mapPartitionsWithIndex { (pid, it) =>
        val runs = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        var lang: String = null
        var s = 0L
        it.foreach { r =>
          val l = r.getString(1)
          if (l != lang) {
            if (lang != null) runs += ((lang, s))
            lang = l; s = 0L
          }
          s += r.getLong(3)
        }
        if (lang != null) runs += ((lang, s))
        Iterator.single((pid, runs.toArray))
      }.collect()

    // driver fold (P×L tiny rows): stratum totals -> budgets; exclusive
    // per-(partition, lang) offsets in ascending partition order (range
    // partitions ARE the global order)
    val totals = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val offsets = scala.collection.mutable.HashMap.empty[(Int, String), Long]
    runSums.sortBy(_._1).foreach { case (pid, runs) =>
      runs.foreach { case (l, s) =>
        val seen = totals.getOrElse(l, 0L)
        offsets((pid, l)) = seen
        totals(l) = seen + s
      }
    }
    // floor(sum(tokens) * frac) in the same IEEE-double ops as the SQL
    // formulation (long -> double product, floor, back to long)
    val budgets: Map[String, Long] =
      totals.iterator.map { case (l, t) => l -> math.floor(t.toDouble * frac).toLong }.toMap
    val bOff = spark.sparkContext.broadcast(offsets.toMap)
    val bBud = spark.sparkContext.broadcast(budgets)

    // job 2: stream each partition once, running sum seeded from the
    // partition's offset; `cum` is non-decreasing (tokens >= 0), so the
    // filter is exactly the window formulation's `cum <= budget`
    val kept = rdd.mapPartitionsWithIndex { (pid, it) =>
      var lang: String = null
      var cum = 0L
      it.filter { r =>
        val l = r.getString(1)
        if (l != lang) { lang = l; cum = bOff.value.getOrElse((pid, l), 0L) }
        cum += r.getLong(3)
        cum <= bBud.value(l)
      }
    }
    spark.createDataFrame(kept, schema)
  }

  /** The per-stratum summary both the driver query and the oracle gate on:
    * kept-doc count, kept-token sum and the minimum kept quality per lang.
    */
  def sampleSummary(prof: DataFrame, frac: Double): DataFrame =
    sample(prof, frac)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs_kept"),
        sum(col("tokens")).as("tokens_kept"),
        min(col("quality")).as("min_quality"))
      .orderBy("lang")
}
