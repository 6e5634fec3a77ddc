package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** TokenBudget (two-job range prefix-sum) must select the EXACT set the
  * single-partition-per-stratum window formulation selects — range cuts
  * decide where the global order is sliced, never the order — across
  * partition counts (including partitions that split strata), stratum skew,
  * quality ties, zero-token rows and degenerate inputs.
  */
class TokenBudgetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-token-budget-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  /** A session whose shuffle-partition count — the number of range slices
    * `TokenBudget` cuts — is `p`. Never stopped: stopping it would stop the
    * SparkContext every session here shares.
    */
  private def session(p: Int): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", p.toLong)
    ss
  }

  /** The declarative reference: per-stratum window cumsum vs the
    * full-partition budget sum (the q_token_budget_sample shape). */
  private def windowSample(prof: DataFrame, frac: Double): DataFrame = {
    val ord = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("lang"))
    prof.withColumn("cum", sum(col("tokens")).over(ord))
      .withColumn("budget", floor(sum(col("tokens")).over(whole) * frac))
      .filter(col("cum") <= col("budget"))
      .select(col("doc_id"), col("lang"), col("quality"), col("tokens"))
  }

  private def keptSet(df: DataFrame): Set[(Long, String, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet

  /** Deterministic synthetic profile: `n` docs over skewed strata (en gets
    * ~70%), quality a hash-derived double with planted TIES, tokens with
    * planted zeros. */
  private def synthProf(ss: SparkSession, n: Int): DataFrame = {
    import ss.implicits._
    (0 until n).map { i =>
      val lang = if (i % 10 < 7) "en" else if (i % 10 < 9) "pt" else "de"
      val quality = ((i * 2654435761L) % 97) / 96.0 // 97 levels -> many ties
      val tokens = if (i % 13 == 0) 0L else 1L + (i * 40503L) % 200
      (i.toLong, lang, quality, tokens)
    }.toDF("doc_id", "lang", "quality", "tokens")
  }

  test("equals the window formulation across partition counts and fracs") {
    for (p <- Seq(1, 3, 7, 32); frac <- Seq(0.3, 0.05, 0.9)) {
      val prof = synthProf(session(p), 5000)
      val want = keptSet(windowSample(prof, frac))
      val sampled = TokenBudget.sample(prof, frac)
      assert(sampled.rdd.getNumPartitions == p)
      val got = keptSet(sampled)
      assert(got == want, s"mismatch at frac=$frac partitions=$p " +
        s"(got ${got.size}, want ${want.size})")
    }
  }

  test("single giant stratum split across many partitions") {
    val ss = session(16); import ss.implicits._
    // one lang only — the exact case the window shape cannot distribute;
    // constant quality makes the WHOLE stratum one tie run, so every range
    // cut lands inside a tie and the doc_id tiebreak carries the order
    val prof = (0L until 20000L)
      .map(i => (i, "en", 0.5, 1L + i % 7)).toDF("doc_id", "lang", "quality", "tokens")
    val want = keptSet(windowSample(prof, 0.3))
    val got = keptSet(TokenBudget.sample(prof, 0.3))
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("summary shape matches the driver row's aggregation") {
    val prof = synthProf(session(8), 2000)
    val got = TokenBudget.sampleSummary(prof, 0.3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = windowSample(prof, 0.3)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs_kept"), sum(col("tokens")).as("tokens_kept"),
        min(col("quality")).as("min_quality"))
      .orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
  }

  test("degenerate inputs: empty, one row, all-zero tokens") {
    val ss = session(4); import ss.implicits._
    val empty = Seq.empty[(Long, String, Double, Long)].toDF("doc_id", "lang", "quality", "tokens")
    assert(TokenBudget.sample(empty, 0.3).count() == 0L)
    val one = Seq((1L, "en", 0.9, 10L)).toDF("doc_id", "lang", "quality", "tokens")
    // budget = floor(10*0.3) = 3 < 10 -> nothing kept, same as the window
    assert(keptSet(TokenBudget.sample(one, 0.3)) ==
      keptSet(windowSample(one, 0.3)))
    // all-zero tokens: budget 0, every cum 0 <= 0 -> everything kept
    val zeros = (0L until 50L).map(i => (i, "en", 0.1 * (i % 5), 0L))
      .toDF("doc_id", "lang", "quality", "tokens")
    assert(keptSet(TokenBudget.sample(zeros, 0.3)) ==
      keptSet(windowSample(zeros, 0.3)))
  }
}
