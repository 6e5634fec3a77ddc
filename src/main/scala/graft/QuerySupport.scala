package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** What every query family shares: the one table reader and the one bounded
  * final sort. The families import this object; `SparkEntry` joins the
  * families, so none of them imports `SparkEntry`.
  */
object QuerySupport {

  /** The driver table `name` under the scale-factor directory `dir`. */
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Global sort for a BOUNDED final result.
    *
    * Rule: use it only where the result's cardinality is capped by a small
    * key domain (event types, nations, brands, languages, probe sets, top-k
    * capacities) at ANY scale factor, not just at verify scale. Unbounded
    * outputs (per-document or per-pair rows) keep the scalable
    * range-partitioned `orderBy`. Nothing checks this at run time: each new
    * call site must be held to this rule when it is written.
    *
    * Coalescing to one partition first lets the Sort satisfy its required
    * distribution directly (SinglePartition satisfies OrderedDistribution),
    * removing the range exchange AND the RangePartitioner's extra sampling
    * job that `orderBy` otherwise plans. Measured 0.74 s → 0.39 s on
    * q_kll_value_quantiles's 5-row final at sf0.1.
    */
  def sortedSmall(df: DataFrame, cs: Column*): DataFrame =
    df.coalesce(1).orderBy(cs: _*)
}
