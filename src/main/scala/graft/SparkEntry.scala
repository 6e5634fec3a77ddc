package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySupport.{table => t}
import graft.mm.MultimodalQueries
import graft.sketch.agg.{SketchFunctions, SketchQueries}
import graft.streaming.StreamingQueries
import graft.text.{AnnQueries, DedupQueries}

/** Driver contract — see SURVEY.md §7.
  *
  * Each `queries` entry exercises one operator family from SURVEY.md §2 over
  * the driver's parquet tables; `oracleSql` gives the DuckDB-equivalent SQL.
  * Every query lives next to its oracle in its family's file
  * (graft.sketch.agg.SketchQueries, graft.mm.MultimodalQueries,
  * graft.text.DedupQueries, graft.text.AnnQueries,
  * graft.streaming.StreamingQueries); the two maps here join theirs.
  */
object SparkEntry {
  private val fns = SketchFunctions.default

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val ev = t(spark, "/root/testdata/sf0.001", "events")
    ev.groupBy(col("event_type"))
      .agg(
        fns.hllAgg(col("user_id").cast("string")).as("hll"),
        fns.tdigestAgg(col("value")).as("td"),
        count(lit(1)).as("turns"))
      .select(
        col("event_type"),
        fns.hllCardinality(col("hll")).as("approx_users"),
        fns.tdigestQuantile(col("td"), lit(0.5)).as("value_p50"),
        col("turns"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SketchQueries.queries ++ MultimodalQueries.queries ++ DedupQueries.queries ++
      AnnQueries.queries ++ StreamingQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] =
    SketchQueries.oracleSql ++ MultimodalQueries.oracleSql ++ DedupQueries.oracleSql ++
      AnnQueries.oracleSql ++ StreamingQueries.oracleSql
}
