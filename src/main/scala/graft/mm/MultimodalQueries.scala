package graft.mm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySupport.{sortedSmall, table}

/** The multimodal family of the oracle-gated queries, next to its DuckDB
  * oracle; `SparkEntry.queries` / `SparkEntry.oracleSql` join these maps.
  */
object MultimodalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // multimodal: binary blobs with typed headers, round-tripped through
    // the codec (encode UDF → binary column → parse UDF) and profiled per
    // kind; the oracle recomputes the same stats from the integer fields
    "q_media_profile" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings").select(col("vec_id"))
      val kinds = array(lit("image"), lit("audio"), lit("video"))
      val blobs = emb.select(col("vec_id"),
        Multimodal.encodeMediaUdf(
          element_at(kinds, (col("vec_id") % 3 + 1).cast("int")),
          (col("vec_id") % 64 + 16).cast("int"),
          ((col("vec_id") * 7) % 64 + 16).cast("int"),
          (col("vec_id") % 3 + 1).cast("int"),
          (col("vec_id") % 100 + 1).cast("int")).as("blob"))
      // resize rides the same scan as an engine-verified boolean: every
      // blob resized to 8x6 must re-parse as (same kind, 8, 6, 1 channel,
      // 11-byte header + 48-byte raster). The resampling ARITHMETIC is
      // pinned by MultimodalSpec's exact box-mean test; this gates the
      // distributed plumbing (binary in -> binary out -> re-parse) on the
      // driver path.
      sortedSmall(
        blobs.select(Multimodal.mediaMetaUdf(col("blob")).as("m"),
            Multimodal.mediaMetaUdf(
              Multimodal.resizeUdf(col("blob"), lit(8), lit(6))).as("rm"))
          .groupBy(col("m.kind").as("kind"))
          .agg(count(lit(1)).as("n"),
            avg(col("m.width")).as("avg_w"),
            avg(col("m.height")).as("avg_h"),
            avg(col("m.channels")).as("avg_ch"),
            sum(col("m.bytes")).as("total_bytes"),
            bool_and(col("rm.kind") === col("m.kind") &&
              col("rm.width") === 8 && col("rm.height") === 6 &&
              col("rm.channels") === 1 && col("rm.bytes") === 59L).as("resize_ok")),
        col("kind"))
    })

  val oracleSql: Map[String, String] = Map(
    "q_media_profile" ->
      """WITH m AS (SELECT
        |    CASE CAST(vec_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    vec_id % 64 + 16 AS width,
        |    (vec_id * 7) % 64 + 16 AS height,
        |    vec_id % 3 + 1 AS channels,
        |    11 + vec_id % 100 + 1 AS bytes
        |  FROM embeddings)
        |SELECT kind, count(*) AS n,
        |       avg(width) AS avg_w, avg(height) AS avg_h, avg(channels) AS avg_ch,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       TRUE AS resize_ok
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin)
}
