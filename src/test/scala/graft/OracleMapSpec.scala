package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver surface: the query names and the DuckDB oracle text that
  * `graft.Verify` writes to oracle_sql.json. Query families move between
  * files; these two checks say that nothing else moved with them.
  */
class OracleMapSpec extends AnyFunSuite {

  /** SHA-256 over the name-sorted `name \0 sql \0` pairs of `oracleSql`. */
  private val PinnedOracleSha256 =
    "afae3007c8d8f84d7a0bfc4e442395d3cdbf1e20d807b44ec18757240bf5838b"

  test("queries and oracleSql name the same 44 queries") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"without an oracle: ${(q -- o).toSeq.sorted}; without a query: ${(o -- q).toSeq.sorted}")
    assert(q.size == 44)
  }

  test("each family holds its own queries' oracles; the families partition the 44") {
    val families = Seq(
      "SketchQueries" -> (graft.sketch.agg.SketchQueries.queries.keySet,
        graft.sketch.agg.SketchQueries.oracleSql.keySet),
      "MultimodalQueries" -> (graft.mm.MultimodalQueries.queries.keySet,
        graft.mm.MultimodalQueries.oracleSql.keySet),
      "DedupQueries" -> (graft.text.DedupQueries.queries.keySet,
        graft.text.DedupQueries.oracleSql.keySet),
      "AnnQueries" -> (graft.text.AnnQueries.queries.keySet,
        graft.text.AnnQueries.oracleSql.keySet),
      "StreamingQueries" -> (graft.streaming.StreamingQueries.queries.keySet,
        graft.streaming.StreamingQueries.oracleSql.keySet))
    for ((name, (q, o)) <- families)
      assert(q == o, s"$name: without an oracle: ${(q -- o).toSeq.sorted}; " +
        s"oracle without a query: ${(o -- q).toSeq.sorted}")
    for (Seq((a, (qa, _)), (b, (qb, _))) <- families.combinations(2))
      assert((qa & qb).isEmpty, s"$a and $b both define ${(qa & qb).toSeq.sorted}")
    assert(families.map(_._2._1).reduce(_ ++ _) == SparkEntry.queries.keySet)
    assert(families.map(_._2._1.size).sum == 44)
  }

  test("oracle SQL text is unchanged") {
    val md = MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(name.getBytes(UTF_8)); md.update(0.toByte)
      md.update(sql.getBytes(UTF_8)); md.update(0.toByte)
    }
    val got = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(got == PinnedOracleSha256,
      s"oracleSql text changed (sha256 $got). An intended oracle change must be " +
        "disclosed in CHANGES.md, and the pinned digest updated with it.")
  }
}
