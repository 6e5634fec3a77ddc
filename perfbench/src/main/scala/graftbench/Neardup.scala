package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.SparkEntry

/** Near-duplicate detection over a seeded `documents` table through the
  * `SparkEntry.queries`: the prefix-filtered exact n-gram join, its connected
  * components, and MinHash-LSH. No core sketch runs here, so it is the
  * control for sketch-core changes; MinHash is the in-workload control for
  * prefix-join changes.
  */
object Neardup {
  val Queries: Seq[(String, String)] = Seq(
    "neardup.ngram" -> "q_ngram_jaccard_near_dup",
    "neardup.components" -> "q_neardup_components",
    "neardup.minhash" -> "q_minhash_near_dup")

  /** The documents table written under `dir`, and the generated documents
    * with their exact pair set.
    */
  final class Data(val dir: String, val docs: Gen.Docs) {
    /** Component label (smallest doc id) of every doc in a true pair. */
    lazy val components: Map[Long, Long] = {
      val parent = mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      docs.truthPairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
  }

  val Docs = 400

  /** Documents are generated (twice: same seed, same hash) with their exact
    * pair set, written, and must read back with the generator's hash. Every
    * run writes anew.
    */
  def prepare(ctx: Ctx, seed: Long, n: Int): Data = {
    val d = Gen.documents(seed, n)
    val dir = ctx.dir("run", "docs").getPath
    Gen.writeDocs(ctx.spark, d, dir)
    ctx.verify("neardup.gen") {
      val h = Gen.docsHash(d.docs)
      Check.eq("regenerated hash", Gen.docsHash(Gen.documents(seed, n).docs), h) ++
        Check.eq("read-back hash", Gen.readDocsHash(ctx.spark, dir), h)
    }
    new Data(dir, d)
  }

  /** Set-up's JIT warm-up pass: one rep's queries over the table, unchecked. */
  def warmup(ctx: Ctx, d: Data): Unit =
    Queries.foreach { case (_, q) => SparkEntry.queries(q)(ctx.spark, d.dir).collect() }

  private def pairs(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet

  /** Pair set equals the planted set, every reported Jaccard is the exact
    * one and at least 0.8, and rows come out sorted.
    */
  private def checkPairs(rows: Array[Row], d: Data): Seq[String] = {
    val text = d.docs.docs
    val got = pairs(rows)
    val missing = d.docs.truthPairs -- got
    val extra = got -- d.docs.truthPairs
    val sorted = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSeq
    (if (missing.nonEmpty || extra.nonEmpty)
      Seq(s"pairs: ${missing.size} missing (${missing.take(3)}), ${extra.size} extra (${extra.take(3)})")
    else Nil) ++
      Check.eq("rows sorted", sorted, sorted.sorted) ++
      rows.toSeq.flatMap { r =>
        val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        val j = Gen.shingleJaccard(text(a.toInt).text, text(b.toInt).text)
        Check.within(s"jaccard($a,$b)", r.getAs[Double]("jaccard"), j, 1e-9)
      }.take(3)
  }

  private def checkComponents(rows: Array[Row], d: Data): Seq[String] = {
    val got = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep_id")).toMap
    Check.eq("components", got, d.components)
  }

  def run(ctx: Ctx, d: Data, seconds: Double, minReps: Int): Unit = {
    val spark = ctx.spark
    val n = d.docs.docs.length.toDouble
    ctx.repeat(seconds, minReps) { _ =>
      var repS = 0.0
      var ok = 0
      var ngram: Option[Set[(Long, Long)]] = None
      Queries.foreach { case (op, q) =>
        ctx.op(op)(SparkEntry.queries(q)(spark, d.dir).collect()) { rows =>
          op match {
            case "neardup.ngram" =>
              ngram = Some(pairs(rows))
              ctx.samples.add("neardup.pairs", "count", rows.length.toDouble)
              checkPairs(rows, d)
            case "neardup.components" => checkComponents(rows, d)
            case _ =>
              checkPairs(rows, d) ++ ngram.toSeq.flatMap(p =>
                if (pairs(rows) == p) Nil else Seq("minhash pairs differ from prefix-join pairs"))
          }
        }.foreach { case (_, s) =>
          repS += s; ok += 1
          ctx.samples.add(s"$op.s", "s", s)
        }
      }
      if (ok == Queries.length) {
        ctx.samples.add("rep_s", "s", repS)
        ctx.samples.add("neardup_docs_per_s", "docs/s", n / repS)
      }
    }
  }
}
