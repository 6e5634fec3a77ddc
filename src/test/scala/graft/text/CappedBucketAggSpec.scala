package graft.text

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, GraftExtensionsTestAccess, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ScalaAggregator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.TestDirs

/** The native capped-bucket aggregate against the `udaf()` Aggregators it
  * replaced ([[ReferenceCappedAggs]]): equal finished arrays for all three
  * occupant shapes through Spark's partial/final aggregation, the overflow
  * marker under every merge order, the partial buffer's wire size, and a
  * plan guard that the candidate step of every query that buckets
  * occupants runs no `ScalaAggregator`.
  */
class CappedBucketAggSpec extends AnyFunSuite with BeforeAndAfterAll {
  import CappedBucketAggSpec._

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-capped-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private val Cap = 16

  test("native capped aggregates equal the udaf() reference through partial merges") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(77L)
    // a hot band far over the cap, 600 small bands (more keys per task than
    // the hash aggregate holds, so buffers also cross the sort-based
    // fallback), and NULL ids, tags and prefix arrays sprinkled throughout
    val rows = (0 until 5000).map(i => ("hot", i.toLong)) ++
      (0 until 3000).map(i => (s"b${i % 600}", rnd.nextInt(50).toLong))
    val df = rows.map { case (band, id) =>
      val nullId = rnd.nextInt(17) == 0
      val nullTag = rnd.nextInt(13) == 0
      val nullPg = rnd.nextInt(11) == 0
      (band, if (nullId) None else Some(id), if (nullTag) None else Some(id * 7 + 1),
        if (nullPg) None else Some(Array.fill(rnd.nextInt(6))(rnd.nextLong())))
    }.toDF("band", "id", "tag", "pg").repartition(8)
    val tfns = TextSqlFunctions.default
    val refIds = udaf(new ReferenceCappedAggs.CappedIdsAgg(Cap))
    val refTagged = udaf(new ReferenceCappedAggs.CappedTaggedIdsAgg(Cap),
      Encoders.tuple(Encoders.LONG, Encoders.LONG))
    val refPrefix = udaf(new ReferenceCappedAggs.CappedFramedPrefixAgg(Cap),
      Encoders.tuple(Encoders.LONG, ExpressionEncoder[Array[Long]]()))
    // old and new side by side in ONE aggregate, so both see the same rows
    // and the same partial buffers in the same order
    val out = df.groupBy(col("band")).agg(
      refIds(col("id")).as("ids_ref"), tfns.cappedIdsAgg(Cap)(col("id")).as("ids"),
      refTagged(col("id"), col("tag")).as("tagged_ref"),
      tfns.cappedTaggedIdsAgg(Cap)(col("id"), col("tag")).as("tagged"),
      refPrefix(col("id"), col("pg")).as("prefix_ref"),
      tfns.cappedPrefixAgg(Cap)(col("id"), col("pg")).as("prefix")).collect()
    assert(out.length == 601)
    out.foreach { r =>
      val band = r.getString(0)
      Seq(1, 3, 5).foreach { i =>
        val (ref, got) = (r.getSeq[Long](i), r.getSeq[Long](i + 1))
        assert(got == ref, s"band $band, ${r.schema(i + 1).name}")
      }
    }
    val hot = out.find(_.getString(0) == "hot").get
    assert(hot.getSeq[Long](2).length == Cap + 1, "hot bucket carries the overflow marker")
    assert(hot.getSeq[Long](4).length == 2 * (Cap + 1))
    assert(hot.getSeq[Long](6).head == Cap + 1)
  }

  test("overflow survives every merge order; a partial buffer is 8 bytes per used slot") {
    val rnd = new scala.util.Random(99L)
    val cap = 8
    for (shape <- Seq(CappedBucketAgg.Ids, CappedBucketAgg.TaggedIds,
        CappedBucketAgg.FramedPrefixes)) {
      val d = new Driven(shape, cap)
      def occupant(id: Long): Seq[Any] = shape match {
        case CappedBucketAgg.Ids       => Seq(id)
        case CappedBucketAgg.TaggedIds => Seq(id, id * 3)
        case _ => Seq(id, UnsafeArrayData.fromPrimitiveArray(Array.fill(1 + rnd.nextInt(4))(id)))
      }
      (0 until 40).foreach { trial =>
        // four partial buffers, together under, at or over the cap
        val sizes = Seq.fill(4)(rnd.nextInt(cap / 2 + 1) + (if (trial % 2 == 0) 1 else 3))
        var next = 0L
        val parts = sizes.map { n =>
          (0 until n).foldLeft(d.zero) { (b, _) => next += 1; d.reduce(b, occupant(next): _*) }
        }
        parts.foreach { b =>
          val bytes = d.agg.serialize(b)
          assert(bytes.length == 8 * b(CappedBucketAgg.Used), s"$shape: wire size")
          assert(d.agg.deserialize(bytes).toSeq == b.take(bytes.length / 8).toSeq)
        }
        val total = sizes.sum
        // every left-deep order of the four partials, each merged after a
        // wire round trip, must agree on the count and on overflow
        parts.indices.permutations.foreach { order =>
          val merged = order.map(parts).map(b => d.agg.deserialize(d.agg.serialize(b)))
            .reduceLeft((a, b) => d.merge(a, b))
          assert(d.count(merged) == math.min(total, cap + 1), s"$shape order $order")
        }
        // and the balanced tree ((0 1) (2 3))
        val tree = d.merge(d.merge(parts(0).clone(), parts(1)), d.merge(parts(2).clone(), parts(3)))
        assert(d.count(tree) == math.min(total, cap + 1))
        // a full bucket stops growing
        assert(d.count(d.reduce(tree, occupant(next + 1): _*)) == math.min(total + 1, cap + 1))
      }
    }
  }

  test("no query that buckets occupants plans a ScalaAggregator") {
    val dir = Files.createTempDirectory("graft-capped-plans")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    try {
      val sp = spark
      import sp.implicits._
      // 40 English-looking documents (they pass q_corpus_curation's language
      // and quality filters) plus a one-word edit of 8 of them
      val rnd = new scala.util.Random(5L)
      val stop = Array("the", "and", "of", "to", "is", "in")
      val texts = (0 until 40).map(_ => Array.tabulate(40)(j =>
        if (j % 3 == 0) stop(rnd.nextInt(stop.length))
        else Seq.fill(4 + rnd.nextInt(4))(('a' + rnd.nextInt(26)).toChar).mkString))
      (texts.indices.map(i => (i.toLong, texts(i).mkString(" "))) ++
        (0 until 8).map(i => (100L + i, (texts(i).init :+ "edit").mkString(" "))))
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      (0L until 300L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
      spark.listenerManager.register(listener)
      for (q <- CandidateQueries) {
        GraftExtensionsTestAccess.drainListenerBus(spark)
        plans.clear()
        graft.SparkEntry.queries(q)(spark, dir.toString).collect()
        GraftExtensionsTestAccess.drainListenerBus(spark)
        val fns = plans.asScala.toSeq.flatMap(aggregateFunctions)
        assert(fns.exists(_.isInstanceOf[CappedBucketAgg]), s"$q: no capped bucket aggregate seen")
        assert(!fns.exists(_.isInstanceOf[ScalaAggregator[_, _, _]]),
          s"$q plans a ScalaAggregator: ${fns.filter(_.isInstanceOf[ScalaAggregator[_, _, _]])}")
      }
      // the guard sees a udaf() Aggregator when one is planned
      val ref = udaf(new ReferenceCappedAggs.CappedIdsAgg(4))
      assert(aggregateFunctions(Seq((1L, 2L)).toDF("k", "v").groupBy("k").agg(ref(col("v")))
        .queryExecution.executedPlan).exists(_.isInstanceOf[ScalaAggregator[_, _, _]]))
    } finally {
      spark.listenerManager.unregister(listener)
      TestDirs.deleteTree(dir)
    }
  }
}

object CappedBucketAggSpec {
  /** The queries whose candidate step groups occupants into capped buckets. */
  val CandidateQueries: Seq[String] = Seq("q_ngram_jaccard_near_dup", "q_neardup_components",
    "q_corpus_curation", "q_minhash_near_dup", "q_simhash_near_dup", "q_ann_lsh_recall",
    "q_embed_near_dup")

  private object Plans extends AdaptiveSparkPlanHelper

  /** Every aggregate function in `plan`, through adaptive stages and subqueries. */
  def aggregateFunctions(plan: SparkPlan): Seq[AnyRef] =
    Plans.collectWithSubqueries(plan) { case a: BaseAggregateExec => a.aggregateExpressions }
      .flatten.map(_.aggregateFunction)

  /** A [[CappedBucketAgg]] driven the way the hash aggregate drives it: one
    * input row per occupant, buffers merged pairwise, the result read back
    * as a primitive array.
    */
  final class Driven(shape: CappedBucketAgg.Shape, cap: Int) {
    val agg: CappedBucketAgg = CappedBucketAgg(shape, cap,
      shape.inputTypes.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })
    def zero: Array[Long] = agg.createAggregationBuffer()
    def reduce(b: Array[Long], fields: Any*): Array[Long] = agg.update(b, InternalRow(fields: _*))
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = agg.merge(a, b)
    def finish(b: Array[Long]): Array[Long] = agg.eval(b).asInstanceOf[ArrayData].toLongArray()
    def count(b: Array[Long]): Int = b(CappedBucketAgg.Count).toInt
  }
}
