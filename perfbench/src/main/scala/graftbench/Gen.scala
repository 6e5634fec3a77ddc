package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

import graft.sketch.core.XxHash64

/** Seeded input generators. Every value is a pure function of (seed, row
  * index), independent of how the rows are split into partitions, so the
  * same seed always gives the same table and the same content hash.
  *
  * Transcripts follow graft.jobs.TranscriptGen's distributions: Zipf turns
  * per conversation, a few planted hot conversations (spread evenly over
  * the index range, so over the files), Zipf tool names
  * with `search` and `bash` as the heavy hitters, and a long-tailed
  * `text_len`. Documents follow the shape of the sf0.1 test data's
  * `documents` table: a 31-word vocabulary, about 54 tokens per document and planted
  * near-duplicate chains.
  */
object Gen {
  val Roles: Array[String] = Array("user", "assistant", "system", "tool")
  val Tools: Array[String] =
    Array("search", "bash") ++ (0 until 48).map(i => f"tool_$i%02d")
  val Days = 30
  val MaxDays = 64 // conversations started late in the span spill past day 29
  val BaseTsMillis: Long = 1735689600000L // 2025-01-01T00:00:00Z
  val LenUnit = 6 // text_len is a word count times this many characters
  val MaxWords = 2048
  val Shards = 16
  val HotConvs = 4

  private def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(XxHash64.hashLong(i, XxHash64.hashLong(stream, seed)))

  /** Zipf-ish index in [0, n): heavy mass on low indices (s close to 1). */
  private def zipfIndex(r: SplittableRandom, n: Int): Int =
    math.min((math.pow(n + 1.0, r.nextDouble()) - 1.0).toInt, n - 1)

  // ---------------------------------------------------------------- turns

  final case class Turns(seed: Long, convs: Long, hotTurns: Int) {
    def convId(i: Long): String = f"conv-${seed & 0xffff}%04x-$i%08d"
    def shardOf(i: Long): Int = java.lang.Math.floorMod(XxHash64.hashLong(i, seed), Shards)

    /** Calls `emit(turnIdx, role, tool or -1, words, tsMillis)` for every
      * turn of conversation `i`.
      */
    def conv(i: Long)(emit: (Int, Int, Int, Int, Long) => Unit): Unit = {
      val r = rng(seed, 1, i)
      val n = if (i % math.max(1L, convs / HotConvs) == 0) hotTurns else 2 + zipfIndex(r, 24)
      var ts = BaseTsMillis + r.nextInt(Days) * 86400000L + r.nextInt(86400000)
      var t = 0
      while (t < n) {
        val role =
          if (t == 0 && r.nextInt(10) == 0) 2
          else if (r.nextInt(5) == 0) 3
          else t % 2
        val tool = if (role == 3) zipfIndex(r, Tools.length) else -1
        val base = 3 + r.nextInt(40)
        val words = if (r.nextInt(20) == 0) base * (5 + r.nextInt(40)) else base
        ts += 500L + (r.nextDouble() * r.nextDouble() * 120000L).toLong
        emit(t, role, tool, words, ts)
        t += 1
      }
    }

    def day(ts: Long): Int = ((ts - BaseTsMillis) / 86400000L).toInt
  }

  val TurnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = false),
    StructField("tool", StringType, nullable = true),
    StructField("text_len", IntegerType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("ts_date", DateType, nullable = false),
    StructField("shard", IntegerType, nullable = false)))

  /** Exact answers for a transcripts table, gathered from the generator in
    * the same pass that hashes its content.
    */
  final class TurnTruth extends Serializable {
    var rows = 0L
    var hash = 0L // order-free: sum of per-row hashes
    val turns = new Array[Long](MaxDays * 4) // (day, role)
    val tools = new Array[Long](MaxDays * 4 * Tools.length) // (day, role, tool)
    val words = new Array[Long](MaxDays * 4 * (MaxWords + 1)) // (day, role, words)
    /** (days with a turn of each role, as 4 bitmasks) -> conversations. */
    val masks = mutable.HashMap.empty[(Long, Long, Long, Long), Long]

    def merge(o: TurnTruth): TurnTruth = {
      rows += o.rows; hash += o.hash
      var i = 0
      while (i < turns.length) { turns(i) += o.turns(i); i += 1 }
      i = 0
      while (i < tools.length) { tools(i) += o.tools(i); i += 1 }
      i = 0
      while (i < words.length) { words(i) += o.words(i); i += 1 }
      o.masks.foreach { case (k, v) => masks(k) = masks.getOrElse(k, 0L) + v }
      this
    }

    private def dayRange(d0: Int, d1: Int): Long =
      ((-1L) >>> (63 - d1)) & ((-1L) << d0)

    def turnsIn(role: Int, d0: Int, d1: Int): Long =
      (d0 to d1).map(d => turns(d * 4 + role)).sum

    def toolIn(role: Int, tool: Int, d0: Int, d1: Int): Long =
      (d0 to d1).map(d => tools((d * 4 + role) * Tools.length + tool)).sum

    /** Distinct conversations with a turn of `role` in days [d0, d1]. */
    def distinct(role: Int, d0: Int, d1: Int): Long = {
      val r = dayRange(d0, d1)
      masks.iterator.collect { case (k, n) if (k.productElement(role).asInstanceOf[Long] & r) != 0 => n }.sum
    }

    /** (|A|, |B|, |A union B|, |A intersect B|) over conversations, roles a and b. */
    def setSizes(a: Int, b: Int, d0: Int, d1: Int): (Long, Long, Long, Long) = {
      val r = dayRange(d0, d1)
      var na, nb, nu, ni = 0L
      masks.foreach { case (k, n) =>
        val ia = (k.productElement(a).asInstanceOf[Long] & r) != 0
        val ib = (k.productElement(b).asInstanceOf[Long] & r) != 0
        if (ia) na += n
        if (ib) nb += n
        if (ia || ib) nu += n
        if (ia && ib) ni += n
      }
      (na, nb, nu, ni)
    }

    /** Share of `role`'s text_len values in days [d0, d1] below / at most `v`. */
    def rankOf(role: Int, d0: Int, d1: Int, v: Double): (Double, Double) = {
      var below, atMost, n = 0L
      var d = d0
      while (d <= d1) {
        val base = (d * 4 + role) * (MaxWords + 1)
        var w = 0
        while (w <= MaxWords) {
          val c = words(base + w)
          val x = (w * LenUnit).toDouble
          if (x < v) below += c
          if (x <= v) atMost += c
          n += c
          w += 1
        }
        d += 1
      }
      (below.toDouble / n, atMost.toDouble / n)
    }
  }

  /** Generate conversations [lo, hi) into Rows (when `rows` is given) and
    * fold them into `truth`.
    */
  private def turnRows(g: Turns, lo: Long, hi: Long, truth: TurnTruth,
      rows: mutable.ArrayBuffer[Row]): Unit = {
    var i = lo
    while (i < hi) {
      val id = g.convId(i)
      val shard = g.shardOf(i)
      val idHash = XxHash64.hash(id, 7L)
      val m = new Array[Long](4)
      g.conv(i) { (t, role, tool, words, ts) =>
        val d = g.day(ts)
        truth.rows += 1
        truth.hash += XxHash64.hashLong(
          idHash ^ (t.toLong << 40) ^ (role.toLong << 36) ^ ((tool + 1).toLong << 28) ^ words,
          ts)
        truth.turns(d * 4 + role) += 1
        if (tool >= 0) truth.tools((d * 4 + role) * Tools.length + tool) += 1
        truth.words((d * 4 + role) * (MaxWords + 1) + math.min(words, MaxWords)) += 1
        m(role) |= 1L << d
        if (rows != null) {
          rows += Row(id, t, Roles(role), if (tool >= 0) Tools(tool) else null,
            words * LenUnit, new java.sql.Timestamp(ts),
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
              Math.floorDiv(ts, 86400000L))), shard)
        }
      }
      val k = (m(0), m(1), m(2), m(3))
      truth.masks(k) = truth.masks.getOrElse(k, 0L) + 1
      i += 1
    }
  }

  /** Exact answers (and the content hash) straight from the generator, in
    * `slices` threads of this JVM (no Spark job).
    */
  def turnTruth(g: Turns, slices: Int): TurnTruth = {
    val n = g.convs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(slices)
    try {
      (0 until slices).map { s =>
        pool.submit(new java.util.concurrent.Callable[TurnTruth] {
          def call(): TurnTruth = {
            val t = new TurnTruth
            turnRows(g, n * s / slices, n * (s + 1) / slices, t, null)
            t
          }
        })
      }.map(_.get()).reduce(_ merge _)
    } finally pool.shutdown()
  }

  /** Write the table as `files` Parquet files (one per generator slice). */
  def writeTurns(spark: SparkSession, g: Turns, path: String, files: Int): Unit = {
    val n = g.convs
    val rdd = spark.sparkContext.parallelize(0 until files, files).mapPartitions { it =>
      it.flatMap { s =>
        val buf = mutable.ArrayBuffer.empty[Row]
        turnRows(g, n * s / files, n * (s + 1) / files, new TurnTruth, buf)
        buf.iterator
      }
    }
    spark.createDataFrame(rdd, TurnSchema).write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Content hash of a written transcripts table, computed on read. */
  def hashTurns(spark: SparkSession, path: String): (Long, Long) = {
    val rows = spark.read.parquet(path)
      .select("conv_id", "turn_idx", "role", "tool", "text_len", "ts").rdd
      .mapPartitions { it =>
        var n = 0L; var h = 0L
        it.foreach { r =>
          val tool = if (r.isNullAt(3)) -1 else Tools.indexOf(r.getString(3))
          val role = Roles.indexOf(r.getString(2))
          h += XxHash64.hashLong(
            XxHash64.hash(r.getString(0), 7L) ^ (r.getInt(1).toLong << 40) ^
              (role.toLong << 36) ^ ((tool + 1).toLong << 28) ^ (r.getInt(4) / LenUnit),
            r.getTimestamp(5).getTime)
          n += 1
        }
        Iterator((n, h))
      }.collect()
    (rows.map(_._1).sum, rows.map(_._2).sum)
  }

  // ------------------------------------------------------------ documents

  val Vocab: Array[String] =
    ("a the spark data table column row key value hash join sort merge scan " +
      "filter group query batch stream window order line part small big fast " +
      "slow vector customer agg").split(' ')
  val Langs: Array[String] = Array("en", "de", "fr", "es", "zh")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Character 5-gram Jaccard of lowercased texts, written independently of
    * the library so it can serve as the oracle.
    */
  def shingleJaccard(a: String, b: String): Double = {
    def sh(t: String): Set[String] = {
      val lo = t.toLowerCase(java.util.Locale.ROOT)
      (0 to lo.length - 5).map(i => lo.substring(i, i + 5)).toSet
    }
    val sa = sh(a); val sb = sh(b)
    val i = sa.count(sb.contains)
    i.toDouble / (sa.size + sb.size - i)
  }

  final case class Docs(docs: IndexedSeq[Doc], truthPairs: Set[(Long, Long)])

  /** `n` documents; about 4% are edited copies of an earlier document (which
    * may itself be a copy, so chains form). A copy is kept only if it sits
    * at 5-gram Jaccard >= 0.95 to its source and, to every other member of
    * the source's cluster, either >= 0.95 or < 0.75: every true pair is then
    * far above the 0.8 gate, where MinHash-LSH's 16x8 banding misses a pair
    * with odds below 1e-7, and every other pair is clearly below it.
    * Documents drawn independently from the vocabulary sit near J = 0.3.
    * The true pair set holds every pair inside a cluster at J >= 0.8.
    */
  def documents(seed: Long, n: Int): Docs = {
    val docs = mutable.ArrayBuffer.empty[Doc]
    val cluster = mutable.HashMap.empty[Long, Long] // doc -> cluster root
    def members(root: Long): Seq[Long] = cluster.collect { case (k, v) if v == root => k }.toSeq
    var i = 0
    while (i < n) {
      val r = rng(seed, 2, i)
      val lang = Langs(r.nextInt(Langs.length))
      val source = s"src${i % 20}"
      var text: String = null
      if (i >= 10 && r.nextInt(25) == 0) {
        val src = docs(i - 1 - r.nextInt(math.min(i, 200)))
        val root = cluster.getOrElse(src.id, src.id)
        val others = members(root).filter(_ != src.id).map(m => docs(m.toInt).text)
        var tries = 0
        while (text == null && tries < 8) {
          val toks = src.text.split(' ').toBuffer
          r.nextInt(3) match {
            case 0 => toks(r.nextInt(toks.length)) = Vocab(r.nextInt(Vocab.length))
            case 1 if toks.length > 12 => toks.remove(r.nextInt(toks.length))
            case _ => toks.insert(r.nextInt(toks.length + 1), Vocab(r.nextInt(Vocab.length)))
          }
          val cand = toks.mkString(" ")
          if (cand != src.text && shingleJaccard(cand, src.text) >= 0.95 &&
              others.forall { o => val j = shingleJaccard(cand, o); j >= 0.95 || j < 0.75 }) {
            text = cand
            cluster(src.id) = root
            cluster(i.toLong) = root
          }
          tries += 1
        }
      }
      if (text == null) text = Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      docs += Doc(i.toLong, text, lang, source)
      i += 1
    }
    val truth = cluster.keys.groupBy(cluster).values.flatMap { ids =>
      val s = ids.toSeq.sorted
      for {
        x <- s.indices; y <- (x + 1) until s.length
        if shingleJaccard(docs(s(x).toInt).text, docs(s(y).toInt).text) >= 0.8
      } yield (s(x), s(y))
    }.toSet
    Docs(docs.toIndexedSeq, truth)
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  def docsHash(docs: Seq[Doc]): Long =
    docs.map(x => XxHash64.hashLong(x.id, XxHash64.hash(x.text + "\u0001" + x.lang + "\u0001" + x.source, 11L))).sum

  /** Content hash of a written documents table, computed on read. */
  def readDocsHash(spark: SparkSession, dir: String): Long =
    docsHash(spark.read.parquet(s"$dir/documents.parquet").collect().toSeq.map(r =>
      Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[String]("source"))))

  /** Writes `<dir>/documents.parquet`, the layout SparkEntry.queries read. */
  def writeDocs(spark: SparkSession, d: Docs, dir: String): Unit = {
    val rows = d.docs.map(x => Row(x.id, x.text, x.lang, x.source, x.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), DocSchema)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
  }
}
