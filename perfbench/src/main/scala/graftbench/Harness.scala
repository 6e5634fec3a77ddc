package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** Every checked op counts once; it fails if it throws or any check on its
  * answer fails. A wrong answer is a failed op.
  */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  def record(op: String, problems: Seq[String]): Boolean = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      System.err.println(s"graftbench: FAILED $op: ${problems.take(5).mkString("; ")}")
    }
    problems.isEmpty
  }
}

/** Named samples; a metric is reported as the median of its samples. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]
  def add(name: String, unit: String, v: Double): Unit =
    m.getOrElseUpdate(name, (unit, mutable.ArrayBuffer.empty))._2 += v
  def get(name: String): Seq[Double] = m.get(name).map(_._2.toSeq).getOrElse(Nil)
  def unit(name: String): String = m.get(name).map(_._1).getOrElse("")
  def names: Seq[String] = m.keys.toSeq
  def median(name: String): Double = Stats.median(get(name))
  /** Adds every sample of `o` except `rep_s`, which each workload defines. */
  def absorb(o: Samples): Unit = o.m.foreach { case (k, (u, xs)) =>
    if (k != "rep_s") xs.foreach(add(k, u, _))
  }
}

/** Shared state of one benchmark run: session, ledger, samples, tracer. */
final class Ctx(val opts: Opts) {
  val ledger = new Ledger
  var samples = new Samples
  var tracer: Option[Tracer] = None
  var spark: SparkSession = _
  private var workloadSpan = 0L

  def dir(parts: String*): File = {
    val f = parts.foldLeft(opts.work)(new File(_, _))
    f.mkdirs(); f
  }

  /** Deletes a work directory and everything in it. */
  def clear(parts: String*): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(parts.foldLeft(opts.work)(new File(_, _)))
  }

  /** A fresh local session; any previous one is stopped first. */
  def startSession(cores: Int): SparkSession = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      // one input file per task: a generated table is written as a fixed
      // number of equal files, so both sides of the scaling pair run the
      // same tasks
      .config("spark.sql.files.openCostInBytes", s"${128L << 20}")
      .config("spark.kryo.registrator", "graft.sketch.agg.GraftKryoRegistrator")
      .config("spark.local.dir", dir("spark-local").getPath)
      .config("spark.sql.warehouse.dir", dir("warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer.foreach { t => t.newContext(); spark.sparkContext.addSparkListener(t) }
    spark
  }

  def attach(t: Tracer): Unit = {
    tracer = Some(t)
    if (spark != null) spark.sparkContext.addSparkListener(t)
  }

  def detach(): Unit = {
    tracer.foreach(t => if (spark != null) spark.sparkContext.removeSparkListener(t))
    tracer = None
  }

  def inWorkload[A](name: String)(body: => A): A = tracer match {
    case None => body
    case Some(t) =>
      val id = t.newId(); val t0 = t.nowUs()
      val prev = workloadSpan
      workloadSpan = id
      try body finally {
        workloadSpan = prev
        t.add(Span(id, 0L, "workload", name, t0, t.nowUs(), Map.empty))
      }
  }

  /** Runs one op: collects garbage first (unless `gc` is off, for short
    * interactive ops) so heap left by the previous op is not charged to
    * this one, times the body, then lets `check` judge
    * the answer. Returns the answer and wall seconds, or None if the op
    * threw. With a tracer attached, the op's Spark stage metrics are
    * recorded as `<op>.<metric>` samples.
    */
  def op[A](name: String, gc: Boolean = true)(body: => A)(check: A => Seq[String])
      : Option[(A, Double)] = {
    if (gc) System.gc()
    val sc = spark.sparkContext
    val span = tracer.map(_.newId()).getOrElse(0L)
    val t0us = tracer.map(_.nowUs()).getOrElse(0L)
    sc.setLocalProperty(Tracer.Prop, if (span != 0L) span.toString else null)
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    sc.setLocalProperty(Tracer.Prop, null)
    System.err.println(f"graftbench: op $name%-20s $secs%9.4f s")
    tracer.foreach { t =>
      t.add(Span(span, workloadSpan, "op", name, t0us, t.nowUs(), Map.empty))
      org.apache.spark.BenchBus.drain(sc)
      val s = t.opStages(span)
      samples.add(s"$name.task_s", "s", s.taskS)
      samples.add(s"$name.cpu_s", "s", s.cpuS)
      samples.add(s"$name.gc_s", "s", s.gcS)
      samples.add(s"$name.wait_s", "s", s.waitS)
      samples.add(s"$name.shuffle_bytes", "bytes", s.shuffleBytes.toDouble)
      samples.add(s"$name.shuffle_records", "count", s.shuffleRecords.toDouble)
      samples.add(s"$name.spill_bytes", "bytes", s.spillBytes.toDouble)
      samples.add(s"$name.task_skew", "ratio", s.skew)
    }
    res match {
      case Right(a) =>
        val problems = try check(a) catch { case e: Exception => Seq(s"check threw $e") }
        if (ledger.record(name, problems)) Some((a, secs)) else None
      case Left(e) =>
        e.printStackTrace()
        ledger.record(name, Seq(s"threw $e"))
        None
    }
  }

  /** A check with no timed op (for example a generator self-check). */
  def verify(name: String)(problems: => Seq[String]): Unit =
    ledger.record(name, try problems catch { case e: Exception => Seq(s"threw $e") })

  /** Repeats `rep` until `seconds` of wall time have passed and at least
    * `min` reps ran.
    */
  def repeat(seconds: Double, min: Int)(rep: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) { rep(i); i += 1 }
    i
  }
}

/** Small assertion helpers that collect problems instead of throwing. */
object Check {
  def eq[A](what: String, got: A, want: A): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")

  def within(what: String, got: Double, want: Double, tol: Double): Seq[String] =
    if (math.abs(got - want) <= tol) Nil
    else Seq(f"$what: got $got%.4f, want $want%.4f +- $tol%.4f")

  /** HLL standard error at precision p: 1.04 / sqrt(2^p). */
  def hllSigma(p: Int): Double = 1.04 / math.sqrt((1 << p).toDouble)
}
