package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Entry point: `--workload <ingest|neardup> --seed <n> --seconds <n>
  * --trace <0|1> --work <dir>`, run from the root of a checkout.
  *
  * Untraced (`--trace 0`) runs measure one workload and report the
  * end-to-end metrics. A traced run measures the named workload untraced
  * and traced in turn (the ratio is the tracing overhead), then runs the
  * other workload traced, the core micro-harness and the reader ceiling,
  * so that every per-layer metric is filled in. Either way the last stdout
  * line is one JSON object: correct, attempted, failed, metrics.
  */
object Main {
  val Workloads: Seq[String] = Seq("ingest", "neardup")

  /** A metric as BENCHMARK.json declares it. Samples are recorded under the
    * same names, so the file is the one list of reported metrics.
    */
  final case class Declared(name: String, unit: String)

  private def declared(spec: File, key: String): Seq[Declared] =
    new ObjectMapper().readTree(spec).get(key).elements().asScala
      .map(m => Declared(m.get("name").asText, m.get("unit").asText)).toSeq

  /** The metrics printed, per workload, in the readable report. */
  private val Report: Map[String, Seq[String]] = Map(
    "ingest" -> Seq("build_turns_per_s", "udaf_build_turns_per_s", "scaling_eff_1_4", "job_s",
      "resume_s", "ingest.stored_bytes", "rollup_build_turns_per_s", "query_p50_ms",
      "query_p95_ms", "rollup.stored_bytes", "rep_s"),
    "neardup" -> Seq("neardup_docs_per_s", "rep_s"))

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", "")
    require(Workloads.contains(w), s"--workload must be one of ${Workloads.mkString(", ")}")
    Opts(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", new File(m.getOrElse("work", ".bench_build/work")))
  }

  /** Inputs of one workload (an Ingest.Data or a Neardup.Data). */
  private def prepare(ctx: Ctx, w: String): AnyRef = w match {
    case "ingest" => Ingest.prepare(ctx, Gen.Turns(ctx.opts.seed, Ingest.Convs, 2000))
    case _ => Neardup.prepare(ctx, ctx.opts.seed, Neardup.Docs)
  }

  /** The JIT warm-up pass of one workload: its own ops, untimed as ops, so
    * the hot loops are compiled before the first timed rep.
    */
  private def warmup(ctx: Ctx, in: AnyRef): Unit = in match {
    case d: Ingest.Data => Ingest.warmup(ctx, d)
    case d: Neardup.Data => Neardup.warmup(ctx, d)
  }

  /** Fewest reps of an untraced run. The first timed rep still runs 5-25%
    * slower than the next (JIT), so the median is taken over at least three.
    */
  private val MinReps = 3

  private def registerAll(ctx: Ctx): Unit = {
    Ingest.register(ctx.spark); Rollup.register(ctx.spark)
  }

  private def measure(ctx: Ctx, in: AnyRef, seconds: Double, minReps: Int, full: Boolean): Unit = {
    if (ctx.spark.sparkContext.defaultParallelism != 4) { ctx.startSession(4); registerAll(ctx) }
    in match {
      case d: Ingest.Data => Ingest.run(ctx, d, seconds, minReps, full)
      case d: Neardup.Data => Neardup.run(ctx, d, seconds, minReps)
    }
  }

  private def report(samples: Samples, w: String): Unit = Report(w).foreach { name =>
    val xs = samples.get(name)
    if (xs.nonEmpty) {
      val n = name match {
        case "query_p50_ms" | "query_p95_ms" => samples.get("query_ms").size
        case "scaling_eff_1_4" => samples.get("build_turns_per_s_1").size
        case _ => xs.size
      }
      println(f"# $w%-8s $name%-26s ${Stats.median(xs)}%16.6f ${samples.unit(name)}%-8s (median, n=$n)")
    } else println(f"# $w%-8s $name%-26s not measured")
  }

  def main(args: Array[String]): Unit = {
    // Spark leaves non-daemon threads behind: leave explicitly either way
    val code = try { run(parse(args)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(o: Opts): Unit = {
    val start = System.nanoTime()
    var last = start
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"graftbench: phase $name%-10s ${(now - last) / 1e9}%8.3f s (total ${(now - start) / 1e9}%.3f s)")
      last = now
    }
    val spec = new File("BENCHMARK.json")
    val metrics = declared(spec, if (o.trace) "per_layer" else "end_to_end")
    val ctx = new Ctx(o)
    ctx.clear("run")
    val order = o.workload +: Workloads.filterNot(_ == o.workload)
    val runs = if (o.trace) order else Seq(o.workload)

    // set-up, once, in this fresh JVM: the first session start, function
    // registration and the named workload's JIT warm-up pass. The inputs are
    // generated between registration and warm-up; that is the load
    // generator, not the program, so it is not timed.
    val t0 = System.nanoTime()
    ctx.startSession(4)
    val t1 = System.nanoTime()
    registerAll(ctx)
    val t2 = System.nanoTime()
    val inputs = runs.map(w => w -> prepare(ctx, w)).toMap
    phase("inputs")
    val t3 = System.nanoTime()
    warmup(ctx, inputs(o.workload))
    val t4 = System.nanoTime()
    ctx.samples.add("setup.session_s", "s", (t1 - t0) / 1e9)
    ctx.samples.add("setup.register_s", "s", (t2 - t1) / 1e9)
    ctx.samples.add("setup.warmup_s", "s", (t4 - t3) / 1e9)
    ctx.samples.add("setup_s", "s", (t2 - t0 + t4 - t3) / 1e9)
    phase("setup")
    println(f"# setup_s ${(t2 - t0 + t4 - t3) / 1e9}%.6f s (session ${(t1 - t0) / 1e9}%.3f, " +
      f"register ${(t2 - t1) / 1e9}%.3f, warm-up ${(t4 - t3) / 1e9}%.3f)")

    if (!o.trace) {
      measure(ctx, inputs(o.workload), o.seconds.toDouble, MinReps, full = false)
      phase("measure")
      report(ctx.samples, o.workload)
    } else {
      // each workload's samples are kept apart so shared names (rep_s) do
      // not mix; a pass adds one workload's reps to `into`
      val main = ctx.samples
      def pass(w: String, into: Samples, minReps: Int, full: Boolean): Unit = {
        ctx.samples = into
        ctx.inWorkload(w)(measure(ctx, inputs(w), 0, minReps, full))
        ctx.samples = main
        phase(w)
      }
      // the named workload, in one session: a rep left out of the ratio (the
      // first after set-up runs slowest), then one rep untraced, two traced,
      // one untraced; reps still speed up as the JIT warms, and this order
      // cancels that trend in the overhead ratio. Then, traced, its
      // SketchJob cycle and scaling pair (ingest), and every other workload
      // after its own untimed warm-up.
      val tracer = new Tracer
      val untraced, named = new Samples
      pass(o.workload, new Samples, 1, full = false)
      pass(o.workload, untraced, 1, full = false)
      ctx.attach(tracer)
      pass(o.workload, named, 2, full = false)
      ctx.detach()
      pass(o.workload, untraced, 1, full = false)
      ctx.attach(tracer)
      pass(o.workload, named, 0, full = true)
      val passes = (o.workload -> named) +: order.tail.map { w =>
        ctx.detach(); warmup(ctx, inputs(w)); ctx.attach(tracer)
        val s = new Samples
        pass(w, s, 1, full = true)
        w -> s
      }
      (untraced +: passes.map(_._2)).foreach(main.absorb)
      val traced = named.get("rep_s")
      val ingest = inputs("ingest").asInstanceOf[Ingest.Data]
      if (ctx.spark.sparkContext.defaultParallelism != 4) { ctx.startSession(4); registerAll(ctx) }
      ctx.inWorkload("core")(CoreMicro.run(ctx, ingest))
      ctx.inWorkload("scan")(Ingest.scanOnly(ctx, ingest, 3))
      ctx.detach()
      phase("core+scan")
      if (traced.size == 2 && untraced.get("rep_s").size == 2)
        main.add("trace.overhead_ratio", "ratio", traced.sum / untraced.get("rep_s").sum)
      main.add("spark.tasks_failed", "count", tracer.tasksFailed.toDouble)
      val spans = new File(ctx.dir("spans"), s"spans-${o.workload}-${o.seed}.jsonl")
      val n = tracer.write(spans)
      println(s"# trace: $n spans in ${spans.getPath}")
      passes.foreach { case (w, s) => report(s, w) }
      val listed = metrics.map(_.name).toSet
      main.names.filterNot(listed).foreach { k =>
        println(f"# extra    $k%-34s ${main.median(k)}%16.6f ${main.unit(k)}")
      }
    }

    val l = ctx.ledger
    println(f"# ops_failed_ratio ${l.failed.toDouble / math.max(1L, l.attempted)}%.6f (${l.failed}/${l.attempted} ops)")
    val missing = metrics.filter(m => ctx.samples.get(m.name).isEmpty)
    missing.foreach(m => System.err.println(s"graftbench: not measured: ${m.name}"))
    val body = metrics.map { m =>
      val xs = ctx.samples.get(m.name)
      require(xs.isEmpty || ctx.samples.unit(m.name) == m.unit,
        s"${m.name} is recorded in ${ctx.samples.unit(m.name)}, BENCHMARK.json says ${m.unit}")
      val v = if (xs.isEmpty) 0.0 else Stats.median(xs)
      s""""${m.name}": {"value": ${Json.num(v)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    val correct = l.failed == 0 && missing.isEmpty
    println(s"""{"correct": $correct, "attempted": ${l.attempted}, "failed": ${l.failed}, "metrics": {$body}}""")
    System.out.flush()
    ctx.spark.stop()
  }
}
