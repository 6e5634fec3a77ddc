package graftbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval: workload, op, Spark job or Spark stage. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Double])

/** Per-op totals over the op's Spark tasks. */
final class OpStages {
  var taskS, cpuS, gcS, waitS = 0.0
  var shuffleBytes, shuffleRecords, spillBytes = 0L
  val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]] // stage -> task ms

  /** max / median task duration of the op's busiest stage (1 = no skew). */
  def skew: Double = {
    if (stageTasks.isEmpty) 1.0
    else {
      val ts = stageTasks.values.maxBy(_.sum).map(_.toDouble).sorted
      ts.last / math.max(1.0, Stats.median(ts.toSeq))
    }
  }
}

/** Records spans in memory and listens to Spark. The benchmark opens a span
  * around each op and puts the span id into the `graftbench.span` local
  * property; every Spark job submitted from that thread carries it, which
  * links job and stage spans (and task metrics) back to the op.
  */
final class Tracer extends SparkListener {
  private val ids = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long)] // job -> (span, op span)
  private val stageOp = mutable.HashMap.empty[Int, (Long, Long)] // stage -> (job span, op span)
  private val ops = mutable.HashMap.empty[Long, OpStages]
  @volatile var tasksFailed = 0L

  private val epochUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs(): Long = epochUs + System.nanoTime() / 1000

  def newId(): Long = ids.getAndIncrement()

  /** A new SparkContext numbers its jobs and stages from zero again. */
  def newContext(): Unit = synchronized { jobSpan.clear(); stageOp.clear() }

  def add(s: Span): Unit = synchronized { spans += s }

  def opStages(opSpan: Long): OpStages = synchronized {
    ops.getOrElse(opSpan, new OpStages)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toLong).getOrElse(0L)
    val id = newId()
    jobSpan(e.jobId) = (id, op)
    e.stageIds.foreach(s => if (!stageOp.contains(s)) stageOp(s) = (id, op))
    spans += Span(id, op, "job", s"job-${e.jobId}", e.time * 1000, -1, Map.empty)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { case (id, _) =>
      val i = spans.lastIndexWhere(_.id == id)
      if (i >= 0) spans(i) = spans(i).copy(endUs = e.time * 1000)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val (job, _) = stageOp.getOrElse(info.stageId, (0L, 0L))
    for (s <- info.submissionTime; c <- info.completionTime) {
      spans += Span(newId(), job, "stage", s"stage-${info.stageId}", s * 1000, c * 1000,
        Map("tasks" -> info.numTasks.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    if (info.failed || info.killed || info.attemptNumber > 0) tasksFailed += 1
    val (_, op) = stageOp.getOrElse(e.stageId, (0L, 0L))
    val m = e.taskMetrics
    if (op != 0L && m != null) {
      val a = ops.getOrElseUpdate(op, new OpStages)
      val duration = info.finishTime - info.launchTime
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val schedulerDelay = math.max(0L, duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      a.taskS += m.executorRunTime / 1e3
      a.cpuS += m.executorCpuTime / 1e9
      a.gcS += m.jvmGCTime / 1e3
      a.waitS += (m.shuffleReadMetrics.fetchWaitTime + schedulerDelay) / 1e3
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.diskBytesSpilled
      a.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += duration
    }
  }

  /** Writes every span as one JSON line, with its self time: its duration
    * minus the part of it that its children cover.
    */
  def write(file: File): Int = synchronized {
    val closed = spans.filter(_.endUs >= 0)
    val children = closed.groupBy(_.parent)
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try closed.foreach { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var reach = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      val dur = s.endUs - s.startUs
      val attrs = s.attrs.map { case (k, v) => s""","$k":${Json.num(v)}""" }.mkString
      out.println(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":"${s.name}","start_us":${s.startUs},"dur_us":$dur,""" +
        s""""self_us":${dur - covered}$attrs}""")
    } finally out.close()
    closed.size
  }
}

object Tracer {
  val Prop = "graftbench.span"
}
