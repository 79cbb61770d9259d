package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `kind` is the layer of the hierarchy
  * workload → op → call → job → stage; every span below an op carries
  * that op's id in `opId`. Times are epoch milliseconds (driver spans
  * keep sub-millisecond precision; Spark reports jobs and stages in
  * whole milliseconds). */
final class Span(val id: Long, val parent: Long, val opId: Long,
                 val kind: String, val name: String, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  def durMs: Double = endMs - startMs
  def json: String =
    s"""{"id":$id,"parent":$parent,"op":$opId,"kind":"$kind","name":"${Report.esc(name)}","start_ms":$startMs,"end_ms":$endMs}"""
}

/** Metrics of one completed stage, summed over its tasks. `module` is
  * the first `graft.*` frame of the stage's call site (the program code
  * that triggered the stage's job), or "other". */
final case class StageRec(spanId: Long, jobSpan: Long, opId: Long, module: String,
                          tasks: Int, cpuNs: Long, gcMs: Long,
                          inRecords: Long, inBytes: Long, shWrite: Long,
                          shRead: Long, spill: Long)

/** In-memory span recorder for the traced run. Spans are pushed around
  * the benchmark's own calls into graft; the id of the innermost open
  * span rides on the calling thread as a Spark local property, which
  * [[SpanListener]] reads to parent each job (and its stages) to the
  * call that submitted it. When disabled, every method just runs its
  * body: the untraced run sets no property and registers no listener. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  private val opOfSpan = TrieMap.empty[Long, Long]
  private var stack: List[Span] = Nil

  def nextId(): Long = ids.incrementAndGet()
  def current: Option[Span] = stack.headOption
  def opOf(spanId: Long): Long = opOfSpan.getOrElse(spanId, 0L)
  def add(s: Span): Unit = { spans.add(s); opOfSpan.put(s.id, s.opId) }

  /** Runs `body` inside a span of `kind`. An "op" span starts a new op
    * id; every other kind inherits its parent's. */
  def span[A](kind: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val id = nextId()
      val op = if (kind == "op") id else parent.map(_.opId).getOrElse(0L)
      val s = new Span(id, parent.map(_.id).getOrElse(0L), op, kind, name, nowMs)
      add(s)
      stack = s :: stack
      sc.setLocalProperty(Tracer.Prop, id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  def children(parent: Long, kind: String): Seq[Span] =
    spans.asScala.iterator.filter(s => s.parent == parent && s.kind == kind).toSeq

  def stagesOfJobs(jobIds: Set[Long]): Seq[StageRec] =
    stages.asScala.iterator.filter(r => jobIds(r.jobSpan)).toSeq

  def stagesOfOp(opId: Long): Seq[StageRec] =
    stages.asScala.iterator.filter(_.opId == opId).toSeq

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.id).foreach(s => w.println(s.json))
    finally w.close()
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Wall time of `outer` not covered by any of `inner` (clipped). */
  def selfMs(outer: Span, inner: Seq[Span]): Double = {
    val iv = inner.map(s => (math.max(outer.startMs, s.startMs), math.min(outer.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    outer.durMs - covered
  }

  /** Gaps between consecutive jobs (by start time) of one call. */
  def gapsMs(jobs: Seq[Span]): Seq[Double] = {
    val js = jobs.sortBy(_.startMs)
    js.zip(js.drop(1)).map { case (a, b) => math.max(0.0, b.startMs - a.endMs) }
  }

  /** The graft module (object name) of the first `graft.` frame in a
    * call-site stack, e.g. `graft.ops.Components$.connectedComponents(…)`
    * → "Components"; harness frames (`graftbench.`) do not count. */
  def module(details: String): String =
    details.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graftbench."))
      .map { l =>
        val cls = l.takeWhile(_ != '(').split('.').dropRight(1).lastOption.getOrElse("other")
        cls.takeWhile(_ != '$')
      }.getOrElse("other")
}

/** Parents Spark jobs and their stages to the benchmark span that was
  * open on the submitting thread, and records per-stage task metrics.
  * Jobs submitted without the local property (untraced ops) are
  * ignored. */
final class SpanListener(tr: Tracer) extends SparkListener {
  private val jobSpans = TrieMap.empty[Int, Span]
  private val stageJob = TrieMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop))).foreach { pid =>
      val parent = pid.toLong
      val s = new Span(tr.nextId(), parent, tr.opOf(parent), "job", s"job ${e.jobId}", e.time.toDouble)
      jobSpans.put(e.jobId, s)
      tr.add(s)
      e.stageIds.foreach(sid => stageJob.putIfAbsent(sid, e.jobId))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpans.get(e.jobId).foreach(_.endMs = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for (jid <- stageJob.get(info.stageId); js <- jobSpans.get(jid)) {
      val s = new Span(tr.nextId(), js.id, js.opId, "stage", s"stage ${info.stageId}",
        info.submissionTime.getOrElse(js.startMs.toLong).toDouble)
      s.endMs = info.completionTime.map(_.toDouble).getOrElse(s.startMs)
      tr.add(s)
      val m = info.taskMetrics
      if (m != null) tr.stages.add(StageRec(s.id, js.id, js.opId, Tracer.module(info.details),
        info.numTasks, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
}
