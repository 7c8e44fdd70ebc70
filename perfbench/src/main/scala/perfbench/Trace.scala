package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Milliseconds on the wall clock (epoch-based, like Spark's listener event
  * times) with nanoTime resolution between calls. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One interval of the span tree. `root` is the operation span the interval
  * belongs to; `layer` names the module the benchmark called into. */
final case class Span(id: Long, parent: Long, root: Long, op: String,
    name: String, layer: String, start: Double, var end: Double)

final case class JobRec(jobId: Int, span: Long, callSite: String,
    start: Double, var end: Double = Double.NaN) {
  var cpuNs = 0L
  var bytesRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Double]]
}

final case class PlanRec(phase: String, start: Double, end: Double)

final case class ProgressRec(runId: String, batchId: Long, triggerStart: Double,
    durations: Map[String, Long], rows: Long)

/** Span recorder plus the three listeners of the traced run. With
  * `enabled = false` every wrapper only runs its body, so untraced runs pay
  * nothing but a branch.
  *
  * Jobs reach their span through the local property [[SpanKey]], which the
  * recorder sets on the client thread before each call; Spark copies local
  * properties into threads started under them, so streaming micro-batch
  * jobs inherit the span of the call that started their query. */
final class Tracer(val enabled: Boolean) {
  val SpanKey = "perfbench.span"
  private var sc: SparkContext = _
  private var nextId = 1L
  private var rootSpan: Span = _
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()

  def install(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  private def setProp(id: Long): Unit =
    sc.setLocalProperty(SpanKey, if (id < 0) null else id.toString)

  private def open(parent: Long, root: Long, op: String, name: String,
      layer: String): Span = synchronized {
    val s = Span(nextId, parent, if (root < 0) nextId else root, op, name,
      layer, Clock.nowMs(), Double.NaN)
    nextId += 1
    spans += s
    s
  }

  /** One closed-loop operation: the root span. */
  def op[T](op: String)(body: => T): T =
    if (!enabled) body
    else {
      val root = open(-1, -1, op, op, "bench")
      rootSpan = root
      setProp(root.id)
      try body
      finally { root.end = Clock.nowMs(); setProp(-1); rootSpan = null }
    }

  /** One public call into the engine, a child of the current operation. */
  def call[T](layer: String, name: String)(body: => T): T =
    if (!enabled || rootSpan == null) body
    else {
      val s = begin(layer, name)
      try body finally end(s)
    }

  /** Open a call span that another thread finishes (a streaming query runs
    * after `start()` returns); jobs started under it stay parented to it. */
  def begin(layer: String, name: String): Span =
    if (!enabled || rootSpan == null) null
    else {
      val s = open(rootSpan.id, rootSpan.id, rootSpan.op, name, layer)
      setProp(s.id)
      s
    }

  def end(s: Span): Unit = if (s != null) {
    s.end = Clock.nowMs()
    setProp(rootSpan.id)
  }

  /** Restore the root span as the parent of jobs started from here on. */
  def reparent(): Unit = if (enabled && rootSpan != null) setProp(rootSpan.id)

  /** Wait until every queued listener event has been delivered. */
  def drain(spark: SparkSession): Unit = if (enabled) {
    try {
      val lb = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      lb.getClass.getMethod("waitUntilEmpty").invoke(lb)
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(500) }
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(-1L)
      // the short call site ("count at PipelineRunner.scala:73"): the local
      // property when set, else the result stage's name, which Spark takes
      // from the same call site
      val site = p.flatMap(x => Option(x.getProperty("callSite.short")))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
      jobs.put(e.jobId, JobRec(e.jobId, span, site, e.time.toDouble))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          val info = e.taskInfo
          j.taskIntervals += ((info.launchTime.toDouble, info.finishTime.toDouble))
          j.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            (info.finishTime - info.launchTime).toDouble
          val m = e.taskMetrics
          if (m != null) {
            j.cpuNs += m.executorCpuTime
            j.bytesRead += m.inputMetrics.bytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        plans.add(PlanRec(phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
      }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def epochMs(iso: String): Double =
    java.time.Instant.parse(iso).toEpochMilli.toDouble

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(ProgressRec(p.runId.toString, p.batchId, epochMs(p.timestamp),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

/** Interval arithmetic over (start, end) pairs in ms. */
object Intervals {
  def union(xs: Iterable[(Double, Double)]): Seq[(Double, Double)] = {
    val sorted = xs.filter(x => x._2 > x._1).toSeq.sortBy(_._1)
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    sorted.foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2)
        out(out.length - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }
  def length(xs: Iterable[(Double, Double)]): Double = union(xs).map(x => x._2 - x._1).sum
  def clip(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1).toSeq
}
