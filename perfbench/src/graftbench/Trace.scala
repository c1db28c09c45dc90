package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced mode, plus Spark listeners
  * that record jobs (with their task metrics), query-execution planning
  * phases and streaming progress. Everything stays in memory and is
  * written out with the run record; with tracing off every call is a
  * pass-through and no listener is registered.
  *
  * Times are `System.nanoTime` nanoseconds. Listener events carry epoch
  * milliseconds; they are mapped onto the same clock through one anchor.
  */
final class Tracer(val enabled: Boolean, workload: String) {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  final case class Span(id: Int, name: String, start: Long, end: Long,
      parent: Int, trace: String)

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0
  @volatile var spark: Option[SparkSession] = None
  /** current run / batch part of the trace id */
  @volatile var run = "setup"

  /** record `f` as a span; jobs it submits carry the span id as a local
    * property, so the listener attaches them to it. */
  def span[A](name: String, batch: String = "")(f: => A): A =
    if (!enabled) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      val sc = spark.map(_.sparkContext)
      val prevProp = sc.map(_.getLocalProperty(Tracer.SpanProp))
      sc.foreach(_.setLocalProperty(Tracer.SpanProp, id.toString))
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        sc.foreach(_.setLocalProperty(Tracer.SpanProp, prevProp.orNull))
        val trace = s"$workload/$run" + (if (batch.isEmpty) "" else s"/$batch")
        synchronized { spans += Span(id, name, t0, t1, parent, trace) }
      }
    }

  // ---- listener-side records ----

  final class Job(val id: Int, val start: Long, val span: Int,
      val batch: Long, val site: String) {
    var end = 0L
    var stages = 0
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  final case class Qe(func: String, start: Long, end: Long,
      analysisMs: Double, optimizationMs: Double, planningMs: Double)
  private val qes = mutable.ArrayBuffer[Qe]()
  final case class Progress(batch: Long, start: Long, durations: Map[String,
    Long], rows: Long, endPos: Long, fileBytes: Long)
  private val progress = mutable.ArrayBuffer[Progress]()
  /** bytes in the tailed file now (set by tail workloads) */
  @volatile var fileBytes: () => Long = () => -1L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      // the action's call site, then the result stage's (RDD) site
      val site = (prop("callSite.short").toSeq ++ e.stageInfos
        .sortBy(-_.stageId).headOption.map(_.name)).mkString(" / ")
      Tracer.this.synchronized {
        jobs(e.jobId) = new Job(e.jobId, msToNs(e.time),
          prop(Tracer.SpanProp).map(_.toInt).getOrElse(0),
          prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), site)
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobs.get(e.jobId).foreach(_.end = msToNs(e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
          .foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        for (j <- stageJob.get(e.stageId).flatMap(jobs.get);
             m <- Option(e.taskMetrics)) {
          j.tasks += 1
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val starts = ph.values.map(_.startTimeMs)
      val end = System.nanoTime()
      val start = if (starts.isEmpty) end - durationNs
        else msToNs(starts.min)
      Tracer.this.synchronized {
        qes += Qe(func, start, end, ms("analysis"), ms("optimization"),
          ms("planning"))
      }
    }
    override def onFailure(func: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val endPos = p.sources.headOption.flatMap(s => Option(s.endOffset))
        .map(o => """"pos":(\d+)""".r.findAllMatchIn(o)
          .map(_.group(1).toLong).sum).getOrElse(-1L)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        .toMap
      Tracer.this.synchronized {
        progress += Progress(p.batchId, msToNs(startMs), d,
          p.numInputRows, endPos, fileBytes())
      }
    }
  }

  /** register the listeners on a (new) session */
  def attach(s: SparkSession): Unit = {
    spark = Some(s)
    if (enabled) {
      s.sparkContext.addSparkListener(sparkListener)
      s.listenerManager.register(qeListener)
      s.streams.addListener(streamListener)
    }
  }

  def detach(s: SparkSession): Unit = if (enabled) {
    s.sparkContext.removeSparkListener(sparkListener)
    s.listenerManager.unregister(qeListener)
    s.streams.removeListener(streamListener)
  }

  def record: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent,
        "trace" -> s.trace)),
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "start" -> j.start,
        "end" -> j.end, "span" -> j.span, "batch" -> j.batch,
        "site" -> j.site, "stages" -> j.stages, "tasks" -> j.tasks,
        "cpu_ns" -> j.cpuNs, "run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
        "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite,
        "spill" -> j.spill)),
      "qe" -> qes.map(q => Map("func" -> q.func, "start" -> q.start,
        "end" -> q.end, "analysis_ms" -> q.analysisMs,
        "optimization_ms" -> q.optimizationMs,
        "planning_ms" -> q.planningMs)),
      "progress" -> progress.map(p => Map("batch" -> p.batch,
        "start" -> p.start, "durations" -> p.durations, "rows" -> p.rows,
        "end_pos" -> p.endPos, "file_bytes" -> p.fileBytes)))
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
}
