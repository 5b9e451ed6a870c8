package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbenchbridge.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the engine, plus the Spark-side
  * records each span caused.
  *
  * A span is opened by [[span]] on the client thread; while it is open the
  * thread's Spark local property [[SpanKey]] names it, so every job the
  * call submits (and every job of a streaming query started inside it,
  * whose thread inherits the property) carries the innermost open span.
  * Three listeners record what ran: a `SparkListener` (jobs, stages with
  * their task metrics, SQL execution start/end), a `QueryExecutionListener`
  * (planning phases per SQL execution) and a `StreamingQueryListener`
  * (micro-batch progress). Everything stays in memory until [[dump]].
  *
  * Tracing is switchable: [[enable]] registers the listeners, [[disable]]
  * drains the listener bus and removes them, so untraced operations run
  * with nothing registered.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private var nextSpan = 0
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.HashMap[Int, StageAgg]()
  val execs = mutable.HashMap[Long, Exec]()
  /** Planning milliseconds per `QueryExecution.id`, and the SQL execution
    * id each `QueryExecution` ran under. */
  private val planMsByQe = mutable.HashMap[Long, Long]()
  private val execOfQe = mutable.HashMap[Long, Long]()
  val progress = mutable.ArrayBuffer[Progress]()
  @volatile private var on = false

  def enabled: Boolean = on

  /** Run `body` inside a span named `name` (a no-op wrapper when off). */
  def span[A](name: String)(body: => A): A = {
    if (!on) return body
    nextSpan += 1
    val s = Span(nextSpan, name, stack.headOption.map(_.id).getOrElse(0),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs(e.jobId) = Job(e.jobId, prop(SpanKey).map(_.toInt).getOrElse(0),
        prop("spark.sql.execution.id").map(_.toLong),
        prop("sql.streaming.queryId"),
        prop("streaming.sql.batchId").map(_.toLong),
        e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val a = stages.getOrElseUpdate(i.stageId, new StageAgg)
      a.tasks += i.numTasks
      Option(i.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.outputRecords += m.outputMetrics.recordsWritten
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs.getOrElseUpdate(s.executionId, Exec(s.executionId)).startMs = s.time
        case s: SparkListenerSQLExecutionEnd =>
          Option(Bridge.queryExecution(s)).foreach(q => execOfQe(q.id) = s.executionId)
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases
      val ms = PlanPhases.flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
      planMsByQe(qe.id) = ms
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        progress += Progress(p.id.toString, p.batchId, p.numInputRows,
          ms("triggerExecution"), ms("walCommit"), ms("latestOffset"),
          ms("queryPlanning"))
      }
  }

  def enable(): Unit = if (!on) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def disable(): Unit = if (on) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = Bridge.waitUntilEmpty(sc)

  /** Ids of `root` and every span below it. */
  def subtree(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => go(s.id)).toSeq
    go(root.id).toSet
  }

  def jobsUnder(root: Span): Seq[Job] = synchronized {
    val ids = subtree(root)
    jobs.values.filter(j => ids.contains(j.span)).toSeq
  }

  /** Totals over a set of jobs. */
  def counts(js: Seq[Job]): Counts = synchronized {
    val c = new Counts
    c.jobs = js.size
    js.foreach { j =>
      j.stageIds.flatMap(stages.get).foreach { a =>
        c.tasks += a.tasks; c.runMs += a.runMs
        c.inputBytes += a.inputBytes; c.outputBytes += a.outputBytes
        c.outputRecords += a.outputRecords; c.shuffleBytes += a.shuffleBytes
        c.spillBytes += a.spillBytes
      }
    }
    val ids = js.flatMap(_.exec).toSet
    c.planMs = execOfQe.collect { case (qe, ex) if ids(ex) => planMsByQe.getOrElse(qe, 0L) }.sum
    c
  }

  /** Milliseconds of [fromMs, toMs) covered by no job's run interval:
    * the time the driver spent on anything but waiting for a job. */
  def driverGapMs(js: Seq[Job], fromMs: Long, toMs: Long): Long = {
    val iv = js.filter(_.endMs > 0).map(j => (j.startMs max fromMs, j.endMs min toMs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    (toMs - fromMs) - covered
  }

  /** Spans and per-span counts as JSON lines, written when the run ends. */
  def dump(path: java.nio.file.Path): Unit = synchronized {
    val lines = spans.map { s =>
      val c = counts(jobs.values.filter(_.span == s.id).toSeq)
      s"""{"span":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"executor_run_s":${c.runMs / 1e3},""" +
        s""""scan_bytes":${c.inputBytes},"write_bytes":${c.outputBytes},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},""" +
        s""""plan_s":${c.planMs / 1e3}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final val SpanKey = "perfbench.span"
  private val PlanPhases = Seq("analysis", "optimization", "planning")

  final case class Span(id: Int, name: String, parent: Int, startMs: Long, startNs: Long) {
    var endNs: Long = 0L
    var endMs: Long = 0L
    def wallS: Double = (endNs - startNs) / 1e9
  }
  final case class Job(id: Int, span: Int, exec: Option[Long],
      streamId: Option[String], batchId: Option[Long], startMs: Long,
      stageIds: Seq[Int]) {
    var endMs: Long = 0L
  }
  final class StageAgg {
    var tasks, runMs, inputBytes, outputBytes, outputRecords,
      shuffleBytes, spillBytes = 0L
  }
  final case class Exec(id: Long) {
    var startMs = 0L
  }
  final case class Progress(queryId: String, batchId: Long, inputRows: Long,
      triggerMs: Long, walCommitMs: Long, latestOffsetMs: Long,
      planningMs: Long)
  final class Counts {
    var jobs, tasks, runMs, inputBytes, outputBytes, outputRecords,
      shuffleBytes, spillBytes, planMs = 0L
  }
}
