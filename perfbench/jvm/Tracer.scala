package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters for the traced passes.
  *
  * Spans are recorded by the benchmark around its own calls into the
  * engine: one `query` span per item, with `build` (inside `q.fn`) and
  * `action` (the noop write) children, and a `floor` span for the trivial
  * action timed between queries. Jobs inherit the open span's id through
  * a local property, so the listeners can attribute jobs, stages and
  * tasks to the span that caused them. Spans stay in memory and are
  * written once, at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var currentQuery = ""

  // listener state, keyed by span id (written on the listener bus thread)
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private val qeRecs = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()
  private val progress =
    new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val stagesDone = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  // analysis of each built DataFrame, which happens inside q.fn
  private var buildAnalysisMs = 0L
  // codegen compiles and time, summed over the enabled windows
  private var compiles = 0L
  private var compileNs = 0L
  private var codegenAt = (0L, 0L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      jobSpan.put(e.jobId, sid)
      e.stageIds.foreach(stageSpan.put(_, sid))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.add(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(TaskRec(stageSpan.getOrDefault(e.stageId, -1), e.stageId,
          e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
          m.executorCpuTime, m.executorRunTime,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten))
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      // bytes on disk of every relation the executed plan scans
      val onDisk = PlanHelper.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toString).mkString(",") ->
            s.relation.location.sizeInBytes
      }.toMap.values.sum
      qeRecs.add(QeRec(ms("analysis"), ms("optimization"), ms("planning"),
        onDisk))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Listeners are on only while a traced pass runs. */
  def enable(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    codegenAt = (CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  def disable(): Unit = {
    compileNs += CodeGenerator.compileTime - codegenAt._1
    compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenAt._2
    sc.listenerBus.waitUntilEmpty()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Records the analysis time of a DataFrame `q.fn` returned. */
  def built(df: org.apache.spark.sql.DataFrame): Unit =
    buildAnalysisMs += df.queryExecution.tracker.phases.get("analysis")
      .map(_.durationMs).getOrElse(0L)

  def query[T](name: String)(body: => T): T = {
    currentQuery = name
    span("query")(body)
  }

  def span[T](name: String)(body: => T): T = {
    val id = spans.length
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, parent, currentQuery, name, System.nanoTime(),
      System.currentTimeMillis(), 0L, 0L)
    open = id :: open
    sc.setLocalProperty(SpanProp, id.toString)
    try body finally {
      spans(id) = spans(id).copy(endNs = System.nanoTime(),
        endMs = System.currentTimeMillis())
      open = open.tail
      sc.setLocalProperty(SpanProp, open.headOption.map(_.toString).orNull)
    }
  }

  /** The session floor: a trivial noop action, timed between queries. */
  def floorSample(): Unit = {
    val q = currentQuery
    currentQuery = "floor"
    span("floor")(GraftBench.runNoop(spark.range(1).toDF()))
    currentQuery = q
  }

  /** Per-layer metrics per traced pass. */
  def finish(passes: Int): mutable.LinkedHashMap[String, Double] = {
    val p = passes.toDouble
    val ts = tasks.asScala.toSeq
    val byName = spans.groupBy(_.name)
    def secs(name: String) =
      byName.getOrElse(name, Nil).map(s => (s.endNs - s.startNs) / 1e9).sum
    val kind = spans.map(s => s.id -> s.name).toMap
    val userTasks = ts.filter(t => kind.get(t.span).exists(_ != "floor"))
    val buildJobs = jobSpan.asScala.count { case (_, s) =>
      kind.get(s).contains("build") }
    val userJobs = jobSpan.asScala.count { case (_, s) =>
      kind.get(s).exists(_ != "floor") }
    val qes = qeRecs.asScala.toSeq
    // driver-only time: action wall not covered by any of its tasks
    val tasksBySpan = userTasks.groupBy(t => rootOf(t.span))
    val driverOnly = byName.getOrElse("query", Nil).map { q =>
      val iv = tasksBySpan.getOrElse(q.id, Nil)
        .map(t => (math.max(t.launchMs, q.startMs), math.min(t.finishMs, q.endMs)))
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var reach = q.startMs
      iv.foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e } }
      (q.endMs - q.startMs - covered) / 1000.0
    }.sum
    val skew = userTasks.groupBy(_.stage).values.filter(_.size >= 4).map { g =>
      val d = g.map(t => (t.finishMs - t.launchMs).toDouble).sorted
      val med = math.max(1.0, d(d.size / 2))
      d.last / med
    }
    val cores = sc.defaultParallelism
    val querySecs = secs("query")
    val runSecs = userTasks.map(_.runMs).sum / 1000.0
    val prog = progress.asScala.toSeq.map(_.progress)
    def dur(k: String) = prog.map(x =>
      Option(x.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1000.0
    def share(x: Double) =
      if (dur("triggerExecution") > 0) x / dur("triggerExecution") else 0.0
    val stateOps = prog.flatMap(_.stateOperators)
    val finalState = prog.groupBy(_.id).values.flatMap(_.lastOption)
      .flatMap(_.stateOperators.map(_.numRowsTotal)).sum
    val mb = 1024.0 * 1024.0
    val inBytes = userTasks.map(_.inBytes).sum
    val onDisk = qes.map(_.onDiskBytes).sum
    mutable.LinkedHashMap[String, Double](
      "session.floor_s" -> GraftBench.median(byName.getOrElse("floor", Nil)
        .map(s => (s.endNs - s.startNs) / 1e9).toSeq),
      "queries.build_s" -> secs("build") / p,
      "queries.eager_jobs" -> buildJobs / p,
      "queries.analyze_s" ->
        (buildAnalysisMs + qes.map(_.analysisMs).sum) / 1000.0 / p,
      "queries.optimize_s" -> qes.map(_.optimizationMs).sum / 1000.0 / p,
      "queries.physplan_s" -> qes.map(_.planningMs).sum / 1000.0 / p,
      "queries.exec_s" -> secs("action") / p,
      "queries.driver_only_s" -> driverOnly / p,
      "queries.jobs" -> userJobs / p,
      "queries.stages" ->
        stagesDone.asScala.count(s => kind.get(s).exists(_ != "floor")) / p,
      "queries.tasks" -> userTasks.size / p,
      "codegen.compiles" -> compiles / p,
      "codegen.compile_s" -> compileNs / 1e9 / p,
      "op.shuffle_records" -> userTasks.map(_.shuffleRecords).sum / p,
      "op.shuffle_write_mb" -> userTasks.map(_.shuffleBytes).sum / mb / p,
      "op.spill_mb" -> userTasks.map(_.spillBytes).sum / mb / p,
      "op.peak_exec_mem_mb" ->
        (if (userTasks.isEmpty) 0.0 else userTasks.map(_.peakMem).max / mb),
      "op.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "op.executor_cpu_s" -> userTasks.map(_.cpuNs).sum / 1e9 / p,
      "op.busy_frac" ->
        (if (querySecs > 0) runSecs / (querySecs * cores) else 0.0),
      "sources.rows_read" -> userTasks.map(_.inRecords).sum / p,
      "sources.read_mb" -> inBytes / mb / p,
      "sources.read_frac" -> (if (onDisk > 0) inBytes.toDouble / onDisk else 0.0),
      "sources.write_mb" -> userTasks.map(_.outBytes).sum / mb / p,
      "sources.rows_written" -> userTasks.map(_.outRecords).sum / p,
      "stream.batches" -> prog.count(_.numInputRows > 0) / p,
      "stream.input_rows" -> prog.map(_.numInputRows).sum / p,
      "stream.rows_per_s" -> (if (dur("triggerExecution") > 0)
        prog.map(_.numInputRows).sum / dur("triggerExecution") else 0.0),
      "stream.state_rows" -> finalState / p,
      "stream.state_mem_mb" ->
        (if (stateOps.isEmpty) 0.0 else stateOps.map(_.memoryUsedBytes).max / mb),
      // shares of micro-batch time, so that they read 0, not a time of 0,
      // where no stream runs
      "stream.plan_frac" -> share(dur("queryPlanning")),
      "stream.add_batch_frac" -> share(dur("addBatch")),
      "stream.commit_frac" -> share(dur("walCommit") + dur("commitOffsets")))
  }

  private def rootOf(id: Int): Int = {
    var i = id
    while (i >= 0 && spans(i).parent >= 0) i = spans(i).parent
    i
  }

  def writeSpans(path: String): Unit = {
    val rows = spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "query" -> s.query, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json(rows))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  final case class Span(id: Int, parent: Int, query: String, name: String,
      startNs: Long, startMs: Long, endNs: Long, endMs: Long)
  final case class TaskRec(span: Int, stage: Int, launchMs: Long,
      finishMs: Long, shuffleRecords: Long, shuffleBytes: Long,
      spillBytes: Long, peakMem: Long, cpuNs: Long, runMs: Long,
      inRecords: Long, inBytes: Long, outRecords: Long, outBytes: Long)
  final case class QeRec(analysisMs: Long, optimizationMs: Long,
      planningMs: Long, onDiskBytes: Long)
  object PlanHelper extends AdaptiveSparkPlanHelper
}
