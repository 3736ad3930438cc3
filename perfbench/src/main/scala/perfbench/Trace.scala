package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Named spans over calls into the library, measured from outside it.
 *
 * A span is a timed region of the driver thread. While one is open, its id
 * sits in a Spark local property, so every job submitted inside it carries
 * that id in its properties and the job's stages and tasks are attributed to
 * it exactly. Query executions are attributed by time instead: a
 * [[QueryExecutionListener]] callback has no job properties, so its
 * `QueryPlanningTracker` phases are matched to the innermost span that was
 * open when planning started.
 *
 * [[detailed]] is set in a traced run: workloads then split a call into its
 * public steps so each step gets its own span.
 *
 * Both listeners are registered by the benchmark on the session's public
 * listener APIs; nothing in the library is instrumented. Listener events are
 * delivered asynchronously, so [[settle]] runs a marker job and waits until
 * its end (and its query execution) has been seen before results are read.
 */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  var detailed = false

  // listener side (written on the listener threads)
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobSpans = new ConcurrentLinkedQueue[Int]()
  private val tasks = new java.util.concurrent.ConcurrentHashMap[Int, TaskTotals]()
  private val queries = new ConcurrentLinkedQueue[QueryRecord]()
  @volatile private var lastJobEnd = -1
  @volatile private var lastQueryStartMs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(stageSpan.put(_, id))
      jobSpans.add(id)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lastJobEnd = e.jobId
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val id = stageSpan.getOrDefault(e.stageId, -1)
        val t = tasks.computeIfAbsent(id, _ => new TaskTotals)
        t.synchronized {
          t.cpuNs += m.executorCpuTime
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          t.writtenBytes += m.outputMetrics.bytesWritten
          t.peakMemBytes = math.max(t.peakMemBytes, m.peakExecutionMemory)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val startMs = Seq(QueryPlanningTracker.PLANNING, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.ANALYSIS).flatMap(phases.get).map(_.startTimeMs).headOption
      .getOrElse(System.currentTimeMillis())
    val inAction = ms(QueryPlanningTracker.OPTIMIZATION) + ms(QueryPlanningTracker.PLANNING)
    val planMs = ms(QueryPlanningTracker.ANALYSIS) + inAction
    queries.add(QueryRecord(startMs, planMs / 1e3, durationNs / 1e9,
      math.max(0.0, durationNs / 1e9 - inAction / 1e3)))
    lastQueryStartMs = math.max(lastQueryStartMs, startMs)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Times `body` as a span named `name`, nested in whichever span is open. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanProperty, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Blocks until every listener event posted so far has been delivered. */
  def settle(): Unit = {
    val before = System.currentTimeMillis()
    sc.setLocalProperty(SpanProperty, null)
    spark.range(1).collect()
    val markerJob = sc.statusTracker.getJobIdsForGroup(null).maxOption.getOrElse(0)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while ((lastJobEnd < markerJob || lastQueryStartMs < before) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** Drops everything recorded so far (spans and listener totals). */
  def reset(): Unit = {
    require(open.isEmpty, "reset inside an open span")
    spans.clear(); stageSpan.clear(); jobSpans.clear(); tasks.clear(); queries.clear()
  }

  /** Per-span results; call after [[settle]]. */
  def results(): Seq[SpanResult] = {
    val allQueries = queries.asScala.toVector
    // innermost span whose [start, end] holds the query's planning start
    def owner(q: QueryRecord): Int =
      spans.filter(s => s.startMs <= q.startMs && q.startMs <= s.endMs)
        .sortBy(s => -depth(s)).headOption.map(_.id).getOrElse(-1)
    val byOwner = allQueries.groupBy(owner)
    val jobsBySpan = jobSpans.asScala.toVector.groupBy(identity).map { case (k, v) => k -> v.size }
    spans.toVector.map { s =>
      val qs = byOwner.getOrElse(s.id, Vector.empty)
      val t = Option(tasks.get(s.id)).getOrElse(new TaskTotals)
      val children = spans.filter(_.parent == s.id).map(_.wallS).sum
      SpanResult(s.name, s.parent, s.startMs, s.endMs, s.wallS,
        driverS = math.max(0.0, s.wallS - children - qs.map(_.durationS).sum),
        planS = qs.map(_.planS).sum,
        execS = qs.map(_.execS).sum,
        jobs = jobsBySpan.getOrElse(s.id, 0),
        taskCpuS = t.cpuNs / 1e9,
        shuffleWriteMb = t.shuffleWriteBytes / Mb,
        spillMb = t.spillBytes / Mb,
        writtenMb = t.writtenBytes / Mb,
        peakTaskMemMb = t.peakMemBytes / Mb)
    }
  }

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))
}

object Trace {
  val SpanProperty = "perfbench.span"
  val MetricNames: Seq[String] = Seq("wall_s", "driver_s", "plan_s", "exec_s", "jobs",
    "task_cpu_s", "shuffle_write_mb", "spill_mb", "written_mb")
  private val Mb = 1024.0 * 1024.0

  final case class Span(id: Int, name: String, parent: Int, startMs: Long, startNs: Long) {
    @volatile var endNs: Long = startNs
    @volatile var endMs: Long = startMs
    def wallS: Double = (endNs - startNs) / 1e9
  }
  final case class QueryRecord(startMs: Long, planS: Double, durationS: Double, execS: Double)
  final class TaskTotals {
    var cpuNs = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L; var writtenBytes = 0L
    var peakMemBytes = 0L
  }

  final case class SpanResult(name: String, parent: Int, startMs: Long, endMs: Long,
                              wallS: Double, driverS: Double, planS: Double, execS: Double,
                              jobs: Int, taskCpuS: Double, shuffleWriteMb: Double,
                              spillMb: Double, writtenMb: Double, peakTaskMemMb: Double) {
    def metrics: Seq[(String, Double)] = MetricNames.zip(Seq(wallS, driverS, planS, execS,
      jobs.toDouble, taskCpuS, shuffleWriteMb, spillMb, writtenMb))
    def json: String =
      s"""{"span":${Json.str(name)},"parent":$parent,"start_ms":$startMs,"end_ms":$endMs,""" +
        (metrics :+ ("peak_task_mem_mb" -> peakTaskMemMb))
          .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",") + "}"
  }
}
