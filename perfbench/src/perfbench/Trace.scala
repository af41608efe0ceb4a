package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, named `<layer>.<call>`; `parent` is 0 for
  * a top-level span. */
final case class Span(id: Long, parent: Long, name: String, run: String,
    startMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/**
 * Spans recorded from the benchmark's side of each call into the program.
 * While a span is open its id is the Spark local property
 * [[Tracer.SpanProperty]]; local properties are inherited by threads the
 * calling thread creates, so jobs submitted from the program's own pools
 * carry the id too. Spans stay in memory until [[dump]].
 */
final class Tracer(val run: String) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[Long]()
  @volatile var enabled = false

  def current: Long = stack.headOption.getOrElse(0L)

  /** Time `f` as span `name` (when enabled) and return its result. */
  def span[T](sc: SparkContext, name: String)(f: => T): T = {
    if (!enabled) return f
    val id = ids.incrementAndGet()
    val parent = current
    val before = sc.getLocalProperty(Tracer.SpanProperty)
    val startMs = System.currentTimeMillis(); val t0 = System.nanoTime()
    stack.push(id)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    try f
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(Tracer.SpanProperty, before)
      done.add(Span(id, parent, name, run, startMs, t0, t1))
    }
  }

  /** Record a span whose bounds were measured elsewhere (per-era spans,
    * cut from the callback timestamps inside one program call). */
  def record(name: String, parent: Long, startMs: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) done.add(Span(ids.incrementAndGet(), parent, name, run, startMs, startNs, endNs))

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Write every span as one JSON line. */
  def dump(path: String): Unit = {
    val f = new java.io.File(path); f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","run":"${s.run}",""" +
        s""""start_ms":${s.startMs},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** What the listener saw for one job. */
final class JobStats(val jobId: Int, val span: Long, val callSite: String,
    val startMs: Long) {
  var endMs = 0L
  var tasks = 0L
  var taskS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
}

/** Attributes jobs and their task metrics to the span that submitted them
  * (the [[Tracer.SpanProperty]] local property) and keeps the job's call
  * site, so a layer can also be found inside one span. */
final class LayerListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobStats]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val span = scala.util.Try(prop(Tracer.SpanProperty).toLong).getOrElse(0L)
    // a job's call site is the name of its result stage ("parquet at X.scala:N")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = new JobStats(e.jobId, span, site, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  /** Wait until every started job has been seen to end (listener delivery
    * is asynchronous); gives up after `timeoutMs`. */
  def awaitQuiet(timeoutMs: Long = 10000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.values.exists(_.endMs == 0L)) && System.currentTimeMillis() < until)
      Thread.sleep(50)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskS += m.executorRunTime / 1e3
        j.cpuS += m.executorCpuTime / 1e9
        j.gcS += m.jvmGCTime / 1e3
        j.bytesRead += m.inputMetrics.bytesRead
        j.recordsRead += m.inputMetrics.recordsRead
        j.bytesWritten += m.outputMetrics.bytesWritten
        j.recordsWritten += m.outputMetrics.recordsWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def all: Seq[JobStats] = synchronized(jobs.values.toSeq)
}

/** One finished query execution: its planning time and scan statistics. */
final case class PlanStats(atMs: Long, funcName: String, planMs: Double,
    files: Long, fileBytes: Long)

/** Planning phases (`QueryExecution.tracker`) and scan-node file counts of
  * every query execution. Delivery is asynchronous, so each execution is
  * placed in a span by the wall-clock time its analysis started. */
final class PlanListener extends QueryExecutionListener {
  private val seen = new ConcurrentLinkedQueue[PlanStats]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    seen.add(stats(funcName, qe))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    seen.add(stats(funcName, qe))

  private def stats(funcName: String, qe: QueryExecution): PlanStats = {
    val phases = qe.tracker.phases
    val start = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    val planMs = phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    var files = 0L; var bytes = 0L
    scala.util.Try {
      PlanListener.leaves(qe.executedPlan).foreach { n =>
        n.metrics.get("numFiles").foreach(m => files += m.value)
        n.metrics.get("filesSize").foreach(m => bytes += m.value)
      }
    }
    PlanStats(start, funcName, planMs, files, bytes)
  }

  def all: Seq[PlanStats] = seen.asScala.toSeq
  def count: Int = seen.size

  /** Wait until no new execution has arrived for `quietMs`. */
  def awaitQuiet(quietMs: Long = 300, timeoutMs: Long = 10000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    var last = -1
    while (last != count && System.currentTimeMillis() < until) {
      last = count; Thread.sleep(quietMs)
    }
  }
}

object PlanListener {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  /** Every node of a physical plan, looking through adaptive wrappers. */
  def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(leaves)
  }
}

/** Block-manager memory in use, from BlockUpdated events: the sum of
  * in-memory block sizes, and its peak since the last [[resetPeak]]. */
final class StorageListener extends SparkListener {
  private val sizes = mutable.Map[String, Long]()
  private var current = 0L
  @volatile private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = info.blockManagerId.toString + "/" + info.blockId.name
    current -= sizes.getOrElse(key, 0L)
    if (info.memSize > 0) sizes(key) = info.memSize else sizes.remove(key)
    current += info.memSize
    if (current > peak) peak = current
  }

  // unpersist removes an RDD's blocks without a BlockUpdated event per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"/rdd_${e.rddId}_"
    sizes.keys.filter(_.contains(prefix)).toList.foreach { k =>
      current -= sizes(k); sizes.remove(k)
    }
  }

  def resetPeak(): Unit = synchronized { peak = current }

  /** Wait (up to `timeoutMs`) until no RDD block is held any more, so one
    * iteration's released cache does not count in the next one's peak. */
  def awaitReleased(timeoutMs: Long = 3000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (synchronized(sizes.keys.exists(_.contains("/rdd_"))) && System.currentTimeMillis() < until)
      Thread.sleep(20)
  }
  def peakBytes: Long = peak
}
