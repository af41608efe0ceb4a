package graft

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The jobs a piece of code launches, each with its call site (the name of
  * its result stage) and the bytes its tasks wrote. A job that wrote
  * nothing only read — after an export, that is a read-back. The call
  * site alone cannot tell: with adaptive execution a `count()` runs its
  * jobs from a pool thread and reports that thread's frame. */
object JobLog {

  final case class Job(site: String, bytesWritten: Long)

  /** Every job started on `spark` while `body` runs; the listener bus is
    * drained before the listener is removed, so no event is missed. */
  def during(spark: SparkSession)(body: => Unit): Seq[Job] = {
    val sites = TrieMap[Int, String]()
    val jobOfStage = TrieMap[Int, Int]()
    val written = TrieMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        js.stageIds.foreach(jobOfStage(_) = js.jobId)
        sites(js.jobId) = if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).name
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        for (job <- jobOfStage.get(te.stageId); m <- Option(te.taskMetrics))
          written(job) = written.getOrElse(job, 0L) + m.outputMetrics.bytesWritten
    }
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.graftutil.ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    sites.toSeq.sortBy(_._1).map { case (id, site) => Job(site, written.getOrElse(id, 0L)) }
  }

  /** The jobs among `jobs` that wrote nothing. */
  def readOnly(jobs: Seq[Job]): Seq[Job] = jobs.filter(_.bytesWritten == 0)

  /** The action name (`QueryExecutionListener`'s funcName: "count",
    * "collect", "command" for a file write, …) of every query that ended
    * on `spark` while `body` runs. Unlike bytes written, this tells a
    * read-back `count` from a write that wrote nothing, such as an empty
    * table's partitioned write. */
  def actions(spark: SparkSession)(body: => Unit): Seq[String] = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        names.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        names.add(funcName)
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      org.apache.spark.graftutil.ListenerDrain.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    names.asScala.toSeq
  }
}
