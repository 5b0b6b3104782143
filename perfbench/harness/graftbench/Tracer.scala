package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listens on Spark's public listener APIs while attached and keeps the
  * raw events in memory. Nothing is aggregated on the listener bus: the
  * harness assigns events to its key windows at the end of the run, by
  * job group where Spark carries one and by time otherwise.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val jobs    = mutable.ArrayBuffer.empty[Job]
  val stages  = mutable.ArrayBuffer.empty[Stage]
  val queries = mutable.ArrayBuffer.empty[Query]
  val batches = mutable.ArrayBuffer.empty[Batch]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val props = Option(e.properties)
      jobs += Job(e.jobId, e.time, -1L,
        props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""),
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      val i = jobs.lastIndexWhere(_.id == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.synchronized {
        stages += Stage(i.stageId, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L), i.numTasks, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val startMs =
        if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
      val planMs = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      var scan = 0L
      var join = 0L
      walk(qe.executedPlan) { p =>
        val rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        if (p.children.isEmpty) scan += rows
        p match {
          case _: BaseJoinExec => join += rows
          case _ =>
        }
      }
      val out = if (isNoopWrite(qe)) rootRows(qe.executedPlan) else 0L
      queries.synchronized { queries += Query(startMs, planMs, scan, join, out) }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val ts = scala.util.Try(java.time.Instant.parse(p.timestamp).toEpochMilli)
        .getOrElse(System.currentTimeMillis())
      batches.synchronized {
        batches += Batch(ts, p.batchDuration, ms("walCommit") + ms("commitOffsets"),
          p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Detach after every event posted so far has been delivered. */
  def detach(): Unit = if (attached) {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }
}

object Tracer {
  final case class Job(id: Int, startMs: Long, endMs: Long, group: String, stageIds: Seq[Int])
  final case class Stage(id: Int, startMs: Long, endMs: Long, tasks: Int, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleWriteB: Long, fetchWaitMs: Long,
                         spillB: Long)
  final case class Query(startMs: Long, planMs: Long, scanRows: Long, joinRows: Long,
                         rowsOut: Long)
  final case class Batch(startMs: Long, batchMs: Long, commitMs: Long, stateRows: Long)

  /** Visit every physical node once, descending into adaptive query
    * stages, whose final plans `SparkPlan.foreach` hides.
    */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
    case q: QueryStageExec        => walk(q.plan)(f)
    case _: ReusedExchangeExec    => () // counted where the exchange first runs
    case _ =>
      f(p)
      p.children.foreach(walk(_)(f))
      p.subqueries.foreach(walk(_)(f))
  }

  /** Rows produced by the topmost node that counts its output. */
  def rootRows(p: SparkPlan): Long = {
    var found: Option[Long] = None
    walk(p) { n =>
      if (found.isEmpty) found = n.metrics.get("numOutputRows").map(_.value)
    }
    found.getOrElse(0L)
  }

  /** True for the `format("noop")` write that materializes a key's output. */
  def isNoopWrite(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
    qe.analyzed.collectFirst { case w: V2WriteCommand => w.table }.exists {
      case r: DataSourceV2Relation => r.table.name() == "noop-table"
      case _ => false
    }
}
