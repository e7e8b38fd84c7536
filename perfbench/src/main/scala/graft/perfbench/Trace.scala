package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.util.QueryExecutionListener

import Stats.Span

/** Event recorder for traced runs: a `SparkListener` for jobs, stages,
  * tasks and SQL executions, and a `QueryExecutionListener` for the
  * output path and metrics of every file write. Both are registered from
  * here; the program is not changed. Events are kept in memory and read
  * after [[drain]]. Query-execution listeners belong to one session, so
  * the trace follows the session the workload runs its ops in.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val executions = new ConcurrentLinkedQueue[ExecRec]()
  val writes = new ConcurrentLinkedQueue[WriteRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  // the same QueryExecution object reaches both listeners
  private val executionOf = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, Long]())

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, e)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { s =>
        val p = Option(s.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        // the result stage is named after the job's call site, "count at X.scala:12"
        val callSite = s.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
        jobs.add(JobRec(e.jobId, Span(s.time, math.max(s.time, e.time)),
          prop("spark.job.description").getOrElse(callSite),
          callSite,
          prop("spark.jobGroup.id").getOrElse(""),
          prop("spark.sql.execution.id").map(_.toLong),
          s.stageInfos.size, s.stageInfos.map(_.numTasks).sum))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(TaskRec(Option(stageJob.get(e.stageId)).getOrElse(-1),
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStarts.put(s.executionId, s.time)
      case x: SparkListenerSQLExecutionEnd =>
        Option(execStarts.remove(x.executionId)).foreach(t0 =>
          executions.add(ExecRec(x.executionId, Span(t0, math.max(t0, x.time)))))
        Internals.queryOf(x).foreach(qe => executionOf.put(qe, x.executionId))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // the write may sit under an adaptive plan, which the plain tree
      // traversal does not enter
      collectFirst(qe.executedPlan) {
        case w: DataWritingCommandExec => w
      }.foreach { w =>
        val path = w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
          case _ => ""
        }
        def metric(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
        writes.add(WriteRec(Option(executionOf.get(qe)).getOrElse(-1L), path, metric("numFiles"),
          metric("numOutputBytes"), metric("numParts"), metric("numOutputRows")))
      }}
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  /** Block until every event posted so far has been delivered. */
  def drain(): Unit = Internals.drain(spark.sparkContext)

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Forget every event recorded so far. */
  def clear(): Unit = {
    drain()
    jobs.clear(); tasks.clear(); executions.clear(); writes.clear(); executionOf.clear()
  }
}

object Trace {
  final case class JobRec(id: Int, span: Span, description: String, callSite: String,
      group: String, executionId: Option[Long], stages: Int, tasks: Int)
  final case class TaskRec(jobId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)
  final case class ExecRec(id: Long, span: Span)
  final case class WriteRec(executionId: Long, path: String,
      files: Long, bytes: Long, partitions: Long, rows: Long)

  /** The `exec.*` layer: everything the scheduler ran for `jobs`. */
  def execMetrics(jobs: Seq[JobRec], tasks: Seq[TaskRec], wallMs: Long, cores: Int,
      ops: Int): Seq[Metric] = {
    val ids = jobs.map(_.id).toSet
    val ts = tasks.filter(t => ids(t.jobId))
    val n = math.max(1, ops).toDouble
    val mb = 1024.0 * 1024.0
    val busyMs = Stats.covered(Span(Long.MinValue / 4, Long.MaxValue / 4), jobs.map(_.span))
    Seq(
      Metric("exec.s", busyMs / 1000.0 / n, "s"),
      Metric("exec.jobs", jobs.size / n, "count"),
      Metric("exec.stages", jobs.map(_.stages).sum / n, "count"),
      Metric("exec.tasks", jobs.map(_.tasks).sum / n, "count"),
      Metric("exec.task_cpu_s", ts.map(_.cpuNs).sum / 1e9 / n, "s"),
      Metric("exec.gc_s", ts.map(_.gcMs).sum / 1000.0 / n, "s"),
      Metric("exec.shuffle_read_mb", ts.map(_.shuffleReadBytes).sum / mb / n, "MB"),
      Metric("exec.shuffle_write_mb", ts.map(_.shuffleWriteBytes).sum / mb / n, "MB"),
      Metric("exec.spill_mb", ts.map(_.spillBytes).sum / mb / n, "MB"),
      Metric("exec.busy_ratio",
        if (wallMs <= 0) 0.0 else ts.map(_.runMs).sum.toDouble / (wallMs.toDouble * cores), "ratio"))
  }
}

/** One reported number. */
final case class Metric(name: String, value: Double, unit: String)
