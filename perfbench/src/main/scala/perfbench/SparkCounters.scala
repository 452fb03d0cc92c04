package perfbench

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.LongAdder

/** Spark runtime counters for the traced run, from a SparkListener and a
  * QueryExecutionListener that the benchmark registers on the session (the
  * program registers none). Counting is on only between [[start]] and
  * [[stop]], so set-up work stays out of the window. */
final class SparkCounters(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  @volatile private var on = false
  private def adder() = new LongAdder
  val taskCpuNs, tasks, tasksFailed, jobs, staleReadJobs = adder()
  val shuffleBytes, spillBytes, bytesWritten = adder()
  val queries, queryNs, writeQueries, writeNs = adder()
  val scanFiles, scanBytes, scanRows = adder()

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      tasks.increment()
      if (!e.taskInfo.successful) tasksFailed.increment()
      val m = e.taskMetrics
      if (m != null) {
        taskCpuNs.add(m.executorCpuTime)
        shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
        spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        bytesWritten.add(m.outputMetrics.bytesWritten)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
      jobs.increment()
      e.jobResult match {
        case JobFailed(ex) if isStale(ex) => staleReadJobs.increment()
        case _ =>
      }
    }
  }

  private def isStale(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).take(16).takeWhile(_ != null).exists { c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(c.getMessage).contains("FILE_NOT_EXIST")
    }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (on) {
      val plan = qe.executedPlan
      // table writes arrive as commands (DataFrameWriter.save)
      if (funcName == "command" || funcName == "save") { writeQueries.increment(); writeNs.add(durationNs) }
      else { queries.increment(); queryNs.add(durationNs) }
      collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.foreach { s =>
        def metric(n: String) = s.metrics.get(n).map(_.value).getOrElse(0L)
        scanFiles.add(metric("numFiles"))
        scanBytes.add(metric("filesSize"))
        scanRows.add(metric("numOutputRows"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def start(): Unit = { ListenerBusAccess.drain(spark.sparkContext); on = true }

  /** Stop counting once every event raised so far has been delivered. */
  def stop(): Unit = { ListenerBusAccess.drain(spark.sparkContext); on = false }
}
