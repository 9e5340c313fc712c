package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced runs only: Spark's own listeners, recorded as spans.
  *
  * Jobs carry the harness's local properties (`perfbench.key` and
  * `perfbench.phase`), which Spark copies into every
  * job a thread submits, including the jobs adaptive execution submits
  * from its own pool. Those pool jobs have no useful call site of their
  * own, so a job that belongs to a SQL execution takes the execution's
  * description, which is the call site of the action that started it
  * (`collect at Util.scala:NNN`). Catalyst phases come from
  * `QueryExecution.tracker` and are placed by time. */
final class Tracer(rec: Records) extends SparkListener with QueryExecutionListener {
  private case class JobInfo(start: Long, props: java.util.Properties, callSite: String)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => executions.put(x.executionId.toString, x.description)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // outside SQL, the result stage's name is the job's short call site
    val site = Option(prop(e.properties, "spark.sql.execution.id")).flatMap(id => Option(executions.get(id)))
      .orElse(Option(prop(e.properties, "callSite.short")))
      .getOrElse(e.stageInfos.maxBy(_.stageId).name)
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    jobs.put(e.jobId, JobInfo(e.time, e.properties, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.remove(e.jobId)
    if (j != null) rec.add("t" -> "job", "id" -> e.jobId, "start" -> j.start, "end" -> e.time,
      "key" -> prop(j.props, "perfbench.key"), "phase" -> prop(j.props, "perfbench.phase"),
      "callsite" -> j.callSite,
      "execution" -> prop(j.props, "spark.sql.execution.id"),
      "ok" -> (e.jobResult == JobSucceeded))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    rec.add("t" -> "stage", "id" -> i.stageId, "job" -> Option(stageJob.get(i.stageId)),
      "start" -> i.submissionTime.getOrElse(0L), "end" -> i.completionTime.getOrElse(0L),
      "tasks" -> i.numTasks,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "fetch_wait_ms" -> (if (m == null) 0L else m.shuffleReadMetrics.fetchWaitTime),
      "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
      "input_rows" -> (if (m == null) 0L else m.inputMetrics.recordsRead))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      rec.add("t" -> "phase", "name" -> name, "start" -> p.startTimeMs, "end" -> p.endTimeMs)
    }
}

object Tracer {
  def install(s: SparkSession, rec: Records): Tracer = {
    val t = new Tracer(rec)
    s.sparkContext.addSparkListener(t)
    t
  }
}
