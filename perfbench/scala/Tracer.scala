package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** One timed or untimed call of the workload, in epoch milliseconds.
  * `module` names the layer that owns work with no `graft.` frame in
  * its call site (a registry query's module; empty for pipeline calls,
  * whose every job should carry a frame). `mark` is when a registry
  * query's DataFrame was built, before its action (0 otherwise). */
final case class Call(kind: String, label: String, module: String, start: Long, end: Long,
    mark: Long) {
  def toMap: Map[String, Any] = Map("kind" -> kind, "label" -> label, "module" -> module,
    "start" -> start, "end" -> end, "mark" -> mark)
}

/** Records the traced run's spans — SQL execution → job → task — from
  * Spark listener events: each execution's first `graft.` call-site
  * frame and output path; each job's execution id
  * (AQE's asynchronous jobs carry it too), stream query and task
  * counters; and file-scan rows, bytes and tasks per execution.
  * layers.py attributes them to the repo's modules. Read the records
  * only after `SparkContext.stop`, which drains the listener bus. */
final class Tracer extends SparkListener {

  final class Exec(val start: Long, val frame: Option[String], val output: Option[String],
      val isGate: Boolean) {
    var end: Long = start
  }
  final class Job(val start: Long, val execId: Option[Long], val frame: Option[String],
      val streamQuery: Option[String]) {
    var end: Long = start
    var tasks = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var stages = 0
  }

  val execs = mutable.HashMap.empty[Long, Exec]
  val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // accumulator ids of file-scan metrics, and their summed updates
  private val scanRowAccums = mutable.HashSet.empty[Long]
  private val scanByteAccums = mutable.HashSet.empty[Long]
  private val accumExec = mutable.HashMap.empty[Long, Long]
  val scanRows = mutable.HashMap.empty[Long, Long].withDefaultValue(0L) // execId → rows
  val scanBytes = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  val scanTasks = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)

  private def firstGraftFrame(details: String): Option[String] =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(f => f.startsWith("graft.") && !f.startsWith("graft.SparkEntry"))

  // the write node's details in the formatted plan:
  //   (21) Execute InsertIntoHadoopFsRelationCommand
  //   Input [..]: ..
  //   Arguments: file:/out/mart_user_daily, false, [event_date], ..
  private val InsertPath =
    """\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s*\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)""".r

  private def registerScans(execId: Long, plan: SparkPlanInfo): Unit = {
    if (plan.nodeName.startsWith("Scan ")) plan.metrics.foreach { m =>
      if (m.name == "number of output rows") scanRowAccums += m.accumulatorId
      if (m.name == "size of files read") scanByteAccums += m.accumulatorId
      accumExec(m.accumulatorId) = execId
    }
    plan.children.foreach(registerScans(execId, _))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      val output = InsertPath.findFirstMatchIn(e.physicalPlanDescription)
        .map(_.group(1).stripSuffix("/").split('/').last)
      execs(e.executionId) = new Exec(e.time, firstGraftFrame(e.details), output,
        e.physicalPlanDescription.contains("dup_failed"))
      registerScans(e.executionId, e.sparkPlanInfo)
    case e: SparkListenerSQLAdaptiveExecutionUpdate =>
      registerScans(e.executionId, e.sparkPlanInfo)
    case e: SparkListenerDriverAccumUpdates =>
      e.accumUpdates.foreach { case (id, v) =>
        if (scanByteAccums(id)) scanBytes(accumExec(id)) += v
      }
    case e: SparkListenerSQLExecutionEnd =>
      execs.get(e.executionId).foreach(_.end = e.time)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val stream = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    val frame = e.stageInfos.headOption.flatMap(s => firstGraftFrame(s.details))
    jobs(e.jobId) = new Job(e.time, execId, frame, stream)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }
    }
    var scanned = false
    Option(e.taskInfo).foreach(_.accumulables.foreach { a =>
      if (scanRowAccums(a.id)) {
        a.update.foreach(u => scanRows(accumExec(a.id)) += u.toString.toLong)
        if (!scanned) { scanTasks(accumExec(a.id)) += 1; scanned = true }
      }
    })
  }

  /** Raw records for run.py's layer attribution (layers.py). */
  def dump(streamNames: Map[String, String]): Map[String, Any] = Map(
    "execs" -> execs.toSeq.map { case (id, x) => Map("id" -> id, "start" -> x.start, "end" -> x.end,
      "frame" -> x.frame.orNull, "output" -> x.output.orNull, "gate" -> x.isGate,
      "scan_rows" -> scanRows(id), "scan_bytes" -> scanBytes(id), "scan_tasks" -> scanTasks(id)) },
    "jobs" -> jobs.toSeq.map { case (id, j) => Map("id" -> id, "start" -> j.start, "end" -> j.end,
      "exec" -> j.execId.getOrElse(-1L), "frame" -> j.frame.orNull,
      "stream" -> j.streamQuery.flatMap(streamNames.get).orNull, "tasks" -> j.tasks,
      "stages" -> j.stages, "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes) })
}
