package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run. The benchmark records a span
  * around every public call it makes into the program; Spark jobs and
  * stages arrive through [[TraceSparkListener]] and SQL executions
  * through [[TraceQeListener]], both registered by configuration only in
  * a traced run. Everything is kept in memory and written out once, at
  * the end. All times are epoch milliseconds, the unit of Spark's own
  * event times. A run starts several Spark applications (one per
  * set-up), whose job and stage ids each restart at 0, so those records
  * are keyed by the application's number as well. */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
      start: Long, var end: Long = -1L)

  final class StageRec(val app: Int, val id: Int) {
    var submitted = -1L; var completed = -1L
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inputBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spill = 0L; var outputBytes = 0L; var slotWaitMs = 0L
  }

  final case class JobRec(app: Int, id: Int, group: String, execId: Long, start: Long,
      stageIds: Seq[Int], callSite: String, var end: Long = -1L)

  /** One finished SQL execution as the QueryExecutionListener saw it. */
  final case class QeRec(func: String, durationS: Double,
      writePath: Option[String], numFiles: Long, outBytes: Long, outRows: Long,
      broadcastBytes: Long, buildMs: Long, smj: Int, exchanges: Int, scanPaths: Seq[String])

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[(Int, Int), JobRec]
  val stages = mutable.HashMap.empty[(Int, Int), StageRec]
  /** Long-form call site of each SQL execution. */
  val execSites = mutable.HashMap.empty[(Int, Long), String]
  /** QueryExecutionListener records by the identity of their
    * QueryExecution, and that identity by SQL execution id: the two
    * arrive on different listener threads, in either order. */
  private val byQe = mutable.HashMap.empty[Int, QeRec]
  private val qeOfExec = mutable.HashMap.empty[(Int, Long), Int]
  /** The SQL execution a job ran under, if any. */
  def qe(j: JobRec): Option[QeRec] =
    synchronized(qeOfExec.get(j.app -> j.execId).flatMap(byQe.get))
  def recordQe(q: QueryExecution, rec: QeRec): Unit =
    synchronized(byQe(System.identityHashCode(q)) = rec)
  def recordExecEnd(app: Int, id: Long, q: QueryExecution): Unit =
    synchronized(qeOfExec(app -> id) = System.identityHashCode(q))
  private var nextSpan = 0L
  private var apps = 0
  /** Number the next Spark application, from 1. */
  def nextApp(): Int = synchronized { apps += 1; apps }

  def open(parent: Long, op: Long, name: String, layer: String): Span = synchronized {
    nextSpan += 1
    val s = Span(nextSpan, parent, op, name, layer, System.currentTimeMillis())
    spans += s
    s
  }
  def close(s: Span): Unit = synchronized { s.end = System.currentTimeMillis() }

  def stage(app: Int, id: Int): StageRec =
    synchronized(stages.getOrElseUpdate(app -> id, new StageRec(app, id)))

  /** Graft frames of a Spark long-form call site, innermost first. */
  def graftFrames(callSite: String): Seq[String] =
    callSite.split("\n").toSeq.map(_.trim).filter(_.startsWith("graft."))

  /** Jobs whose job group is `group`. */
  def jobsOf(group: String): Seq[JobRec] = synchronized(jobs.values.filter(_.group == group).toSeq)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized(
    js.flatMap(j => j.stageIds.map(j.app -> _)).distinct.flatMap(stages.get).filter(_.tasks > 0))

  /** Wall time covered by a set of [start, end] intervals (ms → s). */
  def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.filter { case (s, e) => e >= s && s > 0 }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total / 1000.0
  }

  /** Self time of a span: its duration minus the part its child spans
    * cover, where the children are the benchmark spans opened inside it
    * and the Spark jobs of its operation that started inside it. */
  def selfS(s: Span): Double = {
    val kids = synchronized(spans.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq ++
      jobsOf(s"op-${s.op}").filter(j => j.start >= s.start && j.start <= s.end)
        .map(j => (j.start, j.end.min(s.end))))
    ((s.end - s.start) / 1000.0 - unionS(kids)).max(0.0)
  }

  /** The traced run's spans as JSON lines: benchmark spans, then Spark
    * jobs and stages as child spans of the operation whose job group
    * they ran under. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    def q(s: String) = Json.str(s)
    val out = new java.lang.StringBuilder
    val opSpan = spans.filter(_.parent == 0L).map(s => s.op -> s.id).toMap
    spans.foreach { s =>
      out.append(s"""{"kind":"span","id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${q(s.name)},"layer":${q(s.layer)},"start":${s.start},"end":${s.end},""" +
        s""""self_s":${selfS(s)}}""").append('\n')
    }
    jobs.values.foreach { j =>
      val op = j.group.stripPrefix("op-").toLongOption.getOrElse(0L)
      out.append(s"""{"kind":"job","app":${j.app},"id":${j.id},"parent":${opSpan.getOrElse(op, 0L)},""" +
        s""""op":$op,"exec":${j.execId},"start":${j.start},"end":${j.end},""" +
        s""""call_site":${q(graftFrames(j.callSite).headOption.getOrElse(""))}}""").append('\n')
      j.stageIds.flatMap(id => stages.get(j.app -> id)).foreach { st =>
        out.append(s"""{"kind":"stage","app":${st.app},"id":${st.id},"parent_job":${j.id},"op":$op,""" +
          s""""start":${st.submitted},"end":${st.completed},"tasks":${st.tasks},""" +
          s""""cpu_s":${st.cpuNs / 1e9},"shuffle_write":${st.shuffleWrite}}""").append('\n')
      }
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, out.toString)
  }
}

/** Spark jobs, stages and task metrics. Registered through
  * `spark.extraListeners` in a traced run, so each Spark application
  * gets its own instance. */
class TraceSparkListener extends SparkListener {
  import Trace._
  private val app = nextApp()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // the result stage carries the action's long-form call site
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    Trace.synchronized {
      jobs(app -> e.jobId) = JobRec(app, e.jobId, prop("spark.jobGroup.id").getOrElse(""),
        prop("spark.sql.execution.id").flatMap(_.toLongOption).getOrElse(-1L),
        e.time, e.stageIds, site)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Trace.synchronized(jobs.get(app -> e.jobId).foreach(_.end = e.time))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val st = stage(app, e.stageInfo.stageId)
    Trace.synchronized {
      st.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val st = stage(app, e.stageInfo.stageId)
    Trace.synchronized {
      st.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stage(app, e.stageId)
    val m = e.taskMetrics
    Trace.synchronized {
      st.tasks += 1
      if (st.submitted > 0) st.slotWaitMs += (e.taskInfo.launchTime - st.submitted).max(0L)
      if (m != null) {
        st.runMs += m.executorRunTime; st.cpuNs += m.executorCpuTime; st.gcMs += m.jvmGCTime
        st.inputBytes += m.inputMetrics.bytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      Trace.synchronized(execSites(app -> s.executionId) = s.details)
    case s: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.graftbench.SqlEvents.queryExecution(s)
        .foreach(recordExecEnd(app, s.executionId, _))
    case _ =>
  }
}

/** Finished SQL executions with their write target and executed-plan
  * SQL metrics. Registered through `spark.sql.queryExecutionListeners`
  * in a traced run, so child sessions the program creates carry it. */
class TraceQeListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Trace._

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan: SparkPlan = qe.executedPlan
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    val write = collectWithSubqueries(plan) { case w: DataWritingCommandExec => w }.headOption
    val (path, files, bytes, rows) = write.map { w =>
      val p = w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => Some(i.outputPath.toString)
        case _ => None
      }
      (p, w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L),
        w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L),
        w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }.getOrElse((None, 0L, 0L, 0L))
    val bcast = collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
    val shj = collectWithSubqueries(plan) { case j: ShuffledHashJoinExec => j }
    val smj = collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }.size
    val exch = collectWithSubqueries(plan) { case x: ShuffleExchangeExec => x }.size
    val scans = collectWithSubqueries(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten
    val rec = QeRec(funcName, durationNs / 1e9, path, files, bytes, rows,
      bcast.map(metric(_, "dataSize")).sum,
      bcast.map(metric(_, "buildTime")).sum + shj.map(metric(_, "buildTime")).sum,
      smj, exch, scans)
    recordQe(qe, rec)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
