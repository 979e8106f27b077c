package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Shared session for all suites (one per JVM — getOrCreate reuses). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("4")
  val sf: String = "/root/testdata/sf0.001"

  /** One parquet scan: the files (or directories) it lists and the
    * columns it reads from them. */
  final case class Scan(paths: Set[String], columns: Seq[String])

  /** One Spark job: its long-form call site (its SQL execution's, then
    * its result stage's) and its SQL execution's plan description (""
    * outside one). */
  final case class Job(site: String, plan: String)

  /** Runs `body` and returns the Spark jobs it started from this thread
    * (and the threads it started) plus every parquet scan its SQL
    * executions on `spark` planned (checkpoint, broadcast and write
    * sub-plans included). Listener delivery is asynchronous, so a marked
    * sentinel action closes the window: once both listeners have seen
    * it, they have seen all that came before. */
  def observed[A](body: => A): (A, Seq[Job], Seq[Scan]) = {
    val tag = "graft.test.window"
    val id = java.util.UUID.randomUUID().toString
    val marker = s"sentinel_${id.replace('-', '_')}"
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val execs = new ConcurrentHashMap[String, (String, String)]()
    val scans = new ConcurrentLinkedQueue[Scan]()
    val jobsDone = new CountDownLatch(1)
    val plansDone = new CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        props.map(_.getProperty(tag)).foreach {
          case `id` =>
            val stage = js.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
            jobs.add(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
              .getOrElse("") -> stage)
          case s if s == s"$id-end" => jobsDone.countDown()
          case _ => ()
        }
      }
      // an execution starts before its jobs, on the same listener queue
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execs.put(s.executionId.toString, (s.details, s.physicalPlanDescription))
        case _ => ()
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) plansDone.countDown()
        else SparkTestBase.Plans.collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s
        }.foreach { s =>
          scans.add(Scan(s.relation.location.rootPaths.map(p =>
            Paths.get(p.toUri).toAbsolutePath.normalize().toString).toSet,
            s.requiredSchema.fieldNames.toSeq))
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      sc.setLocalProperty(tag, id)
      val out = try body finally sc.setLocalProperty(tag, s"$id-end")
      try spark.range(1).toDF(marker).collect() finally sc.setLocalProperty(tag, null)
      assert(jobsDone.await(30, TimeUnit.SECONDS) && plansDone.await(30, TimeUnit.SECONDS))
      (out, jobs.asScala.toSeq.map { case (exec, stage) =>
        val (site, plan) = Option(execs.get(exec)).getOrElse(("", ""))
        Job(site + "\n" + stage, plan)
      }, scans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }
}

object SparkTestBase {
  private object Plans extends AdaptiveSparkPlanHelper
}
