package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Shared session for all suites (one per JVM — getOrCreate reuses). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("4")
  val sf: String = "/root/testdata/sf0.001"

  /** One parquet scan: the files (or directories) it lists and the
    * columns it reads from them. */
  final case class Scan(paths: Set[String], columns: Seq[String])

  /** Runs `body` and returns the Spark jobs it started from this thread
    * plus every parquet scan its SQL executions planned (checkpoint,
    * broadcast and write sub-plans included). Listener delivery is
    * asynchronous, so a marked sentinel action closes the window: once
    * both listeners have seen it, they have seen all that came before. */
  def observed[A](body: => A): (A, Int, Seq[Scan]) = {
    val tag = "graft.test.window"
    val id = java.util.UUID.randomUUID().toString
    val marker = s"sentinel_${id.replace('-', '_')}"
    val jobs = new AtomicInteger(0)
    val scans = new ConcurrentLinkedQueue[Scan]()
    val jobsDone = new CountDownLatch(1)
    val plansDone = new CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(tag)).foreach {
          case `id` => jobs.incrementAndGet()
          case s if s == s"$id-end" => jobsDone.countDown()
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
      (out, jobs.get, scans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }
}

object SparkTestBase {
  private object Plans extends AdaptiveSparkPlanHelper
}
