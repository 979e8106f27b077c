package graft.app

import graft.{Sessions, Tables}
import graft.clean.Cleaner
import graft.io.{DeltaRead, DeltaWrite, Sinks, Volumetry}
import graft.operators.{StarSchema, Validator}

/** E1/E3 orchestration (SURVEY §3): bronze (read) → silver (clean) →
  * gold (star schema) → validation + volumetry, one Spark app, one
  * lazy lineage per phase — no subprocesses, no driver row loops
  * (main.py:289-373 collapsed to function composition).
  *
  * Usage: graft.app.Main <sfDir> <outDir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.app.Main <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // P9 existence gating (main.py:30-50): fail fast with a named error
    // instead of a mid-pipeline scan failure
    val missing = (Seq("events", "documents") ++ StarSchema.Bronze.tables)
      .filterNot(t => new java.io.File(s"$sfDir/$t.parquet").exists())
    if (missing.nonEmpty) {
      System.err.println(s"[graft] missing bronze tables under $sfDir: ${missing.mkString(", ")}")
      sys.exit(2)
    }
    val spark = Sessions.local()
    val bad = run(spark, sfDir, outDir)
    println(s"[graft] pipeline complete: outDir=$outDir integrity_violations=$bad")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }

  /** The whole bronze→silver→gold→validate pipeline on a provided
    * session — separated from [[main]] so Bench can time it end-to-end
    * ("pipeline_total", the figure comparable to the reference's
    * published 3–5 min wall clock) without forking a JVM or stopping
    * its own session. Returns the integrity-violation count. */
  def run(spark: org.apache.spark.sql.SparkSession, sfDir: String, outDir: String): Long = {
    new java.io.File(outDir).mkdirs()
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // OVERLAP the independent loads (guide §2.6): the two silver
    // writes, the eight gold loads and the volumetry aggregation share
    // no data dependencies — submitted sequentially, each job's
    // straggler tail left the other 31 cores idle (~40% of pipeline
    // wall at sf0.1). A small pool keeps several jobs in flight so the
    // next load back-fills the current one's tail; outputs are byte-
    // identical (distinct paths, FIFO scheduling, and the shared lazy
    // dims are synchronized in LazyStar). Validation still runs AFTER
    // the gold barrier — it audits the warehouse as written.
    // 6 concurrent jobs, measured over {4, 6, 8} at sf0.1 (Main.run,
    // warm: 7.9 / 6.3 / 7.0 s): there are 11 independent loads, and 6
    // in flight keeps the task slots fed through every load's straggler
    // tail without the scheduler thrash 8 showed. Env-overridable for
    // cluster tuning (the right depth tracks executor count, not a
    // constant).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_PIPELINE_JOBS", "6").toInt)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // built only when some load needs it: a re-run that skips every
      // load never reads bronze
      lazy val star = StarSchema.build(spark, sfDir)
      def gold(name: String) = s"$outDir/gold/$name"
      // Each load is one conflict-skip Delta commit, exactly-once per
      // input set: it carries the SetTransaction `graft.gold.<table>.
      // <stamp>`, and appendNew returns the head version without
      // building the table when the mark is there. The stamp covers the
      // six star inputs' paths, sizes and mtimes only. It ignores
      // graft's own code (a changed star schema or derivation over the
      // same inputs is skipped; as with ON CONFLICT DO NOTHING, stored
      // rows are never rewritten: use a fresh output directory), the
      // session conf and every other file. Each distinct input set
      // adds one txn entry per gold table to the snapshot. The future
      // carries the version the load committed or found.
      val stamp = StarSchema.Bronze.stamp(sfDir)
      val goldLoads: Map[String, Future[Long]] =
        StarSchema.tableNames.map(name => name -> Future {
          DeltaWrite.appendNew(star(name), gold(name), StarSchema.mergeKeys(name),
            StarSchema.partitionSpec(name), txn = Some(s"graft.gold.$name.$stamp" -> 0L))
        }).toMap
      val silverLoads = Seq(
        Future(Sinks.parquet(Cleaner.cleanEvents(Tables.events(spark, sfDir)),
          s"$outDir/silver/events")),
        Future(Sinks.parquet(Cleaner.cleanDocuments()(Tables.documents(spark, sfDir)),
          s"$outDir/silver/documents")))
      val volumetry = Future(Volumetry.reportJson(spark, sfDir))

      // Validate the WAREHOUSE as written (one read per gold table, at
      // the Delta version its load returned), not a re-derivation of
      // the star from bronze — the report audits exactly what this run
      // committed, conflict-skip semantics included (a re-run validates
      // what earlier loads left plus what it added). Each
      // check branch is chained on the load futures of exactly the
      // tables it reads (optimization r17): the former single report
      // ran as a sequential ~2-3 s tail behind the FULL gold barrier,
      // while the dim checks only need one dim each and only the
      // fact_metricas branch needs the longest load — branch-level
      // chaining lets validation back-fill the load tail. Branches are
      // collected (13 rows total) and the report frame is rebuilt
      // locally, so the CSV write and the violation count share one
      // computation; the row VALUES are byte-for-byte the former
      // monolithic report's (q39's oracle pins the same branches).
      // a branch is invoked only after its tables' loads completed
      val branches = Validator.reportBranches(name => DeltaRead.readVersion(
        spark, gold(name), Await.result(goldLoads(name), Duration.Inf))).map {
        case (deps, branch) =>
          Future.sequence(deps.map(goldLoads)).map(_ => branch().collect())
      }
      val reportRows = branches.flatMap(Await.result(_, Duration.Inf))
      silverLoads.foreach(Await.result(_, Duration.Inf))
      goldLoads.values.foreach(Await.result(_, Duration.Inf))
      val report = spark.createDataFrame(
        java.util.Arrays.asList(reportRows: _*), Validator.reportSchema)
      Sinks.csv(report, s"$outDir/validation_report")
      // getLong, not getAs[Long]: a null counter throws instead of
      // unboxing to 0 and passing as "no violation"
      val bad = reportRows.count(r => r.getLong(r.fieldIndex("n_bad")) != 0L).toLong
      Sinks.jsonReport(Await.result(volumetry, Duration.Inf),
        s"$outDir/volumetry_report.json")
      bad
    } finally pool.shutdown()
  }
}
