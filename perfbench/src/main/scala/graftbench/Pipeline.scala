package graftbench

import scala.jdk.CollectionConverters._

import graft.operators.StarSchema

/** `pipeline`: the reference's own job. Each iteration runs
  * `graft.app.Main.run` on a fresh child session into an empty output
  * directory (the fresh load), then again on a new child session over
  * the same directory (the idempotent re-run, whose gold loads take
  * `Sinks.parquetAppendNew`'s skip path). The inputs are the fixed
  * bronze tables; the seed only names the output directories. */
object Pipeline extends Workload {
  /** A set-up here is only an application start, well under a second,
    * so more of them keep its median steady. */
  override def setups: Int = 4
  def prepare(r: Run): Unit = ()

  private def expectedCounts(r: Run): Map[String, Long] =
    r.expected.get("gold_counts").fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap

  private def goldCounts(r: Run, out: String): Map[String, Long] =
    StarSchema.tableNames.map(t => t -> r.spark.read.parquet(s"$out/gold/$t").count()).toMap

  def measure(r: Run): Unit = {
    val want = expectedCounts(r)
    val loop = new Loop(r.seconds)
    var it = 0
    while (loop.next(it == 0)) {
      it += 1
      val out = r.work.resolve(s"pipeline-${r.seed}-$it").toString
      for (load <- Seq("fresh", "rerun")) {
        // the child session stays referenced to the end of the run: Spark
        // drops a session's query-execution listeners once it is collected
        val session = r.keep(r.spark.newSession())
        r.op(s"Main.run $load", "app")(graft.app.Main.run(session, r.data, out))
          .foreach { case (bad, secs) =>
            r.sample(s"${load}_s", secs)
            r.check(s"pipeline $load violations", bad == 0L, s"$bad integrity violations")
            val got = goldCounts(r, out)
            if (r.record) println(s"[digest] gold_counts $load $got")
            r.check(s"pipeline $load gold counts", got == want, s"got $got want $want")
          }
      }
      Files.deleteTree(out)
      Heap.sample(r.spark)
    }
  }

  def endToEnd(r: Run): Seq[Metric] = {
    val (fresh, rerun) = (r.get("fresh_s"), r.get("rerun_s"))
    Seq(
      Metric("cycle_s", Stats.median(fresh.zip(rerun).map { case (a, b) => a + b }), "s"),
      Metric("pipeline_s", Stats.median(fresh), "s"),
      Metric("rerun_s", Stats.median(rerun), "s"))
  }

  /** Phases are attributed from outside the program: a job belongs to
    * the phase named by the output path of the write it serves, else by
    * the graft frames of its call site, else (a read of gold only) to
    * validation. */
  private def phaseOf(j: Trace.JobRec): String = {
    val qe = Trace.qe(j)
    val frames = Trace.graftFrames(Layers.siteOf(j))
    def framed(p: String) = frames.exists(_.startsWith(p))
    qe.flatMap(_.writePath) match {
      case Some(p) if p.contains("/silver/") => "silver"
      case Some(p) if p.contains("/gold/") => "gold:" + p.substring(p.indexOf("/gold/") + 6)
      case Some(p) if p.contains("validation_report") => "validate"
      case _ if framed("graft.io.Volumetry") => "volumetry"
      case _ if framed("graft.operators.StarSchema") => "star"
      case _ if framed("graft.clean.") => "silver"
      case _ if qe.exists(q => q.scanPaths.nonEmpty && q.scanPaths.forall(_.contains("/gold/"))) =>
        "validate"
      case _ => "other"
    }
  }

  def perLayer(r: Run): Seq[Metric] = {
    val cores = r.spark.sparkContext.defaultParallelism
    val offered = expectedCounts(r).values.sum.toDouble
    val iters = r.opSpans("Main.run fresh").zip(r.opSpans("Main.run rerun"))
    val blocks = iters.map { case (fresh, rerun) =>
      val fg = s"op-${fresh.op}"
      val jobs = Trace.jobsOf(fg)
      val byPhase = jobs.groupBy(j => phaseOf(j).takeWhile(_ != ':'))
      def union(ph: String) = Trace.unionS(byPhase.getOrElse(ph, Nil).map(j => (j.start, j.end)))
      val gold = jobs.filter(j => phaseOf(j).startsWith("gold:"))
      val slowest = gold.groupBy(phaseOf).values
        .map(js => (js.map(_.end).max - js.map(_.start).min) / 1e3).maxOption.getOrElse(0.0)
      val validateEnd = byPhase.getOrElse("validate", Nil).map(_.end).maxOption.getOrElse(0L)
      val goldEnd = gold.map(_.end).maxOption.getOrElse(0L)
      def writes(g: String) =
        Trace.jobsOf(g).distinctBy(j => (j.app, j.execId)).flatMap(Trace.qe)
          .filter(_.writePath.isDefined)
      def goldWrites(g: String) = writes(g).filter(_.writePath.exists(_.contains("/gold/")))
      val appended = (goldWrites(fg) ++ goldWrites(s"op-${rerun.op}")).map(_.outRows).sum
      Seq(
        Metric("app.silver_s", union("silver"), "s"),
        Metric("app.star_build_s", union("star"), "s"),
        Metric("app.gold_s", union("gold"), "s"),
        Metric("app.gold_slowest_s", slowest, "s"),
        Metric("app.validate_tail_s", ((validateEnd - goldEnd).max(0L)) / 1e3, "s"),
        Metric("app.volumetry_s", union("volumetry"), "s"),
        Metric("app.self_s", Trace.selfS(fresh), "s"),
        Metric("io.sinks.append_new_s", goldWrites(fg).map(_.durationS).sum, "s"),
        Metric("io.sinks.rerun_append_new_s",
          goldWrites(s"op-${rerun.op}").map(_.durationS).sum, "s"),
        Metric("io.sinks.files_written", writes(fg).map(_.numFiles).sum.toDouble, "count"),
        Metric("io.sinks.bytes_written", writes(fg).map(_.outBytes).sum.toDouble, "bytes"),
        Metric("io.sinks.useful_ratio", appended / (2 * offered), "ratio")) ++
        Layers.spark(Seq(fg), (fresh.end - fresh.start) / 1e3, cores)
    }
    Layers.medians(blocks)
  }
}
