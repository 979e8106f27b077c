package graftbench

/** Per-layer metrics derived from the trace after a traced run. */
object Layers {
  import Trace._

  /** Spark-side totals over the jobs of a set of operations.
    * `spark.utilization` is task time over (operation wall × cores);
    * `spark.slot_wait_s` sums each task's launch minus its stage's
    * submission. */
  def spark(groups: Seq[String], wallS: Double, cores: Int): Seq[Metric] = {
    val js = groups.flatMap(jobsOf)
    val st = stagesOf(js)
    Seq(
      Metric("spark.jobs", js.size.toDouble, "count"),
      Metric("spark.stages", st.size.toDouble, "count"),
      Metric("spark.tasks", st.map(_.tasks).sum.toDouble, "count"),
      Metric("spark.task_cpu_s", st.map(_.cpuNs).sum / 1e9, "s"),
      Metric("spark.gc_s", st.map(_.gcMs).sum / 1e3, "s"),
      Metric("spark.scan_bytes", st.map(_.inputBytes).sum.toDouble, "bytes"),
      Metric("spark.shuffle_write_bytes", st.map(_.shuffleWrite).sum.toDouble, "bytes"),
      Metric("spark.shuffle_read_bytes", st.map(_.shuffleRead).sum.toDouble, "bytes"),
      Metric("spark.spill_bytes", st.map(_.spill).sum.toDouble, "bytes"),
      Metric("spark.output_bytes", st.map(_.outputBytes).sum.toDouble, "bytes"),
      Metric("spark.slot_wait_s", st.map(_.slotWaitMs).sum / 1e3, "s"),
      Metric("spark.utilization", st.map(_.runMs).sum / 1e3 / (wallS * cores), "ratio"))
  }

  /** Median of each metric over repeated measurements (e.g. one block
    * per iteration), in the order of the first. */
  def medians(blocks: Seq[Seq[Metric]]): Seq[Metric] =
    if (blocks.isEmpty) Nil
    else blocks.head.map { m =>
      Metric(m.name, Stats.median(blocks.flatMap(_.find(_.name == m.name)).map(_.value)), m.unit)
    }

  /** Executed-plan SQL metrics of the SQL executions behind `groups`. */
  def plan(groups: Seq[String]): Seq[Metric] = {
    val qs = groups.flatMap(jobsOf).filter(_.execId >= 0).distinctBy(j => (j.app, j.execId))
      .flatMap(Trace.qe)
    Seq(
      Metric("plan.broadcast_bytes", qs.map(_.broadcastBytes).sum.toDouble, "bytes"),
      Metric("plan.join_build_s", qs.map(_.buildMs).sum / 1e3, "s"),
      Metric("plan.smj_count", qs.map(_.smj).sum.toDouble, "count"),
      Metric("plan.exchanges", qs.map(_.exchanges).sum.toDouble, "count"))
  }

  /** Operator family of an eager job: the innermost graft operator frame
    * on its call site. */
  def operatorOf(j: JobRec): String = {
    val fam = Seq("graft.operators.Graph" -> "graph",
      "graft.operators.SetSimilarity" -> "set_similarity",
      "graft.operators.Dedup" -> "dedup", "graft.operators.Similarity" -> "similarity",
      "graft.operators.StarSchema" -> "star")
    graftFrames(siteOf(j)).iterator.flatMap(f =>
      fam.find { case (p, _) => f.startsWith(p + "$") || f.startsWith(p + ".") }.map(_._2))
      .nextOption().getOrElse("other")
  }
  val operatorFamilies = Seq("graph", "set_similarity", "dedup", "similarity", "star", "other")

  /** A job's call site: its SQL execution's, else its result stage's. */
  def siteOf(j: JobRec): String = Trace.synchronized(
    execSites.get(j.app -> j.execId).filter(_.nonEmpty).getOrElse(j.callSite))
}
