package graftbench

import org.apache.spark.sql.DataFrame

import graft.operators.StarSchema
import graft.queries.{GQuery, Registry}

/** `queries`: read-only analytics calls in one long-lived session whose
  * star memo was filled at set-up. Each query is timed from the call to
  * `GQuery.run` (whose eager build work runs inside the call) to the end
  * of a noop write of its result, one query at a time, in a
  * seed-permuted order in every pass. */
object Queries extends Workload {
  /** The measured query set, fixed by name here so that an edit of the
    * registry's `benchmark` flags cannot change the workload. It is a
    * subset of the headline set chosen to cover every operator family:
    * Graph, SetSimilarity, Dedup (MinHash), Similarity, TopK, the star
    * memo, native text expressions and a plain scan aggregate. */
  val names: Seq[String] = Seq(
    "q01_pricing_summary", "q34_star_agg", "q35_token_stats", "q42_minhash_lsh",
    "q77_embedding_neardup", "q108_pagerank", "q144_prefix_join", "q165_topk_operator")

  private lazy val queries: Seq[GQuery] = {
    val byName = Registry.allQueries.map(q => q.name -> q).toMap
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"queries missing from the registry: ${missing.mkString(", ")}")
    names.map(byName)
  }

  /** Fill the star memo of the new session: every star table forced. */
  def prepare(r: Run): Unit = {
    val star = StarSchema.build(r.spark, r.data)
    StarSchema.tableNames.foreach(star(_))
  }

  /** One untimed call of each query, whose result digest is checked. */
  override def warmup(r: Run): Unit = queries.foreach(q => check(r, q, q.run(r.spark, r.data)))

  /** Each query's result digest must match the recorded one. */
  private def check(r: Run, q: GQuery, df: DataFrame): Unit = {
    val want = Option(r.expected.get("queries")).flatMap(n => Option(n.get(q.name)))
      .map(Digest.fromJson)
    try {
      val got = Digest.of(df)
      if (r.record) println(s"[digest] ${q.name} ${got.json}")
      else r.check(s"${q.name} digest", want.exists(got.matches),
        s"got ${got.json} want ${want.map(_.json).getOrElse("nothing recorded")}")
    } catch { case e: Throwable => r.check(s"${q.name} digest", ok = false, e.toString) }
  }

  def measure(r: Run): Unit = {
    val loop = new Loop(r.seconds)
    var pass = 0
    while (loop.next(pass == 0)) {
      pass += 1
      val order = new scala.util.Random(r.seed * 7919L + pass).shuffle(queries)
      order.foreach { q =>
        r.op(q.name, "queries") {
          val (df, construct) = r.call("GQuery.run", "queries")(q.run(r.spark, r.data))
          val (_, execute) = r.call("noop write", "spark")(
            df.write.format("noop").mode("overwrite").save())
          r.sample(s"construct:${q.name}", construct)
          r.sample(s"execute:${q.name}", execute)
        }.foreach { case (_, secs) => r.sample(s"latency:${q.name}", secs) }
      }
    }
  }

  private def medianOf(r: Run, kind: String): Seq[Double] =
    names.map(n => r.get(s"$kind:$n")).filter(_.nonEmpty).map(Stats.median)

  def endToEnd(r: Run): Seq[Metric] = {
    val lat = medianOf(r, "latency")
    Seq(Metric("cycle_s", lat.sum, "s"),
      Metric("query_set_s", lat.sum, "s"), Metric("query_geomean_s", Stats.geomean(lat), "s"))
  }

  def perLayer(r: Run): Seq[Metric] = {
    val cores = r.spark.sparkContext.defaultParallelism
    val ops = names.flatMap(r.opSpans(_)).filter(s => names.contains(s.name))
    val constructs = Trace.synchronized(Trace.spans.filter(s => s.name == "GQuery.run").toSeq)
    // eager jobs: those that ran while a GQuery.run call was open
    def eagerJobs(op: Trace.Span) = constructs.filter(_.parent == op.id).flatMap(c =>
      Trace.jobsOf(s"op-${op.op}").filter(j => j.start >= c.start && j.start <= c.end))
    val passes = ops.groupBy(_.name).values.map(_.size).minOption.getOrElse(0)
    val perQuery = names.flatMap { n =>
      val mine = ops.filter(_.name == n)
      val shuffle = mine.map(op => Trace.stagesOf(Trace.jobsOf(s"op-${op.op}"))
        .map(_.shuffleWrite).sum.toDouble)
      Seq(Metric(s"q.$n.latency_s", Stats.median(r.get(s"latency:$n")), "s"),
        Metric(s"q.$n.shuffle_bytes", Stats.median(shuffle), "bytes"))
    }
    val eager = Layers.operatorFamilies.map { fam =>
      val busy = ops.map(op => Trace.unionS(eagerJobs(op).filter(Layers.operatorOf(_) == fam)
        .map(j => (j.start, j.end)))).sum
      Metric(s"operators.$fam.eager_s", busy / passes.max(1), "s")
    }
    // star jobs of the set-ups `setup_s` covers: all but the first application's
    val setupStar = Trace.jobsOf(Setup.group).filter(j => j.app > 1 && Layers.operatorOf(j) == "star")
    val groups = ops.map(o => s"op-${o.op}")
    val wall = ops.map(s => (s.end - s.start) / 1e3).sum
    // totals over the run, reported per pass (a ratio stays as it is)
    def perPass(m: Seq[Metric]) =
      m.map(x => if (x.unit == "ratio") x else x.copy(value = x.value / passes.max(1)))
    Seq(
      Metric("queries.construct_s", medianOf(r, "construct").sum, "s"),
      Metric("queries.execute_s", medianOf(r, "execute").sum, "s"),
      Metric("queries.construct_jobs", ops.map(eagerJobs(_).size).sum.toDouble / passes.max(1), "count"),
      Metric("operators.star.setup_eager_s",
        Trace.unionS(setupStar.map(j => (j.start, j.end))) / (Setup.done - 1).max(1), "s")) ++
      eager ++ perQuery ++ perPass(Layers.plan(groups)) ++ perPass(Layers.spark(groups, wall, cores))
  }
}
