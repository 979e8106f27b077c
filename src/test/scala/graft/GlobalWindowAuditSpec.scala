package graft

import org.apache.spark.sql.catalyst.plans.logical._

/** Plan audit for the benchmark set: a `Window` with an empty
  * partition spec moves EVERY row to one partition — the classic
  * accidentally-serial operator that works at sf0.1 and falls over at
  * 100 TB. Two global windows are known-bounded by construction and
  * must not hide new unbounded ones behind their (benign) WindowExec
  * warnings in the bench log:
  *
  *  - the SetSimilarity dense-path vocabulary index — a row_number
  *    over `distinct(explode(tokens))`, gate-bounded to ≤ 62 rows;
  *  - q122's cumulative-share window, which runs after a limit(1000).
  *
  * The benign patterns are recognized STRUCTURALLY (input is an
  * aggregate fed by a generator = the vocab pattern; a Limit below =
  * the post-limit pattern) rather than by query name, so a new query
  * reusing either bounded shape passes and a new global window over a
  * raw relation/join fails with the query named. */
class GlobalWindowAuditSpec extends SparkTestBase {

  /** The window's input cardinality source, looking through the
    * row-preserving nodes Catalyst leaves between them. */
  private def inputThroughProjections(p: LogicalPlan): LogicalPlan = p match {
    case proj: Project => inputThroughProjections(proj.child)
    case f: Filter     => inputThroughProjections(f.child)
    case s: Sort       => inputThroughProjections(s.child)
    case other         => other
  }

  /** (offender descriptions, benign-site count) for one plan. */
  private def audit(name: String, plan: LogicalPlan): (Seq[String], Int) = {
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    var benign = 0
    plan.foreach {
      case w: Window if w.partitionSpec.isEmpty =>
        // the Limit must bound the window's DIRECT input (through
        // row-preserving nodes only) — `exists` over the whole subtree
        // would bless a window over a join that merely CONTAINS a
        // limited side, whose output is unbounded again
        val limited = inputThroughProjections(w.child) match {
          case _: GlobalLimit | _: LocalLimit => true
          case _ => false
        }
        val vocabShaped = (inputThroughProjections(w.child) match {
          case _: Aggregate | _: Distinct => true
          case _ => false
        }) && w.child.exists { case _: Generate => true; case _ => false }
        if (limited || vocabShaped) benign += 1
        else offenders += s"$name: ${w.simpleString(120)}"
      case _ => ()
    }
    (offenders.toSeq, benign)
  }

  test("benchmark plans hold no unbounded global window") {
    val offenders = graft.queries.Registry.allQueries.filter(_.benchmark).flatMap { q =>
      audit(q.name, q.run(spark, sf).queryExecution.optimizedPlan)._1
    }
    assert(offenders.isEmpty,
      s"unbounded global windows in benchmark plans:\n${offenders.mkString("\n")}")
    // NOTE: q144's dense-path vocabulary window used to be this test's
    // vacuity witness; since r9 it sits below the set-table
    // localCheckpoint (like q181/q189's checkpointed frames) and is
    // invisible to a logical-plan walk. The detector's non-vacuity is
    // carried by the three synthetic probes below instead.
  }

  test("walker probe: a window over a distinct aggregate is seen as benign") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // synthetic non-vacuity probe for the walker: a global row_number
    // over a distinct token vocabulary (aggregate-over-generator) must
    // be SEEN — exactly one window — and classified benign
    val toks = Tables.documents(spark, sf)
      .select($"doc_id", array_distinct(graft.functions.TextAnalysis.tokens($"text")).as("t"))
      .where(size($"t") > 0)
    val vocabIdx = toks.select(explode($"t").as("w")).distinct()
      .withColumn("idx",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy($"w")) - 1)
    val probe = toks.select($"doc_id", explode($"t").as("w")).join(vocabIdx, "w")
    val (off, benign) = audit("vocab", probe.queryExecution.optimizedPlan)
    assert(off.isEmpty && benign == 1)
  }

  test("the audit flags a raw-relation global window (detector is not vacuous)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val df = Tables.documents(spark, sf)
      .withColumn("rn", row_number().over(W.orderBy($"doc_id")))
    val (off, _) = audit("probe", df.queryExecution.optimizedPlan)
    assert(off.nonEmpty, "an unpartitioned window over a raw scan must be flagged")
  }

  test("a limit buried inside a join does not bless the window above it") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val big = Tables.documents(spark, sf).select($"doc_id", $"lang")
    val smallSide = Tables.documents(spark, sf).select($"lang").limit(5)
    val df = big.join(smallSide, "lang")
      .withColumn("rn", row_number().over(W.orderBy($"doc_id")))
    val (off, _) = audit("probe", df.queryExecution.optimizedPlan)
    assert(off.nonEmpty,
      "a global window over a join output is unbounded even when one join side is limited")
  }

  test("a window directly over a limit stays benign") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val df = Tables.documents(spark, sf).select($"doc_id").limit(100)
      .withColumn("rn", row_number().over(W.orderBy($"doc_id")))
    val (off, benign) = audit("probe", df.queryExecution.optimizedPlan)
    assert(off.isEmpty && benign == 1)
  }
}
