package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON writing; the harness emits flat objects only. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\""); case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n"); case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.floor.toInt; val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** The highest of p50/p90/p99 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(0.99 -> "p99", 0.9 -> "p90", 0.5 -> "p50")
      .find { case (p, _) => xs.size * (1 - p) >= 10 - 1e-9 }
      .map { case (p, n) => n -> quantile(xs, p) }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** The closed loop's clock: a run measures whole rounds, and another
  * round starts while fewer than `seconds` have passed since the first,
  * or while the workload has not made its minimum of rounds (`force`). */
final class Loop(seconds: Int) {
  private val t0 = System.nanoTime()
  def next(force: Boolean): Boolean = force || System.nanoTime() - t0 < seconds * 1000000000L
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** State of one benchmark run: the session, the closed-loop operation
  * counter, failures, and the timing samples each workload files under
  * a name. Only the harness's main thread calls into the program; the next
  * operation starts when the previous one has returned. */
final class Run(val seed: Long, val seconds: Int,
    val traced: Boolean, val data: String, val work: java.nio.file.Path,
    val expected: com.fasterxml.jackson.databind.JsonNode, val record: Boolean) {
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var nextOp = 0L
  private var current: Option[Trace.Span] = None

  private val kept = mutable.ArrayBuffer.empty[SparkSession]
  def keep(s: SparkSession): SparkSession = { if (traced) kept += s; s }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def get(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  /** Count a correctness gate: one attempted operation, failed unless `ok`. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] INCORRECT $what $detail") }
    ok
  }

  /** One closed-loop operation: its own Spark job group and, when
    * traced, a root span. Returns the result and its wall seconds, or
    * None when the call threw (counted as failed). */
  def op[A](name: String, layer: String)(body: => A): Option[(A, Double)] = {
    nextOp += 1
    val id = nextOp
    attempted += 1
    spark.sparkContext.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    val span = if (traced) Some(Trace.open(0L, id, name, layer)) else None
    current = span
    val t0 = System.nanoTime()
    try Some((body, (System.nanoTime() - t0) / 1e9))
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $name: $e")
        e.printStackTrace()
        None
    } finally {
      span.foreach(Trace.close)
      current = None
      spark.sparkContext.clearJobGroup()
    }
  }

  /** A public call inside the current operation: timed, and a child
    * span of the operation when traced. */
  def call[A](name: String, layer: String)(body: => A): (A, Double) = {
    val span = if (traced) current.map(p => Trace.open(p.id, p.op, name, layer)) else None
    val t0 = System.nanoTime()
    try (body, (System.nanoTime() - t0) / 1e9)
    finally span.foreach(Trace.close)
  }

  /** The root spans recorded so far whose name starts with `prefix`. */
  def opSpans(prefix: String): Seq[Trace.Span] =
    Trace.synchronized(Trace.spans.filter(s => s.parent == 0L && s.name.startsWith(prefix)).toSeq)
}
