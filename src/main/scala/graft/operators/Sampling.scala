package graft.operators

import graft.functions.TextAnalysis
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-reproducible sampling and dataset splits.
  *
  * Seeded `df.sample`/`sampleBy` is deterministic only within one
  * Spark version+partitioning; a training-data pipeline needs splits
  * that any engine can recompute and that are STABLE under reruns,
  * repartitions, and incremental appends: membership must be a pure
  * function of the row's key. Hash-mod bucketing gives exactly that —
  * the md5-derived 60-bit key hash ([[TextAnalysis.tokenHash60]], the
  * same primitive the dedup oracles reproduce bit-for-bit in DuckDB)
  * mod N picks the bucket; rates/splits are bucket ranges.
  */
object Sampling {

  /** Stable bucket in [0, n) for a key column. */
  def hashBucket(key: Column, n: Int): Column =
    pmod(TextAnalysis.tokenHash60(key.cast("string")), lit(n.toLong))

  /** Train/val/test-style split assignment: named cumulative bucket
    * ranges over a 10000-bucket space (0.01% granularity). Weights
    * need not sum to 1 — the remainder is null (excluded), which is
    * itself useful for subsampled corpora. */
  def splitAssign(key: Column, weights: Seq[(String, Double)]): Column = {
    require(weights.map(_._2).sum <= 1.0 + 1e-9, "weights must sum to <= 1")
    val buckets = hashBucket(key, 10000)
    val cuts = weights.scanLeft(0L) { case (acc, (_, w)) => acc + math.round(w * 10000) }
    weights.zip(cuts.sliding(2).toSeq).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), Seq(lo, hi))) =>
        val cond = buckets >= lo && buckets < hi
        Some(acc match {
          case None       => when(cond, lit(name))
          case Some(prev) => prev.when(cond, lit(name))
        })
    }.map(_.otherwise(lit(null).cast("string"))).getOrElse(lit(null).cast("string"))
  }

  /** The DuckDB twin of [[hashBucket]] for oracle SQL. */
  def hashBucketSql(keyExpr: String, n: Int): String =
    s"CAST('0x' || substring(md5(CAST($keyExpr AS VARCHAR)), 1, 15) AS BIGINT) % $n"
}
