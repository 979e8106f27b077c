package graft

import graft.operators.ImportanceSampling
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSIR importance resampling: weight math sanity, partitioning
  * invariance of the integer-unit sums, and selection determinism. */
class ImportanceSamplingSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local()
  import spark.implicits._

  private val B = 128
  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")
  private lazy val isTarget = $"source" === "src0"

  test("ratio table is bounded by the bucket count and fully 6dp-quantized") {
    val feats = ImportanceSampling.features(docs, B)
    val ratios = ImportanceSampling.logRatios(feats, isTarget, B).collect()
    assert(ratios.length <= B)
    ratios.foreach { r =>
      val lr = r.getAs[Double]("lr")
      assert((lr * 1e6).round / 1e6 == lr, s"lr $lr not 6dp-quantized")
    }
  }

  test("weights are partitioning-invariant (integer-unit summation)") {
    val feats = ImportanceSampling.features(docs, B)
    val ratios = ImportanceSampling.logRatios(feats, isTarget, B)
    def w(parts: Int) =
      ImportanceSampling.logWeights(
        feats.repartition(parts), isTarget, ratios)
        .select($"doc_id", $"logw").as[(Long, Double)].collect().toMap
    val w1 = w(1); val w13 = w(13)
    assert(w1 == w13, "per-doc weights must be bit-identical across partitionings")
    assert(w1.nonEmpty)
  }

  test("a doc of target-corpus text outweighs a doc of raw-pool text (same length)") {
    // plant two raw docs built from EXISTING corpus text — one drawn
    // from the TARGET source, one from the raw pool — the DSIR
    // contrast: target-distributed features score higher than
    // raw-distributed ones. (A doc of never-seen tokens is NOT a valid
    // probe: add-one smoothing floors unseen features at
    // ln((Tr+B)/(Tt+B)) > 0 when the raw pool is larger — the known
    // smoothing artifact, which real corpora amortize away.)
    val targetText = docs.where(isTarget)
      .orderBy($"n_chars".desc).select($"text").as[String].first()
    val rawText = docs.where(!isTarget)
      .orderBy($"n_chars".desc).select($"text").as[String].first()
    val n = math.min(targetText.length, rawText.length)
    val planted = Seq(
      (100001L, targetText.take(n), "xx", "srcP", n.toLong),
      (100002L, rawText.take(n), "xx", "srcP", n.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val aug = docs.unionByName(planted)
    val feats = ImportanceSampling.features(aug, B)
    val ratios = ImportanceSampling.logRatios(feats, $"source" === "src0", B)
    val w = ImportanceSampling.logWeights(feats, $"source" === "src0", ratios)
      .where($"doc_id" >= 100001L)
      .select($"doc_id", $"logw").as[(Long, Double)].collect().toMap
    assert(w(100001L) > w(100002L),
      s"target-drawn doc ${w(100001L)} must outweigh raw-drawn doc ${w(100002L)}")
  }

  test("doc_id -> source is functional on the corpus callers' feature frame (sf0.01)") {
    // q191 and q204 both weight ImportanceSampling.features(documents, 512)
    val feats = ImportanceSampling.features(
      Tables.documents(spark, "/root/testdata/sf0.01"), 512)
    val multi = feats.select($"doc_id", $"source").distinct()
      .groupBy($"doc_id").count().where($"count" > 1)
      .select($"doc_id").as[Long].take(5)
    assert(multi.isEmpty,
      s"doc_ids under more than one source: ${multi.mkString(",")}")
  }

  test("a doc_id under two sources yields one weight row per source") {
    val (textA, textB) = docs.where(!isTarget).orderBy($"n_chars".desc)
      .select($"text").as[String].take(2) match { case Array(a, b) => (a, b) }
    // 900001 breaks the dependency; 900002/900003 are single-source
    // controls carrying the same two texts
    val planted = Seq(
      (900001L, textA, "xx", "srcA", textA.length.toLong),
      (900001L, textB, "xx", "srcB", textB.length.toLong),
      (900002L, textA, "xx", "srcA", textA.length.toLong),
      (900003L, textB, "xx", "srcB", textB.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val feats = ImportanceSampling.features(docs.unionByName(planted), B)
    val ratios = ImportanceSampling.logRatios(feats, isTarget, B)
    val w = ImportanceSampling.logWeights(feats, isTarget, ratios)
      .where($"doc_id" >= 900001L)
      .select($"doc_id", $"source", $"logw").as[(Long, String, Double)].collect()
    val split = w.filter(_._1 == 900001L).map(r => r._2 -> r._3).toMap
    assert(split.keySet == Set("srcA", "srcB"),
      s"expected one row per source for the split doc, got ${w.mkString(",")}")
    val control = w.filter(_._1 != 900001L).map(r => r._2 -> r._3).toMap
    assert(split == control,
      "each per-source row must weight only that source's features")
  }

  test("Gumbel-top-k selection is rerun-deterministic and respects k") {
    val feats = ImportanceSampling.features(docs, B)
    val ratios = ImportanceSampling.logRatios(feats, isTarget, B)
    val weights = ImportanceSampling.logWeights(feats, isTarget, ratios)
    def sel() = ImportanceSampling.select(weights, 20)
      .select($"doc_id").as[Long].collect().toSeq
    val s1 = sel()
    assert(s1.length == 20 && s1.distinct.length == 20)
    assert(s1 == sel(), "same salt, same data → same sample, same order")
    // a different salt draws a different (still deterministic) sample
    val s2 = ImportanceSampling.select(weights, 20, salt = ":other")
      .select($"doc_id").as[Long].collect().toSeq
    assert(s1 != s2, "independent Gumbel draws should reorder the sample")
  }

  test("threshold selection == exact top-k within the quantile rank tolerance") {
    val feats = ImportanceSampling.features(docs, B)
    val ratios = ImportanceSampling.logRatios(feats, isTarget, B)
    val weights = ImportanceSampling.logWeights(feats, isTarget, ratios).cache()
    try {
      val n = weights.count()
      val k = 40
      val relErr = 0.01
      val tol = math.ceil(2 * relErr * n).toInt
      val exact = ImportanceSampling.select(weights, k)
        .select($"doc_id").as[Long].collect().toSet
      val thr = ImportanceSampling.selectByThreshold(weights, k, relErr = relErr)
      val got = thr.select($"doc_id").as[Long].collect().toSet
      assert(got.size >= k - tol && got.size <= k + tol,
        s"|threshold set| = ${got.size}, want $k ± $tol (n = $n)")
      assert((exact -- got).size <= tol,
        s"threshold path missing ${(exact -- got).size} of the exact top-$k (tol $tol)")
      // the filter result is EXACTLY the upper tail: every selected
      // sel_key ≥ every unselected one (no rank inversions)
      val minSel = thr.agg(min($"sel_key")).as[Double].head()
      val maxUnsel = weights
        .join(thr.select($"doc_id"), Seq("doc_id"), "left_anti") // NOT selected
        .select($"doc_id").as[Long].collect().toSet
      val keyed = ImportanceSampling.select(weights, n.toInt) // all rows, keyed
        .select($"doc_id", $"sel_key").as[(Long, Double)].collect().toMap
      val maxUnselKey = maxUnsel.map(keyed).maxOption.getOrElse(Double.NegativeInfinity)
      assert(minSel >= maxUnselKey,
        s"rank inversion: selected min $minSel < unselected max $maxUnselKey")
      // k larger than the pool degrades to select-all
      assert(ImportanceSampling.selectByThreshold(weights, n.toInt + 10).count() == n)
    } finally { weights.unpersist(); () }
  }
}
