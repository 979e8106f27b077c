package graft.operators

import graft.functions.Natives
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling (Xie et al.
  * 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every raw document by how much more likely its
  * hashed bag-of-ngram features are under a small TARGET corpus than
  * under the raw pool, then sample without replacement proportionally
  * to the importance weight via the Gumbel-top-k trick.
  *
  * The reference pipeline filters by keyword lists
  * (`transformer_data.py` keyword tables); this is the
  * distribution-matching upgrade a training-data pipeline uses when
  * "looks like Wikipedia" can't be spelled as keywords.
  *
  * Scale shape (the 100 TB plan):
  *  - Features are 60-bit token hashes folded into `buckets` buckets —
  *    the exploded feature stream is (8-byte doc_id, 8-byte bucket)
  *    pairs, never token text.
  *  - Both n-gram distributions partially aggregate map-side down to
  *    ≤ `buckets` rows; the log-ratio table is broadcast (a few KB),
  *    so scoring is a scan-side join + per-doc partial sum — ONE
  *    shuffle of per-doc partials keyed by doc_id.
  *  - Selection is a global top-k (TakeOrderedAndProject), not a sort.
  *  - Determinism: the Gumbel noise is derived from a salted 60-bit
  *    hash of doc_id, so reruns (and the DuckDB oracle) pick the same
  *    sample bit-for-bit.
  */
object ImportanceSampling {

  /** Exploded hashed features of each document: unigram + bigram
    * 60-bit hashes folded into `buckets` buckets. One output row per
    * n-gram OCCURRENCE (counts matter — the bag-of-ngrams model is
    * multinomial, not Bernoulli). */
  def features(docs: DataFrame, buckets: Int): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        explode(concat(
          Natives.ngramHashes(col("text"), 1, 1),
          Natives.ngramHashes(col("text"), 2, 1))).as("h"))
      // h is an unsigned 60-bit value, so % is already non-negative
      .select(col("doc_id"), col("source"), (col("h") % buckets).as("b"))

  /** Per-bucket add-one-smoothed log( p_target(b) / p_raw(b) ), one
    * row per bucket OBSERVED IN THE RAW POOL (raw docs can only ever
    * hit those buckets). ≤ `buckets` rows — broadcastable by
    * construction. The ratio is rounded to 6 dp so both engines sum
    * identical summands. */
  def logRatios(feats: DataFrame, isTarget: Column, buckets: Int): DataFrame = {
    // ONE conditional-count pass over the feature stream instead of two
    // filtered aggregations (target + raw each re-ran the whole
    // scan→tokenize→explode lineage; plans/r16/q191_dsir_selection
    // _before.txt shows the doubled subtree). `count(when(...))` per
    // branch is exactly the filtered count: a bucket unseen by the
    // target gets tn = 0 — the same value the old left join's
    // coalesce(tn, 0) produced — and the totals are sums over all
    // buckets of the same counts, so every lr is bit-identical.
    // The ≤ `buckets`-row count table is materialized ONCE (lazy
    // localCheckpoint): its two consumers — the totals aggregate and
    // the per-bucket ratio projection — otherwise each re-ran the
    // whole feature lineage (plans/r17/q191_dsir_selection_before.txt
    // nodes 14-22: a third full scan→tokenize→explode pass just for
    // ttot/rtot).
    val counts = feats.groupBy("b").agg(
      count(when(isTarget, lit(1))).as("tn"),
      count(when(!isTarget, lit(1))).as("rn"))
      .localCheckpoint(false)
    val tots = counts.agg(
      sum(col("tn")).as("ttot"), sum(col("rn")).as("rtot")) // 1 row
    counts.where(col("rn") > 0) // raw-pool buckets only, as before
      .crossJoin(broadcast(tots))
      .select(col("b"), round(
        log((col("tn").cast("double") + 1.0) /
          (col("ttot").cast("double") + buckets)) -
          log((col("rn").cast("double") + 1.0) /
            (col("rtot").cast("double") + buckets)), 6).as("lr"))
  }

  /** Per-raw-document log importance weight: the sum of its feature
    * occurrences' log ratios. Docs with zero features carry no
    * evidence and are dropped (both engines). The summands are 6 dp —
    * exact in micro-units — so they are summed as LONGS: a double sum
    * is order-dependent in its last bits, and at corpus scale some
    * document's total WILL land on a rounding boundary and flip
    * between engines (seen at sf0.1); the integer sum is
    * order-independent and bit-identical everywhere.
    *
    * Rows are grouped by `(doc_id, source)`, which assumes `doc_id →
    * source` is functional. Where it is not, a doc_id listed under two
    * raw sources yields TWO rows, one per source, each weighting only
    * its own rows' features — never one merged weight.
    * ImportanceSamplingSpec pins both the dependency on the corpus
    * feature frames and this outcome. */
  def logWeights(feats: DataFrame, isTarget: Column, ratios: DataFrame): DataFrame =
    feats.where(!isTarget)
      .join(broadcast(ratios), "b")
      // source is functionally dependent on doc_id (one row per doc in
      // every corpus caller), so grouping by BOTH keys returns the same
      // rows as the old first(source) — but first() is a buffer-typed
      // aggregate that forced a SortAggregate (two full sorts of the
      // exploded feature stream flanking the exchange;
      // plans/r17/q191_dsir_selection_before.txt nodes 29-33); the
      // pure-key form stays a hash aggregate with map-side partials.
      .groupBy(col("doc_id"), col("source"))
      .agg((sum(round(col("lr") * 1e6).cast("long")).cast("double") / 1e6).as("logw"))
      .select(col("doc_id"), col("source"), col("logw"))

  /** Deterministic standard-Gumbel noise per document: u is the salted
    * 60-bit doc hash mapped into (0,1) — the +0.5 shift keeps u off
    * both endpoints — and g = −ln(−ln u). */
  def gumbel(docId: Column, salt: String): Column = {
    val u = (Natives.hash60(concat(docId.cast("string"), lit(salt)))
      .cast("double") + 0.5) / 1152921504606846976.0 // 2^60
    -log(-log(u))
  }

  /** Gumbel-top-k selection: the k raw docs with the largest
    * logw + Gumbel — a without-replacement sample ∝ importance weight.
    * Global top-k, so the plan is TakeOrderedAndProject (bounded
    * driver result), never a full sort. SCALE CAVEAT: the selected k
    * rows land on the driver before re-distributing, which is right
    * for evaluation-sized samples but not for k in the millions —
    * corpus-sized selection is [[selectByThreshold]]. */
  def select(weights: DataFrame, k: Int, salt: String = ":dsir"): DataFrame =
    weights
      .withColumn("sel_key", round(col("logw") + gumbel(col("doc_id"), salt), 6))
      .orderBy(col("sel_key").desc, col("doc_id"))
      .limit(k)

  /** Distributed Gumbel-top-k selection by QUANTILE THRESHOLD — the
    * corpus-scale path [[select]] cannot take: its
    * TakeOrderedAndProject lands the k selected rows on the driver,
    * right for eval-sized samples, wrong for k in the millions. Here
    * the only driver-resident value is ONE scalar — the (1 − k/n)
    * quantile of sel_key from approxQuantile's distributed
    * Greenwald–Khanna sketch — and selection is then a plain FILTER,
    * so the result stays distributed end to end and can flow straight
    * into a sink. Membership agrees with the exact top-k up to the
    * sketch's rank guarantee (the returned value's rank is within
    * relErr·n of the requested one): |result Δ top-k| ≤
    * 2·ceil(relErr·n) plus sel_key ties at the boundary —
    * ImportanceSamplingSpec pins the bound, q204 oracle-checks it.
    * Deterministic for fixed input + salt (hash-derived noise;
    * deterministic sketch merge). */
  def selectByThreshold(weights: DataFrame, k: Int, salt: String = ":dsir",
      relErr: Double = 0.001): DataFrame = {
    val keyed = weights
      .withColumn("sel_key", round(col("logw") + gumbel(col("doc_id"), salt), 6))
    val n = keyed.count()
    if (n <= k) keyed
    else {
      val t = keyed.stat
        .approxQuantile("sel_key", Array(1.0 - k.toDouble / n), relErr).head
      keyed.where(col("sel_key") >= t)
    }
  }
}
