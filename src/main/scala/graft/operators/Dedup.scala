package graft.operators

import graft.functions.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Near-duplicate detection for training-data pipelines, designed for
  * the 100 TB regime:
  *
  *  - exact dedup: one hash-shuffle on a 128-bit fingerprint — never
  *    shuffles full text;
  *  - MinHash + LSH banding: per-row signature computation is pure
  *    column math (scan-side, embarrassingly parallel); only the
  *    (band_key, id) pairs shuffle, and candidate generation is an
  *    equi-join on band_key that AQE can skew-split. Classic
  *    Broder '97 resemblance sketch.
  *  - SimHash (Charikar '02): 32-bit signature, again pure column math.
  *  - n-gram Jaccard verification: exact set overlap on candidate pairs
  *    only (never all-pairs at scale).
  *
  * All hashes derive from md5 (not Spark's murmur3 `hash()`) so a
  * non-Spark oracle can reproduce signatures bit-for-bit.
  */
object Dedup {

  /** Largest batch fingerprint set the ledger probe will collect for
    * point-set file pruning; bigger batches fall back to the full
    * ledger probe (at that size they'd touch most files anyway). */
  private val LedgerProbeCap = 100000

  /** Universe prime + coefficients live in NativeHelpers (shared with
    * the codegen'd expressions); mirrored into the DuckDB oracle as
    * literals — see LlmQueries. */
  val P: Long = graft.functions.NativeHelpers.MinhashP
  def coeffA(n: Int): Seq[Long] = graft.functions.NativeHelpers.minhashCoeffA(n)
  def coeffB(n: Int): Seq[Long] = graft.functions.NativeHelpers.minhashCoeffB(n)

  /** Exact dedup: keep the smallest id per content fingerprint.
    * At scale: shuffle is on the 32-char fingerprint only. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprint(col(textCol))).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct shingle hashes mod P for a text column — codegen'd native
    * expression (the declarative twin below evaluates an interpreted
    * md5 chain per shingle inside a HOF lambda; see ShingleHashExpr). */
  def shingleHashes(textCol: Column, shingleSize: Int): Column =
    graft.functions.Natives.shingleHashes(textCol, shingleSize)

  /** Declarative twin of [[shingleHashes]] — the readable reference
    * form; the equivalence spec asserts exact equality. */
  def shingleHashesDeclarative(textCol: Column, shingleSize: Int): Column =
    transform(TextAnalysis.shingles(textCol, shingleSize),
      sh => TextAnalysis.tokenHash60(sh) % P)

  /** MinHash signature: array of numHashes minima of (a_i*h + b_i) % P
    * over the document's shingle hash set — codegen'd native pipeline
    * (see MinhashSignatureExpr; was the q42 bench hot spot as nested
    * interpreted HOFs: 32 × |shingles| lambda evals per row). */
  def minhashSignature(textCol: Column, numHashes: Int, shingleSize: Int): Column =
    graft.functions.Natives.minhash(shingleHashes(textCol, shingleSize), numHashes)

  /** Declarative twin of [[minhashSignature]]. */
  def minhashSignatureDeclarative(textCol: Column, numHashes: Int, shingleSize: Int): Column = {
    val hs = shingleHashesDeclarative(textCol, shingleSize)
    val aArr = typedLit(coeffA(numHashes))
    val bArr = typedLit(coeffB(numHashes))
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(hs,
        h => (element_at(aArr, i + 1) * h + element_at(bArr, i + 1)) % P)))
  }

  /** LSH band keys: `j:sig[j*r+1..j*r+r]` strings; docs sharing any
    * band key become candidates. bands*rowsPerBand must == numHashes.
    * Consumers hash these to 60-bit longs before shuffling (see
    * [[lshCandidates]]) — the string form is the readable contract the
    * oracle reproduces, the hash is what travels. */
  def bandKeys(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => concat_ws(":", j.cast(StringType),
        array_join(slice(sigCol, j * lit(rowsPerBand) + 1, lit(rowsPerBand)), ",")))

  /** End-to-end MinHash-LSH candidate pairs over (id, text).
    * Returns (id_a, id_b) with id_a < id_b, distinct.
    *
    * HOT-BUCKET GUARD (`maxBucketSize`): the candidate self-join's
    * output grows QUADRATICALLY in bucket size — on a crawl-dump
    * corpus with duplicate factor f, every copy of a document lands in
    * identical buckets and one 1M-member bucket alone emits 5·10¹¹
    * pairs. AQE skew-split redistributes partitions but cannot shrink
    * the candidate set, so at 100 TB the valve must cut candidates,
    * not just rebalance them. With `maxBucketSize` set, band buckets
    * holding more members are DROPPED before the join (the standard
    * production policy — such buckets are near-always exact-duplicate
    * floods, which the documented contract handles upstream: run
    * [[exact]] dedup FIRST, then LSH on the survivors; the guard is
    * the backstop for floods that slip through, e.g. near-identical
    * boilerplate). Dropped buckets are observable via
    * [[lshDroppedBuckets]] — silent truncation would read as "no
    * near-dups here". Candidate output is then bounded by
    * O(bands · n/cap · cap²) = O(bands · n · cap) — linear in corpus
    * size, never quadratic. Default Int.MaxValue = no guard (exact
    * parity with the unguarded oracle). Recall note: a dropped
    * bucket's pairs can still surface through the other bands; only
    * pairs hot in EVERY band (true floods) are lost. */
  def lshCandidates(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // Shingle-less docs (< shingleSize tokens) can't be near-dups of
    // anything: dropped before banding (the DuckDB oracle drops them
    // the same way: its all-NULL signatures render NULL band keys,
    // which the equi-join never matches). A corpus with a high
    // exact-duplicate factor amortizes the signature chain itself
    // through [[lshCandidatesFromSigs]] (q42's shape).
    val sigTable = corpus
      .withColumn("__hs", shingleHashes(col(textCol), shingleSize))
      .where(size(col("__hs")) > 0)
      .withColumn("__sig", graft.functions.Natives.minhash(col("__hs"), numHashes))
      .select(col(idCol), col("__sig"))
    lshCandidatesFromSigs(sigTable, idCol, "__sig", numHashes, bands,
      maxBucketSize)
  }

  /** Banding + candidate self-join half of [[lshCandidates]], over a
    * table of PRECOMPUTED MinHash signatures (idCol, sigCol). Exposed
    * for callers that can amortize the signature computation — e.g. a
    * corpus whose rows share text under several ids computes one
    * signature per distinct text and explodes it to the ids, instead
    * of re-running the shingle/minhash chain per corpus row (and per
    * plan subtree: a self-join recomputes an unmaterialized signature
    * table on BOTH sides). Semantics are byte-identical to
    * [[lshCandidates]] by construction — it IS the tail of it. */
  def lshCandidatesFromSigs(sigTable: DataFrame, idCol: String, sigCol: String,
      numHashes: Int = 32, bands: Int = 8,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val withBands = sigTable
      // the candidate join shuffles h60(band string) — an 8-byte key
      // instead of a ~40-byte string, the dominant shuffle of the tier.
      // A 60-bit collision can only ADD a spurious candidate, which the
      // downstream exact-Jaccard verification discards.
      .select(col(idCol), explode(bandKeys(col(sigCol), bands, r)).as("__bks"))
      .select(col(idCol), graft.functions.Natives.hash60(col("__bks")).as("__bk"))
    val guarded = capBuckets(withBands, "__bk", maxBucketSize)
    guarded.alias("a")
      .join(guarded.alias("b"),
        col("a.__bk") === col("b.__bk") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** Drop members of buckets larger than `cap` before a candidate
    * self-join. The hot-key set is BY CONSTRUCTION tiny — at most
    * rows/cap buckets can exceed cap — so the anti-join's build side
    * broadcasts under AQE; the main flow pays one extra map-side-
    * combinable count on the same key it was about to shuffle anyway.
    * cap = Int.MaxValue short-circuits to the input (no extra stage). */
  private[operators] def capBuckets(banded: DataFrame, bucketCol: String, cap: Int): DataFrame =
    if (cap == Int.MaxValue) banded
    else {
      val hot = banded.groupBy(col(bucketCol)).agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") > cap).select(col(bucketCol))
      banded.join(hot, Seq(bucketCol), "left_anti")
    }

  /** Accounting twin of the [[lshCandidates]] hot-bucket guard: the
    * band buckets a given `maxBucketSize` WOULD drop, as
    * (band_key_hash, bucket_size) rows. Aggregate it next to the
    * candidate output (`dropped_buckets` / `dropped_memberships`) so a
    * capped run can never silently report "no near-dups" — the valve
    * leaves a ledger. Same signature pipeline as the candidate path,
    * so the reported keys are exactly the ones the guard cuts. */
  def lshDroppedBuckets(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    corpus
      .withColumn("__hs", shingleHashes(col(textCol), shingleSize))
      .where(size(col("__hs")) > 0)
      .withColumn("__sig", graft.functions.Natives.minhash(col("__hs"), numHashes))
      .select(col(idCol), explode(bandKeys(col("__sig"), bands, r)).as("__bks"))
      .select(graft.functions.Natives.hash60(col("__bks")).as("band_key"))
      .groupBy(col("band_key")).agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)
  }

  /** HAMMING near-dup candidate pairs over a 64-bit hash column (the
    * perceptual-image tier: [[Multimodal.dhashImages]] keys). The hash
    * splits into `bands` contiguous bit slices; rows sharing any
    * (band, slice) value become candidates, then EXACT Hamming
    * distance (`bit_count(a ^ b)`) verifies `<= maxHamming`. Recall is
    * DETERMINISTIC, not probabilistic: with `maxHamming <= bands - 1`,
    * a qualifying pair differs in fewer bits than there are bands, so
    * by pigeonhole at least one band is untouched and the equi-join
    * finds it — enforced by the require. Same scale discipline as the
    * text tier: banded equi-join (never all-pairs), [[capBuckets]]
    * hot-bucket valve, [[hammingDroppedBuckets]] accounting ledger.
    * Returns distinct (id_a, id_b), id_a < id_b. */
  def hammingNearDupPairs(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, bands: Int = 4,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= bands - 1,
      s"hammingNearDupPairs: maxHamming $maxHamming needs > $maxHamming bands " +
        "for the pigeonhole recall guarantee — raise bands or lower the radius")
    val banded = hammingBanded(df, idCol, hashCol, bands)
    val guarded = capBuckets(banded, "__bk", maxBucketSize)
    guarded.alias("a")
      .join(guarded.alias("b"),
        col("a.__bk") === col("b.__bk") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col(s"a.$hashCol").as("__ha"), col(s"b.$hashCol").as("__hb"))
      .distinct()
      .where(bit_count(col("__ha").bitwiseXOR(col("__hb"))) <= maxHamming)
      .select(col("id_a"), col("id_b"))
  }

  /** Accounting twin of [[hammingNearDupPairs]]'s hot-bucket valve:
    * the (band_key, bucket_size) rows a given cap WOULD drop, so a
    * capped image-dedup run leaves a ledger instead of silently
    * reporting "no duplicates". */
  def hammingDroppedBuckets(df: DataFrame, idCol: String, hashCol: String,
      bands: Int = 4, maxBucketSize: Int = Int.MaxValue): DataFrame =
    hammingBanded(df, idCol, hashCol, bands)
      .groupBy(col("__bk").as("band_key"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)
      .select(col("band_key"), col("bucket_size"))

  /** (id, band-key) exploded rows: band key = band index tagged onto
    * the band's bit slice (literal shifts — stays in codegen).
    * `extra` columns ride along (the clip tier's frame index). */
  private def hammingBanded(df: DataFrame, idCol: String, hashCol: String,
      bands: Int, extra: Seq[String] = Nil): DataFrame = {
    require(bands >= 1 && bands <= 64 && 64 % bands == 0,
      s"hammingNearDupPairs: bands must divide 64, got $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val keys = (0 until bands).map { b =>
      // tag the band index above the slice bits (b=0 when width=64,
      // so the degenerate single-band case tags 0)
      lit(if (width == 64) 0L else b.toLong << width).bitwiseOR(
        shiftrightunsigned(col(hashCol), b * width).bitwiseAND(lit(mask)))
    }
    df.select(col(idCol) +: col(hashCol) +: extra.map(col) :+
      explode(array(keys: _*)).as("__bk"): _*)
  }

  /** VIDEO-CLIP perceptual near-dup over per-frame dHashes — the clip
    * extension of [[hammingNearDupPairs]]: input is one row per
    * (clip, sampled frame index, 64-bit frame hash) (the shape
    * [[Multimodal.frameSamplePlan]]'s grid + [[Multimodal
    * .dhashImages]] produce), candidates band WITHIN a frame index —
    * the banded key is (frame_idx, band, slice), so a re-encoded or
    * lightly-edited copy collides where its frames agree and nothing
    * ever compares across different positions in the sampling grid —
    * then exact per-frame Hamming verification and a per-pair
    * matched-frame count. A pair surfaces when at least
    * `minMatchedFrames` of the grid verified within `maxHamming`.
    * Per-frame recall is the same pigeonhole guarantee as the image
    * tier; the clip verdict is exact given the frame hashes. Same
    * scale shape: banded equi-join (never all-pairs across clips),
    * [[capBuckets]] valve on the (frame, band) bucket, ledger via
    * [[clipDroppedBuckets]]. Output: (id_a, id_b, matched_frames),
    * id_a < id_b. */
  def clipNearDupPairs(frames: DataFrame, clipCol: String, frameCol: String,
      hashCol: String, maxHamming: Int = 2, bands: Int = 4,
      minMatchedFrames: Int = 1, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= bands - 1,
      s"clipNearDupPairs: maxHamming $maxHamming needs > $maxHamming bands " +
        "for the per-frame pigeonhole recall guarantee")
    require(minMatchedFrames >= 1, "clipNearDupPairs: minMatchedFrames >= 1")
    val banded = hammingBanded(frames, clipCol, hashCol, bands, Seq(frameCol))
      .withColumn("__fbk", struct(col(frameCol), col("__bk")))
    val guarded = capBuckets(banded, "__fbk", maxBucketSize)
    guarded.alias("a")
      .join(guarded.alias("b"),
        col("a.__fbk") === col("b.__fbk") && col(s"a.$clipCol") < col(s"b.$clipCol"))
      .select(col(s"a.$clipCol").as("id_a"), col(s"b.$clipCol").as("id_b"),
        col(s"a.$frameCol").as("__f"),
        col(s"a.$hashCol").as("__ha"), col(s"b.$hashCol").as("__hb"))
      .distinct()
      .where(bit_count(col("__ha").bitwiseXOR(col("__hb"))) <= maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("matched_frames"))
      .where(col("matched_frames") >= minMatchedFrames)
  }

  /** Accounting twin of [[clipNearDupPairs]]'s valve: the
    * (frame_idx, band-key, bucket_size) buckets a cap would drop. */
  def clipDroppedBuckets(frames: DataFrame, clipCol: String, frameCol: String,
      hashCol: String, bands: Int = 4,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    hammingBanded(frames, clipCol, hashCol, bands, Seq(frameCol))
      .groupBy(col(frameCol).as("frame_idx"), col("__bk").as("band_key"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)

  /** Exact shingle-set Jaccard for verification of candidate pairs:
    * |A∩B| / (|A|+|B|-|A∩B|), inputs assumed distinct arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    inter / (size(a) + size(b) - inter)
  }

  /** Transitive duplicate GROUPS from a near-dup pair list: distributed
    * min-label propagation WITH POINTER JUMPING — each round a vertex
    * adopts min(own label, neighbor labels, label-of-its-label). The
    * neighbor step alone converges in O(component diameter) rounds
    * (fine for shallow near-dup clusters, fatal for a 1000-link chain:
    * 1000 shuffle rounds); the label-of-label shortcut halves every
    * vertex's distance-to-root per round, so convergence is
    * O(log diameter) — a 1k chain closes in ~12 rounds (spec-pinned),
    * the same contraction large-star/small-star (Kiveris '14) and
    * GraphX's PregelCC rely on. The jump lookup is sound because
    * labels are ALWAYS vertex ids (min over ids), so `l(l(v))` is an
    * equi-join of the label table with itself.
    *
    * Each round ends in an EAGER localCheckpoint: the jump self-join
    * doubles the logical plan per round, so without truncation the
    * plan tree grows 2^rounds; checkpointing also cuts the recompute
    * lineage (prior rounds' blocks are freed by the ContextCleaner
    * once unreferenced). Output: (id, label) with label = smallest
    * member id of the component; vertices are exactly the ids
    * appearing in some pair.
    *
    * The greedy one-hop `Similarity.nearDupDrops` under-deletes on
    * chains (a~b, b~c keeps a, drops b and c only if both pair with a
    * smaller id); grouping then keeping min-per-component is the exact
    * policy. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("nid")).agg(min(col("label")).as("nlabel"))
      val stepped = labels
        .join(neighborMin, labels("id") === neighborMin("nid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // pointer jump: follow my label to ITS label (always defined —
      // labels are vertex ids); left join defends the empty edge case
      val jumped = stepped.alias("s")
        .join(stepped.select(col("id").as("__lid"), col("label").as("__llabel")),
          col("s.label") === col("__lid"), "left")
        .select(col("s.id").as("id"),
          least(col("s.label"), coalesce(col("__llabel"), col("s.label"))).as("label"))
        .localCheckpoint(true)
      changed = jumped
        .join(labels.withColumnRenamed("label", "old"), "id")
        .filter(col("label") =!= col("old")).count()
      labels = jumped
      i += 1
    }
    edges.unpersist()
    // a silent non-converged result would report one component as
    // several groups — refuse instead (raise maxIters for deep chains)
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          s"($changed labels still changing) — component diameter exceeds 2^$maxIters")
    labels
  }

  /** SimHash (32-bit): majority vote per bit over token hashes —
    * codegen'd native (see SimhashExpr; the declarative twin below runs
    * 32 × |tokens| interpreted lambda evals per row). */
  def simhash(textCol: Column): Column =
    graft.functions.Natives.simhash(textCol)

  /** INCREMENTAL corpus ingestion with exact dedup against a PERSISTED
    * fingerprint ledger: the batch-pipeline shape at 100 TB, where
    * re-fingerprinting the whole corpus per arriving batch is
    * O(corpus) and this is O(batch + one anti-join against the ledger
    * table). The ledger is a graft-delta table of
    * `(fingerprint, fingerprint2, <idCol>)` — a 128-bit pair of
    * independent xxhash64s, because a single 64-bit key collides at the
    * birthday bound once the corpus reaches billions of docs; a batch
    *
    *  1. fingerprints its docs (two `xxhash64`s of the text column),
    *  2. self-dedups deterministically (smallest id per distinct TEXT
    *     wins — the raw text rides the window partition key, so even a
    *     double hash collision cannot merge distinct texts; row_number,
    *     not a min-id semi-join, so duplicate ids cannot all survive),
    *  3. anti-joins the ledger on the 16-byte fingerprint pair (an
    *     equi-join that co-locates when both sides bucket by
    *     fingerprint; never text-vs-text),
    *  4. appends survivors to `corpusTable` and their fingerprints to
    *     `ledgerTable`.
    *
    * `batchId` makes replays exactly-once per TABLE via Delta
    * SetTransactions, corpus committed FIRST: a crash between the two
    * appends replays to convergence because the fresh set is
    * recomputed against the still-unadvanced ledger (deterministic),
    * the corpus append skips on its high-water mark, and the ledger
    * append then lands. The documented trade (same single-stream
    * assumption as COPY INTO's mtime ledger): two CONCURRENT ingest
    * streams may both pass the anti-join for the same new text —
    * serialize batches per corpus. Returns (survivors, duplicates
    * dropped); the dropped count lumps batch-internal dups and
    * ledger-known dups together. */
  def ingestDeduped(batch: DataFrame, idCol: String, textCol: String,
      corpusTable: String, ledgerTable: String,
      batchId: Option[(String, Long)] = None): (Long, Long) = {
    val spark = batch.sparkSession
    // a 64-bit fingerprint alone collides at the birthday bound (real at
    // billions of docs) and would silently drop a distinct text as a
    // duplicate; the ledger key is therefore a 128-bit PAIR of
    // independent xxhash64s — collision odds ~2^-128-scale, without
    // persisting corpus text into the ledger (which would double
    // storage). Within the batch the raw text itself rides the window
    // partition key, so even a double collision cannot merge two
    // distinct texts there.
    val withFp = batch
      .withColumn("fingerprint", xxhash64(col(textCol)))
      .withColumn("fingerprint2", xxhash64(lit("graft.fp2"), col(textCol)))
    // row_number, not a (fingerprint, min-id) semi-join: two rows
    // sharing both fingerprint and the min id value would BOTH survive
    // a semi-join; exactly one row per distinct text survives here
    val selfW = Window.partitionBy(col("fingerprint"), col("fingerprint2"),
      col(textCol)).orderBy(col(idCol))
    val winners = withFp.withColumn("__graft_rn", row_number().over(selfW))
      .where(col("__graft_rn") === 1).drop("__graft_rn")
    val ledgerHead =
      try Some(graft.io.DeltaRead.latestVersion(ledgerTable)).filter(_ >= 0)
      catch { case _: Exception => None }
    // A ledger written before the pair key existed has only the single
    // `fingerprint` column. Compat must hold on BOTH sides of the
    // probe: reads anti-join on the key(s) the ledger actually has,
    // and appends must NOT widen the ledger schema mid-stream —
    // DeltaWrite.commit's strict schema check rightly refuses drift,
    // so a 3-column append into a 2-column legacy ledger would fail
    // the first ingest that carries new docs. Legacy ledgers keep the
    // old single-key behavior (documented odds) end to end.
    var legacyLedger = false
    val fresh0 = ledgerHead match {
      case None => winners
      case Some(head) =>
        // PRUNED PROBE: ledger appends land SORTED by fingerprint
        // (below), so each ledger file covers a disjoint hash-space
        // slice — a batch of B keys can only hit min(B, files) of
        // them. Point-set skipping reads exactly those, so per-batch
        // probe cost is O(batch), not O(corpus history) (the r14
        // shape anti-joined the FULL ledger every ingest). Batches
        // past the collect cap fall back to the full probe — at that
        // size they would touch most files anyway.
        val fpsSorted: Option[Array[Long]] = {
          val capped = winners.select(col("fingerprint")).distinct()
            .limit(LedgerProbeCap + 1).collect()
          if (capped.length > LedgerProbeCap) None
          else Some(capped.map(_.getLong(0)).sorted)
        }
        val ledger = fpsSorted match {
          case Some(points) => graft.io.DeltaRead.readVersionWherePoints(
            spark, ledgerTable, head, "fingerprint", points)
          case None => graft.io.DeltaRead.read(spark, ledgerTable)
        }
        legacyLedger = !ledger.columns.contains("fingerprint2")
        val keys = if (legacyLedger) Seq("fingerprint")
          else Seq("fingerprint", "fingerprint2")
        winners.join(ledger.select(keys.map(col): _*), keys, "left_anti")
    }
    val fresh = fresh0.persist()
    try {
      val total = withFp.count()
      val nNew = fresh.count()
      if (nNew > 0) {
        val corpus = fresh.drop("fingerprint", "fingerprint2")
        // SORTED ledger layout: the range shuffle gives every written
        // file a disjoint fingerprint [min,max], which is what the
        // pruned probe above skips on. The partition count is pinned
        // explicitly (AQE coalesces un-pinned sorts to one partition at
        // small sizes, which would leave one wide-range file per batch
        // and nothing to prune).
        val rowsPerFile = spark.conf.getOption("spark.graft.dedup.ledgerRowsPerFile")
          .flatMap(_.toLongOption).filter(_ >= 1).getOrElse(500000L)
        val nParts = math.max(1L, (nNew + rowsPerFile - 1) / rowsPerFile)
          .min(10000L).toInt
        val fpCols =
          if (legacyLedger) Seq(col("fingerprint"), col(idCol))
          else Seq(col("fingerprint"), col("fingerprint2"), col(idCol))
        // ledger appends go through the LAYOUT-PINNED door: if anyone
        // enables delta.autoOptimize.optimizeWrite on the ledger table,
        // its hash repartition would silently flatten the disjoint
        // per-file fingerprint ranges this probe prunes on
        val fps = fresh.select(fpCols: _*)
          .repartitionByRange(nParts, col("fingerprint"))
          .sortWithinPartitions(col("fingerprint"))
        batchId match {
          case Some((app, ver)) =>
            graft.io.DeltaWrite.appendOnce(corpus, corpusTable, app, ver)
            graft.io.DeltaWrite.appendOnceLayoutPinned(fps, ledgerTable, s"$app.ledger", ver)
          case None =>
            graft.io.DeltaWrite.append(corpus, corpusTable)
            graft.io.DeltaWrite.appendLayoutPinned(fps, ledgerTable)
        }
      }
      (nNew, total - nNew)
    } finally fresh.unpersist(blocking = false)
  }

  /** INCREMENTAL perceptual ingestion against a persisted BAND-KEY
    * ledger — the cross-batch form of [[hammingNearDupPairs]], and the
    * perceptual twin of [[ingestDeduped]]: re-hashing (or worse,
    * re-pairing) the whole corpus per arriving batch is O(corpus);
    * this is O(batch + the ledger files the batch's band keys touch).
    * Input is one row per item with a 64-bit perceptual hash column
    * ([[Multimodal.dhashImages]] / [[Multimodal.audioEnergyHash]]
    * keys; the caller filters NULL-hash rows first). A batch
    *
    *  1. self-dedups with the ONE-HOP GREEDY policy: banded pairs
    *     within the batch ([[hammingNearDupPairs]] — pigeonhole
    *     recall, never all-pairs), then the larger id of every pair
    *     drops — i.e. a row survives iff it has NO smaller-id
    *     neighbor. Deterministic and replayable without iteration (an
    *     external oracle replays it as one NOT EXISTS); the trade: a
    *     component keeps every local-min vertex, so edges 1~3 and 2~3
    *     keep both 1 and 2 where transitive grouping keeps only 1
    *     (batch-graph components want [[connectedComponents]], the
    *     q245 shape);
    *  2. probes the ledger: the ledger table holds one row per
    *     (band_key, hash, id) of every ACCEPTED item — band keys from
    *     the SAME slicing as pair generation, so cross-batch recall
    *     keeps the pigeonhole guarantee. Appends land range-sorted by
    *     band_key (pinned partition count), so each ledger file covers
    *     a disjoint key slice and [[graft.io.DeltaRead
    *     .readVersionWherePoints]] reads only the files the batch's
    *     keys can touch; batches past the collect cap fall back to the
    *     full probe. A survivor within `maxHamming` of any ledger hash
    *     drops; `maxBucketSize` also valves the PROBE side (hot ledger
    *     band buckets are skipped — see the in-code note). (A new item
    *     near only a previously-DROPPED duplicate — not its kept
    *     representative — survives: greedy incremental dedup, the
    *     standard trade);
    *  3. appends survivors (with their hash) to `corpusTable` and
    *     their exploded band rows to `ledgerTable` — through the
    *     LAYOUT-PINNED door, so table-level optimizeWrite can never
    *     hash-shuffle away the disjoint per-file key ranges.
    *
    * Exactly-once and crash-recovery mirror [[ingestDeduped]]:
    * `batchId` dedups replays per table via Delta SetTransactions,
    * corpus committed FIRST (a crash between the appends replays to
    * convergence because the fresh set recomputes — deterministically —
    * against the still-unadvanced ledger). Same single-stream
    * assumption: serialize batches per corpus. Returns (survivors,
    * dropped — batch-internal and ledger-known lumped together). */
  def ingestPerceptual(batch: DataFrame, idCol: String, hashCol: String,
      corpusTable: String, ledgerTable: String,
      maxHamming: Int = 1, bands: Int = 4,
      maxBucketSize: Int = Int.MaxValue,
      batchId: Option[(String, Long)] = None): (Long, Long) = {
    require(maxHamming >= 0 && maxHamming <= bands - 1,
      s"ingestPerceptual: maxHamming $maxHamming needs > $maxHamming bands " +
        "for the pigeonhole recall guarantee — raise bands or lower the radius")
    val spark = batch.sparkSession
    val pairs = hammingNearDupPairs(batch, idCol, hashCol, maxHamming, bands,
      maxBucketSize)
    val selfSurv = batch.join(
      pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")
    val ledgerHead =
      try Some(graft.io.DeltaRead.latestVersion(ledgerTable)).filter(_ >= 0)
      catch { case _: Exception => None }
    val fresh0 = ledgerHead match {
      case None => selfSurv
      case Some(head) =>
        val banded = hammingBanded(selfSurv, idCol, hashCol, bands)
        // PRUNED PROBE (the ingestDeduped shape, keyed on band_key):
        // ledger files are range-sorted by band_key, so point-set
        // skipping reads only the files this batch's keys can land in
        val bksSorted: Option[Array[Long]] = {
          val capped = banded.select(col("__bk")).distinct()
            .limit(LedgerProbeCap + 1).collect()
          if (capped.length > LedgerProbeCap) None
          else Some(capped.map(_.getLong(0)).sorted)
        }
        val ledger = bksSorted match {
          case Some(points) => graft.io.DeltaRead.readVersionWherePoints(
            spark, ledgerTable, head, "band_key", points)
          case None => graft.io.DeltaRead.read(spark, ledgerTable)
        }
        // probe-side valve: the ledger holds only ACCEPTED (mutually
        // non-near-dup) items, but accepted hashes can still pile into
        // one band slice (structured corpora pin a slice — constant
        // image top rows, silence-leading audio), and a hot ledger
        // bucket makes EVERY future batch compare against it — the
        // creeping-quadratic shape the valve family exists for.
        // Capped buckets skip this band's check (other bands still
        // probe; recall degrades only inside hot buckets — the same
        // documented trade as the pairing valve). Accounting is a
        // one-line query on the ledger table itself:
        // read(ledgerTable).groupBy("band_key").count().filter(> cap).
        val ledgerCapped = capBuckets(
          ledger.select(col("band_key").as("__bk"), col("hash").as("__lh")),
          "__bk", maxBucketSize)
        val hit = banded
          .join(ledgerCapped, "__bk")
          .where(bit_count(col(hashCol).bitwiseXOR(col("__lh"))) <= maxHamming)
          .select(col(idCol)).distinct()
        selfSurv.join(hit, Seq(idCol), "left_anti")
    }
    val fresh = fresh0.persist()
    try {
      val total = batch.count()
      val nNew = fresh.count()
      if (nNew > 0) {
        val rowsPerFile = spark.conf.getOption("spark.graft.dedup.ledgerRowsPerFile")
          .flatMap(_.toLongOption).filter(_ >= 1).getOrElse(500000L)
        val nRows = nNew * bands
        val nParts = math.max(1L, (nRows + rowsPerFile - 1) / rowsPerFile)
          .min(10000L).toInt
        val bandRows = hammingBanded(fresh, idCol, hashCol, bands)
          .select(col("__bk").as("band_key"), col(hashCol).as("hash"), col(idCol))
          .repartitionByRange(nParts, col("band_key"))
          .sortWithinPartitions(col("band_key"))
        batchId match {
          case Some((app, ver)) =>
            graft.io.DeltaWrite.appendOnce(fresh, corpusTable, app, ver)
            graft.io.DeltaWrite.appendOnceLayoutPinned(
              bandRows, ledgerTable, s"$app.ledger", ver)
          case None =>
            graft.io.DeltaWrite.append(fresh, corpusTable)
            graft.io.DeltaWrite.appendLayoutPinned(bandRows, ledgerTable)
        }
      }
      (nNew, total - nNew)
    } finally fresh.unpersist(blocking = false)
  }

  /** Declarative twin of [[simhash]]: bit_j(h) tested as
    * (h % 2^(j+1)) >= 2^j — exact long arithmetic, reproducible in any
    * engine (no engine-specific hash/shift). */
  def simhashDeclarative(textCol: Column): Column = {
    val toks = array_distinct(TextAnalysis.tokens(textCol))
    val hs = transform(toks, t => TextAnalysis.tokenHash60(t))
    def pow2(j: Column): Column = pow(lit(2.0), j).cast(LongType)
    aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, j) => {
      val bitSum = aggregate(hs, lit(0L),
        (s2, h) => s2 + when(pmod(h, pow2(j + 1)) >= pow2(j), lit(1L)).otherwise(lit(-1L)))
      acc + when(bitSum > 0, pow2(j)).otherwise(lit(0L))
    })
  }
}
