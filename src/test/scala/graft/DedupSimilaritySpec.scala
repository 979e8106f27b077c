package graft

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("shingles: distinct 3-gram windows, short docs -> empty") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(TextAnalysis.shingles($"text", 3).as("sh"))
    val got = df.collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(got == Seq(Seq("a b c", "b c d"), Seq()))
  }

  test("minhash: identical text -> identical signature; near-dup -> mostly equal") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words about spark catalyst optimizer plans here")
    ).toDF("id", "text")
      .select($"id", Dedup.minhashSignature($"text", 32, 3).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("lshCandidates finds planted duplicates") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.select($"doc_id".as("id"), $"text")
      .union(docs.select(($"doc_id" + 100000).as("id"), $"text"))
    val nDocs = docs.count()
    val cand = Dedup.lshCandidates(corpus, "id", "text")
    val planted = cand.filter($"id_b" - $"id_a" === 100000).count()
    assert(planted == nDocs, s"expected all $nDocs planted dup pairs, got $planted")
  }

  test("hot-bucket guard: a 10k-copy flood emits zero candidates, ledger reports the cut") {
    // 10k exact copies of one document: unguarded, EVERY band puts all
    // copies in one bucket -> 8 x 10k(10k-1)/2 ~ 4x10^8 candidate pairs
    // (the quadratic blow-up the guard exists for; never materialized
    // here). With the cap the flood buckets are dropped whole.
    // 1 and 2 are EXACT copies: identical signatures share every band
    // deterministically, so the not-disturbed assertion can't flake on
    // a near-dup missing all 8 bands under the fixed coefficients
    val normal = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally different content about query planners and shuffles")
    ).toDF("id", "text")
    val flood = spark.range(10000).select(($"id" + 1000L).as("id"),
      lit("the flooded document body repeated verbatim across the crawl").as("text"))
    val corpus = normal.union(flood)
    val cap = 20
    val cand = Dedup.lshCandidates(corpus, "id", "text", maxBucketSize = cap)
    // flood contributes nothing; docs 1~2 share most shingles and at
    // least one band, and their buckets are small, so the guard must
    // NOT disturb them
    assert(cand.filter($"id_a" >= 1000L || $"id_b" >= 1000L).count() == 0)
    assert(cand.filter($"id_a" === 1L && $"id_b" === 2L).count() == 1)
    // ledger: every flood band bucket (8 bands x 10k members) reported
    val dropped = Dedup.lshDroppedBuckets(corpus, "id", "text", maxBucketSize = cap)
      .collect()
    assert(dropped.length == 8, s"expected 8 dropped band buckets, got ${dropped.length}")
    assert(dropped.forall(_.getLong(1) == 10000L))
    // unguarded default still finds the flood (sanity that the guard,
    // not banding, removed it) — count the BUCKET members, not pairs
    val unguardedLedger = Dedup.lshDroppedBuckets(corpus, "id", "text",
      maxBucketSize = Int.MaxValue).count()
    assert(unguardedLedger == 0)
  }

  test("hot-bucket guard on embedding LSH: flood vectors cut, pairs otherwise intact") {
    val dim = 8
    def vec(seed: Int): Seq[Double] =
      (0 until dim).map(k => math.sin(seed * 31 + k * 7).abs + 0.1)
    val base = (1 to 30).map(i => (i.toLong, vec(i)))
    val flood = (0 until 2000).map(t => (5000L + t, vec(999)))
    val corpus = (base ++ flood).toDF("vec_id", "v")
    val guarded = Similarity.nearDupPairs(corpus, dim, bits = 4, threshold = 0.5,
      maxBucketSize = 50)
    assert(guarded.filter($"id_a" >= 5000L || $"id_b" >= 5000L).count() == 0)
    // pairs among the 30 base vectors whose bucket stayed under the cap
    // match the unguarded run restricted to those buckets: guard a
    // corpus with NO flood -> identical output to unguarded
    val baseOnly = base.toDF("vec_id", "v")
    val g = Similarity.nearDupPairs(baseOnly, dim, 4, 0.5, maxBucketSize = 50)
      .collect().toSet
    val u = Similarity.nearDupPairs(baseOnly, dim, 4, 0.5).collect().toSet
    assert(g == u)
    val multi = Similarity.nearDupPairsMulti(corpus, dim, bits = 4, threshold = 0.5,
      tables = 2, maxBucketSize = 50)
    assert(multi.filter($"id_a" >= 5000L || $"id_b" >= 5000L).count() == 0)
  }

  test("native shingle-hash + minhash == declarative twins bit-for-bit on the corpus") {
    val docs = Tables.documents(spark, sf)
    val cmp = docs.select(
      Dedup.shingleHashes($"text", 3).as("sh_nat"),
      Dedup.shingleHashesDeclarative($"text", 3).as("sh_decl"),
      Dedup.minhashSignature($"text", 32, 3).as("sig_nat"),
      Dedup.minhashSignatureDeclarative($"text", 32, 3).as("sig_decl"))
    assert(cmp.filter($"sh_nat" =!= $"sh_decl" || $"sig_nat" =!= $"sig_decl").count() == 0)
    // whitespace / short-doc edges: < 3 tokens -> empty hashes, all-null signature
    val edge = Seq("", "  ", "one two", "a  b \t c", "a b c a b c")
      .toDF("text").select(
        Dedup.shingleHashes($"text", 3).as("n"),
        Dedup.shingleHashesDeclarative($"text", 3).as("d"),
        Dedup.minhashSignature($"text", 4, 3).as("sn"),
        Dedup.minhashSignatureDeclarative($"text", 4, 3).as("sd"))
    edge.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
      assert(r.getSeq[Any](2) == r.getSeq[Any](3))
    }
  }

  test("native simhash + hyperplane bucket == declarative twins bit-for-bit") {
    val docs = Tables.documents(spark, sf)
    assert(docs.select(Dedup.simhash($"text").as("n"), Dedup.simhashDeclarative($"text").as("d"))
      .filter($"n" =!= $"d").count() == 0)
    val emb = Tables.embeddings(spark, sf)
    assert(emb.select(
        Similarity.hyperplaneBuckets($"embedding", 64, 16).as("n"),
        Similarity.hyperplaneBucketsDeclarative($"embedding", 64, 16).as("d"))
      .filter($"n" =!= $"d").count() == 0)
    // empty text -> simhash 0 in both forms
    val z = Seq("").toDF("text")
      .select(Dedup.simhash($"text"), Dedup.simhashDeclarative($"text")).collect()(0)
    assert(z.getLong(0) == 0L && z.getLong(1) == 0L)
  }

  test("LSH-candidate jaccard recalls every all-pairs near-dup (small-corpus oracle)") {
    // The all-pairs within-source scan q44 used to ship is now the TEST
    // oracle for the candidate-composed path: every pair the exhaustive
    // scan rates jaccard >= 0.9 must appear among the LSH candidates
    // (deterministic here: fixed corpus + fixed minhash coefficients).
    val docs = Tables.documents(spark, sf)
    val sh = docs.select($"doc_id", $"source", Dedup.shingleHashes($"text", 3).as("hs"))
    val allPairs = sh.alias("a").join(sh.alias("b"),
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        Dedup.jaccard(col("a.hs"), col("b.hs")).as("jac"))
      .filter($"jac" >= 0.9)
    val cand = Dedup.lshCandidates(docs, "doc_id", "text")
    val missed = allPairs.join(cand, Seq("id_a", "id_b"), "left_anti").count()
    val nOracle = allPairs.count()
    assert(nOracle > 0, "oracle found no near-dup pairs — corpus unsuitable")
    assert(missed == 0, s"$missed of $nOracle all-pairs near-dups missing from LSH candidates")
  }

  test("exact dedup keeps min id per content") {
    val df = Seq((5L, "same text here"), (2L, "same text here"), (9L, "other text"))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(df, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 9L))
  }

  test("jaccard on known sets") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(2L, 3L, 4L))).toDF("a", "b")
    val j = df.select(Dedup.jaccard($"a", $"b")).collect()(0).getDouble(0)
    assert(math.abs(j - 0.5) < 1e-12)
  }

  test("simhash: identical -> equal, near-dup closer than unrelated (hamming)") {
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("id", "text").select($"id", Dedup.simhash($"text").as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)))
  }

  test("l2sq_native == declarative squared-L2 fold bit-for-bit + null edges") {
    def declL2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    val emb = Tables.embeddings(spark, sf).limit(200)
      .select($"vec_id", Similarity.asDouble($"embedding").as("v"))
    val pairs = emb.alias("a").join(emb.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(declL2(col("a.v"), col("b.v")).as("decl"),
        graft.functions.Natives.l2sq(col("a.v"), col("b.v")).as("nat"))
    // bit-identical, not approximately equal: same accumulation order
    assert(pairs.filter($"decl" =!= $"nat").count() == 0)
    assert(pairs.filter($"decl".isNull =!= $"nat".isNull).count() == 0)
    assert(pairs.count() > 0)
    // length mismatch -> null in both forms; empty arrays -> 0.0
    val edges = Seq(
      (Seq(1.0, 2.0), Seq(1.0)),
      (Seq.empty[Double], Seq.empty[Double])).toDF("a", "b")
      .select(declL2($"a", $"b").as("decl"),
        graft.functions.Natives.l2sq($"a", $"b").as("nat")).collect()
    assert(edges(0).isNullAt(0) && edges(0).isNullAt(1))
    assert(edges(1).getDouble(0) == 0.0 && edges(1).getDouble(1) == 0.0)
  }

  test("cosine_native == declarative cosine bit-for-bit on real embeddings + null edges") {
    val emb = Tables.embeddings(spark, sf).limit(200)
      .select($"vec_id", Similarity.asDouble($"embedding").as("v"))
    val pairs = emb.alias("a").join(emb.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        Similarity.cosine(col("a.v"), col("b.v")).as("decl"),
        Similarity.cosineNative(col("a.v"), col("b.v")).as("nat"))
    // bit-identical, not approximately equal: same accumulation order
    assert(pairs.filter($"decl" =!= $"nat").count() == 0)
    assert(pairs.filter($"decl".isNull =!= $"nat".isNull).count() == 0)
    assert(pairs.count() > 0)
    // length mismatch -> null in BOTH forms (zip_with null-padding
    // poisons the declarative fold; the native mirrors it)
    val mismatch = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
      .select(Similarity.cosine($"a", $"b").as("decl"),
        Similarity.cosineNative($"a", $"b").as("nat"))
    assert(mismatch.collect().forall(r => r.isNullAt(0) && r.isNullAt(1)))
    // zero-norm vector: native degrades to null (documented divergence —
    // the declarative form under ANSI throws DIVIDE_BY_ZERO)
    val zero = Seq((Seq(0.0, 0.0), Seq(1.0, 1.0))).toDF("a", "b")
      .select(Similarity.cosineNative($"a", $"b"))
    assert(zero.collect()(0).isNullAt(0))
  }

  test("cosine: orthogonal=0, parallel=1") {
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(2.0, 0.0))).toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine($"a", $"b"), Similarity.cosine($"a", $"c")).collect()(0)
    assert(math.abs(r.getDouble(0)) < 1e-12 && math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("brute-force topk self-consistency: nearest neighbor of a duplicated vector is its twin") {
    val emb = Tables.embeddings(spark, sf)
    // plant vec 9999 = copy of vec 0; its top-1 neighbor must be vec 0 with sim 1.0
    val v0 = emb.filter($"vec_id" === 0)
    val corpus = emb.union(v0.select(lit(9999L).as("vec_id"), $"embedding", $"label"))
    val top = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 9999), corpus, 1)
      .collect()(0)
    assert(top.getLong(1) == 0L && math.abs(top.getDouble(2) - 1.0) < 1e-9)
  }

  test("hyperplane buckets: identical vectors share a bucket") {
    val emb = Tables.embeddings(spark, sf).limit(20)
    val b1 = emb.select($"vec_id", Similarity.hyperplaneBuckets($"embedding", 64, 16).as("b"))
    val b2 = emb.select($"vec_id", Similarity.hyperplaneBuckets($"embedding", 64, 16).as("b2"))
    val joined = b1.join(b2, "vec_id").filter($"b" =!= $"b2").count()
    assert(joined == 0)
  }

  test("centroids: mean of components is exact on a tiny set") {
    val df = Seq((0, Seq(1.0f, 3.0f)), (0, Seq(3.0f, 5.0f))).toDF("label", "embedding")
    val got = Similarity.centroidComponents(df, "label")
      .orderBy("pos").collect().map(r => (r.getInt(1), r.getDouble(2))).toSeq
    assert(got == Seq((0, 2.0), (1, 4.0)))
  }

  test("kmeans quantizer: Lloyd's iterations do not regress the mean best-centroid cosine") {
    val emb = Tables.embeddings(spark, sf)
    val init = Similarity.kmeansCentroids(emb, k = 8, iters = 0)
    val trained = Similarity.kmeansCentroids(emb, k = 8, iters = 3)
    val s0 = Similarity.quantizerScore(emb, init)
    val s3 = Similarity.quantizerScore(emb, trained)
    assert(s3 >= s0 - 1e-9, s"quantizer regressed: $s0 -> $s3")
    assert(init.count() == 8 && trained.count() == 8)
  }

  test("connected components: chains merge transitively, islands stay apart") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 5L), (8L, 9L), (9L, 7L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("connected components: a 1000-link chain converges in O(log d) rounds") {
    // worst-case diameter: one path 1-2-...-1000. Plain min-label
    // propagation needs ~1000 rounds (the pre-hardening behavior would
    // hit the maxIters refusal); pointer jumping must close it inside
    // the DEFAULT 20-round budget.
    val chain = (1L until 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain)
    assert(got.count() == 1000)
    assert(got.filter($"label" =!= 1L).count() == 0,
      "every chain vertex must resolve to the minimum id")
    // and a deep chain PLUS islands: labels stay per-component
    val mixed = chain.union(Seq((5000L, 5001L), (7000L, 7001L)).toDF("id_a", "id_b"))
    val labels = Dedup.connectedComponents(mixed)
      .groupBy($"label").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1000L, 5000L -> 2L, 7000L -> 2L))
  }

  test("multi-table OR-LSH near-dup: tables=1 coarse ⊆ tables=3, and single-table pairs stay verified") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.select($"vec_id", Similarity.asDouble($"embedding").as("v"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // one 8-bit table == the first 8 planes of the 3x8 packed sketch:
    // multi's candidate (hence result) set must contain it
    val single = pairSet(Similarity.nearDupPairsMulti(corpus, 64, 8, 0.5, tables = 1))
    val multi = pairSet(Similarity.nearDupPairsMulti(corpus, 64, 8, 0.5, tables = 3))
    assert(single.subsetOf(multi), s"${(single -- multi).size} pairs lost by adding tables")
    // every emitted pair respects the cosine threshold (verification ran)
    val sims = Similarity.nearDupPairsMulti(corpus, 64, 8, 0.5, tables = 3)
      .select($"sim").collect().map(_.getDouble(0))
    assert(sims.forall(_ >= 0.5))
  }

  test("ivf with kmeans centroids at moderate nprobe: recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = Similarity.kmeansCentroids(emb, k = 8, iters = 2)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(queries, emb, centroids, k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall below floor (3/8 cells probed)")
  }

  test("sq8 quantized top-k: high recall vs exact, sims within cell error") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sq8 = Similarity.sq8TopK(queries, emb, dim = 64, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 8-bit cells are tiny relative to the data spread: the quantized
    // ranking should recover nearly all exact neighbors ...
    val recall = (exact.map(t => (t._1, t._2)).toSet
      intersect sq8.map(t => (t._1, t._2)).toSet).size.toDouble / exact.size
    assert(recall >= 0.9, s"sq8 recall $recall below floor")
    // ... and similarities of shared pairs shift by less than 1%
    val exactSim = exact.map(t => (t._1, t._2) -> t._3).toMap
    sq8.foreach { case (q, c, s) =>
      exactSim.get((q, c)).foreach(e => assert(math.abs(e - s) < 0.01,
        s"sq8 sim for ($q,$c) drifted: $s vs exact $e"))
    }
  }
  test("sq8 persisted codes: fused code-cosine bit-identical to dequantized cosine") {
    val emb = Tables.embeddings(spark, sf)
    val bounds = Similarity.sq8Bounds(emb)
    val withB = emb.crossJoin(broadcast(bounds))
    // unrounded similarity, both paths, same query vector (vec_id 0)
    val q = emb.filter($"vec_id" === 0)
      .select(Similarity.asDouble($"embedding").as("qv"))
    val cmp = withB.crossJoin(broadcast(q)).select(
      $"vec_id",
      graft.functions.Natives.sq8Cosine(
        $"qv",
        graft.functions.Natives.sq8Encode(
          Similarity.asDouble($"embedding"), $"los", $"his"),
        $"los", $"his").as("fused"),
      Similarity.cosineNative(
        $"qv",
        Similarity.sq8Dequantize(
          Similarity.asDouble($"embedding"), $"los", $"his", 64)).as("reference"))
    // EXACT double equality — same IEEE ops in the same order, no 4dp crutch
    assert(cmp.filter(!($"fused" <=> $"reference")).count() == 0)
  }

  test("sq8 index round-trips through parquet; rank-from-codes == sq8TopK") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 5)
    val dir = java.nio.file.Files.createTempDirectory("sq8idx").toString
    try {
      Similarity.sq8WriteIndex(emb, dir)
      val codes = spark.read.parquet(s"$dir/codes")
      val bounds = spark.read.parquet(s"$dir/bounds")
      val fromCodes = Similarity.sq8TopKFromCodes(queries, codes, bounds, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val reference = Similarity.sq8TopK(queries, emb, dim = 64, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fromCodes == reference)
      // the persisted codes column is 1 byte/component: the scan-size
      // claim the operator doc makes (binary payload ~dim bytes/row)
      val sample = codes.limit(1).collect()(0)
      assert(sample.getAs[Array[Byte]]("codes").length == 64)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("lshCandidatesFromSigs: precomputed-signature path == direct path") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val corpus = docs.select($"doc_id".as("id"), $"text")
      .union(docs.select(($"doc_id" + 100000).as("id"), $"text"))
    val direct = graft.operators.Dedup.lshCandidates(corpus, "id", "text")
    // q42's shape: hash once per base doc, explode the signature to
    // both ids — must band and pair identically to the direct path
    val sigs = docs
      .select($"doc_id", graft.operators.Dedup.shingleHashes($"text", 3).as("hs"))
      .where(size($"hs") > 0)
      .select(explode(array($"doc_id", $"doc_id" + 100000)).as("id"),
        graft.functions.Natives.minhash($"hs", 32).as("sig"))
    val fromSigs = graft.operators.Dedup.lshCandidatesFromSigs(sigs, "id", "sig")
    assert(direct.exceptAll(fromSigs).count() == 0 &&
      fromSigs.exceptAll(direct).count() == 0,
      "precomputed-signature path must yield identical candidates")
    assert(direct.count() > 0)
  }

  test("fuzzy-match block guard leaves a ledger: dropped blocks are reported, not silent") {
    import graft.operators.FuzzyMatch
    // one flood block (100 corpus rows under key "hot") + one normal
    val corpus = ((1 to 100).map(i => ("hot", s"flood text $i")) :+
      ("cold", "unique entry")).toDF("bk", "ctext")
    val probes = Seq(("hot", "flood text 1"), ("cold", "unique entry"))
      .toDF("bk", "ptext")
    val capped = FuzzyMatch.blockedLevenshtein(probes, corpus, "bk",
      $"ptext", $"ctext", maxDist = 2, maxBlockSize = 10)
    // the flood block is cut — only the cold match survives
    assert(capped.select($"bk").collect().map(_.getString(0)).toSeq == Seq("cold"))
    // …and the cut is observable: the ledger names the block and size
    val ledger = FuzzyMatch.droppedBlocks(corpus, "bk", maxBlockSize = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ledger == Seq(("hot", 100L)))
    // no cap → no ledger rows
    assert(FuzzyMatch.droppedBlocks(corpus, "bk", Int.MaxValue).count() == 0)
  }

  test("pq encode recovers planted subspace structure; ADC ranks same-structure docs first") {
    // dim=8, m=2 subspaces of 4; two prototype atoms per subspace
    val atomA = Seq(1.0, 0.0, 0.0, 0.0); val atomB = Seq(0.0, 1.0, 0.0, 0.0)
    val cents = Seq(
      (0, 0, atomA), (0, 1, atomB), // subspace 0 codebook
      (1, 0, atomA), (1, 1, atomB)  // subspace 1 codebook
    ).toDF("sub", "code", "centroid")
    def v(p0: Seq[Double], p1: Seq[Double], eps: Double) =
      (p0 ++ p1).map(_ + eps)
    val corpus = Seq(
      (1L, v(atomA, atomA, 0.01)), (2L, v(atomA, atomB, 0.01)),
      (3L, v(atomB, atomA, -0.01)), (4L, v(atomB, atomB, 0.02)),
      (5L, v(atomA, atomB, 0.0)) // exact prototype of (A,B)
    ).toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(corpus, cents, m = 2, dim = 8)
    val got = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(got == Map(1L -> Seq(0, 0), 2L -> Seq(0, 1), 3L -> Seq(1, 0),
      4L -> Seq(1, 1), 5L -> Seq(0, 1)), s"codes must recover the planted atoms: $got")
    // query = exact (A,B) prototype: docs 2 and 5 share its codes and
    // must occupy the top-2 with IDENTICAL adist (same LUT entries,
    // same fold order), id tie-break
    val q = Seq((99L, v(atomA, atomB, 0.0))).toDF("vec_id", "embedding")
    val top = Similarity.pqTopK(q, codes, cents, k = 5, m = 2, dim = 8, codesPerSub = 2)
      .orderBy($"adist", $"cid").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(top.take(2).map(_._1).toSeq == Seq(2L, 5L))
    assert(top(0)._2 == top(1)._2, "identical codes must give bit-identical ADC")
    assert(top(0)._2 == 0.0, "prototype query to its own atoms has zero ADC distance")
    assert(top.drop(2).forall(_._2 > 0.0), "different-structure docs rank strictly after")
  }

  test("semanticDedup: planted near-dups evicted toward the lowest id, cross-cell pairs untouched") {
    // two well-separated cells on the first two axes; ids 1,2,3 land in
    // cell A (1≈2≈3), ids 10,11 in cell B (10≈11); id 20 in B but far
    def vec(x: Double, y: Double, z: Double) = Seq(x, y, z)
    val corpus = Seq(
      (1L, vec(1.0, 0.01, 0.0)), (2L, vec(1.0, 0.012, 0.0)), (3L, vec(1.0, 0.011, 0.001)),
      (10L, vec(0.0, 1.0, 0.01)), (11L, vec(0.0, 1.0, 0.011)),
      (20L, vec(0.05, 0.9, 0.9))).toDF("vec_id", "embedding")
    val cents = Seq((0, Seq(1.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.3)))
      .toDF("cell_id", "centroid")
    val out = Similarity.semanticDedup(corpus, cents, tau = 0.99)
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long]))
      .toMap
    assert(out(1L).isEmpty && out(10L).isEmpty && out(20L).isEmpty,
      "lowest id per dup group and non-dups are kept")
    assert(out(2L).contains(1L) && out(3L).contains(1L),
      "both copies evict toward the LOWEST id, not chained")
    assert(out(11L).contains(10L))
    assert(out.size == 6, "every corpus vector appears exactly once in the output")
  }

  test("semanticDedup hot-cell valve: capped cell keeps ALL members and leaves a ledger") {
    // 30 near-identical vectors flood cell 0; cell 1 holds one dup pair
    val flood = (1 to 30).map(i => (i.toLong, Seq(1.0, i * 1e-6, 0.0)))
    val cold = Seq((100L, Seq(0.0, 1.0, 0.0)), (101L, Seq(0.0, 1.0, 1e-6)))
    val corpus = (flood ++ cold).toDF("vec_id", "embedding")
    val cents = Seq((0, Seq(1.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0)))
      .toDF("cell_id", "centroid")
    val out = Similarity.semanticDedup(corpus, cents, tau = 0.99, maxCellSize = 10)
    // flood cell excluded from pairing: nothing dropped there (KEPT, not lost)
    assert(out.filter($"cell_id" === 0).count() == 30)
    assert(out.filter($"cell_id" === 0 && !$"kept").count() == 0)
    // the cold cell still dedups
    assert(out.filter($"cell_id" === 1 && !$"kept").select($"vec_id")
      .collect().map(_.getLong(0)).toSeq == Seq(101L))
    // and the cut is observable
    val ledger = Similarity.semanticDedupDroppedCells(corpus, cents, maxCellSize = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(ledger == Seq((0, 30L)))
    // uncapped run on the same corpus evicts the flood toward id 1
    val full = Similarity.semanticDedup(corpus, cents, tau = 0.99)
    assert(full.filter($"cell_id" === 0 && !$"kept").count() == 29)
  }

  test("native ADC == declarative ADC bit-identical over real corpus codes") {
    val emb = Tables.embeddings(spark, sf)
    val cb = Similarity.pqCodebooks(emb, "label", m = 8, dim = 64)
    val codes = Similarity.pqEncode(emb, cb, m = 8, dim = 64)
    // per-row-varying 80-entry LUT (m=8 × codesPerSub=10): exercises
    // every (sub, code) lookup path with values that differ across rows
    val withLut = codes.withColumn("lut",
      transform(sequence(lit(0), lit(79)),
        i => (i.cast("double") * 0.37 - 3.0) * (pmod(col("vec_id"), lit(7)) + 1)))
    val cmp = withLut.select(
      graft.functions.Natives.adcDistance(col("codes"), col("lut"), 10).as("native"),
      Similarity.adcDistanceDeclarative(col("codes"), col("lut"), m = 8,
        codesPerSub = 10).as("declarative"))
    // EXACT double equality — same fold order, same IEEE ops (the
    // sq8Cosine convention: no rounding crutch)
    assert(cmp.filter(!(col("native") <=> col("declarative"))).count() == 0)
    assert(cmp.count() > 0)
  }

  test("pqTopK plans through TopKPerKeyExec, not a per-query window sort") {
    val emb = Tables.embeddings(spark, sf)
    val cb = Similarity.pqCodebooks(emb, "label", m = 8, dim = 64)
    val codes = Similarity.pqEncode(emb, cb, m = 8, dim = 64)
    val top = Similarity.pqTopK(emb.filter($"vec_id" < 5), codes, cb,
      k = 5, m = 8, dim = 64, codesPerSub = 10)
    val rendered = top.queryExecution.executedPlan.toString
    assert(rendered.contains("TopKPerKey"), s"missing TopKPerKeyExec in:\n$rendered")
    assert(!rendered.contains("Window"),
      s"pqTopK must not rank via a window sort:\n$rendered")
    // and the ADC scoring is the codegen'd native, not interpreted HOFs
    assert(rendered.contains("adc_distance_native"),
      s"missing native ADC expression in:\n$rendered")
  }

  test("pqTopK refuses a non-dense code space (positional ADC would misread the LUT)") {
    val atomA = Seq(1.0, 0.0, 0.0, 0.0); val atomB = Seq(0.0, 1.0, 0.0, 0.0)
    // one-based codes: the classic off-by-one a labelCol-derived
    // codebook can carry — every lookup would shift a subspace
    val oneBased = Seq(
      (0, 1, atomA), (0, 2, atomB),
      (1, 1, atomA), (1, 2, atomB)).toDF("sub", "code", "centroid")
    val codes = Seq((1L, Seq(1, 2))).toDF("vec_id", "codes")
    val q = Seq((99L, (atomA ++ atomB))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.pqTopK(q, codes, oneBased, k = 1, m = 2, dim = 8, codesPerSub = 2))
    assert(e.getMessage.contains("dense set"))
  }

  test("q189 cluster-aware split never straddles a near-dup pair") {
    val rows = graft.queries.LlmQueries.q189LeakageSplit.run(spark, sf).collect()
    val bySplit = rows.groupBy(_.getString(0))
    assert(bySplit.keySet == Set("naive", "cluster_aware"))
    // the guard property: zero leaked pairs under the cluster-aware scheme
    bySplit("cluster_aware").foreach { r =>
      assert(r.getLong(3) == 0, s"cluster_aware leaked pairs in split ${r.getString(1)}")
    }
    // both schemes partition the same corpus
    assert(bySplit("naive").map(_.getLong(2)).sum ==
      bySplit("cluster_aware").map(_.getLong(2)).sum)
  }

  test("ingestDeduped converges after a crash between the corpus and ledger appends") {
    import spark.implicits._
    val base = graft.io.Staging.tempDir("ingest_crash")
    val corpus = s"$base/corpus"; val ledger = s"$base/ledger"
    val b1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha")).toDF("doc_id", "text")
    val (n1, d1) = graft.operators.Dedup.ingestDeduped(b1, "doc_id", "text",
      corpus, ledger, batchId = Some(("crashtest", 1L)))
    assert(n1 == 2 && d1 == 1, s"in-batch dedup: got ($n1, $d1)")
    // simulate the crash window of batch 2: its CORPUS append landed
    // (same appId/version the real ingest would use) but the process
    // died before the LEDGER append
    val b2 = Seq((10L, "beta"), (11L, "gamma")).toDF("doc_id", "text")
    val b2fresh = b2.where($"text" === "gamma") // what the anti-join would keep
    graft.io.DeltaWrite.appendOnce(b2fresh, corpus, "crashtest", 2L)
    // the REPLAY: fresh set recomputes identically (ledger still lacks
    // gamma), the corpus append skips on its high-water mark, the
    // ledger append lands — converged, no duplicate rows
    val (n2, d2) = graft.operators.Dedup.ingestDeduped(b2, "doc_id", "text",
      corpus, ledger, batchId = Some(("crashtest", 2L)))
    assert(n2 == 1 && d2 == 1, s"replay must recompute the same fresh set: ($n2, $d2)")
    val rows = graft.io.DeltaRead.read(spark, corpus)
      .orderBy($"doc_id").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "alpha"), (2L, "beta"), (11L, "gamma")),
      s"corpus must hold exactly the first-seen docs once: $rows")
    val fps = graft.io.DeltaRead.read(spark, ledger).count()
    assert(fps == 3, s"ledger must hold one fingerprint per distinct text, got $fps")
    // a THIRD batch re-offering gamma is now fully deduped by the ledger
    val (n3, d3) = graft.operators.Dedup.ingestDeduped(
      Seq((20L, "gamma")).toDF("doc_id", "text"), "doc_id", "text",
      corpus, ledger, batchId = Some(("crashtest", 3L)))
    assert(n3 == 0 && d3 == 1)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("ingestDeduped probes O(batch) ledger files, not the whole sorted ledger") {
    import spark.implicits._
    val base = graft.io.Staging.tempDir("ingest_prune")
    val corpus = s"$base/corpus"; val ledger = s"$base/ledger"
    try {
      // seed a corpus whose sorted ledger spans many files (the range
      // shuffle writes one file per range; rows-per-file lowered so the
      // fixture doesn't need half a million rows)
      spark.conf.set("spark.graft.dedup.ledgerRowsPerFile", "500")
      val b1 = (0 until 4000).map(i => (i.toLong, s"seed text $i"))
        .toDF("doc_id", "text")
      val (n1, _) =
        try graft.operators.Dedup.ingestDeduped(b1, "doc_id", "text",
          corpus, ledger, batchId = Some(("prune", 1L)))
        finally spark.conf.unset("spark.graft.dedup.ledgerRowsPerFile")
      assert(n1 == 4000)
      val ledgerFiles = graft.io.DeltaRead.snapshot(spark, ledger).files
      assert(ledgerFiles.size >= 8,
        s"fixture needs a multi-file ledger, got ${ledgerFiles.size}")
      // every ledger file must carry disjoint fingerprint bounds — the
      // property the probe prunes on
      val bounds = ledgerFiles.flatMap(f =>
        graft.io.DeltaRead.statsLongBounds(f, "fingerprint"))
      assert(bounds.size == ledgerFiles.size, "sorted ledger files need fp stats")
      val sortedB = bounds.sortBy(_._1)
      sortedB.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
          s"ledger files must cover disjoint ranges: $sortedB")
        case _ => ()
      }
      // a tiny second batch (2 new + 1 known) must probe only the files
      // its fingerprints can hit
      val probed = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]()
      graft.io.DeltaRead.onPointSkipping =
        Some((t, kept, total) => if (t == ledger) probed.set((kept, total)))
      val (n2, d2) =
        try graft.operators.Dedup.ingestDeduped(
          Seq((9001L, "fresh one"), (9002L, "fresh two"), (9003L, "seed text 7"))
            .toDF("doc_id", "text"),
          "doc_id", "text", corpus, ledger, batchId = Some(("prune", 2L)))
        finally graft.io.DeltaRead.onPointSkipping = None
      assert(n2 == 2 && d2 == 1, s"got ($n2, $d2)")
      val (kept, total) = probed.get()
      assert(total == ledgerFiles.size)
      assert(kept <= 3 && kept < total,
        s"3 probe points must prune the ledger scan: read $kept of $total files")
      // replay stays a no-op end to end
      val (r2, _) = graft.operators.Dedup.ingestDeduped(
        Seq((9001L, "fresh one"), (9002L, "fresh two"), (9003L, "seed text 7"))
          .toDF("doc_id", "text"),
        "doc_id", "text", corpus, ledger, batchId = Some(("prune", 2L)))
      assert(r2 == 0)
      assert(graft.io.DeltaRead.read(spark, corpus).count() == 4002)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("clipNearDupPairs: per-frame banding, matched-frame thresholds, valve + ledger") {
    import spark.implicits._
    // A(1) == B(2) on all 3 frames; C(3) differs from A by ONE bit on
    // frame 0 only; D(4) unrelated everywhere
    val rows = Seq(
      (1L, 0, 0x0L), (1L, 1, 0xF0L), (1L, 2, 0xFFL),
      (2L, 0, 0x0L), (2L, 1, 0xF0L), (2L, 2, 0xFFL),
      (3L, 0, 0x1L), (3L, 1, 0xF0L), (3L, 2, 0xFFL),
      (4L, 0, 0x123456789ABCDEFL), (4L, 1, 0x7EDCBA9876543210L),
      (4L, 2, 0x5555555555555555L)).toDF("clip", "f", "h")
    def run(h: Int, m: Int, cap: Int = Int.MaxValue) =
      Dedup.clipNearDupPairs(rows, "clip", "f", "h", maxHamming = h,
        bands = 4, minMatchedFrames = m, maxBucketSize = cap)
        .as[(Long, Long, Long)].collect().toSet
    assert(run(0, 3) == Set((1L, 2L, 3L)),
      "radius 0 all-frames: only the exact copy")
    assert(run(1, 3) == Set((1L, 2L, 3L), (1L, 3L, 3L), (2L, 3L, 3L)),
      "radius 1 admits the one-bit frame")
    assert(run(0, 2) == Set((1L, 2L, 3L), (1L, 3L, 2L), (2L, 3L, 2L)),
      "2-of-3 frame threshold at radius 0 catches the edited copy")
    // valve: cap 2 drops every (frame, band) bucket holding {1,2,3} —
    // f0 bands 1..3 (3 buckets; band 0 separates C's flipped slice),
    // f1 and f2 all 4 bands each = 11 dropped buckets; the exact-copy
    // pair survives only through f0's band-0 bucket
    assert(run(0, 1, cap = 2) == Set((1L, 2L, 1L)))
    val dropped = Dedup.clipDroppedBuckets(rows, "clip", "f", "h",
      bands = 4, maxBucketSize = 2)
    assert(dropped.count() == 11L, "the valve must leave a full ledger")
    assert(dropped.where($"frame_idx" === 1).count() == 4L)
  }

  test("ingestDeduped keeps appending into a pre-pair-key (legacy) ledger") {
    import spark.implicits._
    val base = graft.io.Staging.tempDir("ingest_legacy")
    val corpus = s"$base/corpus"; val ledger = s"$base/ledger"
    try {
      // hand-build a LEGACY ledger: single 64-bit fingerprint + id —
      // exactly what a pre-upgrade ingest persisted
      val legacy = Seq((100L, "alpha"), (101L, "beta")).toDF("doc_id", "text")
        .withColumn("fingerprint", xxhash64($"text"))
        .select($"fingerprint", $"doc_id")
      graft.io.DeltaWrite.append(legacy, ledger)
      graft.io.DeltaWrite.append(
        Seq((100L, "alpha"), (101L, "beta")).toDF("doc_id", "text"), corpus)
      // first post-upgrade ingest carrying NEW docs: must dedup against
      // the single-key ledger AND append without widening its schema
      // (DeltaWrite's drift check would refuse a 3-column append)
      val (n, d) = graft.operators.Dedup.ingestDeduped(
        Seq((1L, "alpha"), (2L, "gamma")).toDF("doc_id", "text"),
        "doc_id", "text", corpus, ledger)
      assert(n == 1 && d == 1, s"got ($n, $d)")
      val cols = graft.io.DeltaRead.read(spark, ledger).columns.toSeq.sorted
      assert(cols == Seq("doc_id", "fingerprint"),
        s"legacy ledger must keep its 2-column schema: $cols")
      assert(graft.io.DeltaRead.read(spark, ledger).count() == 3)
      // the next ingest dedups on everything the legacy ledger now holds
      val (n2, d2) = graft.operators.Dedup.ingestDeduped(
        Seq((3L, "gamma"), (4L, "beta")).toDF("doc_id", "text"),
        "doc_id", "text", corpus, ledger)
      assert(n2 == 0 && d2 == 2, s"got ($n2, $d2)")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("ledger layout survives optimizeWrite enabled on the ledger table") {
    import spark.implicits._
    val base = graft.io.Staging.tempDir("ingest_pinned")
    val corpus = s"$base/corpus"; val ledger = s"$base/ledger"
    try {
      spark.conf.set("spark.graft.dedup.ledgerRowsPerFile", "500")
      val (n1, _) = graft.operators.Dedup.ingestDeduped(
        (0 until 2000).map(i => (i.toLong, s"seed text $i")).toDF("doc_id", "text"),
        "doc_id", "text", corpus, ledger)
      assert(n1 == 2000)
      // someone enables auto-optimize on the ledger table — its hash
      // repartition must NOT reach the ledger's pinned range layout
      graft.io.DeltaWrite.setProperties(spark, ledger,
        Map("delta.autoOptimize.optimizeWrite" -> "true"))
      val before = graft.io.DeltaRead.snapshot(spark, ledger).files.map(_.path).toSet
      val (n2, _) = graft.operators.Dedup.ingestDeduped(
        (5000 until 7000).map(i => (i.toLong, s"late text $i")).toDF("doc_id", "text"),
        "doc_id", "text", corpus, ledger)
      assert(n2 == 2000)
      val added = graft.io.DeltaRead.snapshot(spark, ledger).files
        .filterNot(f => before(f.path))
      assert(added.size >= 3, s"fixture needs a multi-file ledger append: ${added.size}")
      val bounds = added.flatMap(f =>
        graft.io.DeltaRead.statsLongBounds(f, "fingerprint"))
      assert(bounds.size == added.size, "pinned ledger files need fp stats")
      bounds.sortBy(_._1).sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
          "ledger files written under optimizeWrite must stay range-disjoint")
        case _ => ()
      }
    } finally {
      spark.conf.unset("spark.graft.dedup.ledgerRowsPerFile")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("ingestPerceptual: one-hop self policy, ledger probe, replay no-op") {
    import spark.implicits._
    val base = graft.io.Staging.tempDir("pingest")
    val corpus = s"$base/corpus"; val ledger = s"$base/ledger"
    try {
      // b1: (1,2) a d=1 pair → 2 drops; 3 lone; {4,5,6}: edges 4~6 and
      // 5~6 only (d(4,5)=2) → 6 drops, 4 AND 5 both survive (the
      // documented local-min policy vs transitive grouping's {4})
      val b1 = Seq((1L, 0x10L), (2L, 0x11L), (3L, 0x1000L),
        (4L, 0xF0F0L), (5L, 0xF0F3L), (6L, 0xF0F1L)).toDF("item_id", "phash")
      val (n1, d1) = graft.operators.Dedup.ingestPerceptual(b1, "item_id",
        "phash", corpus, ledger, maxHamming = 1, bands = 4,
        batchId = Some(("pingest", 1L)))
      assert((n1, d1) == ((4L, 2L)), s"got ($n1, $d1)")
      // b2 vs the ledger {0x10, 0x1000, 0xF0F0, 0xF0F3}: 11 re-offers
      // 0x10 (d=0, drops), 12 is d=1 from 0x1000 (drops), 13 = 0x13 is
      // d=1 from the DROPPED 0x11 but d=2 from kept 0x10 → survives
      // (greedy incremental dedup's documented trade), 14 fresh
      val b2 = Seq((11L, 0x10L), (12L, 0x1002L), (13L, 0x13L),
        (14L, 0xABCDEFL)).toDF("item_id", "phash")
      val (n2, d2) = graft.operators.Dedup.ingestPerceptual(b2, "item_id",
        "phash", corpus, ledger, maxHamming = 1, bands = 4,
        batchId = Some(("pingest", 2L)))
      assert((n2, d2) == ((2L, 2L)), s"got ($n2, $d2)")
      val ids = graft.io.DeltaRead.read(spark, corpus)
        .select($"item_id").as[Long].collect().toSet
      assert(ids == Set(1L, 3L, 4L, 5L, 13L, 14L))
      // ledger carries the exploded band rows of every accepted item
      val lrows = graft.io.DeltaRead.read(spark, ledger)
      assert(lrows.count() == 6 * 4)
      assert(lrows.columns.toSeq == Seq("band_key", "hash", "item_id"))
      // replay of batch 2 is an end-to-end no-op (every survivor is now
      // d=0 from its own ledger row)
      val (r2, rd2) = graft.operators.Dedup.ingestPerceptual(b2, "item_id",
        "phash", corpus, ledger, maxHamming = 1, bands = 4,
        batchId = Some(("pingest", 2L)))
      assert(r2 == 0L && rd2 == 4L)
      assert(graft.io.DeltaRead.read(spark, corpus).count() == 6)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("ingestEmbeddings: self policy, cosine ledger probe, replay no-op") {
    import spark.implicits._
    import graft.operators.Similarity
    val base = graft.io.Staging.tempDir("eingest")
    val corpus = s"$base/corpus"; val ledger = s"$base/ledger"
    try {
      val vA = Seq(0.6, 0.8, 0.0, 0.1)
      val vB = Seq(-0.7, 0.1, 0.7, 0.0)
      // b1: 2 is an exact copy of 1 (cosine 1.0, bucket identical by
      // construction) → drops in-batch; 3 is unrelated → kept
      val b1 = Seq((1L, vA), (2L, vA), (3L, vB)).toDF("vec_id", "v")
      val (n1, d1) = Similarity.ingestEmbeddings(b1, corpus, ledger,
        dim = 4, bits = 6, threshold = 0.99, batchId = Some(("eingest", 1L)))
      assert((n1, d1) == ((2L, 1L)), s"got ($n1, $d1)")
      // b2: 11 re-offers vA scaled 2× (cosine exactly 1, same sign
      // sketch) → drops against the ledger; 12 is the sign-flipped vA
      // (cosine < 0) → kept
      val b2 = Seq((11L, vA.map(_ * 2)), (12L, vA.map(-_)))
        .toDF("vec_id", "v")
      val (n2, d2) = Similarity.ingestEmbeddings(b2, corpus, ledger,
        dim = 4, bits = 6, threshold = 0.99, batchId = Some(("eingest", 2L)))
      assert((n2, d2) == ((1L, 1L)), s"got ($n2, $d2)")
      val ids = graft.io.DeltaRead.read(spark, corpus)
        .select($"vec_id").as[Long].collect().toSet
      assert(ids == Set(1L, 3L, 12L))
      val lrows = graft.io.DeltaRead.read(spark, ledger)
      assert(lrows.count() == 3)
      assert(lrows.columns.toSeq == Seq("bucket_key", "vec_id", "v"))
      val (r2, rd2) = Similarity.ingestEmbeddings(b2, corpus, ledger,
        dim = 4, bits = 6, threshold = 0.99, batchId = Some(("eingest", 2L)))
      assert(r2 == 0L && rd2 == 2L)
      assert(graft.io.DeltaRead.read(spark, corpus).count() == 3)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("ingest probe valves skip hot ledger buckets (dups admitted, join bounded)") {
    import spark.implicits._
    import graft.operators.Similarity
    // PERCEPTUAL: five accepted hashes share band 0's slice (all 0 —
    // the structured-corpus shape) but are pairwise Hamming ≥ 6; a
    // radius-3 probe item flips one bit in each of bands 1–3, so ONLY
    // the hot band-0 bucket can catch it
    def hp(s: Long): Long = (s << 16) | (s << 32) | (s << 48)
    val seed = Seq(1L, 2L, 4L, 8L, 16L).zipWithIndex
      .map { case (s, i) => (i + 1L, hp(s)) }.toDF("item_id", "phash")
    val probe = Seq((100L, hp(1L) ^ (1L << 16) ^ (1L << 32) ^ (1L << 48)))
      .toDF("item_id", "phash")
    def runP(cap: Int): Long = {
      val base = graft.io.Staging.tempDir("pvalve")
      try {
        graft.operators.Dedup.ingestPerceptual(seed, "item_id", "phash",
          s"$base/c", s"$base/l", maxHamming = 3, bands = 4)
        val (n, _) = graft.operators.Dedup.ingestPerceptual(probe, "item_id",
          "phash", s"$base/c", s"$base/l", maxHamming = 3, bands = 4,
          maxBucketSize = cap)
        n
      } finally
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
    assert(runP(Int.MaxValue) == 0L, "unguarded probe must catch via the hot band")
    assert(runP(4) == 1L,
      "cap 4 must skip the 5-row band-0 bucket: dup admitted, join bounded")
    // EMBEDDING twin at bits = 1: every positive-projection vector
    // shares bucket 0, so three mutually-dissimilar accepted vectors
    // make it hot; a true copy of the first is caught only there
    // all three project NEGATIVE on plane 0 (weights -0.5, -0.0646,
    // 0.2415, 0.4183) → shared bucket 0, pairwise cosine ≤ 0.1
    val vs = Seq(Seq(1.0, 0.05, 0.0, 0.0), Seq(0.05, 1.0, 0.0, 0.0),
      Seq(0.05, 0.0, -1.0, 0.0))
    def runE(cap: Int): Long = {
      val base = graft.io.Staging.tempDir("evalve")
      try {
        val (n0, _) = Similarity.ingestEmbeddings(
          vs.zipWithIndex.map { case (v, i) => (i + 1L, v) }.toDF("vec_id", "v"),
          s"$base/c", s"$base/l", dim = 4, bits = 1, threshold = 0.99)
        assert(n0 == 3, s"seed vectors must be mutually dissimilar, got $n0")
        val (n, _) = Similarity.ingestEmbeddings(
          Seq((100L, vs.head)).toDF("vec_id", "v"),
          s"$base/c", s"$base/l", dim = 4, bits = 1, threshold = 0.99,
          maxBucketSize = cap)
        n
      } finally
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
    assert(runE(Int.MaxValue) == 0L, "unguarded probe must catch the exact copy")
    assert(runE(2) == 1L,
      "cap 2 must skip the 3-row bucket: dup admitted, join bounded")
  }

  test("ingestPerceptual probes O(batch) ledger files via band-key skipping") {
    import spark.implicits._
    val base = graft.io.Staging.tempDir("pingest_prune")
    val corpus = s"$base/corpus"; val ledger = s"$base/ledger"
    try {
      spark.conf.set("spark.graft.dedup.ledgerRowsPerFile", "500")
      // every 16-bit slice of h(i) equals i: distinct items sit far
      // apart (d = 4·popcount(i xor j) bits), band keys spread evenly
      val b1 = (0 until 4000)
        .map(i => (i.toLong, i.toLong * 0x0001000100010001L))
        .toDF("item_id", "phash")
      val (n1, _) =
        try graft.operators.Dedup.ingestPerceptual(b1, "item_id", "phash",
          corpus, ledger, maxHamming = 1, bands = 4,
          batchId = Some(("pprune", 1L)))
        finally spark.conf.unset("spark.graft.dedup.ledgerRowsPerFile")
      assert(n1 == 4000)
      val files = graft.io.DeltaRead.snapshot(spark, ledger).files
      assert(files.size >= 8, s"fixture needs a multi-file ledger: ${files.size}")
      val bounds = files.flatMap(f =>
        graft.io.DeltaRead.statsLongBounds(f, "band_key"))
      assert(bounds.size == files.size, "sorted ledger files need band_key stats")
      bounds.sortBy(_._1).sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
          "ledger files must cover disjoint band_key ranges")
        case _ => ()
      }
      // a tiny batch (1 known + 2 fresh) probes ≤ 12 point keys
      val probed = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]()
      graft.io.DeltaRead.onPointSkipping =
        Some((t, kept, total) => if (t == ledger) probed.set((kept, total)))
      val b2 = Seq((9001L, 7L * 0x0001000100010001L),
        (9002L, 0x4000300020001100L), (9003L, 0x4000300020001103L))
        .toDF("item_id", "phash")
      val (n2, d2) =
        try graft.operators.Dedup.ingestPerceptual(b2, "item_id", "phash",
          corpus, ledger, maxHamming = 1, bands = 4,
          batchId = Some(("pprune", 2L)))
        finally graft.io.DeltaRead.onPointSkipping = None
      // 9001 drops against the ledger; 9002/9003 are d=2 apart → kept
      assert((n2, d2) == ((2L, 1L)), s"got ($n2, $d2)")
      val (kept, total) = probed.get()
      assert(total == files.size)
      assert(kept <= 12 && kept < total,
        s"12 probe points must prune the ledger scan: read $kept of $total files")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

}
