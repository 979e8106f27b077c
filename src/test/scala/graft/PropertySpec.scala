package graft

import graft.clean.Cleaner
import graft.functions.{NativeHelpers, Normalize, TextAnalysis}
import graft.io.{DeltaRead, DeltaWrite, Staging}
import graft.operators.{Dedup, Similarity, Skew, StarSchema, Validator}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.jdk.CollectionConverters._

/** Property-based invariants (SURVEY §5): dedup idempotence,
  * normalize_numeric round-trips, orphan-free star builds, salted-join
  * equivalence, IVF exactness at full probe width. Uses scalacheck Gen
  * with a fixed seed (the scalatestplus bridge isn't on the offline
  * classpath, so sampling is driven manually).
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("normalize_numeric round-trips plain doubles (property)") {
    for (d <- samples(Gen.chooseNum(-1e6, 1e6), 200)) {
      val r = NativeHelpers.parse(UTF8String.fromString(d.toString))
      assert(r != null && math.abs(r - d) < 1e-9, s"failed for $d")
    }
  }

  test("normalize_numeric EU mixed form round-trips (property)") {
    for (d <- samples(Gen.chooseNum(0.0, 1e5), 200)) {
      val us = "%.2f".format(d)                    // "<int>.<dec>"
      val eu = "1." + us.replace('.', ',')         // "1.<int>,<dec>" mixed EU form
      val r = NativeHelpers.parse(UTF8String.fromString(eu))
      // EU rule strips dots then comma->dot: "1<int>.<dec>"
      assert(r != null && r == ("1" + us).toDouble, s"$eu -> $r")
    }
  }

  test("cleaner dedup is idempotent: clean(clean(df)) == clean(df)") {
    val df = Tables.events(spark, sf)
    val once = Cleaner.cleanEvents(df)
    val twice = Cleaner.cleanEvents(once)
    assert(once.exceptAll(twice).count() == 0 && twice.exceptAll(once).count() == 0)
  }

  test("exact dedup is idempotent and fingerprint-unique") {
    val docs = Tables.documents(spark, sf)
    val once = Dedup.exact(docs, "text", "doc_id")
    val twice = Dedup.exact(once, "text", "doc_id")
    assert(once.count() == twice.count())
    val fps = once.select(TextAnalysis.fingerprint($"text").as("fp"))
    assert(fps.distinct().count() == once.count())
  }

  test("hash splits: exhaustive, weight-accurate, and stable under corpus growth") {
    import graft.operators.Sampling
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val docs = Tables.documents(spark, sf)
    val assigned = docs.select($"doc_id", Sampling.splitAssign($"doc_id", w).as("split"))
    assert(assigned.filter($"split".isNull).count() == 0, "weights sum to 1 -> no unassigned rows")
    val n = docs.count().toDouble
    val frac = assigned.groupBy($"split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) / n).toMap
    w.foreach { case (name, expected) =>
      assert(math.abs(frac(name) - expected) < 0.05,
        s"$name fraction ${frac(name)} vs $expected") }
    // membership is a pure key function: the same ids get the same split
    // when assigned within a larger corpus
    val grown = docs.union(docs.withColumn("doc_id", $"doc_id" + 1000000))
      .select($"doc_id", Sampling.splitAssign($"doc_id", w).as("split2"))
    val changed = assigned.join(grown, "doc_id")
      .filter($"split" =!= $"split2").count()
    assert(changed == 0)
  }

  test("star build is orphan-free for any sf dir (invariant)") {
    for (dir <- Seq("/root/testdata/sf0.001")) {
      val bad = Validator.report(StarSchema.build(spark, dir))
        .filter($"n_bad" =!= 0L).count()
      assert(bad == 0, s"violations at $dir")
    }
  }

  test("gold load idempotence: appendNew twice == once; overlap batch adds only new keys") {
    val dir = Staging.tempDir("graft_gold")
    val path = s"$dir/fact_orders"
    val fact = StarSchema.build(spark, sf)("fact_orders")
    val n0 = fact.count()
    val v0 = DeltaWrite.appendNew(fact, path, Seq("o_orderkey"))
    assert(DeltaRead.readVersion(spark, path, v0).count() == n0)
    // re-run with identical input: a no-op that mints no version
    // (SURVEY §7.4 #2)
    assert(DeltaWrite.appendNew(fact, path, Seq("o_orderkey")) == v0)
    assert(DeltaRead.latestVersion(path) == v0)
    assert(DeltaRead.read(spark, path).count() == n0)
    // overlapping batch: old keys skipped, shifted keys appended
    val shifted = fact.withColumn("o_orderkey", $"o_orderkey" + 10000000L)
    val v1 = DeltaWrite.appendNew(fact.unionAll(shifted), path, Seq("o_orderkey"))
    assert(v1 == v0 + 1)
    val got = DeltaRead.readVersion(spark, path, v1)
    assert(got.count() == 2 * n0)
    // and the PK stayed unique throughout
    assert(got.select("o_orderkey").distinct().count() == 2 * n0)
    // a NULL key matches its stored self (<=>): the re-run adds nothing
    val nullKeyed = Seq((Option(1L), "a"), (Option.empty[Long], "b")).toDF("k", "v")
    val nv = DeltaWrite.appendNew(nullKeyed, s"$dir/null_keys", Seq("k"))
    assert(DeltaWrite.appendNew(nullKeyed, s"$dir/null_keys", Seq("k")) == nv)
    assert(DeltaRead.read(spark, s"$dir/null_keys").count() == 2)
  }

  test("gold load txn: a marked batch is never built; other appIds still skip stored keys") {
    val path = s"${Staging.tempDir("graft_gold_txn")}/fact_orders"
    val fact = StarSchema.build(spark, sf)("fact_orders")
    var built = 0
    def batch(df: org.apache.spark.sql.DataFrame) = { built += 1; df }
    val v0 = DeltaWrite.appendNew(batch(fact), path, Seq("o_orderkey"), txn = Some("run.a" -> 0L))
    assert(built == 1 && DeltaWrite.lastTxnVersion(spark, path, "run.a").contains(0L))
    // the same (appId, 0): the frame is never evaluated, the head returns
    val shifted = fact.withColumn("o_orderkey", $"o_orderkey" + 10000000L)
    DeltaWrite.appendOnce(shifted.limit(3), path, "other", 0L)
    val head = DeltaRead.latestVersion(path)
    assert(head == v0 + 1)
    assert(DeltaWrite.appendNew(batch(fact), path, Seq("o_orderkey"),
      txn = Some("run.a" -> 0L)) == head)
    assert(built == 1 && DeltaRead.latestVersion(path) == head)
    // a different appId over the same table appends only new keys
    val n = DeltaRead.read(spark, path).count()
    val v1 = DeltaWrite.appendNew(batch(fact.unionAll(shifted)), path, Seq("o_orderkey"),
      txn = Some("run.b" -> 0L))
    assert(built == 2 && v1 == head + 1)
    assert(DeltaRead.read(spark, path).count() - n == fact.count() - 3)
    assert(DeltaWrite.lastTxnVersion(spark, path, "run.b").contains(0L))
    // nothing new: no version and no mark, so the next call repeats the work
    assert(DeltaWrite.appendNew(batch(fact), path, Seq("o_orderkey"),
      txn = Some("run.c" -> 0L)) == v1)
    assert(DeltaRead.latestVersion(path) == v1)
    assert(DeltaWrite.lastTxnVersion(spark, path, "run.c").isEmpty)
    assert(DeltaWrite.appendNew(batch(fact), path, Seq("o_orderkey"),
      txn = Some("run.c" -> 0L)) == v1)
    assert(built == 4)
  }

  test("a failed gold load leaves the prior version whole; a retry converges") {
    val path = s"${Staging.tempDir("graft_gold_fail")}/fact_orders"
    val fact = StarSchema.build(spark, sf)("fact_orders")
    val even = fact.filter($"o_orderkey" % 2 === 0)
    val v0 = DeltaWrite.appendNew(even, path, Seq("o_orderkey"))
    val n0 = even.count()
    // one task of the next load throws: the row of one new key fails
    val victim = fact.filter($"o_orderkey" % 2 =!= 0)
      .agg(min($"o_orderkey")).head().getLong(0)
    val poisoned = fact.withColumn("o_totalprice",
      when($"o_orderkey" === victim, raise_error(lit("injected load failure")))
        .otherwise($"o_totalprice"))
    intercept[Exception](DeltaWrite.appendNew(poisoned, path, Seq("o_orderkey")))
    assert(DeltaRead.latestVersion(path) == v0)
    assert(DeltaRead.read(spark, path).count() == n0)
    assert(spark.read.parquet(path).count() == n0)
    // nothing staged is left in the table root: every parquet file
    // there is one the log references, and no staging dir remains
    val root = java.nio.file.Paths.get(path)
    val st = java.nio.file.Files.walk(root)
    val onDisk =
      try st.iterator().asScala.map(p => root.relativize(p).toString).toList
      finally st.close()
    assert(onDisk.filter(_.endsWith(".parquet")).filterNot(_.startsWith("_delta_log")).toSet ==
      DeltaRead.snapshot(spark, path).files.map(_.path).toSet)
    assert(!onDisk.exists(_.startsWith("_staging-")), onDisk.mkString(", "))
    // a retry with a good frame converges on the full table
    assert(DeltaWrite.appendNew(fact, path, Seq("o_orderkey")) == v0 + 1)
    assert(DeltaRead.read(spark, path).count() == fact.count())
  }

  test("incremental star (hashKey) converges: batch loads == full rebuild") {
    val dir = Staging.tempDir("graft_inc")
    val full = StarSchema.Bronze(spark, sf)
    // batch 1 = two-thirds of the fact sources; dims' own sources are
    // shared (a growing fact stream over stable entity tables)
    val b1 = full.copy(
      orders = full.orders.filter($"o_orderkey" % 3 =!= 0),
      lineitem = full.lineitem.filter($"l_orderkey" % 3 =!= 0))
    val tables = Seq("dim_fecha", "dim_customer", "dim_part", "dim_tag",
      "fact_orders", "bridge_order_part", "bridge_part_tag", "fact_metricas")
    for (t <- tables)
      DeltaWrite.appendNew(StarSchema.buildIncremental(b1)(t), s"$dir/$t",
        StarSchema.mergeKeys(t))
    for (t <- tables)
      DeltaWrite.appendNew(StarSchema.buildIncremental(full)(t), s"$dir/$t",
        StarSchema.mergeKeys(t))
    val want = StarSchema.buildIncremental(full)
    for (t <- tables) {
      val w = want(t)
      val got = DeltaRead.read(spark, s"$dir/$t").select(w.columns.map(col).toSeq: _*)
      assert(got.exceptAll(w).count() == 0 && w.exceptAll(got).count() == 0,
        s"incremental gold for $t diverged from full rebuild")
    }
  }

  test("salted join == plain join (semantics preserved under salting)") {
    val li = Tables.lineitem(spark, sf).select($"l_partkey")
    val p = Tables.part(spark, sf).select($"p_partkey".as("l_partkey"), $"p_brand")
    val plain = li.join(p, "l_partkey").groupBy("p_brand").count()
    val salted = Skew.saltedJoin(li, p, "l_partkey", 4).groupBy("p_brand").count()
    assert(plain.exceptAll(salted).count() == 0 && salted.exceptAll(plain).count() == 0)
  }

  test("salted count == plain count") {
    val e = Tables.events(spark, sf)
    val plain = e.groupBy("event_type").agg(count(lit(1)).as("n"))
    val salted = Skew.saltedCount(e, "event_type", 4)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("IVF with nprobe >= cells equals brute force exactly") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = Similarity.buildCentroids(emb, "label")
    val brute = Similarity.bruteForceTopK(emb.filter($"vec_id" < 3), emb, 3)
    val ivf = Similarity.ivfTopK(emb.filter($"vec_id" < 3), emb, centroids, 3, nprobe = 1000)
    assert(brute.exceptAll(ivf).count() == 0 && ivf.exceptAll(brute).count() == 0)
  }

  test("IVF with small nprobe returns a subset with no better sims than brute force") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = Similarity.buildCentroids(emb, "label")
    val brute = Similarity.bruteForceTopK(emb.filter($"vec_id" < 3), emb, 1)
      .select($"qid", $"sim".as("best_sim"))
    val ivf = Similarity.ivfTopK(emb.filter($"vec_id" < 3), emb, centroids, 1, nprobe = 2)
    val worse = ivf.join(brute, "qid").filter($"sim" > $"best_sim").count()
    assert(worse == 0)
    assert(ivf.count() > 0)
  }

  test("bpe token count: sane on known strings") {
    val df = Seq("it's 42 ok!", "hello world").toDF("v")
      .select(TextAnalysis.bpeTokenCount($"v").as("n"))
    // "it" + "'s" + " 42" + " ok" + "!" = 5 ; "hello" + " world" = 2
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(5, 2))
  }
}
