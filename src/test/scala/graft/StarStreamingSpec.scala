package graft

import graft.io.Staging
import graft.operators.{Multimodal, StarSchema, Validator}
import graft.streaming.Streams
import org.apache.spark.sql.functions._

class StarStreamingSpec extends SparkTestBase {
  import spark.implicits._

  /** Scratch directory removed when the JVM exits. */
  private def tempDir(tag: String): java.nio.file.Path =
    java.nio.file.Paths.get(Staging.tempDir(tag))

  test("star schema: validation report is all-zero (uniqueness + no orphans)") {
    val star = StarSchema.build(spark, sf)
    val bad = Validator.report(star).filter($"n_bad" =!= 0L).collect()
    assert(bad.isEmpty, s"integrity violations: ${bad.mkString(",")}")
  }

  test("Validator.reportSchema is the report's own schema: non-null counters") {
    val star = StarSchema.build(spark, sf)
    assert(Validator.report(star).schema == Validator.reportSchema)
    assert(Validator.reportSchema.fields.forall(!_.nullable))
  }

  test("surrogate keys are deterministic across builds") {
    val a = StarSchema.build(spark, sf)("dim_customer").select("c_custkey", "customer_sk")
    val b = StarSchema.build(spark, sf)("dim_customer").select("c_custkey", "customer_sk")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("hashKey surrogate: stable and collision-free on customer") {
    val c = Tables.customer(spark, sf)
    val keyed = StarSchema.hashKey(c, Seq("c_custkey"), "sk")
    assert(keyed.select(countDistinct($"sk")).collect()(0).getLong(0) == c.count())
  }

  test("maybeBroadcast: hints dims under the threshold, declines oversized ones") {
    import graft.operators.Joins
    val dim = Tables.nation(spark, sf)
    val fact = Tables.customer(spark, sf).withColumnRenamed("c_nationkey", "n_nationkey")
    assert(Joins.estimatedBytes(dim) > 0)
    val hinted = Joins.dimJoin(fact, dim, Seq("n_nationkey"))
    assert(hinted.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "small dim should carry the broadcast hint")
    val declined = Joins.dimJoin(fact, dim, Seq("n_nationkey"), maxBytes = 1)
    assert(!declined.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "oversized dim must not be force-hinted")
    assert(declined.exceptAll(hinted).count() == 0 && hinted.exceptAll(declined).count() == 0)
  }

  test("streaming tumbling counts == batch tumbling counts") {
    val batch = Streams.tumblingCounts(Tables.events(spark, sf))
    // stream source must be a directory: stage the events file into one
    val dir = tempDir("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = Streams.startTumblingToMemory(spark, dir.toString, "stream_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_test")
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
    assert(batch.count() > 0)
  }

  test("watermark drops late data; append emits each finalized window once") {
    val dir = tempDir("graft_late")
    def writeBatch(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val tmp = tempDir("graft_late_tmp")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, dir.resolve(name))
    }
    val H = 3600L * 1000000000L // one hour, in the source's epoch-nanos
    // batch 1: an hour-0 event plus an hour-10 event -> after the batch
    // the watermark advances to 08:00 (2h delay), finalizing hour 0
    writeBatch("b1.parquet", Seq(
      (1L, 5L, 1L, "click", 1.0, "{}"),
      (2L, 10 * H + 5, 1L, "click", 1.0, "{}")))
    val q = Streams.startTumblingAppendToMemory(spark, dir.toString, "late_test")
    q.processAllAvailable()
    // batch 2: a LATE hour-0 event (behind the 08:00 watermark — must be
    // dropped pre-aggregation) and an on-time hour-11 event
    writeBatch("b2.parquet", Seq(
      (3L, 10L, 1L, "click", 1.0, "{}"),
      (4L, 11 * H + 5, 1L, "click", 1.0, "{}")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_test")
    // exactly one emission: the hour-0 window, counting ONLY event 1 —
    // the late event 3 neither merged into it nor spawned a duplicate
    assert(out.count() == 1, s"expected 1 finalized window, got: ${out.collect().mkString(";")}")
    assert(out.collect()(0).getAs[Long]("n") == 1L, "late row leaked into finalized window")
  }

  test("sessionize: stream (mapGroupsWithState) == batch, via memory sink") {
    implicit val s = spark
    val dir = tempDir("graft_sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = Streams.startSessionizeToMemory(spark, dir.toString, "sess_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_test")
    val batch = Streams.sessionize(Tables.events(spark, sf))
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
    assert(batch.count() > 0)
  }

  test("streaming dedup: duplicate payloads within the watermark are dropped across micro-batches") {
    val dir = tempDir("graft_dedup")
    def writeBatch(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val tmp = tempDir("graft_dedup_tmp")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, dir.resolve(name))
    }
    val H = 3600L * 1000000000L // one hour, in the source's epoch-nanos
    writeBatch("b1.parquet", Seq(
      (1L, H + 5L, 1L, "click", 1.0, """{"p": 1}"""),
      (2L, H + 6L, 1L, "click", 1.0, """{"p": 2}""")))
    val q = Streams.startDedupToMemory(spark, dir.toString, "dedup_stream_test")
    q.processAllAvailable()
    // second micro-batch: a payload duplicating event 1 (same watermark
    // horizon -> state drops it) plus a genuinely new payload
    writeBatch("b2.parquet", Seq(
      (3L, H + 7L, 1L, "click", 1.0, """{"p": 1}"""),
      (4L, H + 8L, 1L, "click", 1.0, """{"p": 3}""")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_stream_test")
    assert(out.count() == 3, s"expected 3 kept rows, got ${out.collect().mkString(";")}")
    assert(out.filter($"event_id" === 3L).isEmpty, "duplicate payload leaked through")
  }

  test("streaming dedup == batch dedup on the kept fingerprint set") {
    val dir = tempDir("graft_dedup_eq")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = Streams.startDedupToMemory(spark, dir.toString, "dedup_eq_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dedup_eq_test").select($"fp").distinct()
    val batch = Streams.dedupByFingerprint(Tables.events(spark, sf), "props")
      .select($"fp").distinct()
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
    assert(batch.count() > 0)
  }

  test("stream-stream attribution join == batch range self-join") {
    val dir = tempDir("graft_attr")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val sTrig = Streams.readEventStream(spark, dir.toString).filter($"event_id" % 2 === 0)
    val sFoll = Streams.readEventStream(spark, dir.toString).filter($"event_id" % 2 === 1)
    val q = Streams.attributionJoin(sTrig, sFoll)
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_stream_test").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attr_stream_test").select($"t_id", $"f_id")
    val ev = Tables.events(spark, sf)
    val batch = Streams.attributionJoin(
      ev.filter($"event_id" % 2 === 0), ev.filter($"event_id" % 2 === 1))
      .select($"t_id", $"f_id")
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
    assert(batch.count() > 0, "fixture must produce attribution pairs")
  }

  test("stream-stream LEFT OUTER attribution: unmatched triggers flush after watermark") {
    val dir = tempDir("graft_attr_outer")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("a_events.parquet"))
    // a far-future flush batch: advances the watermark past every real
    // trigger + horizon so their unmatched state evicts and emits
    val flushNanos = 1748736000L * 1000000000L // 2025-06-01 UTC
    val tmpF = tempDir("graft_attr_flush")
    // one flush row per PARITY: each side's watermark only advances on
    // rows that survive its own filter, and the global watermark is the
    // MIN of the two — a single-parity flush would strand the last
    // real window's unmatched triggers forever. The flush file must
    // carry the SAME ts flavor as the staged sf file (the stream
    // source has one schema for the whole directory).
    val sfTsType = spark.read.parquet(s"$sf/events.parquet").schema("ts").dataType
    Seq((9000000L, flushNanos, 1L, "click", 0.0, "{}"),
        (9000001L, flushNanos, 1L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts",
        if (sfTsType == org.apache.spark.sql.types.LongType) $"ts"
        else expr("timestamp_micros(ts div 1000)").cast(sfTsType))
      .coalesce(1).write.mode("overwrite").parquet(tmpF.toString)
    val src = java.nio.file.Files.list(tmpF).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    java.nio.file.Files.copy(java.nio.file.Paths.get(src), dir.resolve("b_flush.parquet"))

    def readOneFilePerBatch() =
      Streams.readEventStream(spark, dir.toString, maxFilesPerTrigger = Some(1))
    val q = Streams.attributionJoinOuter(
      readOneFilePerBatch().filter($"event_id" % 2 === 0),
      readOneFilePerBatch().filter($"event_id" % 2 === 1))
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_outer_test").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attr_outer_test")
      .filter($"t_id" < 9000000L).select($"t_id", $"f_id")
    val ev = Tables.events(spark, sf)
    val batch = Streams.attributionJoinOuter(
      ev.filter($"event_id" % 2 === 0), ev.filter($"event_id" % 2 === 1))
      .select($"t_id", $"f_id")
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      "outer stream join != batch left outer join")
    assert(batch.filter($"f_id".isNull).count() > 0,
      "fixture must produce unmatched triggers")
  }

  test("scd2 stream (flatMapGroupsWithState) == batch closed intervals") {
    implicit val s = spark
    // canonical (flavor-normalized) read; split at the median into two
    // time-ordered trigger files so runs span the micro-batch boundary
    // and exercise cross-trigger state
    val raw = Tables.events(spark, sf).withColumn("__us", unix_micros($"ts"))
    val median = raw.selectExpr("percentile_approx(__us, 0.5D, 100000)").head.getLong(0)
    val dir = tempDir("graft_scd2")
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = tempDir("graft_scd2_tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, dir.resolve(name))
    }
    stage("b1.parquet", raw.filter($"__us" < median).drop("__us"))
    stage("b2.parquet", raw.filter($"__us" >= median).drop("__us"))
    val q = Streams.startScd2ToMemory(spark, dir.toString, "scd2_stream_test")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("scd2_stream_test")
    val batch = graft.operators.Temporal
      .scd2(Tables.events(spark, sf), "user_id", "event_type", "ts", "event_id")
      .where(!$"is_current")
      .select($"user_id", $"event_type".as("attr"),
        unix_micros($"valid_from").as("valid_from_us"),
        unix_micros($"valid_to").as("valid_to_us"), $"version")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed closed intervals must equal batch non-current SCD2 rows")
    assert(batch.count() > 100, "fixture must close many intervals")
  }

  test("ewma stream (mapGroupsWithState) == batch recursion, across triggers") {
    implicit val s = spark
    val raw = Tables.events(spark, sf).withColumn("__us", unix_micros($"ts"))
    val median = raw.selectExpr("percentile_approx(__us, 0.5D, 100000)").head.getLong(0)
    val dir = tempDir("graft_ewma")
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = tempDir("graft_ewma_tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, dir.resolve(name))
    }
    stage("b1.parquet", raw.filter($"__us" < median).drop("__us"))
    stage("b2.parquet", raw.filter($"__us" >= median).drop("__us"))
    val q = Streams.startEwmaToMemory(spark, dir.toString, "ewma_stream_test")
    q.processAllAvailable()
    q.stop()
    // Update mode emits one row per (user, trigger); the live value is
    // the row with the highest n_events per user
    val streamed = spark.table("ewma_stream_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2) }
    // batch oracle: the literal recursion, folded in the same order —
    // final states must be BIT-identical (same sequence of FP ops)
    val batch = Tables.events(spark, sf)
      .select($"user_id", $"value", unix_micros($"ts").as("tsm"), $"event_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).map { case (u, evs) =>
        val xs = evs.sortBy(e => (e._3, e._4)).map(_._2)
        u -> (xs.length.toLong, xs.tail.foldLeft(xs.head)((s, x) => 0.3 * x + 0.7 * s))
      }
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (u, (n, v)) =>
      val (_, sn, sv) = streamed(u)
      assert(sn == n, s"user $u: event count $sn != $n")
      assert(sv == v, s"user $u: streamed ewma $sv != batch recursion $v")
    }
    assert(batch.size >= 10, "fixture must cover many users")
  }

  test("sessionize mapGroupsWithState: per-user counts match groupBy") {
    implicit val s = spark
    val events = Tables.events(spark, sf)
    val st = Streams.sessionize(events)
    val expected = events.groupBy($"user_id").agg(count(lit(1)).as("n_events"))
    val diff = st.select($"user_id", $"n_events")
      .exceptAll(expected.select($"user_id", $"n_events")).count()
    assert(diff == 0)
  }

  test("multimodal: byte_len matches text length, decode is deterministic, histogram sums to len") {
    val media = Multimodal.mediaTable(Tables.documents(spark, sf).limit(5), "text")
    val r = media.select(
      ($"meta.byte_len" === length($"text")).as("len_ok"),
      ($"decoded.width" >= 32 && $"decoded.width" < 1312).as("w_ok"),
      aggregate(Multimodal.byteHistogram($"payload"), lit(0), (a, x) => a + x)
        .as("hist_sum"),
      length($"text").as("len"))
    assert(r.filter(!$"len_ok" || !$"w_ok" || $"hist_sum" =!= $"len").count() == 0)
  }

  test("multimodal resize/frame plans: aspect fit, no upscale, short-video grid") {
    val decoded = Seq((1280, 720, 100), (400, 300, 5), (512, 512, 8), (100, 640, 1),
        (640, 480, 0))
      .toDF("width", "height", "n_frames").select(struct($"width", $"height", $"n_frames").as("d"))
    val r = decoded.select(
      Multimodal.resizePlan($"d", 512).as("rp"),
      Multimodal.frameSamplePlan($"d", 8).as("fr"))
      .collect().map(x => (x.getStruct(0).getInt(0), x.getStruct(0).getInt(1),
        x.getStruct(0).getBoolean(2), x.getSeq[Int](1).toList))
    // 1280x720 -> fit long edge to 512, aspect preserved (floor)
    assert(r(0) == ((512, 288, true, List(0, 12, 25, 37, 50, 62, 75, 87))))
    // smaller than box -> untouched; 5 frames < k -> every frame once
    assert(r(1) == ((400, 300, false, List(0, 1, 2, 3, 4))))
    // exactly at the box edge -> not resized; 8 frames -> identity grid
    assert(r(2) == ((512, 512, false, List(0, 1, 2, 3, 4, 5, 6, 7))))
    // portrait: height drives the fit; single frame
    assert(r(3) == ((80, 512, true, List(0))))
    // 0-frame/corrupt payload: empty grid (NOT sequence's [0, -1]);
    // 640 long edge still fits down to 512x384
    assert(r(4) == ((512, 384, true, List())))
  }

  test("streaming LSH near-dup: cross-batch copy flagged on arrival; pairs == batch twin; cap goes dormant") {
    import org.apache.spark.sql.types._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val textA = "the quick brown fox jumps over the lazy dog and keeps on running far away"
    val textB = "completely different content about distributed query engines and shuffle plans"
    val textC = "yet another unrelated document discussing parquet footers and column statistics"
    val dir = tempDir("graft_lshstream")
    def writeBatch(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tempDir("graft_lsh_tmp")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, dir.resolve(name))
    }
    writeBatch("b1.parquet", Seq((10L, textA), (11L, textB)))
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val q = Streams.lshNearDupStream(stream, "doc_id", "text", tau = 0.9)
      .writeStream.outputMode("append").format("memory").queryName("lsh_stream").start()
    q.processAllAvailable()
    assert(spark.table("lsh_stream").count() == 0, "no dups within batch 1")
    // batch 2: a copy of A arrives — must pair with doc 10 from batch 1's state
    writeBatch("b2.parquet", Seq((12L, textA), (13L, textC)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("lsh_stream")
    val pairs = got.select($"id_a", $"id_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 12L)), s"expected the cross-batch copy pair, got $pairs")
    assert(got.agg(min($"est_sim")).collect()(0).getDouble(0) >= 0.9)
    // stream output == batch twin on the same corpus, per (band, pair)
    val batchPairs = Streams.lshNearDupBatch(
        Seq((10L, textA), (11L, textB), (12L, textA), (13L, textC)).toDF("doc_id", "text"),
        "doc_id", "text", tau = 0.9)
      .select($"band_key", $"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamTriples = got.select($"band_key", $"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamTriples == batchPairs, "stream pairs must equal the batch twin's")

    // hot-bucket dormancy: 5 identical docs, cap 2 — only the pre-cap
    // pair emits, the flood never produces quadratic output
    val dir2 = tempDir("graft_lshflood")
    val tmp2 = tempDir("graft_lshflood_tmp")
    (1 to 5).map(i => (i.toLong, textA)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(tmp2.toString)
    val p2 = new java.io.File(tmp2.toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(p2.toPath, dir2.resolve("b1.parquet"))
    val q2 = Streams.lshNearDupStream(
        spark.readStream.schema(schema).parquet(dir2.toString),
        "doc_id", "text", tau = 0.9, maxBucketSize = 2)
      .writeStream.outputMode("append").format("memory").queryName("lsh_flood").start()
    q2.processAllAvailable()
    q2.stop()
    val floodPairs = spark.table("lsh_flood").select($"id_a", $"id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(floodPairs == Set((1L, 2L)),
      s"capped bucket must emit only the pre-cap pair, got $floodPairs")
  }

  test("foreachBatch gold maintenance into DELTA: SetTransaction makes checkpoint-less replay a no-op") {
    import org.apache.spark.sql.functions._
    val srcDir = tempDir("graft_golddl_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"))
    val table = tempDir("graft_golddl_tbl").toString + "/gold"

    Streams.startGoldAppendDelta(spark, srcDir.toString, table, appId = "gold-loader")
      .awaitTermination()
    val batch = Tables.events(spark, sf)
    val gold = graft.io.DeltaRead.read(spark, table)
    assert(gold.count() == batch.count(), "delta stream-fed gold != batch row count")
    // tolerance, not ==: double sums accumulate in partition order
    // (non-associative in the last ULPs)
    val (gSum, bSum) = (gold.agg(sum(col("value"))).collect()(0).getDouble(0),
      batch.agg(sum(col("value"))).collect()(0).getDouble(0))
    assert(math.abs(gSum - bSum) <= 1e-6 * math.max(1.0, math.abs(bSum)),
      s"gold sum $gSum != batch sum $bSum")
    val v = graft.io.DeltaRead.latestVersion(table)
    assert(graft.io.DeltaWrite.lastTxnVersion(spark, table, "gold-loader").isDefined)

    // fresh checkpoint: every micro-batch re-delivered with the same
    // batchIds — the txn high-water mark must skip them all, no keys
    Streams.startGoldAppendDelta(spark, srcDir.toString, table, appId = "gold-loader")
      .awaitTermination()
    assert(graft.io.DeltaRead.latestVersion(table) == v,
      "replayed micro-batches must not mint new Delta versions")
    assert(graft.io.DeltaRead.read(spark, table).count() == batch.count())
  }
}
