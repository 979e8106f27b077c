package graft

import graft.io.{DeltaRead, DeltaWrite}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The round-10 protocol-feature closers: IN-COMMIT TIMESTAMPS (the
  * commit clock moves into commitInfo and stays strictly monotonic —
  * file mtimes stop mattering for time travel), TIMESTAMP_NTZ write
  * gating (a schema carrying the type must announce the feature on
  * both protocol lists), and vacuumProtocolCheck (vacuum validates
  * protocol support before reclaiming anything). */
class ProtocolFeaturesSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def newTable(): String =
    Files.createTempDirectory("protofeat").toString

  private def cleanup(t: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))

  private def commitJson(t: String, v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] =
    Files.readAllLines(Paths.get(t, "_delta_log", f"$v%020d.json")).asScala.toSeq
      .filter(_.trim.nonEmpty).map(mapper.readTree)

  test("ICT: every post-enable commit carries a strictly increasing inCommitTimestamp") {
    val t = newTable()
    try {
      DeltaWrite.append((1L to 10L).map(i => (i, i)).toDF("id", "v"), t) // v0
      val ev = DeltaWrite.enableInCommitTimestamps(spark, t)             // v1
      val s = DeltaRead.snapshot(spark, t)
      assert(s.writerFeatures.contains("inCommitTimestamp"))
      assert(s.configuration.get("delta.inCommitTimestampEnablementVersion")
        .contains(ev.toString))
      DeltaWrite.append((11L to 15L).map(i => (i, i)).toDF("id", "v"), t) // v2
      DeltaWrite.deleteWhere(spark, t, $"id" === 3L)                      // v3
      DeltaWrite.setProperties(spark, t, Map("custom.x" -> "1"))          // v4
      DeltaWrite.compact(spark, t)                                        // v5
      val icts = (ev to DeltaRead.latestVersion(t)).map { v =>
        val ci = commitJson(t, v).flatMap(n => Option(n.get("commitInfo"))).head
        val ict = ci.get("inCommitTimestamp")
        assert(ict != null && !ict.isNull, s"commit $v lacks inCommitTimestamp")
        ict.asLong()
      }
      assert(icts == icts.sorted && icts.distinct == icts,
        s"in-commit timestamps not strictly increasing: $icts")
    } finally cleanup(t)
  }

  test("ICT: time travel resolves against the in-commit clock, not file mtimes") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "a")).toDF("id", "s"), t)
      DeltaWrite.enableInCommitTimestamps(spark, t)
      DeltaWrite.append(Seq((2L, "b")).toDF("id", "s"), t)
      val v2 = DeltaRead.latestVersion(t)
      val ictAtV2 = commitJson(t, v2)
        .flatMap(n => Option(n.get("commitInfo"))).head
        .get("inCommitTimestamp").asLong()
      // sabotage the mtimes: a storage migration touches every log file
      (0L to v2).foreach { v =>
        Files.setLastModifiedTime(Paths.get(t, "_delta_log", f"$v%020d.json"),
          java.nio.file.attribute.FileTime.fromMillis(10_000L))
      }
      assert(DeltaRead.versionAtTime(spark, t, ictAtV2) == v2)
      assert(DeltaRead.versionAtTime(spark, t, ictAtV2 - 1) == v2 - 1)
    } finally cleanup(t)
  }

  test("timestampNtz: creation announces the feature on both lists; roundtrip reads back") {
    val t = newTable()
    try {
      val df = Seq((1L, java.time.LocalDateTime.of(2024, 5, 17, 10, 30)),
        (2L, java.time.LocalDateTime.of(2023, 1, 2, 3, 4)))
        .toDF("id", "ts_ntz")
      assert(df.schema("ts_ntz").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      DeltaWrite.append(df, t)
      val s = DeltaRead.snapshot(spark, t)
      assert(s.minReaderVersion == 3 && s.minWriterVersion == 7)
      assert(s.readerFeatures.contains("timestampNtz") &&
        s.writerFeatures.contains("timestampNtz"))
      val got = DeltaRead.read(spark, t).orderBy($"id")
        .select($"ts_ntz".cast("string")).as[String].collect()
      assert(got.head.startsWith("2024-05-17 10:30"))
      // append to the feature-listed table still works (the gate
      // admits features this writer implements)
      DeltaWrite.append(df.withColumn("id", $"id" + 10), t)
      assert(DeltaRead.read(spark, t).count() == 4)
    } finally cleanup(t)
  }

  test("timestampNtz: overwrite evolving INTO the type upgrades the protocol in-commit") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "x")).toDF("id", "s"), t)
      assert(DeltaRead.snapshot(spark, t).minReaderVersion == 1)
      DeltaWrite.overwrite(
        Seq((1L, java.time.LocalDateTime.of(2024, 1, 1, 0, 0)))
          .toDF("id", "ts"), t)
      val s = DeltaRead.snapshot(spark, t)
      assert(s.readerFeatures.contains("timestampNtz") &&
        s.writerFeatures.contains("timestampNtz"))
    } finally cleanup(t)
  }

  test("checkpointV2 writes manifest+sidecar; replay from it reproduces the snapshot exactly") {
    val t = newTable()
    try {
      val df = (1L to 40L).map(i => (i, s"p${i % 3}", i * 2)).toDF("id", "part", "v")
      DeltaWrite.append(df, t, partitionBy = Seq("part"))
      DeltaWrite.enableRowTracking(spark, t)
      DeltaWrite.deleteWhere(spark, t, $"id" % 7 === 0)
      DeltaWrite.setDomainMetadata(spark, t, "app.cursor", """{"at":7}""")
      val before = DeltaRead.snapshot(spark, t)
      val beforeIds = DeltaRead.readWithRowIds(spark, t)
        .select($"id", col(DeltaRead.RowIdCol))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // policy dispatch: checkpoint() routes to the v2 layout
      DeltaWrite.setProperties(spark, t, Map("delta.checkpointPolicy" -> "v2"))
      val cv = DeltaWrite.checkpoint(spark, t)
      val logFiles = Files.list(Paths.get(t, "_delta_log")).iterator().asScala
        .map(_.getFileName.toString).toSeq
      assert(logFiles.exists(n => n.matches(f"$cv%020d\\.checkpoint\\.[0-9a-f-]{36}\\.parquet")),
        s"no v2 manifest in $logFiles")
      assert(!logFiles.contains(f"$cv%020d.checkpoint.parquet"), "classic written despite v2 policy")
      assert(Files.list(Paths.get(t, "_delta_log", "_sidecars")).iterator().asScala.nonEmpty)
      // replay must come from the v2 checkpoint alone
      (0L to cv).foreach(v =>
        Files.deleteIfExists(Paths.get(t, "_delta_log", f"$v%020d.json")))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      val after = DeltaRead.snapshot(spark, t)
      assert(after.files.map(_.path).toSet == before.files.map(_.path).toSet)
      assert(after.files.forall(_.baseRowId.isDefined))
      assert(after.liveDomains.get("app.cursor").exists(_.contains("\"at\":7")))
      assert(after.liveDomains.contains("delta.rowTracking"))
      assert(after.writerFeatures == before.writerFeatures)
      val afterIds = DeltaRead.readWithRowIds(spark, t)
        .select($"id", col(DeltaRead.RowIdCol))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(afterIds == beforeIds)
      // the pointer advertises the v2 layout (manifest name + hints)
      val lc = new String(Files.readAllBytes(
        Paths.get(t, "_delta_log", "_last_checkpoint")), "UTF-8")
      assert(lc.contains("\"v2Checkpoint\"") && lc.contains(".checkpoint.") &&
        lc.contains("\"numOfAddFiles\""), s"pointer must advertise v2: $lc")
    } finally cleanup(t)
  }

  test("checkpointV2 shards file actions across sidecars; replay resolves the full set") {
    val t = newTable()
    try {
      val df = (1L to 60L).map(i => (i, s"p${i % 5}", i)).toDF("id", "part", "v")
      DeltaWrite.append(df, t, partitionBy = Seq("part"))
      DeltaWrite.append(df.where($"id" <= 10), t, partitionBy = Seq("part"))
      val before = DeltaRead.snapshot(spark, t)
      assert(before.files.size >= 6, "need several adds to shard")
      val cv = DeltaWrite.checkpointV2(spark, t, sidecars = 3)
      val sc = Files.list(Paths.get(t, "_delta_log", "_sidecars"))
      val sidecarFiles = try sc.iterator().asScala.toList finally sc.close()
      assert(sidecarFiles.size == 3, s"expected 3 sidecars, got ${sidecarFiles.size}")
      // every sidecar non-empty (contiguous split discipline)
      sidecarFiles.foreach(p => assert(
        spark.read.parquet(p.toString).where(col("add").isNotNull).count() > 0,
        s"empty sidecar $p"))
      (0L to cv).foreach(v =>
        Files.deleteIfExists(Paths.get(t, "_delta_log", f"$v%020d.json")))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      val after = DeltaRead.snapshot(spark, t)
      assert(after.files.map(_.path).toSet == before.files.map(_.path).toSet,
        "replay from sharded sidecars must resolve the full file set")
      assert(DeltaRead.read(spark, t).count() == 70)
      // the DISPATCHER scales the shard count with the live file count
      // (filesPerSidecar): ceil(nFiles / 3) sidecars on the next pass
      DeltaWrite.setProperties(spark, t, Map(
        "delta.checkpointPolicy" -> "v2",
        "graft.checkpoint.filesPerSidecar" -> "3"))
      val scBefore = Files.list(Paths.get(t, "_delta_log", "_sidecars"))
      val nBefore = try scBefore.iterator().asScala.size finally scBefore.close()
      DeltaWrite.checkpoint(spark, t)
      val scAfter = Files.list(Paths.get(t, "_delta_log", "_sidecars"))
      val nAfter = try scAfter.iterator().asScala.size finally scAfter.close()
      val nFiles = DeltaRead.snapshot(spark, t).files.size
      assert(nAfter - nBefore == (nFiles + 2) / 3,
        s"auto-shard: expected ceil($nFiles/3) new sidecars, got ${nAfter - nBefore}")
    } finally cleanup(t)
  }

  test("clustered table: clusterBy declares the domain, appendClustered lays batches out Z-ordered") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((0L, 0L, "seed")).toDF("x", "y", "tag"), t)
      DeltaWrite.clusterBy(spark, t, Seq("x", "y"))
      val s0 = DeltaRead.snapshot(spark, t)
      assert(s0.writerFeatures.contains("clustering") &&
        s0.writerFeatures.contains("domainMetadata"))
      assert(DeltaWrite.clusteringColumns(s0) == Seq("x", "y"))
      // one clustered batch: 4 files, each covering a COMPACT block of
      // the (x, y) space → an equality predicate prunes to few files
      // from log stats alone
      val batch = (1L to 4000L).map(i => (i % 64, (i / 64) % 64, s"r$i"))
        .toDF("x", "y", "tag")
      DeltaWrite.appendClustered(batch, t, numFiles = 4)
      val admits = DeltaRead.filesAfterSkipping(spark, t,
        DeltaRead.latestVersion(t),
        Seq(DeltaRead.StatRange.eq("x", 5L), DeltaRead.StatRange.eq("y", 5L)))
        .filterNot(_.stats.exists(_.contains("\"numRecords\":1"))) // ignore seed
      assert(admits.size <= 2,
        s"clustered layout should prune to <=2 of 4 files, admitted ${admits.size}")
      // the domain survives checkpoint truncation and rides through clone
      val cv = DeltaWrite.checkpoint(spark, t)
      (0L to cv).foreach(v =>
        Files.deleteIfExists(Paths.get(t, "_delta_log", f"$v%020d.json")))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      assert(DeltaWrite.clusteringColumns(DeltaRead.snapshot(spark, t)) == Seq("x", "y"))
      val c = Files.createTempDirectory("clusclone").resolve("t").toString
      DeltaWrite.clone(spark, t, c)
      assert(DeltaWrite.clusteringColumns(DeltaRead.snapshot(spark, c)) == Seq("x", "y"))
      org.apache.commons.io.FileUtils.deleteDirectory(
        Paths.get(c).getParent.toFile)
    } finally cleanup(t)
  }

  test("OPTIMIZE on a clustered table RE-clusters: skipping stays sharp after compaction") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((0L, 0L, "seed")).toDF("x", "y", "tag"), t)
      DeltaWrite.clusterBy(spark, t, Seq("x", "y"))
      // six small appends in INTERLEAVED key order — each covers the
      // whole key space, so pre-compaction per-file bounds are wide
      (0 until 6).foreach { i =>
        val rows = (0L until 400L).map(j => ((j * 7 + i) % 64, (j * 11 + i) % 64,
          s"b$i-$j")).toDF("x", "y", "tag")
        DeltaWrite.append(rows, t)
      }
      val vPre = DeltaRead.latestVersion(t)
      val preds = Seq(DeltaRead.StatRange("x", Some(3L), Some(6L)),
        DeltaRead.StatRange("y", Some(3L), Some(6L)))
      val preAdmit = DeltaRead.filesAfterSkipping(spark, t, vPre, preds).size
      val preTotal = DeltaRead.snapshotAt(spark, t, vPre).files.size
      assert(preAdmit >= preTotal - 1, "interleaved appends should defeat skipping")
      // compact with a small target → several output files, each now
      // covering a CONTIGUOUS slice of the clustered key space
      assert(DeltaWrite.compact(spark, t, targetBytes = 16L << 10) > 0)
      val vPost = DeltaRead.latestVersion(t)
      val postTotal = DeltaRead.snapshotAt(spark, t, vPost).files.size
      val postAdmit = DeltaRead.filesAfterSkipping(spark, t, vPost, preds).size
      assert(postTotal >= 2, s"expected a multi-file layout, got $postTotal")
      assert(postAdmit < postTotal,
        s"reclustered OPTIMIZE should prune: $postAdmit of $postTotal admitted")
      // content unchanged by the reorganization
      val n = DeltaRead.read(spark, t).count()
      assert(n == 1 + 6 * 400)
    } finally cleanup(t)
  }

  test("foreign clustered table: declared domain honored, nested clustering path refuses") {
    val t = newTable()
    try {
      DeltaWrite.append((1L to 10L).map(i => (i, i * 2)).toDF("a", "b"), t)
      val v = DeltaRead.latestVersion(t)
      Files.write(Paths.get(t, "_delta_log", f"${v + 1}%020d.json"), Seq(
        """{"commitInfo":{"timestamp":0,"operation":"FOREIGN CLUSTER"}}""",
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
          """"writerFeatures":["clustering","domainMetadata","appendOnly","invariants"]}}""",
        """{"domainMetadata":{"domain":"delta.clustering",""" +
          """"configuration":"{\"clusteringColumns\":[[\"b\"]]}","removed":false}}""").asJava)
      val s = DeltaRead.snapshot(spark, t)
      assert(DeltaWrite.clusteringColumns(s) == Seq("b"))
      DeltaWrite.appendClustered((11L to 20L).map(i => (i, i * 2)).toDF("a", "b"), t)
      assert(DeltaRead.read(spark, t).count() == 20)
      // nested path → loud refusal, not silent ignore
      Files.write(Paths.get(t, "_delta_log",
        f"${DeltaRead.latestVersion(t) + 1}%020d.json"), Seq(
        """{"commitInfo":{"timestamp":0,"operation":"FOREIGN"}}""",
        """{"domainMetadata":{"domain":"delta.clustering",""" +
          """"configuration":"{\"clusteringColumns\":[[\"nested\",\"leaf\"]]}","removed":false}}""").asJava)
      intercept[IllegalArgumentException] {
        DeltaWrite.clusteringColumns(DeltaRead.snapshot(spark, t))
      }
    } finally cleanup(t)
  }

  test("column defaults: SET DEFAULT lets appends omit the column; DROP DEFAULT re-requires it") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "us", 10L)).toDF("id", "region", "qty"), t)
      DeltaWrite.setColumnDefault(spark, t, "region", "'unknown'")
      DeltaWrite.setColumnDefault(spark, t, "qty", "CAST(0 AS BIGINT)")
      val s = DeltaRead.snapshot(spark, t)
      assert(s.writerFeatures.contains("allowColumnDefaults"))
      // batch omits BOTH defaulted columns
      DeltaWrite.append(Seq(2L, 3L).toDF("id"), t)
      // batch provides one of them
      DeltaWrite.append(Seq((4L, "fr")).toDF("id", "region"), t)
      val got = DeltaRead.read(spark, t).orderBy($"id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(got.toSeq == Seq((1L, "us", 10L), (2L, "unknown", 0L),
        (3L, "unknown", 0L), (4L, "fr", 0L)))
      // DROP DEFAULT: omitting the column is schema drift again
      DeltaWrite.setColumnDefault(spark, t, "region", null)
      intercept[IllegalArgumentException] {
        DeltaWrite.append(Seq(9L).toDF("id"), t)
      }
      // a non-defaulted missing column was never fillable
      intercept[IllegalArgumentException] {
        DeltaWrite.append(Seq("x").toDF("region"), t)
      }
    } finally cleanup(t)
  }

  test("column defaults at creation: authored field metadata gates the protocol") {
    val t = newTable()
    try {
      import org.apache.spark.sql.types._
      val meta = new MetadataBuilder().putString("CURRENT_DEFAULT", "42").build()
      val df0 = Seq((1L, 5L)).toDF("id", "score")
      val authored = spark.createDataFrame(df0.rdd,
        StructType(Seq(StructField("id", LongType),
          StructField("score", LongType, nullable = true, meta))))
      DeltaWrite.append(authored, t)
      val s = DeltaRead.snapshot(spark, t)
      assert(s.minWriterVersion == 7 &&
        s.writerFeatures.contains("allowColumnDefaults"))
      DeltaWrite.append(Seq(2L).toDF("id"), t)
      val got = DeltaRead.read(spark, t).orderBy($"id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq == Seq((1L, 5L), (2L, 42L)))
    } finally cleanup(t)
  }

  test("vacuumProtocolCheck: listed feature is honored; unknown features still refuse vacuum") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "a")).toDF("id", "s"), t)
      val v = DeltaRead.latestVersion(t)
      // foreign upgrade to (3,7) listing vacuumProtocolCheck on both sides
      Files.write(Paths.get(t, "_delta_log", f"${v + 1}%020d.json"), Seq(
        """{"commitInfo":{"timestamp":0,"operation":"UPGRADE"}}""",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["vacuumProtocolCheck"],""" +
          """"writerFeatures":["vacuumProtocolCheck","appendOnly","invariants"]}}""").asJava)
      assert(DeltaRead.read(spark, t).count() == 1)
      DeltaWrite.vacuum(spark, t) // must not throw — feature is supported
      // an unknown writer feature makes vacuum refuse loudly
      Files.write(Paths.get(t, "_delta_log", f"${v + 2}%020d.json"), Seq(
        """{"commitInfo":{"timestamp":0,"operation":"UPGRADE"}}""",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["vacuumProtocolCheck"],""" +
          """"writerFeatures":["vacuumProtocolCheck","someFutureFeature"]}}""").asJava)
      intercept[UnsupportedOperationException] { DeltaWrite.vacuum(spark, t) }
    } finally cleanup(t)
  }

  test("clustered OPTIMIZE converges: a re-clustered partition is not rewritten again") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((0L, 0L, "seed")).toDF("x", "y", "tag"), t)
      DeltaWrite.clusterBy(spark, t, Seq("x", "y"))
      (0 until 4).foreach { i =>
        DeltaWrite.append((0L until 300L).map(j =>
          ((j * 7 + i) % 64, (j * 11 + i) % 64, s"b$i-$j")).toDF("x", "y", "tag"), t)
      }
      DeltaWrite.compact(spark, t, targetBytes = 16L << 10)
      val vAfter = DeltaRead.latestVersion(t)
      // second OPTIMIZE: already contiguous, no DVs, minimal count —
      // must be a NO-OP (no new version), not an O(partition) rewrite
      assert(DeltaWrite.compact(spark, t, targetBytes = 16L << 10) == 0)
      assert(DeltaRead.latestVersion(t) == vAfter, "no-op must not commit")
      assert(DeltaRead.read(spark, t).count() == 1 + 4 * 300)
    } finally cleanup(t)
  }

  test("STRING clustering keys re-cluster and converge (type-aware bounds)") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((0L, "seed")).toDF("id", "k"), t)
      DeltaWrite.clusterBy(spark, t, Seq("k"))
      val rnd = new scala.util.Random(7)
      (0 until 4).foreach { i =>
        DeltaWrite.append((0L until 1000L).map(j =>
          (j, f"key-${(j * 7 + i) % 90}%02d-${rnd.nextLong()}%016x"))
          .toDF("id", "k"), t)
      }
      // re-compression after the sorted rewrite can shrink the data
      // below the target multiple, earning one more LEGITIMATE merge
      // pass — but the loop must then reach a FIXED POINT quickly (a
      // 0.0-collapsed double read of string bounds would either skip
      // real work forever or redo it forever)
      var vPrev = DeltaRead.latestVersion(t)
      var passes = 0
      var moving = true
      while (moving && passes < 4) {
        DeltaWrite.compact(spark, t, targetBytes = 8L << 10)
        val vNow = DeltaRead.latestVersion(t)
        moving = vNow != vPrev; vPrev = vNow; passes += 1
      }
      assert(!moving, s"string re-cluster failed to converge in $passes passes")
      assert(DeltaWrite.compact(spark, t, targetBytes = 8L << 10) == 0)
      assert(DeltaRead.latestVersion(t) == vPrev, "no-op must not commit")
      assert(DeltaRead.read(spark, t).count() == 1 + 4 * 1000)
      // and string-key skipping prunes post-maintenance
      val head = DeltaRead.latestVersion(t)
      val all = DeltaRead.snapshotAt(spark, t, head).files.size
      val some = DeltaRead.filesAfterSkipping(spark, t, head,
        Seq(DeltaRead.StatRange("k", Some("key-10"), Some("key-20")))).size
      assert(some < all, s"string range must prune: $some of $all")
    } finally cleanup(t)
  }

  test("OPTIMIZE handles 4 clustering columns (z-bits scale down) and mapped tables") {
    val t = newTable()
    try {
      DeltaWrite.append((0L until 200L).map(j =>
        (j % 16, (j * 3) % 16, (j * 5) % 16, (j * 7) % 16, s"r$j"))
        .toDF("a", "b", "c", "d", "tag"), t)
      DeltaWrite.clusterBy(spark, t, Seq("a", "b", "c", "d"))
      DeltaWrite.append((0L until 200L).map(j =>
        ((j * 11) % 16, (j * 13) % 16, j % 16, (j * 3) % 16, s"s$j"))
        .toDF("a", "b", "c", "d", "tag"), t)
      // 4 cols × 16 bits would overflow the 62-bit Z-key — compact
      // must scale bits down, not throw
      DeltaWrite.compact(spark, t, targetBytes = 16L << 10)
      assert(DeltaRead.read(spark, t).count() == 400)
    } finally cleanup(t)
    val m = newTable()
    try {
      // COLUMN-MAPPED clustered table: the rewrite frame carries
      // PHYSICAL names, so the re-cluster must translate
      DeltaWrite.createColumnMapped((0L until 300L).map(j =>
        ((j * 7) % 64, (j * 11) % 64, s"m$j")).toDF("x", "y", "tag"), m)
      DeltaWrite.clusterBy(spark, m, Seq("x", "y"))
      DeltaWrite.append((0L until 300L).map(j =>
        ((j * 13) % 64, (j * 17) % 64, s"n$j")).toDF("x", "y", "tag"), m)
      DeltaWrite.compact(spark, m, targetBytes = 16L << 10)
      assert(DeltaRead.read(spark, m).count() == 600)
      assert(DeltaRead.read(spark, m).where($"x" === 7L).count() ==
        (0L until 300L).count(j => (j * 7) % 64 == 7) +
          (0L until 300L).count(j => (j * 13) % 64 == 7))
    } finally cleanup(m)
  }
}
