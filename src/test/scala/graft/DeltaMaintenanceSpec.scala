package graft

import graft.io.{DeltaDv, DeltaRead, DeltaWrite}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

/** Hardening of the Delta maintenance surface: protocol upgrades UNION
  * existing + legacy-implied feature lists (never overwrite them),
  * vacuum's retention window protects deletion vectors superseded
  * inside it (time travel / restore stay whole), and the CDC
  * mirror enforces its primary-key contract loudly instead of
  * silently over-deleting. */
class DeltaMaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  private def newTable(): String =
    Files.createTempDirectory("deltamaint").toString

  private def cleanup(t: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))

  test("DESCRIBE HISTORY LIMIT n parses exactly n commit files") {
    val t = newTable()
    try {
      (0 until 12).foreach(i =>
        DeltaWrite.append(Seq((i.toLong, s"x$i")).toDF("id", "txt"), t))
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val limited = DeltaRead.history(t, Some(2), Some(counter))
      assert(limited.map(_._1) == Seq(11L, 10L), "newest two commits")
      assert(counter.get() == 2,
        s"LIMIT 2 on a 12-commit log must parse 2 files, parsed ${counter.get()}")
      // unlimited still reads everything, newest first
      assert(DeltaRead.history(t).map(_._1) == (0L to 11L).reverse)
    } finally cleanup(t)
  }

  test("compact scope matches typed values and refuses a zero-match scope") {
    val t = newTable()
    try {
      (0 until 2).foreach(_ => DeltaWrite.append(
        (0 until 10).map(i => (i.toLong, (i % 2).toLong)).toDF("id", "p"),
        t, partitionBy = Seq("p")))
      // '01' is not the log's rendering ("1") — typed comparison must
      // still select the partition instead of silently matching nothing
      val reduced = DeltaWrite.compact(spark, t,
        partitions = Map("p" -> "01"))
      assert(reduced >= 1, "p = 01 must compact the partition stored as '1'")
      // a scope matching NO partition refuses: 'compacted 0 files'
      // on a typo'd scope would be a lie
      val e = intercept[IllegalArgumentException] {
        DeltaWrite.compact(spark, t, partitions = Map("p" -> "7"))
      }
      assert(e.getMessage.contains("matches no partition"))
    } finally cleanup(t)
  }

  test("size-aware paths read add.size from the log, not the filesystem") {
    val t = newTable()
    try {
      DeltaWrite.append((0 until 20).map(i => (i.toLong, s"x$i")).toDF("id", "txt")
        .repartition(4), t)
      val snap = DeltaRead.snapshot(spark, t)
      assert(snap.files.forall(_.size.isDefined),
        "every add action must surface its size in the snapshot")
      snap.files.foreach { f =>
        assert(f.size.get == Files.size(java.nio.file.Paths.get(t, f.path)),
          s"${f.path}: log size must agree with the physical file")
      }
      // the proof the paths are metadata-only: move the data files
      // aside and the log-derived sizes still serve (a stat would throw)
      val hidden = Files.createTempDirectory("hidden")
      snap.files.foreach { f =>
        Files.move(java.nio.file.Paths.get(t, f.path),
          hidden.resolve(java.nio.file.Paths.get(f.path).getFileName))
      }
      val total = snap.files.map(_.sizeOrStat(t)).sum
      assert(total > 0 && total == snap.files.flatMap(_.size).sum,
        "sizes must come from the log when files are unreachable")
      // restore the files so cleanup paths stay sane
      snap.files.foreach { f =>
        Files.move(hidden.resolve(java.nio.file.Paths.get(f.path).getFileName),
          java.nio.file.Paths.get(t, f.path))
      }
    } finally cleanup(t)
  }

  test("first-DV protocol upgrade unions legacy-implied + existing features") {
    val t = newTable()
    try {
      DeltaWrite.append((1 to 40).map(i => (i.toLong, s"x$i")).toDF("id", "txt"), t)
      DeltaWrite.addCheckConstraint(spark, t, "pos", "id > 0") // legacy writer v3
      assert(DeltaRead.snapshot(spark, t).minWriterVersion == 3)
      DeltaWrite.deleteWhere(spark, t, $"id" % 5 === 0)
      val s = DeltaRead.snapshot(spark, t)
      assert(s.minReaderVersion == 3 && s.minWriterVersion == 7)
      assert(Set("appendOnly", "invariants", "checkConstraints", "deletionVectors")
        .subsetOf(s.writerFeatures),
        s"legacy-implied features must survive the upgrade: ${s.writerFeatures}")
      assert(s.readerFeatures.contains("deletionVectors"))
      // the v3-implied constraint still ENFORCES after the upgrade
      intercept[IllegalStateException](
        DeltaWrite.append(Seq((-1L, "bad")).toDF("id", "txt"), t))
      assert(DeltaRead.read(spark, t).count() == 32)
    } finally cleanup(t)
  }

  test("vacuum spares a DV superseded inside the retention window; restore stays whole") {
    val t = newTable()
    try {
      DeltaWrite.append((1 to 60).map(i => (i.toLong, s"x$i")).toDF("id", "txt"), t) // v0
      DeltaWrite.deleteWhere(spark, t, $"id" % 3 === 0) // v1: DV d1
      val d1 = DeltaRead.snapshot(spark, t).files.flatMap(_.dv)
        .map(d => DeltaDv.dvFile(t, d))
      assert(d1.nonEmpty)
      DeltaWrite.deleteWhere(spark, t, $"id" % 7 === 0) // v2: d1 merged into d2
      val headDvs = DeltaRead.snapshot(spark, t).files.flatMap(_.dv)
        .map(d => DeltaDv.dvFile(t, d)).toSet
      assert(d1.forall(!headDvs.contains(_)), "v2 must supersede v1's bitmap")
      // age the superseded bitmap far past any mtime guard — only the
      // in-window commit protection can save it now
      d1.foreach(p => Files.setLastModifiedTime(p, FileTime.fromMillis(1000L)))
      DeltaWrite.vacuum(spark, t, retentionMs = 60000)
      d1.foreach(p => assert(Files.exists(p),
        s"DV superseded inside the retention window was reclaimed: $p"))
      assert(DeltaRead.readVersion(spark, t, 1).count() == 40) // time travel intact
      // quiesced vacuum (window already closed) reclaims it; restore
      // to the dependent version then refuses loudly, never partially
      DeltaWrite.vacuum(spark, t, retentionMs = -60000)
      d1.foreach(p => assert(!Files.exists(p)))
      val e = intercept[IllegalArgumentException](DeltaWrite.restore(spark, t, 1))
      assert(e.getMessage.contains("deletion vector"))
    } finally cleanup(t)
  }

  test("mirror refuses a source version whose insert half duplicates a key") {
    val src = newTable(); val dst = newTable()
    try {
      DeltaWrite.append(Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "txt"), src)
      val e = intercept[IllegalArgumentException](
        graft.streaming.DeltaTail.mirror(spark, src, dst, Seq("id")))
      assert(e.getMessage.contains("duplicate"))
    } finally { cleanup(src); cleanup(dst) }
  }

  test("deleteWhere works on a column-mapped table (physical keys re-emitted)") {
    val t = newTable()
    try {
      val df = (1 to 40).map(i => (i.toLong, s"x$i", if (i % 2 == 0) "a" else "b"))
        .toDF("id", "txt", "grp")
      DeltaWrite.createColumnMapped(df, t, partitionBy = Seq("grp"))
      DeltaWrite.deleteWhere(spark, t, $"id" % 4 === 0)
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 30)
      assert(got.where($"id" % 4 === 0).count() == 0)
      // partitionValues keys in the head snapshot stay consistent
      // (logical after translation), and the re-added entries carry DVs
      val s = DeltaRead.snapshot(spark, t)
      assert(s.files.exists(_.dv.isDefined))
      assert(s.files.forall(_.partitionValues.keySet == Set("grp")))
      assert(s.minWriterVersion == 7 &&
        s.writerFeatures.contains("columnMapping") &&
        s.writerFeatures.contains("deletionVectors"))
    } finally cleanup(t)
  }

  test("delta.checkpointInterval auto-checkpoints every Nth commit") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((0L, "z")).toDF("id", "s"), t)               // v0
      DeltaWrite.setProperties(spark, t,
        Map("delta.checkpointInterval" -> "3"))                          // v1
      (1 to 5).foreach(i =>
        DeltaWrite.append(Seq((i.toLong, s"r$i")).toDF("id", "s"), t))   // v2..v6
      val ld = java.nio.file.Paths.get(t, "_delta_log")
      // Nth commits are v2 and v5 ((v+1) % 3 == 0)
      assert(Files.exists(ld.resolve(f"${2L}%020d.checkpoint.parquet")))
      assert(Files.exists(ld.resolve(f"${5L}%020d.checkpoint.parquet")))
      assert(Files.exists(ld.resolve("_last_checkpoint")))
      // the auto-checkpoint is REAL: truncate the log below it and read
      (0L to 4L).foreach(v => Files.delete(ld.resolve(f"$v%020d.json")))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      assert(DeltaRead.read(spark, t).count() == 6)
    } finally cleanup(t)
  }

  test("delta.dataSkippingNumIndexedCols trims stats to the first N columns, soundly") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, 10L, "a")).toDF("a", "b", "c"), t)      // v0: full stats
      DeltaWrite.setProperties(spark, t,
        Map("delta.dataSkippingNumIndexedCols" -> "1"))                  // v1
      DeltaWrite.append(Seq((5L, 50L, "z")).toDF("a", "b", "c"), t)      // v2: trimmed
      val ld = java.nio.file.Paths.get(t, "_delta_log")
      val addLine = Files.readAllLines(ld.resolve(f"${2L}%020d.json"))
        .toArray.map(_.toString).find(_.contains("\"add\"")).get
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val st = om.readTree(om.readTree(addLine).get("add").get("stats").asText())
      assert(st.get("numRecords").asLong() == 1L)
      assert(st.get("minValues").has("a") && !st.get("minValues").has("b") &&
        !st.get("minValues").has("c"), s"trim failed: $st")
      assert(!st.get("nullCount").has("b"))
      // soundness: a predicate on the UNINDEXED column admits the
      // trimmed file (no evidence) but still prunes the full-stats one
      val admitted = DeltaRead.filesAfterSkipping(spark, t, 2L,
        Seq(DeltaRead.StatRange("b", Some(100L), Some(200L))))
      assert(admitted.size == 1, "v0 file (b=10) pruned, v2 file admitted")
      // the indexed column still prunes both ways
      val byA = DeltaRead.filesAfterSkipping(spark, t, 2L,
        Seq(DeltaRead.StatRange("a", Some(4L), Some(9L))))
      assert(byA.size == 1, "a-bounds survive the trim on both files")
    } finally cleanup(t)
  }

  test("FSCK REPAIR TABLE tombstones missing files; DRY RUN only reports") {
    val t = newTable()
    try {
      (0 until 3).foreach(i =>
        DeltaWrite.append(Seq((i.toLong, s"v$i")).toDF("id", "s"), t))
      // delete one data file out-of-band
      val victim = DeltaRead.snapshot(spark, t).files.head
      Files.delete(DeltaRead.dataPath(t, victim.path))
      intercept[Exception](DeltaRead.read(spark, t).count()) // scans die
      // DRY RUN reports the damage without committing
      val v0 = DeltaRead.latestVersion(t)
      val dry = spark.sql(s"FSCK REPAIR TABLE '$t' DRY RUN").collect()
      assert(dry.length == 1 && dry.head.getString(1) == victim.path)
      assert(DeltaRead.latestVersion(t) == v0, "DRY RUN must not commit")
      // the repair tombstones exactly the missing file
      val fixed = spark.sql(s"FSCK REPAIR TABLE '$t'").collect()
      assert(fixed.length == 1)
      assert(DeltaRead.latestVersion(t) == v0 + 1)
      assert(DeltaRead.read(spark, t).count() == 2, "survivors still serve")
      // idempotent: nothing more to repair, no commit
      assert(spark.sql(s"FSCK REPAIR TABLE '$t'").collect().isEmpty)
      assert(DeltaRead.latestVersion(t) == v0 + 1)
      // a missing DV bitmap removes its file too (unmasked rows must
      // never resurrect) — a multi-row file, so the delete masks
      // instead of dropping the whole file
      DeltaWrite.append((10L to 15L).map(i => (i, s"v$i")).toDF("id", "s")
        .coalesce(1), t)
      DeltaWrite.deleteWhere(spark, t, org.apache.spark.sql.functions.col("id") === 10L)
      val dvf = DeltaRead.snapshot(spark, t).files.find(_.dv.isDefined).get
      Files.delete(graft.io.DeltaDv.dvFile(t, dvf.dv.get))
      val r2 = DeltaWrite.fsck(spark, t)
      assert(r2.map(_.path) == Seq(dvf.path))
    } finally cleanup(t)
  }

  test("GENERATE symlink_format_manifest lists live files; DVs refuse") {
    val t = newTable()
    try {
      DeltaWrite.append((1L to 40L).map(i => (i, (i % 2).toString))
        .toDF("id", "p"), t, partitionBy = Seq("p"))
      DeltaWrite.append((41L to 60L).map(i => (i, (i % 2).toString))
        .toDF("id", "p"), t, partitionBy = Seq("p"))
      val n = spark.sql(s"GENERATE symlink_format_manifest FOR TABLE '$t'")
        .collect().head.getInt(1)
      assert(n == 2, "one manifest per partition")
      def listed(part: String): Seq[String] = {
        val m = java.nio.file.Paths.get(t, "_symlink_format_manifest", s"p=$part", "manifest")
        scala.jdk.CollectionConverters.ListHasAsScala(
          Files.readAllLines(m)).asScala.toSeq
      }
      val live = DeltaRead.snapshot(spark, t).files
        .map(f => DeltaRead.dataPath(t, f.path).toAbsolutePath.normalize().toUri.toString)
        .toSet
      assert((listed("0") ++ listed("1")).toSet == live,
        "manifests must list exactly the live files, as absolute URIs")
      assert(listed("0").forall(_.startsWith("file:")), "URI form")
      // compaction changes the file set; REGENERATION follows it
      DeltaWrite.compact(spark, t)
      spark.sql(s"GENERATE symlink_format_manifest FOR TABLE '$t'")
      val live2 = DeltaRead.snapshot(spark, t).files
        .map(f => DeltaRead.dataPath(t, f.path).toAbsolutePath.normalize().toUri.toString)
        .toSet
      assert((listed("0") ++ listed("1")).toSet == live2)
      // a DV'd table refuses: external readers can't apply the masks
      DeltaWrite.deleteWhere(spark, t, org.apache.spark.sql.functions.col("id") === 2L)
      val e = intercept[IllegalArgumentException](
        DeltaWrite.generateSymlinkManifest(spark, t))
      assert(e.getMessage.contains("deletion vectors"))
      // compaction purges the DVs and GENERATE works again
      DeltaWrite.compact(spark, t)
      assert(DeltaWrite.generateSymlinkManifest(spark, t) == 2)
      // column-mapped tables refuse: physical col-<uuid> names would
      // read as all-null columns through an external engine's schema
      val m = newTable()
      DeltaWrite.createColumnMapped(
        (1L to 5L).map(i => (i, s"v$i")).toDF("id", "txt"), m)
      val em = intercept[IllegalArgumentException](
        DeltaWrite.generateSymlinkManifest(spark, m))
      assert(em.getMessage.contains("column mapping"))
      cleanup(m)
    } finally cleanup(t)
  }

  test("incremental GENERATE rewrites exactly the changed partition; stale manifests removed") {
    val t = newTable()
    try {
      import java.nio.file.Paths
      val df = (1 to 30).map(i => (i.toLong, (i % 3).toString)).toDF("id", "p")
      DeltaWrite.append(df, t, partitionBy = Seq("p"))                     // v0
      assert(DeltaWrite.generateSymlinkManifest(spark, t) == 3, "full regen")
      val root = Paths.get(t, "_symlink_format_manifest")
      val manifests = Seq("p=0", "p=1", "p=2")
        .map(d => d -> root.resolve(d).resolve("manifest")).toMap
      manifests.values.foreach(m =>
        Files.setLastModifiedTime(m, FileTime.fromMillis(1000L)))
      // an append touching ONLY p=1 must rewrite exactly that manifest
      DeltaWrite.append(Seq((100L, "1")).toDF("id", "p"), t,
        partitionBy = Seq("p"))                                            // v1
      assert(DeltaWrite.generateSymlinkManifest(spark, t, incremental = true) == 1)
      assert(Files.getLastModifiedTime(manifests("p=0")).toMillis == 1000L &&
        Files.getLastModifiedTime(manifests("p=2")).toMillis == 1000L,
        "untouched partitions' manifests must not be rewritten")
      assert(Files.getLastModifiedTime(manifests("p=1")).toMillis > 1000L)
      assert(Files.readAllLines(manifests("p=1")).size() ==
        DeltaRead.snapshot(spark, t).files.count(_.partitionValues.get("p").contains("1")),
        "the rewritten manifest must list the partition's full live set")
      // a partition that vanishes (RESTORE past its birth) loses its
      // manifest — the stale-removal guarantee, incremental included
      DeltaWrite.append(Seq((200L, "9")).toDF("id", "p"), t,
        partitionBy = Seq("p"))                                            // v2
      assert(DeltaWrite.generateSymlinkManifest(spark, t, incremental = true) == 1)
      assert(Files.exists(root.resolve("p=9").resolve("manifest")))
      DeltaWrite.restore(spark, t, 1)                                      // v3
      assert(DeltaWrite.generateSymlinkManifest(spark, t, incremental = true) == 0,
        "restore to v1 changes no surviving partition's file set")
      assert(!Files.exists(root.resolve("p=9")),
        "a dropped partition's manifest would resurrect deleted rows")
    } finally cleanup(t)
  }

  test("incremental GENERATE degrades to full regen when the marker version expired") {
    val t = newTable()
    try {
      import java.nio.file.Paths
      DeltaWrite.append((1 to 10).map(i => (i.toLong, (i % 2).toString))
        .toDF("id", "p"), t, partitionBy = Seq("p"))                      // v0
      assert(DeltaWrite.generateSymlinkManifest(spark, t, incremental = true) == 2)
      // expire the log past the marker: the marked version (v0) becomes
      // unresolvable, which must mean FULL regeneration, not a wedge
      DeltaWrite.append(Seq((100L, "1")).toDF("id", "p"), t,
        partitionBy = Seq("p"))                                           // v1
      DeltaWrite.setProperties(spark, t,
        Map("delta.logRetentionDuration" -> "interval 0 seconds"))        // v2
      DeltaWrite.checkpoint(spark, t)
      DeltaWrite.append(Seq((101L, "0")).toDF("id", "p"), t,
        partitionBy = Seq("p"))                                           // v3
      assert(DeltaWrite.cleanMetadata(spark, t) > 0)
      intercept[Exception](DeltaRead.snapshotAt(spark, t, 0L)) // marker is gone
      assert(DeltaWrite.generateSymlinkManifest(spark, t, incremental = true) == 2,
        "unresolvable marker must fall back to regenerating every partition")
      val root = Paths.get(t, "_symlink_format_manifest")
      Seq("0", "1").foreach { part =>
        val listed = Files.readAllLines(
          root.resolve(s"p=$part").resolve("manifest")).asScala.toSet
        val live = DeltaRead.snapshot(spark, t).files
          .filter(_.partitionValues.get("p").contains(part))
          .map(f => DeltaRead.dataPath(t, f.path).toAbsolutePath.normalize().toUri.toString)
          .toSet
        assert(listed == live, s"p=$part manifest must match the live set")
      }
    } finally cleanup(t)
  }

  test("vacuum enumerates + reclaims distributed: one task per top-level dir, semantics unchanged") {
    val t = newTable()
    try {
      val df = (1 to 40).map(i => (i.toLong, s"x$i", (i % 4).toString))
        .toDF("id", "txt", "p")
      DeltaWrite.append(df, t, partitionBy = Seq("p"))    // v0
      DeltaWrite.overwrite(df, t, partitionBy = Seq("p")) // v1 orphans v0's files
      // a crashed writer's abandoned staging dir, aged past any window
      val staging = java.nio.file.Paths.get(t, "_staging-test-abandoned")
      Files.createDirectories(staging)
      val junk = staging.resolve("part-junk.parquet")
      Files.write(junk, Array[Byte](1, 2, 3))
      Files.setLastModifiedTime(junk, FileTime.fromMillis(1000L))
      Files.setLastModifiedTime(staging, FileTime.fromMillis(1000L))
      val orphans = DeltaRead.snapshotAt(spark, t, 0).files
        .map(f => java.nio.file.Paths.get(t, f.path))
      val liveFiles = DeltaRead.snapshot(spark, t).files
        .map(f => java.nio.file.Paths.get(t, f.path))
      // the walk units the driver hands to Spark: every top-level dir
      // except the log and the CDC mirror
      val rootLs = Files.list(java.nio.file.Paths.get(t))
      val expectedTasks =
        try rootLs.iterator().asScala.count(p => Files.isDirectory(p) &&
          p.getFileName.toString != "_delta_log" &&
          p.getFileName.toString != "_change_data")
        finally rootLs.close()
      assert(expectedTasks >= 5, s"4 partition dirs + staging, got $expectedTasks")
      // dry run: identical enumeration, zero deletion
      val wouldReclaim = DeltaWrite.vacuum(spark, t,
        retentionMs = -60000, dryRun = true)
      assert(orphans.forall(Files.exists(_)), "dry run must not delete")
      assert(wouldReclaim == orphans.size + 1, // + the staging junk parquet
        s"dry run expected ${orphans.size + 1} candidates, got $wouldReclaim")
      // the SEAM: candidate enumeration must run as a Spark job with one
      // task per walk root — the driver performs no per-file walk
      val stageSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          stageSizes.add(sc.stageInfo.numTasks)
      }
      spark.sparkContext.addSparkListener(listener)
      val reclaimed =
        try {
          val n = DeltaWrite.vacuum(spark, t, retentionMs = -60000)
          // listener delivery is async; poll until the walk stage lands
          val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
          while (!stageSizes.contains(expectedTasks) &&
            System.nanoTime() < deadline) Thread.sleep(50)
          n
        } finally spark.sparkContext.removeSparkListener(listener)
      assert(stageSizes.contains(expectedTasks),
        s"expected a $expectedTasks-task walk stage, saw ${stageSizes.toArray.mkString(",")}")
      assert(reclaimed == wouldReclaim,
        "destructive run must reclaim exactly what the dry run enumerated")
      orphans.foreach(p => assert(!Files.exists(p), s"orphan survived: $p"))
      liveFiles.foreach(p => assert(Files.exists(p), s"live file reclaimed: $p"))
      assert(!Files.exists(staging), "abandoned staging dir must be reclaimed")
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 40 && got.where($"id" === 17L).count() == 1,
        "head snapshot must read whole after vacuum")
    } finally cleanup(t)
  }
}
