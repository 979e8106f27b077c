package graft

import graft.io.{DeltaRead, DeltaWrite}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** ROW TRACKING (PROTOCOL.md "Row Tracking") + DOMAIN METADATA: every
  * add on an enabled table carries a fresh `baseRowId` block and the
  * `delta.rowTracking` domain advances its high-water mark in the same
  * commit; a row's STABLE id (readWithRowIds) survives DV deletes,
  * compaction (materialized columns), MERGE rewrites, RESTORE and
  * CLONE; checkpoints persist both the per-add fields and the domain
  * actions (removed tombstones included); and the materialized
  * passenger columns never leak into a normal read. */
class RowTrackingSpec extends SparkTestBase {
  import spark.implicits._

  private def newTable(): String =
    Files.createTempDirectory("rowtrack").toString

  private def cleanup(t: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))

  /** id → row_id map of the live table. */
  private def idsByKey(t: String): Map[Long, Long] =
    DeltaRead.readWithRowIds(spark, t)
      .select($"id", col(DeltaRead.RowIdCol))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("enable backfills every file; ids are distinct 0..n-1; hwm matches") {
    val t = newTable()
    try {
      val df = (1L to 100L).map(i => (i, s"d$i")).toDF("id", "txt")
      DeltaWrite.append(df.repartition(4), t)
      DeltaWrite.enableRowTracking(spark, t)
      val s = DeltaRead.snapshot(spark, t)
      assert(s.writerFeatures.contains("rowTracking") &&
        s.writerFeatures.contains("domainMetadata"))
      assert(s.files.forall(_.baseRowId.isDefined))
      val ids = idsByKey(t).values.toSeq
      assert(ids.size == 100 && ids.distinct.size == 100)
      assert(ids.min == 0L && ids.max == 99L)
      // idempotent
      val v = DeltaRead.latestVersion(t)
      assert(DeltaWrite.enableRowTracking(spark, t) == v)
    } finally cleanup(t)
  }

  test("appends allocate fresh non-overlapping blocks and advance the domain hwm") {
    val t = newTable()
    try {
      DeltaWrite.append((1L to 50L).map(i => (i, "a")).toDF("id", "txt"), t)
      DeltaWrite.enableRowTracking(spark, t)
      DeltaWrite.append((51L to 80L).map(i => (i, "b")).toDF("id", "txt")
        .repartition(3), t)
      DeltaWrite.append((81L to 90L).map(i => (i, "c")).toDF("id", "txt"), t)
      val ids = idsByKey(t)
      assert(ids.size == 90 && ids.values.toSeq.distinct.size == 90)
      val s = DeltaRead.snapshot(spark, t)
      val hwm = s.liveDomains("delta.rowTracking")
      assert(hwm.contains(s""""rowIdHighWaterMark":89"""))
      // block bounds agree with stats: base + numRecords - 1 <= hwm
      s.files.foreach { f =>
        assert(f.baseRowId.get >= 0 && f.baseRowId.get <= 89)
        assert(f.defaultRowCommitVersion.isDefined)
      }
    } finally cleanup(t)
  }

  test("DV delete and compaction both preserve surviving rows' stable ids") {
    val t = newTable()
    try {
      DeltaWrite.append((1L to 60L).map(i => (i, s"x$i")).toDF("id", "txt")
        .repartition(3), t)
      DeltaWrite.enableRowTracking(spark, t)
      val before = idsByKey(t)
      DeltaWrite.deleteWhere(spark, t, $"id" % 5 === 0)         // DV path
      val afterDv = idsByKey(t)
      assert(afterDv.keySet == before.keySet.filterNot(_ % 5 == 0))
      afterDv.foreach { case (k, rid) => assert(rid == before(k)) }
      assert(DeltaWrite.compact(spark, t) > 0)                  // rewrite + DV purge
      val afterCompact = idsByKey(t)
      assert(afterCompact == afterDv)
      // the materialized passenger columns never surface in a normal read
      val cols = DeltaRead.read(spark, t).columns.toSet
      assert(cols == Set("id", "txt"))
      // a second compact (no DVs left, single file) is a no-op or
      // still preserves
      DeltaWrite.append((200L to 205L).map(i => (i, "y")).toDF("id", "txt"), t)
      DeltaWrite.compact(spark, t)
      val fin = idsByKey(t)
      afterCompact.foreach { case (k, rid) => assert(fin(k) == rid) }
      assert((200L to 205L).forall(k => fin(k) > afterCompact.values.max))
    } finally cleanup(t)
  }

  test("MERGE keeps updated rows' ids, assigns fresh ids to inserts") {
    val t = newTable()
    try {
      DeltaWrite.append((1L to 40L).map(i => (i, i * 10)).toDF("id", "v"), t)
      DeltaWrite.enableRowTracking(spark, t)
      val before = idsByKey(t)
      val src = (30L to 50L).map(i => (i, i * 1000)).toDF("id", "v")
      DeltaWrite.merge(spark, t, src, Seq("id"))
      val after = idsByKey(t)
      assert(after.keySet == (1L to 50L).toSet)
      // updated (30..40) and untouched-in-rewritten-file rows keep ids
      (1L to 40L).foreach(k => assert(after(k) == before(k),
        s"row $k re-identified: ${before(k)} -> ${after(k)}"))
      // genuinely new rows (41..50) got ids past the old hwm
      val oldMax = before.values.max
      (41L to 50L).foreach(k => assert(after(k) > oldMax))
      // values actually merged
      val vs = DeltaRead.read(spark, t).select($"id", $"v")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(vs(35L) == 35000L && vs(10L) == 100L && vs(50L) == 50000L)
    } finally cleanup(t)
  }

  test("RESTORE reinstates the target version's ids; CLONE copies ids verbatim") {
    val t = newTable()
    val c = Files.createTempDirectory("rowtrackclone").resolve("t").toString
    try {
      DeltaWrite.append((1L to 30L).map(i => (i, s"r$i")).toDF("id", "txt"), t)
      DeltaWrite.enableRowTracking(spark, t)
      val atEnable = idsByKey(t)
      val vEnable = DeltaRead.latestVersion(t)
      DeltaWrite.deleteWhere(spark, t, $"id" <= 10)
      DeltaWrite.append((31L to 35L).map(i => (i, "new")).toDF("id", "txt"), t)
      DeltaWrite.restore(spark, t, vEnable)
      val restored = idsByKey(t)
      assert(restored == atEnable)
      // hwm did not regress: a fresh append after restore must not
      // collide with ids 31..35 ever held
      DeltaWrite.append((40L to 42L).map(i => (i, "post")).toDF("id", "txt"), t)
      val post = idsByKey(t)
      assert(post.values.toSeq.distinct.size == post.size)
      (40L to 42L).foreach(k => assert(post(k) > atEnable.values.max + 5 - 1))
      DeltaWrite.clone(spark, t, c)
      assert(idsByKey(c) == post)
      val cs = DeltaRead.snapshot(spark, c)
      assert(cs.liveDomains.contains("delta.rowTracking"))
    } finally { cleanup(t); cleanup(Paths.get(c).getParent.toString) }
  }

  test("checkpoint persists baseRowId, defaultRowCommitVersion and domain actions") {
    val t = newTable()
    try {
      DeltaWrite.append((1L to 25L).map(i => (i, i)).toDF("id", "v"), t)
      DeltaWrite.enableRowTracking(spark, t)
      DeltaWrite.append((26L to 30L).map(i => (i, i)).toDF("id", "v"), t)
      val before = idsByKey(t)
      val cv = DeltaWrite.checkpoint(spark, t)
      // drop the JSON tail at/below the checkpoint: replay must come
      // from the checkpoint parquet alone
      (0L to cv).foreach(v =>
        Files.deleteIfExists(Paths.get(t, "_delta_log", f"$v%020d.json")))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      val s = DeltaRead.snapshot(spark, t)
      assert(s.files.forall(_.baseRowId.isDefined))
      assert(s.liveDomains.contains("delta.rowTracking"))
      assert(idsByKey(t) == before)
    } finally cleanup(t)
  }

  test("user domain metadata: set, removal tombstone, checkpoint retention") {
    val t = newTable()
    try {
      DeltaWrite.append((1L to 5L).map(i => (i, i)).toDF("id", "v"), t)
      DeltaWrite.setDomainMetadata(spark, t, "app.pipeline", """{"cursor":42}""")
      assert(DeltaRead.snapshot(spark, t).liveDomains("app.pipeline")
        .contains("\"cursor\":42"))
      DeltaWrite.removeDomainMetadata(spark, t, "app.pipeline")
      val s1 = DeltaRead.snapshot(spark, t)
      assert(!s1.liveDomains.contains("app.pipeline") &&
        s1.domains.contains("app.pipeline"))
      val cv = DeltaWrite.checkpoint(spark, t)
      (0L to cv).foreach(v =>
        Files.deleteIfExists(Paths.get(t, "_delta_log", f"$v%020d.json")))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      val s2 = DeltaRead.snapshot(spark, t)
      assert(s2.domains.get("app.pipeline").exists(_._2), // tombstone retained
        s"expected removed tombstone, got ${s2.domains}")
      // system domains are not settable directly
      intercept[IllegalArgumentException] {
        DeltaWrite.setDomainMetadata(spark, t, "delta.rowTracking", "{}")
      }
    } finally cleanup(t)
  }

  test("row tracking x column mapping composes: ids survive merge/update/compact/clone") {
    val t = newTable()
    try {
      // a Databricks-default-shaped table: column-mapped AND row-tracked
      DeltaWrite.createColumnMapped(
        (1L to 40L).map(i => (i, s"v$i")).toDF("id", "txt"), t, mode = "name")
      DeltaWrite.enableRowTracking(spark, t)
      val s0 = DeltaRead.snapshot(spark, t)
      assert(s0.writerFeatures.contains("rowTracking") &&
        s0.writerFeatures.contains("columnMapping"))
      assert(s0.files.forall(_.baseRowId.isDefined))
      val before = idsByKey(t)
      assert(before.size == 40 && before.values.toSeq.distinct.size == 40)
      // MERGE: updated rows keep their ids (materialized through the
      // rewrite under PHYSICAL data names), inserts get fresh ones
      DeltaWrite.merge(spark, t,
        Seq((2L, "upd2"), (41L, "new41")).toDF("id", "txt"), Seq("id"))
      val afterMerge = idsByKey(t)
      assert(afterMerge(2L) == before(2L), "updated row must keep its stable id")
      assert(!before.values.toSet.contains(afterMerge(41L)),
        "inserted row must get a fresh id past the high-water mark")
      (1L to 40L).filter(_ != 2L).foreach(k =>
        assert(afterMerge(k) == before(k), s"untouched row $k re-identified"))
      // UPDATE rewrite preserves ids
      DeltaWrite.updateWhere(spark, t, $"id" === 7L, Seq("txt" -> lit("upd7")))
      assert(idsByKey(t)(7L) == before(7L), "update must keep the row's id")
      // DV delete + COMPACT (DV purge rewrite) preserve survivors' ids
      DeltaWrite.deleteWhere(spark, t, $"id" % 10L === 0L)
      DeltaWrite.compact(spark, t)
      val afterCompact = idsByKey(t)
      afterCompact.keys.foreach(k =>
        assert(afterCompact(k) == afterMerge(k), s"compaction re-identified $k"))
      // physical-name stats keys still translate: the log-side schema
      // stays mapped, reads resolve, and a fresh append allocates past
      // every id ever assigned
      DeltaWrite.append(Seq((100L, "x")).toDF("id", "txt"), t)
      val all = idsByKey(t)
      assert(all(100L) > afterMerge.values.max - 1, "fresh block past the hwm")
      // CLONE copies ids verbatim
      val c = newTable() + "/clone"
      DeltaWrite.shallowClone(spark, t, c)
      val cloned = DeltaRead.readWithRowIds(spark, c)
        .select($"id", col(DeltaRead.RowIdCol))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cloned == all, "shallow clone must carry row ids verbatim")
    } finally cleanup(t)
  }

  test("foreign rowTracking table: graft preserves a foreign-assigned baseRowId") {
    val t = newTable()
    try {
      DeltaWrite.append((1L to 20L).map(i => (i, i)).toDF("id", "v"), t)
      DeltaWrite.enableRowTracking(spark, t)
      // simulate a foreign writer's higher high-water mark: future
      // allocations must start past it
      val v = DeltaRead.latestVersion(t)
      val line = """{"domainMetadata":{"domain":"delta.rowTracking",""" +
        """"configuration":"{\"rowIdHighWaterMark\":1000}","removed":false}}"""
      Files.write(Paths.get(t, "_delta_log", f"${v + 1}%020d.json"),
        Seq(s"""{"commitInfo":{"timestamp":0,"operation":"FOREIGN"}}""", line).asJava)
      DeltaWrite.append(Seq((100L, 100L)).toDF("id", "v"), t)
      val ids = idsByKey(t)
      assert(ids(100L) == 1001L, s"expected 1001, got ${ids(100L)}")
    } finally cleanup(t)
  }
}
