package graft

import graft.io.{DeltaRead, DeltaWrite}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[graft.io.DeltaWrite.merge]] — the upsert half of the reference's
  * `ON CONFLICT` story (loader_NeonDB.py:364-371 stops at DO NOTHING):
  * matched rows update, unmatched insert, untouched files keep their
  * bytes, re-runs converge, racing writers serialize through the commit
  * CAS, and the change feed decomposes the rewrite into delete+insert. */
class MergeSpec extends SparkTestBase {
  import spark.implicits._

  private def newTable(): String = Files.createTempDirectory("deltamerge").toString
  private def cleanup(t: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))

  private def dataFiles(t: String): Map[String, Long] =
    Files.walk(Paths.get(t)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")
        && !p.startsWith(Paths.get(t, "_delta_log")))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap

  test("upsert: matched rows update, unmatched insert, untouched files keep their bytes") {
    val t = newTable()
    try {
      val base = (0 until 90).map(i => (i.toLong, i * 10L)).toDF("id", "val")
      DeltaWrite.append(base.repartitionByRange(3, $"id"), t) // files ~[0,30),[30,60),[60,90)
      val beforeLive = DeltaRead.snapshot(spark, t).files.map(_.path).toSet
      val before = dataFiles(t)
      // updates hit only the first range file; inserts are brand new keys
      val src = ((0 until 10).map(i => (i.toLong, -1L)) ++
        (100 until 105).map(i => (i.toLong, i * 10L))).toDF("id", "val")
      assert(DeltaWrite.merge(spark, t, src, Seq("id")) == 1L)
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 95L)
      assert(got.where($"id" < 10).select($"val").distinct().as[Long].collect().toSeq == Seq(-1L))
      assert(got.where($"id" === 50L).select($"val").as[Long].collect().toSeq == Seq(500L))
      assert(got.where($"id" >= 100).count() == 5L)
      // files holding no matched key stay LIVE in the snapshot with
      // their bytes untouched (the touched file is only de-referenced;
      // vacuum reclaims its bytes later)
      val afterLive = DeltaRead.snapshot(spark, t).files.map(_.path).toSet
      val survivors = beforeLive.intersect(afterLive)
      assert(survivors.size == 2, s"expected 2 untouched live files, got ${survivors.size}")
      survivors.foreach { rel =>
        val p = Paths.get(t, rel).toString
        assert(before(p) == dataFiles(t)(p), s"untouched file $rel was rewritten")
      }
      // exactly one remove in the commit (the touched file)
      val acts = Files.readAllLines(Paths.get(t, "_delta_log", f"${1L}%020d.json"))
        .asScala.count(_.contains("\"remove\""))
      assert(acts == 1, s"expected 1 remove, got $acts")
    } finally cleanup(t)
  }

  test("re-running the same merge converges (idempotent state)") {
    val t = newTable()
    try {
      DeltaWrite.append((0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "txt"), t)
      val src = ((10 until 20).map(i => (i.toLong, "upd")) ++
        Seq((99L, "new"))).toDF("id", "txt")
      DeltaWrite.merge(spark, t, src, Seq("id"))
      val state1 = DeltaRead.read(spark, t).orderBy($"id")
        .as[(Long, String)].collect().toSeq
      DeltaWrite.merge(spark, t, src, Seq("id"))
      val state2 = DeltaRead.read(spark, t).orderBy($"id")
        .as[(Long, String)].collect().toSeq
      assert(state1 == state2, "second identical merge must not change the table")
      assert(state1.count(_._2 == "upd") == 10 && state1.contains((99L, "new")))
    } finally cleanup(t)
  }

  test("duplicate source keys and schema drift are refused up front") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "a")).toDF("id", "txt"), t)
      val dup = Seq((1L, "x"), (1L, "y")).toDF("id", "txt")
      val e = intercept[IllegalArgumentException](
        DeltaWrite.merge(spark, t, dup, Seq("id")))
      assert(e.getMessage.contains("duplicate"))
      val drift = Seq((1L, 2.0)).toDF("id", "score")
      val e2 = intercept[IllegalArgumentException](
        DeltaWrite.merge(spark, t, drift, Seq("id")))
      assert(e2.getMessage.contains("every table column"))
    } finally cleanup(t)
  }

  test("merge respects deletion vectors: a DV-deleted key re-inserts instead of resurrecting") {
    val t = newTable()
    try {
      DeltaWrite.append((0 until 40).map(i => (i.toLong, s"v$i")).toDF("id", "txt")
        .coalesce(1), t)
      DeltaWrite.deleteWhere(spark, t, $"id" === 7L)
      assert(DeltaRead.read(spark, t).count() == 39L)
      // id 7 is dead: merging it back is an INSERT; id 8 is live: UPDATE
      val src = Seq((7L, "back"), (8L, "upd")).toDF("id", "txt")
      DeltaWrite.merge(spark, t, src, Seq("id"))
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 40L)
      assert(got.where($"id" === 7L).select($"txt").as[String].collect().toSeq == Seq("back"))
      assert(got.where($"id" === 8L).select($"txt").as[String].collect().toSeq == Seq("upd"))
      // and no stale "v7" resurrected from the masked row
      assert(got.where($"txt" === "v7").count() == 0L)
    } finally cleanup(t)
  }

  test("partitioned merge rewrites only partitions holding matched keys") {
    val t = newTable()
    try {
      val df = (0 until 100).map(i => (i.toLong, if (i % 2 == 0) "a" else "b", i))
        .toDF("id", "grp", "n")
      DeltaWrite.append(df, t, partitionBy = Seq("grp"))
      val before = dataFiles(t).keySet.filter(_.contains("grp=b"))
      val src = Seq((0L, "a", -5), (200L, "b", 200)).toDF("id", "grp", "n")
      DeltaWrite.merge(spark, t, src, Seq("id"))
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 101L)
      assert(got.where($"id" === 0L).select($"n").as[Int].collect().toSeq == Seq(-5))
      assert(got.where($"id" === 200L).select($"grp").as[String].collect().toSeq == Seq("b"))
      // grp=b's original file was never touched (only an added insert file)
      assert(before.subsetOf(dataFiles(t).keySet))
    } finally cleanup(t)
  }

  test("column-mapped merge stays physical on disk, logical in use") {
    val t = newTable()
    try {
      val df = (0 until 30).map(i => (i.toLong, s"v$i")).toDF("id", "txt")
      DeltaWrite.createColumnMapped(df, t, mode = "name")
      val src = Seq((5L, "upd"), (77L, "new")).toDF("id", "txt")
      DeltaWrite.merge(spark, t, src, Seq("id"))
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 31L)
      assert(got.where($"id" === 5L).select($"txt").as[String].collect().toSeq == Seq("upd"))
      // staged parquet stores physical names
      val f = dataFiles(t).keys.head
      assert(spark.read.parquet(f).columns.forall(_.startsWith("col-")))
    } finally cleanup(t)
  }

  test("racing merges on disjoint keys both land through the CAS") {
    val t = newTable()
    try {
      DeltaWrite.append((0 until 20).map(i => (i.toLong, 0L)).toDF("id", "val"), t)
      val threads = (1 to 3).map { w =>
        new Thread(() => {
          val src = Seq((w.toLong, 100L + w), (100L + w, w.toLong)).toDF("id", "val")
          DeltaWrite.merge(spark, t, src, Seq("id"))
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 23L, "each racer's insert must survive")
      (1 to 3).foreach { w =>
        assert(got.where($"id" === w.toLong).select($"val").as[Long]
          .collect().toSeq == Seq(100L + w), s"racer $w's update lost")
      }
    } finally cleanup(t)
  }

  test("conditional clauses: WHEN MATCHED DELETE, gated UPDATE, gated INSERT — untouched no-op rows stay put") {
    import graft.io.DeltaWrite.MergeClauses
    val t = newTable()
    try {
      DeltaWrite.append((0 until 40).map(i => (i.toLong, s"v$i", "keep"))
        .toDF("id", "txt", "tag").repartitionByRange(2, $"id"), t)
      // source carries an EXTRA op column steering each row's clause
      val src = Seq(
        (3L, "upd3", "x", "update"),   // matched + update
        (5L, "ignored", "x", "noop"),  // matched, no clause applies
        (7L, "ignored", "x", "drop"),  // matched + delete
        (50L, "new50", "x", "update"), // unmatched + insert allowed
        (60L, "never", "x", "drop")    // unmatched delete row: no insert
      ).toDF("id", "txt", "tag", "op")
      DeltaWrite.merge(spark, t, src, Seq("id"), clauses = MergeClauses(
        updateWhen = Some($"op" === "update"),
        deleteWhen = Some($"op" === "drop"),
        insertWhen = Some($"op" =!= "drop")))
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 40L) // 40 - 1 delete + 1 insert
      assert(got.where($"id" === 3L).select($"txt").as[String].collect().toSeq == Seq("upd3"))
      assert(got.where($"id" === 5L).select($"txt").as[String].collect().toSeq == Seq("v5"),
        "a matched row satisfying no clause must stay untouched")
      assert(got.where($"id" === 7L).count() == 0L, "WHEN MATCHED DELETE must drop")
      assert(got.where($"id" === 50L).count() == 1L)
      assert(got.where($"id" === 60L).count() == 0L,
        "an unmatched delete-marked row must not insert")
      // the extra op column never reaches the table
      assert(got.columns.sorted.toSeq == Seq("id", "tag", "txt"))
    } finally cleanup(t)
  }

  test("adapter edges: null source keys insert, duplicate target keys all update, non-firing matches keep their file, txn replays skip") {
    import graft.io.DeltaWrite.MergeClauses
    val t = newTable()
    try {
      // file A holds key 1 twice; file B only keys whose clauses will not fire
      DeltaWrite.append(Seq((Option(1L), "a"), (Option(1L), "a2"), (Option(2L), "b"))
        .toDF("id", "txt").coalesce(1), t)
      DeltaWrite.append(Seq((Option(10L), "x"), (Option(11L), "y")).toDF("id", "txt")
        .coalesce(1), t)
      val fileB = (DeltaRead.snapshotAt(spark, t, 1L).files.map(_.path).toSet --
        DeltaRead.snapshotAt(spark, t, 0L).files.map(_.path)).head
      val bBytes = Files.readAllBytes(Paths.get(t, fileB)).toSeq
      val src = Seq((Option(1L), "upd", "u"), (Option.empty[Long], "nullkey", "u"),
        (Option(10L), "ignored", "noop")).toDF("id", "txt", "op")
      val clauses = MergeClauses(updateWhen = Some($"op" === "u"),
        insertWhen = Some($"op" === "u"))
      val v = DeltaWrite.merge(spark, t, src, Seq("id"), clauses = clauses,
        txn = Some(("adapter-spec", 1L)))
      val rows = DeltaRead.read(spark, t).as[(Option[Long], String)].collect().toSeq
      assert(rows.filter(_._1.contains(1L)).map(_._2) == Seq("upd", "upd"),
        "every target row sharing the key takes the update")
      assert(rows.count(_._1.isEmpty) == 1, "a null source key never matches: it inserts")
      assert(rows.toSet == Set((Some(1L), "upd"), (Some(2L), "b"), (Some(10L), "x"),
        (Some(11L), "y"), (None, "nullkey")))
      assert(DeltaRead.snapshot(spark, t).files.exists(_.path == fileB) &&
        Files.readAllBytes(Paths.get(t, fileB)).toSeq == bBytes,
        "a file whose matched rows fire no clause stays live and byte-identical")
      assert(DeltaRead.snapshot(spark, t).txns.get("adapter-spec").contains(1L))
      // replaying the same (appId, version) is skipped, even with a poisoned source
      val poison = Seq((Option(2L), "poison", "u")).toDF("id", "txt", "op")
      assert(DeltaWrite.merge(spark, t, poison, Seq("id"), clauses = clauses,
        txn = Some(("adapter-spec", 1L))) == v)
      assert(DeltaRead.read(spark, t).where($"txt" === "poison").count() == 0L)
      // the next version of the batch applies
      assert(DeltaWrite.merge(spark, t, poison, Seq("id"), clauses = clauses,
        txn = Some(("adapter-spec", 2L))) == v + 1)
      assert(DeltaRead.read(spark, t).where($"txt" === "poison").count() == 1L)
    } finally cleanup(t)
  }

  test("CDC and row tracking through merge: delete, update, no-op and insert clauses") {
    import graft.io.DeltaWrite.MergeClauses
    val t = newTable()
    try {
      DeltaWrite.append((1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "txt")
        .repartitionByRange(2, $"id"), t)
      DeltaWrite.enableRowTracking(spark, t)
      DeltaWrite.setProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true"))
      def ids: Map[Long, Long] = DeltaRead.readWithRowIds(spark, t)
        .select($"id", col(DeltaRead.RowIdCol))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val before = ids
      val src = Seq((3L, "upd3", "u"), (5L, "gone", "d"), (7L, "noop", "n"),
        (99L, "new99", "u")).toDF("id", "txt", "op")
      val v = DeltaWrite.merge(spark, t, src, Seq("id"), clauses = MergeClauses(
        updateWhen = Some($"op" === "u"), deleteWhen = Some($"op" === "d"),
        insertWhen = Some($"op" === "u")))
      val raw = spark.read.parquet(t + "/_change_data")
        .select($"id", $"txt", col(DeltaRead.ChangeTypeCol))
        .as[(Long, String, String)].collect().toSet
      assert(raw == Set((5L, "v5", "delete"), (3L, "v3", "update_preimage"),
        (3L, "upd3", "update_postimage"), (99L, "new99", "insert")),
        "exact change rows: the no-op match and kept rows never surface")
      val feed = DeltaRead.changesBetween(spark, t, v - 1, v)
        .select($"id", $"txt", col(DeltaRead.ChangeTypeCol))
        .as[(Long, String, String)].collect().toSet
      assert(feed == Set((5L, "v5", "delete"), (3L, "v3", "delete"),
        (3L, "upd3", "insert"), (99L, "new99", "insert")))
      val after = ids
      assert(after.keySet == (1L to 20L).toSet - 5L + 99L)
      (1L to 20L).filter(_ != 5L).foreach(k =>
        assert(after(k) == before(k), s"row $k re-identified"))
      assert(!before.values.toSet.contains(after(99L)), "the insert takes a fresh id")
    } finally cleanup(t)
  }

  test("the change feed decomposes a merge into delete(old) + insert(new)") {
    val t = newTable()
    try {
      DeltaWrite.append((0 until 10).map(i => (i.toLong, s"v$i")).toDF("id", "txt")
        .coalesce(1), t)
      DeltaWrite.merge(spark, t, Seq((3L, "upd"), (42L, "new")).toDF("id", "txt"), Seq("id"))
      val feed = DeltaRead.changesBetween(spark, t, 0L, 1L)
      // the rewrite deletes the whole touched file's rows and re-inserts
      // them (unchanged rows cancel in the fold); the net effect must be
      // exactly the update + the insert
      val net = feed.groupBy($"id", $"txt")
        .agg(sum(when($"_change_type" === "insert", 1).otherwise(-1)).as("net"))
      val changed = net.where($"net" =!= 0)
        .select($"id", $"txt", $"net").as[(Long, String, Long)].collect().toSet
      assert(changed == Set((3L, "v3", -1L), (3L, "upd", 1L), (42L, "new", 1L)))
    } finally cleanup(t)
  }
}
