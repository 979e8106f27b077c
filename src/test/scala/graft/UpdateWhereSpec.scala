package graft

import org.apache.spark.sql.functions._

import graft.io.{DeltaRead, DeltaWrite, Staging}

/** [[DeltaWrite.updateWhere]] — the copy-on-write UPDATE primitive
  * under the SQL surface. */
class UpdateWhereSpec extends SparkTestBase {
  import spark.implicits._

  test("updates matching rows, keeps false AND null predicate rows") {
    val t = Staging.tempDir("graft_upd1_")
    val df = Seq((1L, Some(10L)), (2L, None), (3L, Some(30L)))
      .toDF("id", "v")
    DeltaWrite.append(df, t)
    // v > 15 is NULL for id=2 — that row must be KEPT, not updated
    DeltaWrite.updateWhere(spark, t, $"v" > 15, Seq("v" -> ($"v" + 1)))
    val out = DeltaRead.read(spark, t).orderBy($"id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(out.toSeq == Seq((1L, 10L), (2L, -1L), (3L, 31L)))
  }

  test("no matching row commits nothing") {
    val t = Staging.tempDir("graft_upd2_")
    DeltaWrite.append(spark.range(5).toDF("id"), t)
    val v0 = DeltaRead.latestVersion(t)
    val v1 = DeltaWrite.updateWhere(spark, t, $"id" > 100, Seq("id" -> lit(0L)))
    assert(v1 == v0 && DeltaRead.latestVersion(t) == v0)
  }

  test("rewrites only touched files") {
    val t = Staging.tempDir("graft_upd3_")
    // two files: ids 0..9 and 100..109
    DeltaWrite.append(spark.range(0, 10).toDF("id").repartition(1), t)
    DeltaWrite.append(spark.range(100, 110).toDF("id").repartition(1), t)
    val before = DeltaRead.snapshot(spark, t).files.map(_.path).toSet
    DeltaWrite.updateWhere(spark, t, $"id" < 50, Seq("id" -> ($"id" + 1000L)))
    val after = DeltaRead.snapshot(spark, t).files.map(_.path).toSet
    // the 100..109 file survives untouched; the 0..9 file was replaced
    assert(after.intersect(before).size == 1)
    assert(DeltaRead.read(spark, t).agg(min($"id")).head.getLong(0) == 100L)
  }

  test("CDF tables record exact update change rows as cdc files") {
    val t = Staging.tempDir("graft_upd4_")
    DeltaWrite.append(spark.range(4).toDF("id"), t)
    DeltaWrite.setProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true"))
    val v = DeltaWrite.updateWhere(spark, t, $"id" >= 2, Seq("id" -> ($"id" * 10L)))
    // the commit itself carries cdc actions (update_preimage/postimage
    // rows in _change_data) — NOT left to add/remove reconstruction,
    // which would mis-report kept rows sharing a touched file
    val commitJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_delta_log", f"$v%020d.json")))
    assert(commitJson.contains("\"cdc\""))
    // the feed surface folds preimage→delete, postimage→insert (the
    // documented two-type contract); kept rows 0,1 must be ABSENT even
    // though their file was rewritten
    val feed = DeltaRead.changesBetween(spark, t, v - 1, v)
      .select($"id", col(DeltaRead.ChangeTypeCol).as("ct"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((2L, "delete"), (3L, "delete"),
      (20L, "insert"), (30L, "insert")))
  }

  test("partition-moving update restages rows under their new partition") {
    val t = Staging.tempDir("graft_upd5_")
    val df = spark.range(20).select($"id", ($"id" % 2).cast("string").as("p"))
    DeltaWrite.append(df, t, Seq("p"))
    DeltaWrite.updateWhere(spark, t, $"id" < 4, Seq("p" -> lit("9")))
    val out = DeltaRead.read(spark, t)
    assert(out.where($"p" === "9").count() == 4)
    assert(out.count() == 20)
    // partitionValues in the log agree with the rewrite
    val parts = DeltaRead.snapshot(spark, t).files
      .flatMap(_.partitionValues.get("p")).toSet
    assert(parts.contains("9"))
  }

  test("refuses unknown, duplicate, identity and generated targets") {
    val t = Staging.tempDir("graft_upd6_")
    DeltaWrite.append(spark.range(3).toDF("id"), t)
    intercept[IllegalArgumentException] {
      DeltaWrite.updateWhere(spark, t, lit(true), Seq("nope" -> lit(1)))
    }
    intercept[IllegalArgumentException] {
      DeltaWrite.updateWhere(spark, t, lit(true),
        Seq("id" -> lit(1L), "ID" -> lit(2L)))
    }
  }
}
