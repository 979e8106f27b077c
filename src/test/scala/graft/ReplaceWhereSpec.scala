package graft

import org.apache.spark.sql.functions._

import graft.io.{DeltaRead, DeltaWrite, Staging}

/** [[DeltaWrite.replaceWhere]] — the one-commit predicate overwrite
  * under `INSERT OVERWRITE ... PARTITION`. */
class ReplaceWhereSpec extends SparkTestBase {
  import spark.implicits._

  test("replaces matching rows, keeps the rest, one commit") {
    val t = Staging.tempDir("graft_rw1_")
    DeltaWrite.append(spark.range(10).select($"id",
      ($"id" % 3).cast("string").as("p")), t, Seq("p"))
    val v0 = DeltaRead.latestVersion(t)
    val repl = Seq((100L, "1"), (101L, "1")).toDF("id", "p")
    val v1 = DeltaWrite.replaceWhere(spark, t, repl, $"p" === "1")
    assert(v1 == v0 + 1, "exactly one commit")
    val out = DeltaRead.read(spark, t).as[(Long, String)].collect().toSet
    val keptIds = (0L until 10L).filter(i => i % 3 != 1).map(i => (i, (i % 3).toString))
    assert(out == (keptIds.toSet ++ Set((100L, "1"), (101L, "1"))))
  }

  test("partition-aligned predicate leaves other partitions' files untouched") {
    val t = Staging.tempDir("graft_rw2_")
    DeltaWrite.append(spark.range(30).select($"id",
      ($"id" % 2).cast("string").as("p")), t, Seq("p"))
    val before = DeltaRead.snapshot(spark, t).files
      .filter(_.partitionValues.get("p").contains("0")).map(_.path).toSet
    DeltaWrite.replaceWhere(spark, t,
      Seq((500L, "1")).toDF("id", "p"), $"p" === "1")
    val after = DeltaRead.snapshot(spark, t).files
      .filter(_.partitionValues.get("p").contains("0")).map(_.path).toSet
    assert(before == after, "p=0 files must keep their bytes")
  }

  test("NULL-predicate rows are kept; empty frame is a pure delete") {
    val t = Staging.tempDir("graft_rw3_")
    DeltaWrite.append(Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("id", "v"), t)
    // v > 10 is NULL for id=2: kept, like UPDATE/DELETE semantics
    DeltaWrite.replaceWhere(spark, t,
      spark.emptyDataset[(Long, Option[Long])].toDF("id", "v"), $"v" > 10)
    val ids = DeltaRead.read(spark, t).select($"id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L))
  }

  test("rows outside the predicate refuse — never silent duplication") {
    val t = Staging.tempDir("graft_rw6_")
    DeltaWrite.append(spark.range(10).select($"id",
      ($"id" % 3).cast("string").as("p")), t, Seq("p"))
    val v0 = DeltaRead.latestVersion(t)
    // the reload frame carries a p=2 row under a p=1 predicate: without
    // the constraint check it would land in the untouched partition —
    // silent duplication the commit claims not to make
    val bad = Seq((100L, "1"), (666L, "2")).toDF("id", "p")
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.replaceWhere(spark, t, bad, $"p" === "1")
    }
    assert(e.getMessage.contains("NOT matching the replacement predicate"))
    assert(DeltaRead.latestVersion(t) == v0, "no commit may land")
    // NULL predicate rows are outside too (they would be KEPT on the
    // delete side — inserting them under the predicate is the same lie)
    val nullSide = Seq((5L, null.asInstanceOf[String])).toDF("id", "p")
    intercept[IllegalArgumentException] {
      DeltaWrite.replaceWhere(spark, t, nullSide, $"p" === "1")
    }
  }

  test("a source that moves between the pre-check and the write aborts the stage") {
    val t = Staging.tempDir("graft_rw7_")
    DeltaWrite.append(spark.range(6).select($"id",
      ($"id" % 3).cast("string").as("p")), t, Seq("p"))
    val v0 = DeltaRead.latestVersion(t)
    // a nondeterministic source: first full evaluation yields p='1'
    // (passing the friendly pre-check), later evaluations yield p='2'
    // (outside the predicate). Without the in-write assert_true guard
    // the staged batch would carry the p='2' row into a commit that
    // claims to only touch p='1'.
    ReplaceWhereSpec.flips.set(0)
    val flip = udf { () =>
      if (ReplaceWhereSpec.flips.getAndIncrement() == 0) "1" else "2"
    }.asNondeterministic()
    val moving = Seq(100L).toDF("id").withColumn("p", flip())
    val e = intercept[Throwable] {
      DeltaWrite.replaceWhere(spark, t, moving, $"p" === "1")
    }
    // the guard fires inside a Spark job — unwrap to the message
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(e).exists(_.contains("does NOT match the replacement")),
      s"expected the staged-write guard, got: ${messages(e).mkString(" | ")}")
    assert(DeltaRead.latestVersion(t) == v0, "no commit may land")
    val out = DeltaRead.read(spark, t).where($"id" === 100L).count()
    assert(out == 0, "the moving row must not have been committed")
  }

  test("CDF tables record exact delete/insert change rows") {
    val t = Staging.tempDir("graft_rw4_")
    DeltaWrite.append(spark.range(4).toDF("id"), t)
    DeltaWrite.setProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true"))
    val v = DeltaWrite.replaceWhere(spark, t,
      Seq(77L).toDF("id"), $"id" >= 2)
    val feed = DeltaRead.changesBetween(spark, t, v - 1, v)
      .select($"id", col(DeltaRead.ChangeTypeCol).as("ct"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((2L, "delete"), (3L, "delete"), (77L, "insert")))
  }

  test("schema drift and identity tables refuse") {
    val t = Staging.tempDir("graft_rw5_")
    DeltaWrite.append(spark.range(3).toDF("id"), t)
    intercept[IllegalArgumentException] {
      DeltaWrite.replaceWhere(spark, t,
        Seq(("x", 1L)).toDF("s", "id"), lit(true))
    }
  }
}

object ReplaceWhereSpec {
  /** Shared by the moving-source UDF — local mode keeps one JVM. */
  val flips = new java.util.concurrent.atomic.AtomicInteger(0)
}
