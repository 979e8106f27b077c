package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.io.{DeltaRead, DeltaWrite, Staging}
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** A lost commit race inside the copy-on-write DML core
  * ([[DeltaWrite.updateWhere]], [[DeltaWrite.replaceWhere]],
  * [[DeltaWrite.mergeAdvanced]]), made deterministic: a UDF in the
  * statement, the first time it sees one of the table's own rows, lands
  * a commitInfo-only version v+1 the way a concurrent writer would. The
  * first attempt has by then planned against v, so its publish at v+1
  * loses; the retry lands at v+2 and the loser's staged data and
  * `_change_data` files must be gone. */
class CopyOnWriteRaceSpec extends SparkTestBase {
  import spark.implicits._

  /** A CDF table with ids 0..3 (v = 10 * id), at version 1. */
  private def cdfTable(tag: String): String = {
    val t = Staging.tempDir(tag)
    DeltaWrite.append(Seq((0L, 0L), (1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"), t)
    DeltaWrite.setProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true"))
    t
  }

  /** `answer(id)`, except that the first call with an id below 2 (a row
    * only the table holds) first commits version `v + 1` of `t`. */
  private def racing(t: String, v: Long, answer: Long => Boolean): Column = {
    CopyOnWriteRaceSpec.fired.set(false)
    val commitPath = Paths.get(t, "_delta_log", f"${v + 1}%020d.json").toString
    udf { (id: Long) =>
      if (id < 2 && !CopyOnWriteRaceSpec.fired.getAndSet(true))
        Files.write(Paths.get(commitPath), Seq(
          s"""{"commitInfo":{"timestamp":${System.currentTimeMillis()},""" +
            """"operation":"CONCURRENT","engineInfo":"test"}}""").asJava,
          StandardOpenOption.CREATE_NEW)
      answer(id)
    }.apply(col("id"))
  }

  /** Every data path the log of `t` ever added (add and cdc actions). */
  private def loggedPaths(t: String): Set[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val st = Files.list(Paths.get(t, "_delta_log"))
    val commits = try st.iterator().asScala
      .filter(_.getFileName.toString.matches("""\d{20}\.json""")).toList
      finally st.close()
    commits.flatMap(p => Files.readAllLines(p).asScala).flatMap { line =>
      val n = mapper.readTree(line)
      Seq("add", "cdc").flatMap(k => Option(n.get(k)))
        .map(a => new java.net.URI(a.get("path").asText()).getPath)
    }.toSet
  }

  /** Parquet files under `t` (data and `_change_data`), table-relative. */
  private def parquetOnDisk(t: String): Set[String] = {
    val root = Paths.get(t)
    val st = Files.walk(root)
    try st.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(root.relativize(_).toString)
      .filterNot(_.startsWith("_delta_log")).toSet
    finally st.close()
  }

  private def assertLostOnce(t: String, v: Long, got: Long, op: String): Unit = {
    assert(CopyOnWriteRaceSpec.fired.get, "the concurrent commit never landed")
    assert(got == v + 2 && DeltaRead.latestVersion(t) == v + 2,
      s"the retry must land right after the concurrent commit, got $got")
    val info = Files.readAllLines(Paths.get(t, "_delta_log", f"${v + 2}%020d.json"))
      .asScala.head
    assert(info.contains(s""""operation":"$op""""), info)
    val orphans = parquetOnDisk(t) -- loggedPaths(t)
    assert(orphans.isEmpty, s"files the log never referenced: $orphans")
    assert(parquetOnDisk(t).exists(_.startsWith("_change_data/")),
      "the landed commit must carry its change rows")
  }

  private def rows(t: String): Seq[(Long, Long)] =
    DeltaRead.read(spark, t).as[(Long, Long)].collect().sortBy(_._1).toSeq

  /** The change rows version `v` recorded (the feed reads an update's
    * pre- and postimage as delete and insert). */
  private def changes(t: String, v: Long): Set[(Long, Long, String)] =
    DeltaRead.changesBetween(spark, t, v - 1, v)
      .select($"id", $"v", col(DeltaRead.ChangeTypeCol))
      .as[(Long, Long, String)].collect().toSet

  test("updateWhere: a lost race drops its staged files and lands at v+2") {
    val t = cdfTable("graft_cowrace_upd_")
    val v = DeltaRead.latestVersion(t)
    val got = DeltaWrite.updateWhere(spark, t, racing(t, v, _ >= 2),
      Seq("v" -> ($"v" + 1)))
    assertLostOnce(t, v, got, "UPDATE")
    assert(rows(t) == Seq((0L, 0L), (1L, 10L), (2L, 21L), (3L, 31L)))
    assert(changes(t, got) == Set((2L, 20L, "delete"), (3L, 30L, "delete"),
      (2L, 21L, "insert"), (3L, 31L, "insert")))
  }

  test("replaceWhere: a lost race drops its staged files and lands at v+2") {
    val t = cdfTable("graft_cowrace_rw_")
    val v = DeltaRead.latestVersion(t)
    val got = DeltaWrite.replaceWhere(spark, t,
      Seq((2L, 200L), (7L, 700L)).toDF("id", "v"), racing(t, v, _ >= 2))
    assertLostOnce(t, v, got, "REPLACE WHERE")
    assert(rows(t) == Seq((0L, 0L), (1L, 10L), (2L, 200L), (7L, 700L)))
    assert(changes(t, got) == Set((2L, 20L, "delete"), (3L, 30L, "delete"),
      (2L, 200L, "insert"), (7L, 700L, "insert")))
  }

  test("mergeAdvanced: a lost race drops its staged files and lands at v+2") {
    val t = cdfTable("graft_cowrace_merge_")
    val v = DeltaRead.latestVersion(t)
    // the matched condition reads the TARGET row, so it is evaluated in
    // the rewrite of the touched files, after pass 1
    val got = DeltaWrite.mergeAdvanced(spark, t,
      Seq((1L, 100L), (9L, 900L)).toDF("id", "v"), Seq("id"),
      matched = Seq(DeltaWrite.MergeUpdateWhen(Some(racing(t, v, _ => true)),
        Seq("v" -> DeltaWrite.mergeSrc("v")))),
      notMatched = Seq(DeltaWrite.MergeInsertWhen(None,
        Seq("id" -> $"id", "v" -> $"v"))))
    assertLostOnce(t, v, got, "MERGE")
    assert(rows(t) == Seq((0L, 0L), (1L, 100L), (2L, 20L), (3L, 30L), (9L, 900L)))
    assert(changes(t, got) == Set((1L, 10L, "delete"), (1L, 100L, "insert"),
      (9L, 900L, "insert")))
  }
}

object CopyOnWriteRaceSpec {
  /** Shared by the racing UDF — local mode keeps one JVM. */
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
}
