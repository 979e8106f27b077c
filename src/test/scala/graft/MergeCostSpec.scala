package graft

import graft.io.{DeltaRead, DeltaWrite}
import java.nio.file.{Files, Paths}

/** What one [[DeltaWrite.merge]] costs on a multi-file table, observed
  * from outside with [[SparkTestBase.observed]]: the Spark jobs it
  * starts and every parquet scan of its executed plans. The target's
  * key columns are scanned exactly once, only the touched files are
  * re-read and rewritten, and an insert-only merge reads no data file
  * after that one scan. */
class MergeCostSpec extends SparkTestBase {
  import spark.implicits._

  private def newTable(): String = Files.createTempDirectory("mergecost").toString
  private def cleanup(t: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))

  /** Scans of `t`'s data files (not its log or change-data files). */
  private def dataScans(t: String, scans: Seq[Scan]): Seq[Scan] = {
    val root = Paths.get(t).toAbsolutePath.normalize()
    scans.filter(_.paths.exists { p =>
      val path = Paths.get(p)
      path.startsWith(root) && !path.startsWith(root.resolve("_delta_log")) &&
        !path.startsWith(root.resolve("_change_data"))
    })
  }

  private def livePaths(t: String): Set[String] =
    DeltaRead.snapshot(spark, t).files
      .map(f => DeltaRead.dataPath(t, f.path).toAbsolutePath.normalize().toString).toSet

  /** Four range-laid files of 100 rows each: ids [0,100), [100,200), ... */
  private def fourFileTable(): String = {
    val t = newTable()
    DeltaWrite.append((0 until 400).map(i => (i.toLong, s"v$i", i * 2L))
      .toDF("id", "txt", "n").repartitionByRange(4, $"id"), t)
    assert(DeltaRead.snapshot(spark, t).files.size == 4)
    t
  }

  test("an upsert scans the target's keys once and re-reads and rewrites only the touched file") {
    val t = fourFileTable()
    try {
      val before = livePaths(t)
      val holding = DeltaRead.readVersionWithLineage(spark, t, 0L)
        .where($"id" < 10).select(DeltaRead.LineageFile).distinct()
        .as[String].collect().toSet
      assert(holding.size == 1)
      val src = ((0 until 10).map(i => (i.toLong, "upd", -1L)) ++
        (1000 until 1005).map(i => (i.toLong, "new", 0L))).toDF("id", "txt", "n")
      val (_, jobList, scans) = observed(DeltaWrite.merge(spark, t, src, Seq("id")))
      val jobs = jobList.size
      val data = dataScans(t, scans)
      info(s"$jobs Spark jobs; data scans: ${data.map(_.columns.mkString(",")).mkString(" | ")}")
      val keyScans = data.filter(_.paths == before)
      assert(keyScans.size == 1, s"one scan over the live files expected, got $keyScans")
      assert(keyScans.head.columns == Seq("id"), s"key-only projection: $keyScans")
      val rest = data.diff(keyScans)
      assert(rest.nonEmpty && rest.forall(_.paths == holding),
        s"after the key scan only the touched file may be read, got $rest")
      val after = livePaths(t)
      assert(before -- after == holding, "exactly the touched file is removed")
      assert((before - holding.head).subsetOf(after), "untouched files stay live")
      assert(jobs <= 9, s"merge ran $jobs Spark jobs")
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 405L)
      assert(got.where($"txt" === "upd").count() == 10L)
    } finally cleanup(t)
  }

  test("an insert-only merge reads no data file after its one key scan") {
    val t = fourFileTable()
    try {
      val before = livePaths(t)
      val src = (2000 until 2005).map(i => (i.toLong, "new", 0L)).toDF("id", "txt", "n")
      val (v, _, scans) = observed(DeltaWrite.merge(spark, t, src, Seq("id")))
      val data = dataScans(t, scans)
      info(s"data scans: ${data.map(_.columns.mkString(",")).mkString(" | ")}")
      assert(data.size == 1 && data.head.paths == before && data.head.columns == Seq("id"),
        s"exactly one key-only scan of the target expected, got $data")
      assert(v == 1L && before.subsetOf(livePaths(t)), "no file rewritten")
      assert(DeltaRead.read(spark, t).count() == 405L)
    } finally cleanup(t)
  }
}
