package graft

import graft.io.{DeltaRead, DeltaWrite}
import graft.io.DeltaRead.StatRange
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** add.stats emission (footer min/max/nullCount) and file-level data
  * skipping: pruning is sound (never drops a matching file), effective
  * (a selective range hits few files of a range-laid-out table), and
  * survives checkpoints and column mapping. */
class DeltaStatsSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def newTable(): String = Files.createTempDirectory("deltastats").toString
  private def cleanup(t: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))

  /** 0..999 range-partitioned into ~8 disjoint-id files. */
  private def rangeTable(t: String): Unit = {
    val df = (0 until 1000).map { i =>
      (i.toLong, f"k$i%04d", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i / 100)),
        if (i % 10 == 0) None else Some(i / 10.0))
    }.toDF("id", "txt", "d", "score")
    DeltaWrite.append(df.repartitionByRange(8, $"id"), t)
  }

  test("writer emits typed min/max + nullCount; range predicates prune to the right files") {
    val t = newTable()
    try {
      rangeTable(t)
      val all = DeltaRead.filesAfterSkipping(spark, t, 0L, Nil)
      assert(all.size == 8)
      // every add carries bounds for the long, string and date columns
      all.foreach { f =>
        val st = mapper.readTree(f.stats.get)
        assert(st.get("numRecords").asLong() > 0L)
        Seq("id", "txt", "d").foreach { c =>
          assert(st.get("minValues").has(c), s"minValues.$c missing in ${f.stats.get}")
          assert(st.get("maxValues").has(c), s"maxValues.$c missing")
        }
        assert(st.get("nullCount").get("score").asLong() > 0L) // the i%10 nulls
      }
      // a point lookup on the range-laid-out key hits exactly one file
      assert(DeltaRead.filesAfterSkipping(spark, t, 0L,
        Seq(StatRange.eq("id", 555L))).size == 1)
      // a range crossing one boundary hits at most two
      assert(DeltaRead.filesAfterSkipping(spark, t, 0L,
        Seq(StatRange("id", Some(120L), Some(130L)))).size <= 2)
      // string + date predicates prune too
      assert(DeltaRead.filesAfterSkipping(spark, t, 0L,
        Seq(StatRange.atMost("txt", "k0050"))).size < 8)
      assert(DeltaRead.filesAfterSkipping(spark, t, 0L,
        Seq(StatRange.eq("d", java.time.LocalDate.of(2024, 1, 1)))).size < 8)
      // soundness: skipping + row filter ≡ full scan + row filter
      val viaSkip = DeltaRead.readVersionWhereStats(spark, t, 0L,
        Seq(StatRange("id", Some(120L), Some(130L))))
        .where($"id".between(120, 130)).select($"id").as[Long].collect().sorted
      assert(viaSkip.toSeq == (120L to 130L))
      // out-of-range predicate proves the table empty of matches
      assert(DeltaRead.filesAfterSkipping(spark, t, 0L,
        Seq(StatRange.atLeast("id", 5000L))).isEmpty)
      // unknown column / type mismatch admit everything (sound default)
      assert(DeltaRead.filesAfterSkipping(spark, t, 0L,
        Seq(StatRange.eq("nope", 1L))).size == 8)
      assert(DeltaRead.filesAfterSkipping(spark, t, 0L,
        Seq(StatRange.eq("id", "not-a-number"))).size == 8)
    } finally cleanup(t)
  }

  test("stats survive the checkpoint: pruning works with the JSON prefix deleted") {
    val t = newTable()
    try {
      rangeTable(t)
      DeltaWrite.checkpoint(spark, t)
      // force checkpoint resolution: the JSON commit is gone
      Files.delete(Paths.get(t, "_delta_log", f"${0L}%020d.json"))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      assert(DeltaRead.filesAfterSkipping(spark, t, 0L,
        Seq(StatRange.eq("id", 555L))).size == 1)
      assert(DeltaRead.readVersionWhereStats(spark, t, 0L,
        Seq(StatRange.eq("id", 555L))).where($"id" === 555L).count() == 1L)
    } finally cleanup(t)
  }

  test("column mapping: logical-name predicates prune; persisted stats keys stay physical") {
    val t = newTable()
    try {
      val df = (0 until 400).map(i => (i.toLong, s"v$i", if (i < 200) "a" else "b"))
        .toDF("id", "txt", "grp")
      DeltaWrite.createColumnMapped(df.repartitionByRange(4, $"id"), t,
        partitionBy = Seq("grp"))
      // the raw log carries PHYSICAL stats keys...
      val logLines = Files.readAllLines(
        Paths.get(t, "_delta_log", f"${0L}%020d.json")).asScala.mkString("\n")
      assert(logLines.contains("col-"))
      val addStats = logLines.linesIterator
        .map(mapper.readTree).filter(_.has("add"))
        .map(_.get("add").get("stats").asText()).toList
      assert(addStats.nonEmpty && addStats.forall { s =>
        val keys = mapper.readTree(s).get("minValues").fieldNames().asScala.toSet
        keys.forall(_.startsWith("col-"))
      })
      // ...while skipping works under LOGICAL names
      val hit = DeltaRead.filesAfterSkipping(spark, t, 0L, Seq(StatRange.eq("id", 42L)))
      assert(hit.size < DeltaRead.filesAfterSkipping(spark, t, 0L, Nil).size)
      assert(DeltaRead.readVersionWhereStats(spark, t, 0L,
        Seq(StatRange.eq("id", 42L))).where($"id" === 42L).count() == 1L)
      // checkpointed mapped stats stay physical on disk, logical in use
      DeltaWrite.checkpoint(spark, t)
      val cp = spark.read.parquet(Paths.get(t, "_delta_log").toFile.listFiles()
        .filter(_.getName.endsWith(".checkpoint.parquet")).map(_.toString): _*)
      val cpStats = cp.where(cp("add").isNotNull).selectExpr("add.stats")
        .as[String].collect()
      assert(cpStats.nonEmpty && cpStats.forall { s =>
        mapper.readTree(s).get("minValues").fieldNames().asScala.forall(_.startsWith("col-"))
      })
      Files.delete(Paths.get(t, "_delta_log", f"${0L}%020d.json"))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      assert(DeltaRead.filesAfterSkipping(spark, t, 0L,
        Seq(StatRange.eq("id", 42L))).size == hit.size)
    } finally cleanup(t)
  }

  test("Z-ordered append: stats skipping prunes on EVERY clustered column, linear sort only on its leading one") {
    import graft.io.DeltaRead.StatRange
    val grid = for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong, x * 64L + y)
    val df = grid.toDF("x", "y", "payload")
    val zt = newTable(); val lt = newTable()
    try {
      DeltaWrite.appendZOrdered(df, zt, Seq("x", "y"), numFiles = 16)
      DeltaWrite.append(df.repartitionByRange(16, $"x").sortWithinPartitions($"x"), lt)
      def hits(t: String, preds: Seq[StatRange]) =
        DeltaRead.filesAfterSkipping(spark, t, 0L, preds).size
      val box = Seq(StatRange("x", Some(10L), Some(13L)),
        StatRange("y", Some(10L), Some(13L)))
      // the 2-D box prunes hard under Z-order…
      assert(hits(zt, box) <= 4, s"z-order box hit ${hits(zt, box)} of 16 files")
      // …and a y-only predicate (the NON-leading column of the linear
      // layout) skips nothing there but plenty under Z-order
      val yOnly = Seq(StatRange("y", Some(0L), Some(7L)))
      assert(hits(lt, yOnly) == 16, "linear layout cannot skip on y")
      assert(hits(zt, yOnly) <= 8, s"z-order y-slice hit ${hits(zt, yOnly)}")
      // identical rows either way
      val got = DeltaRead.readVersionWhereStats(spark, zt, 0L, box)
        .where($"x".between(10, 13) && $"y".between(10, 13))
      assert(got.count() == 16L)
    } finally { cleanup(zt); cleanup(lt) }
  }

  test("string bounds compare in unsigned UTF-8 byte order — supplementary-plane rows are never falsely pruned") {
    val t = newTable()
    try {
      // U+FFFF sorts ABOVE the emoji in UTF-16 code units but BELOW it
      // in UTF-8 bytes (EF BF BF < F0 9F 98 80) — and UTF-8 byte order
      // is both parquet's footer-stats order and the engines' string
      // comparison order (Spark UTF8String, DuckDB), so skipping must
      // use it too
      val bmp = "\uFFFF"; val emoji = new String(Character.toChars(0x1F600))
      DeltaWrite.append(Seq((1L, bmp)).toDF("id", "s"), t)
      DeltaWrite.append(Seq((2L, emoji)).toDF("id", "s"), t)
      // s >= U+FFFF semantically matches the emoji row; UTF-16
      // comparison would prune its file (surrogate 0xD83D < 0xFFFF)
      val admitted = DeltaRead.filesAfterSkipping(spark, t, 1L,
        Seq(StatRange.atLeast("s", bmp)))
      assert(admitted.size == 2, "emoji file was falsely pruned")
      val got = DeltaRead.readVersionWhereStats(spark, t, 1L,
        Seq(StatRange.atLeast("s", bmp))).where($"s" >= bmp)
      assert(got.count() == 2L)
      // and the pruning direction still works: s <= U+FFFF excludes
      // the emoji file under byte order
      assert(DeltaRead.filesAfterSkipping(spark, t, 1L,
        Seq(StatRange.atMost("s", bmp))).size == 1)
    } finally cleanup(t)
  }

  test("timestamp columns emit no min/max (format-sensitive) — skipping stays sound") {
    val t = newTable()
    try {
      val df = Seq(
        (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, java.sql.Timestamp.valueOf("2024-06-01 10:00:00"))).toDF("id", "ts")
      DeltaWrite.append(df.coalesce(1), t)
      val st = mapper.readTree(
        DeltaRead.filesAfterSkipping(spark, t, 0L, Nil).head.stats.get)
      assert(st.get("minValues").has("id") && !st.get("minValues").has("ts"))
      // a ts predicate therefore admits the file (no false pruning)
      assert(DeltaRead.filesAfterSkipping(spark, t, 0L,
        Seq(StatRange.eq("ts", "2030-01-01"))).size == 1)
    } finally cleanup(t)
  }
}
