package graft

import graft.clean.Cleaner
import graft.functions.NativeHelpers
import graft.io.{FileBackedSource, Ingest, Sinks, Volumetry}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

class IoCleanerSpec extends SparkTestBase {
  import spark.implicits._

  /** A scratch .jsonl file in the temp dir, deleted on JVM exit. */
  private def jsonlFile(tag: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempFile(tag, ".jsonl")
    p.toFile.deleteOnExit()
    p
  }

  test("paged ingestion: file-backed source, partition-per-page, schema coercion") {
    val tmp = jsonlFile("graft_pages")
    val rows = (1 to 25).map(i => s"""{"id": $i, "name": "row$i"}""")
    java.nio.file.Files.writeString(tmp, rows.mkString("\n"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val df = Ingest.ingest(spark, new FileBackedSource(tmp.toString),
      numPages = 5, pageSize = 10, schema = schema)
    assert(df.count() == 25)
    assert(df.agg(sum($"id")).collect()(0).getLong(0) == 325)
  }

  test("DSv2 graft-paged source: partition-per-page, probe, parse parity with Ingest") {
    val tmp = jsonlFile("graft_dsv2")
    val rows = (1 to 103).map(i => s"""{"id": $i, "name": "row$i"}""")
    java.nio.file.Files.writeString(tmp, rows.mkString("\n"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))

    // short-name registration + explicit numPages
    val raw = spark.read.format("graft-paged")
      .option("path", tmp.toString).option("pageSize", "10").option("numPages", "11")
      .load()
    assert(raw.rdd.getNumPartitions == 11, "one InputPartition per page")
    val typed = raw.select(from_json($"json", schema).as("r")).select("r.*")
    assert(typed.count() == 103)
    assert(typed.agg(sum($"id")).collect()(0).getLong(0) == 103L * 104 / 2)

    // stop-on-empty probe: numPages omitted -> ceil(103/10) = 11 pages
    val probed = spark.read.format("graft-paged")
      .option("path", tmp.toString).option("pageSize", "10").load()
    assert(probed.rdd.getNumPartitions == 11, "probe must find ceil(103/10) pages")
    assert(probed.count() == 103)

    // parity with the flatMap-based Ingest path
    val viaIngest = Ingest.ingest(spark, new FileBackedSource(tmp.toString),
      numPages = 11, pageSize = 10, schema = schema)
    assert(typed.exceptAll(viaIngest).count() == 0 && viaIngest.exceptAll(typed).count() == 0)

    // probe edge: empty file -> zero partitions, zero rows
    val empty = jsonlFile("graft_dsv2_empty")
    val e = spark.read.format("graft-paged")
      .option("path", empty.toString).option("pageSize", "10").load()
    assert(e.count() == 0)
  }

  test("dropAllNullColumns keeps populated, drops empty") {
    val df = Seq((1, Option.empty[String], "x"), (2, Option.empty[String], "y"))
      .toDF("a", "empty", "c")
    assert(Ingest.dropAllNullColumns(df).columns.toSeq == Seq("a", "c"))
  }

  test("coerceTo adds missing columns as typed nulls and casts present ones") {
    val df = Seq(("1", "x")).toDF("id", "name")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("extra", DoubleType)))
    val out = Ingest.coerceTo(df, schema)
    assert(out.schema == schema)
    assert(out.collect()(0).getLong(0) == 1L)
    assert(out.collect()(0).isNullAt(2))
  }

  test("cleaner pipeline: pk filter + sentinel nulls + dedup latest") {
    val df = Seq(
      (Some(1L), "click", 10.0), (Some(1L), "view", 20.0),
      (None, "error", 0.0), (Some(2L), "N/A", 5.0))
      .toDF("event_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + $"value"))
    val out = Cleaner.pipeline(
      Cleaner.filterValidPk("event_id"),
      Cleaner.normalizeNulls(Seq("event_type")),
      Cleaner.dedupLatest("event_id", "ts"),
      Cleaner.fillStringDefaults(Map("event_type" -> "unknown")))(df)
    val rows = out.orderBy("event_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "view")      // latest by ts for id 1
    assert(rows(1).getString(1) == "unknown")   // sentinel 'N/A' -> filled
  }

  test("conflict-skip insert SQL text") {
    assert(Sinks.insertSql("t", Seq("a", "b"), Seq("a")) ==
      "INSERT INTO t (a, b) VALUES (?, ?) ON CONFLICT (a) DO NOTHING")
  }

  test("volumetry report JSON is valid-ish and complete") {
    val json = Volumetry.reportJson(spark, sf)
    assert(json.contains("\"lineitem\"") && json.contains("table_counts")
      && json.contains("top10"))
  }

  test("word-boundary pattern: whole words only, escaped metacharacters") {
    import graft.functions.Classify
    val df = Seq("a join here", "conjoined words", "sort-of ok", "nothing").toDF("t")
    val got = df.filter($"t".rlike(Classify.wordBoundaryPattern(Seq("join", "sort"))))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("a join here", "sort-of ok")) // \b matches at '-'; not inside "conjoined"
  }

  test("nestedToJsonStrings flattens struct/array columns to JSON text") {
    val df = Seq((1, Seq("a", "b"))).toDF("id", "tags")
    val out = Ingest.nestedToJsonStrings(df)
    assert(out.schema("tags").dataType == StringType)
    assert(out.collect()(0).getString(1) == """["a","b"]""")
  }

  test("multimodal fake decode is deterministic and within bounds") {
    import graft.operators.Multimodal
    val m1 = Multimodal.mediaTable(Tables.documents(spark, sf).limit(3), "text")
      .select("decoded.width", "decoded.height", "decoded.n_frames").collect()
    val m2 = Multimodal.mediaTable(Tables.documents(spark, sf).limit(3), "text")
      .select("decoded.width", "decoded.height", "decoded.n_frames").collect()
    assert(m1.toSeq == m2.toSeq)
    assert(m1.forall(r => r.getInt(0) >= 32 && r.getInt(1) >= 32 && r.getInt(2) >= 1))
  }

  test("native numeric helper: reference rules incl. mixed-format null") {
    def p(s: String): java.lang.Double = NativeHelpers.parse(UTF8String.fromString(s))
    assert(p("1.234,56") == 1234.56)
    assert(p("185,22") == 18522.0)
    assert(p("1,234.56") == null)
    assert(p("  42 ") == 42.0)
    assert(p("x") == null)
  }

  test("native repairJson keeps apostrophes inside words") {
    def r(s: String): String = NativeHelpers.repairJson(UTF8String.fromString(s)).toString
    assert(r("['Lee's team', 'b']") == "[\"Lee's team\", \"b\"]")
    assert(r("""["already", "fine"]""") == """["already", "fine"]""")
  }

  test("native expressions callable from SQL after registration") {
    val got = spark.sql(
      "SELECT normalize_numeric_native('1.234,56') AS a, repair_json_native(\"['x']\") AS b")
      .collect()(0)
    assert(got.getDouble(0) == 1234.56 && got.getString(1) == "[\"x\"]")
  }
}
