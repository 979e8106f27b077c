package graft

import graft.io.DeltaRead
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The read-only `_delta_log` reader against hand-authored fixtures
  * that follow the public Delta protocol: JSON commits (add / remove /
  * metaData actions), time travel by replay, partition-column
  * re-attachment from partitionValues, and checkpoint-then-tail
  * resolution (proven by deleting the pre-checkpoint JSON). */
class DeltaReadSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def newTable(): String =
    Files.createTempDirectory("deltaread").toString

  private def cleanup(t: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))

  /** Write one spark DataFrame as a single parquet file at
    * `table/relPath`, creating parent dirs. */
  private def writeDataFile(df: org.apache.spark.sql.DataFrame,
      table: String, relPath: String): Unit = {
    val staged = Files.createTempDirectory("deltastage").toString
    df.coalesce(1).write.mode("overwrite").parquet(staged)
    val part = new java.io.File(staged).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dest = Paths.get(table, relPath)
    Files.createDirectories(dest.getParent)
    Files.move(part.toPath, dest)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staged))
  }

  private def metaAction(schemaJson: String, partCols: Seq[String],
      configuration: Map[String, String] = Map.empty): String = {
    val root = mapper.createObjectNode()
    val meta = root.putObject("metaData")
    meta.put("id", "fixture").put("schemaString", schemaJson)
    val pc = meta.putArray("partitionColumns")
    partCols.foreach(pc.add)
    val conf = meta.putObject("configuration")
    configuration.foreach { case (k, v) => conf.put(k, v) }
    mapper.writeValueAsString(root)
  }

  private def addAction(path: String, pv: Map[String, String] = Map.empty): String = {
    val root = mapper.createObjectNode()
    val add = root.putObject("add")
    add.put("path", path).put("dataChange", true)
    val pvN = add.putObject("partitionValues")
    pv.foreach { case (k, v) => pvN.put(k, v) }
    mapper.writeValueAsString(root)
  }

  private def removeAction(path: String): String = {
    val root = mapper.createObjectNode()
    root.putObject("remove").put("path", path)
    mapper.writeValueAsString(root)
  }

  private def writeCommit(table: String, v: Long, actions: Seq[String]): Unit = {
    val ld = Paths.get(table, "_delta_log")
    Files.createDirectories(ld)
    Files.write(ld.resolve(f"$v%020d.json"), actions.asJava)
  }

  test("add/remove replay: head sees live files only; time travel replays to any version") {
    val t = newTable()
    try {
      val a = (1 to 10).map(i => (i.toLong, s"a$i")).toDF("id", "v")
      val b = (11 to 30).map(i => (i.toLong, s"b$i")).toDF("id", "v")
      writeDataFile(a, t, "part-a.parquet")
      writeDataFile(b, t, "part-b.parquet")
      writeCommit(t, 0, Seq(metaAction(a.schema.json, Nil), addAction("part-a.parquet")))
      writeCommit(t, 1, Seq(addAction("part-b.parquet")))
      writeCommit(t, 2, Seq(removeAction("part-a.parquet")))
      assert(DeltaRead.latestVersion(t) == 2L)
      assert(DeltaRead.read(spark, t).agg(sum($"id")).collect()(0).getLong(0) ==
        (11 to 30).sum.toLong, "head must exclude the removed file")
      assert(DeltaRead.readVersion(spark, t, 1).count() == 30, "v1 = both files")
      assert(DeltaRead.readVersion(spark, t, 0).count() == 10, "v0 = first file")
    } finally cleanup(t)
  }

  test("staged-but-unreferenced files are invisible (snapshot semantics)") {
    val t = newTable()
    try {
      val a = (1 to 10).map(i => (i.toLong, "x")).toDF("id", "v")
      writeDataFile(a, t, "part-a.parquet")
      writeDataFile(a, t, "part-orphan.parquet") // no add action anywhere
      writeCommit(t, 0, Seq(metaAction(a.schema.json, Nil), addAction("part-a.parquet")))
      assert(DeltaRead.read(spark, t).count() == 10)
    } finally cleanup(t)
  }

  test("partitioned table: partition columns re-attach from the log with schema types") {
    val t = newTable()
    try {
      // Delta does not store partition columns inside the data files —
      // write them WITHOUT the column, declare them via partitionValues
      val es = (1 to 5).map(i => (i.toLong, s"e$i")).toDF("id", "v")
      val fr = (6 to 9).map(i => (i.toLong, s"f$i")).toDF("id", "v")
      writeDataFile(es, t, "cc=ES/part-0.parquet")
      writeDataFile(fr, t, "cc=FR/part-0.parquet")
      val full = es.withColumn("cc", lit("ES")) // schema INCLUDES the partition col
      writeCommit(t, 0, Seq(
        metaAction(full.schema.json, Seq("cc")),
        addAction("cc=ES/part-0.parquet", Map("cc" -> "ES")),
        addAction("cc=FR/part-0.parquet", Map("cc" -> "FR"))))
      val got = DeltaRead.read(spark, t)
      assert(got.columns.toSet == Set("id", "v", "cc"))
      assert(got.groupBy($"cc").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("ES" -> 5L, "FR" -> 4L))
      // partition value carries the schemaString type
      assert(got.schema("cc").dataType == org.apache.spark.sql.types.StringType)
    } finally cleanup(t)
  }

  test("checkpoint-then-tail: reader starts at the checkpoint even with the JSON prefix gone") {
    val t = newTable()
    try {
      val a = (1 to 10).map(i => (i.toLong, "a")).toDF("id", "v")
      val b = (11 to 20).map(i => (i.toLong, "b")).toDF("id", "v")
      val c = (21 to 25).map(i => (i.toLong, "c")).toDF("id", "v")
      writeDataFile(a, t, "part-a.parquet")
      writeDataFile(b, t, "part-b.parquet")
      writeDataFile(c, t, "part-c.parquet")
      writeCommit(t, 0, Seq(metaAction(a.schema.json, Nil), addAction("part-a.parquet")))
      writeCommit(t, 1, Seq(addAction("part-b.parquet"), removeAction("part-a.parquet")))
      // checkpoint at v1: live state = {part-b}, one action per row
      val cpRows = Seq(
        (Some(("part-b.parquet", Map.empty[String, String])), None: Option[(String, Seq[String])]),
        (None, Some((a.schema.json, Seq.empty[String]))))
        .toDF("addRaw", "metaRaw")
        .select(
          when($"addRaw".isNotNull,
            struct($"addRaw._1".as("path"), $"addRaw._2".as("partitionValues"))).as("add"),
          when($"metaRaw".isNotNull,
            struct($"metaRaw._1".as("schemaString"),
              $"metaRaw._2".as("partitionColumns"))).as("metaData"))
      // single-file checkpoint at the protocol name
      val stagedDir = Files.createTempDirectory("cpstage").toString
      cpRows.coalesce(1).write.mode("overwrite").parquet(stagedDir)
      val partFile = new java.io.File(stagedDir).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(partFile.toPath,
        Paths.get(t, "_delta_log", f"${1L}%020d.checkpoint.parquet"))
      Files.write(Paths.get(t, "_delta_log", "_last_checkpoint"),
        Seq("""{"version":1,"size":2}""").asJava)
      // tail after the checkpoint
      writeCommit(t, 2, Seq(addAction("part-c.parquet")))
      // delete the pre-checkpoint JSON: replay-from-zero is now impossible,
      // so a correct read PROVES the checkpoint path is taken
      Files.delete(Paths.get(t, "_delta_log", f"${0L}%020d.json"))
      Files.delete(Paths.get(t, "_delta_log", f"${1L}%020d.json"))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 15, "checkpoint live set {b} + tail add {c}")
      assert(got.agg(sum($"id")).collect()(0).getLong(0) ==
        ((11 to 20) ++ (21 to 25)).sum.toLong)
    } finally cleanup(t)
  }

  // ---------------- deletion vectors ----------------

  private def addActionDv(path: String, d: graft.io.DeltaDv.Descriptor,
      pv: Map[String, String] = Map.empty): String = {
    val root = mapper.createObjectNode()
    val add = root.putObject("add")
    add.put("path", path).put("dataChange", true)
    val pvN = add.putObject("partitionValues")
    pv.foreach { case (k, v) => pvN.put(k, v) }
    val dv = add.putObject("deletionVector")
    dv.put("storageType", d.storageType).put("pathOrInlineDv", d.pathOrInlineDv)
    d.offset.foreach(o => dv.put("offset", o))
    dv.put("sizeInBytes", d.sizeInBytes).put("cardinality", d.cardinality)
    mapper.writeValueAsString(root)
  }

  private def protocolAction(readerFeatures: Seq[String]): String = {
    val root = mapper.createObjectNode()
    val p = root.putObject("protocol")
    p.put("minReaderVersion", 3).put("minWriterVersion", 7)
    val rf = p.putArray("readerFeatures"); readerFeatures.foreach(rf.add)
    val wf = p.putArray("writerFeatures"); readerFeatures.foreach(wf.add)
    mapper.writeValueAsString(root)
  }

  test("z85 + portable bitmap roundtrip, incl. a >32-bit row index") {
    import graft.io.DeltaDv
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val bytes = Array.fill(4 * (1 + rnd.nextInt(12)))(rnd.nextInt().toByte)
      assert(DeltaDv.z85Decode(DeltaDv.z85Encode(bytes)).toSeq == bytes.toSeq)
    }
    // multi-bitmap payload: indexes above 2^32 land in bitmap key 1
    val rows = Seq(0L, 5L, 4094967296L, (1L << 32) | 7L)
    val t = newTable()
    try {
      val d = DeltaDv.writeDvFile(t, rows)
      assert(DeltaDv.deletedRows(t, d).toSeq == rows.sorted)
      val inline = DeltaDv.inlineDescriptor(rows)
      assert(DeltaDv.deletedRows(t, inline).toSeq == rows.sorted)
    } finally cleanup(t)
  }

  test("deletion vector (u, with prefix dir) masks flagged rows; pre-DV version sees all") {
    import graft.io.DeltaDv
    val t = newTable()
    try {
      val a = (0 to 9).map(i => (i.toLong, s"r$i")).toDF("id", "v")
      writeDataFile(a, t, "part-a.parquet")
      writeCommit(t, 0, Seq(protocolAction(Seq("deletionVectors")),
        metaAction(a.schema.json, Nil), addAction("part-a.parquet")))
      // DV flags row indexes 1, 3, 7; exercise the prefix-dir form of
      // the uuid path ("ab" + z85 uuid -> t/ab/deletion_vector_<uuid>.bin)
      val d0 = DeltaDv.writeDvFile(t, Seq(1L, 3L, 7L))
      val d = d0.copy(pathOrInlineDv = "ab" + d0.pathOrInlineDv)
      Files.createDirectories(Paths.get(t, "ab"))
      Files.move(DeltaDv.dvFile(t, d0), DeltaDv.dvFile(t, d))
      writeCommit(t, 1, Seq(addActionDv("part-a.parquet", d)))
      val head = DeltaRead.read(spark, t).select($"id").collect().map(_.getLong(0)).toSet
      assert(head == Set(0L, 2L, 4L, 5L, 6L, 8L, 9L),
        s"rows at indexes 1/3/7 must be hidden, got $head")
      // time travel to the pre-DV commit resurrects nothing wrongly
      assert(DeltaRead.readVersion(spark, t, 0).count() == 10)
    } finally cleanup(t)
  }

  test("inline (i) deletion vector on a partitioned table masks within the right partition") {
    import graft.io.DeltaDv
    val t = newTable()
    try {
      val es = (0 to 4).map(i => (i.toLong, s"e$i")).toDF("id", "v")
      val fr = (10 to 14).map(i => (i.toLong, s"f$i")).toDF("id", "v")
      writeDataFile(es, t, "lang=es/part-es.parquet")
      writeDataFile(fr, t, "lang=fr/part-fr.parquet")
      val schema = es.schema.add("lang", org.apache.spark.sql.types.StringType)
      writeCommit(t, 0, Seq(protocolAction(Seq("deletionVectors")),
        metaAction(schema.json, Seq("lang")),
        addAction("lang=es/part-es.parquet", Map("lang" -> "es")),
        addAction("lang=fr/part-fr.parquet", Map("lang" -> "fr"))))
      // drop row indexes 0 and 4 of the es file only
      writeCommit(t, 1, Seq(addActionDv("lang=es/part-es.parquet",
        DeltaDv.inlineDescriptor(Seq(0L, 4L)), Map("lang" -> "es"))))
      val got = DeltaRead.read(spark, t)
        .groupBy($"lang").agg(sum($"id").as("s"), count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got("es") == (1L + 2L + 3L, 3L), s"es must lose ids 0 and 4: $got")
      assert(got("fr") == ((10 to 14).sum.toLong, 5L), "fr untouched")
    } finally cleanup(t)
  }

  test("DV'd add inside a foreign checkpoint decodes and masks") {
    import graft.io.DeltaDv
    import org.apache.spark.sql.types._
    val t = newTable()
    try {
      val a = (0 to 9).map(i => (i.toLong, s"r$i")).toDF("id", "v")
      writeDataFile(a, t, "part-a.parquet")
      val d = DeltaDv.writeDvFile(t, Seq(2L, 5L))
      // hand-authored checkpoint parquet whose add row carries the
      // deletionVector struct (what a Databricks writer checkpoints)
      val cpSchema = StructType(Seq(
        StructField("protocol", StructType(Seq(
          StructField("minReaderVersion", IntegerType),
          StructField("readerFeatures", ArrayType(StringType))))),
        StructField("metaData", StructType(Seq(
          StructField("id", StringType), StructField("schemaString", StringType),
          StructField("partitionColumns", ArrayType(StringType)),
          StructField("configuration", MapType(StringType, StringType))))),
        StructField("add", StructType(Seq(
          StructField("path", StringType),
          StructField("partitionValues", MapType(StringType, StringType)),
          StructField("deletionVector", StructType(Seq(
            StructField("storageType", StringType),
            StructField("pathOrInlineDv", StringType),
            StructField("offset", IntegerType),
            StructField("sizeInBytes", IntegerType),
            StructField("cardinality", LongType)))))))))
      import org.apache.spark.sql.Row
      val rows = Seq(
        Row(Row(3, Seq("deletionVectors")), null, null),
        Row(null, Row("fix", a.schema.json, Seq.empty[String],
          Map.empty[String, String]), null),
        Row(null, null, Row("part-a.parquet", Map.empty[String, String],
          Row(d.storageType, d.pathOrInlineDv, d.offset.get, d.sizeInBytes,
            d.cardinality))))
      val cpDf = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), cpSchema)
      val stagedDir = Files.createTempDirectory("cpdvstage").toString
      cpDf.coalesce(1).write.mode("overwrite").parquet(stagedDir)
      val partFile = new java.io.File(stagedDir).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(t, "_delta_log"))
      Files.move(partFile.toPath,
        Paths.get(t, "_delta_log", f"${0L}%020d.checkpoint.parquet"))
      Files.write(Paths.get(t, "_delta_log", "_last_checkpoint"),
        Seq("""{"version":0,"size":3}""").asJava)
      val got = DeltaRead.read(spark, t).select($"id").collect().map(_.getLong(0)).toSet
      assert(got == Set(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L),
        s"checkpoint-carried DV must hide indexes 2 and 5, got $got")
    } finally cleanup(t)
  }

  test("torn or mismatched DV fails loudly instead of mis-masking") {
    import graft.io.DeltaDv
    val t = newTable()
    try {
      val d = DeltaDv.writeDvFile(t, Seq(1L, 2L))
      // corrupt one payload byte: CRC must catch it
      val f = DeltaDv.dvFile(t, d)
      val bytes = Files.readAllBytes(f)
      bytes(7) = (bytes(7) ^ 0x7f).toByte
      Files.write(f, bytes)
      val e = intercept[Exception](DeltaDv.deletedRows(t, d))
      assert(e.getMessage.contains("checksum") || e.getMessage.contains("magic"),
        s"expected checksum/magic failure, got: ${e.getMessage}")
      // descriptor lying about cardinality must also fail
      val d2 = DeltaDv.writeDvFile(t, Seq(1L, 2L))
      val e2 = intercept[IllegalArgumentException](
        DeltaDv.deletedRows(t, d2.copy(cardinality = 99)))
      assert(e2.getMessage.contains("cardinality"))
    } finally cleanup(t)
  }

  // ——— column mapping (PROTOCOL.md "Column Mapping") ———

  private def mappingMeta(phys: String, id: Long) =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()

  test("name-mode column mapping: physical parquet names resolve to logical, nested included") {
    import org.apache.spark.sql.types._
    val t = newTable()
    try {
      // files store UUID-ish physical names at BOTH nesting levels
      val physDf = Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
        .toDF("c1", "c2", "c3")
        .select($"c1".as("col-aaa"),
          struct($"c2".as("col-xx"), $"c3".as("col-yy")).as("col-bbb"))
      writeDataFile(physDf, t, "f0.parquet")
      // an older file from before `info` was added: reads as null struct
      writeDataFile(Seq(Tuple1(9L)).toDF("col-aaa"), t, "f1.parquet")
      val logical = StructType(Seq(
        StructField("id", LongType, nullable = true, mappingMeta("col-aaa", 1)),
        StructField("info", StructType(Seq(
          StructField("x", LongType, nullable = true, mappingMeta("col-xx", 3)),
          StructField("y", StringType, nullable = true, mappingMeta("col-yy", 4)))),
          nullable = true, mappingMeta("col-bbb", 2))))
      writeCommit(t, 0, Seq(
        metaAction(logical.json, Nil, Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> "4")),
        addAction("f0.parquet"), addAction("f1.parquet")))
      val got = DeltaRead.read(spark, t)
      assert(got.columns.toSeq == Seq("id", "info"))
      assert(got.schema("info").dataType.asInstanceOf[StructType]
        .fieldNames.toSeq == Seq("x", "y"), "nested fields must be renamed too")
      val rows = got.selectExpr("id", "info.x", "info.y").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
          Option(r.getString(2)).getOrElse("-"))).toSet
      assert(rows == Set((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"),
        (9L, -1L, "-")), "old file must surface the added column as null")
    } finally cleanup(t)
  }

  test("id-mode column mapping, partitioned: physical partitionValues keys surface as logical") {
    import org.apache.spark.sql.types._
    val t = newTable()
    try {
      writeDataFile(Seq(Tuple1(1L), Tuple1(2L)).toDF("col-id"), t, "es/f0.parquet")
      writeDataFile(Seq(Tuple1(3L)).toDF("col-id"), t, "fr/f1.parquet")
      val logical = StructType(Seq(
        StructField("id", LongType, nullable = true, mappingMeta("col-id", 1)),
        StructField("lang", StringType, nullable = true, mappingMeta("col-lang", 2))))
      writeCommit(t, 0, Seq(
        metaAction(logical.json, Seq("lang"), Map("delta.columnMapping.mode" -> "id")),
        // the protocol keys partitionValues by PHYSICAL name
        addAction("es/f0.parquet", Map("col-lang" -> "es")),
        addAction("fr/f1.parquet", Map("col-lang" -> "fr"))))
      val got = DeltaRead.read(spark, t)
      assert(got.columns.sorted.toSeq == Seq("id", "lang"))
      assert(got.groupBy($"lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("es" -> 2L, "fr" -> 1L))
      // file-list pruning sees LOGICAL keys (translated once in snapshotAt)
      val pruned = DeltaRead.readVersionWhere(spark, t, 0L)(
        pv => pv.get("lang").contains("fr"))
      assert(pruned.select($"id").collect().map(_.getLong(0)).toSeq == Seq(3L))
    } finally cleanup(t)
  }

  test("column mapping + deletion vector compose: mask applies under physical names") {
    import graft.io.DeltaDv
    import org.apache.spark.sql.types._
    val t = newTable()
    try {
      writeDataFile((0 to 9).map(i => Tuple1(i.toLong)).toDF("col-v"), t, "f0.parquet")
      val logical = StructType(Seq(
        StructField("v", LongType, nullable = true, mappingMeta("col-v", 1))))
      val d = DeltaDv.writeDvFile(t, Seq(0L, 4L, 9L))
      writeCommit(t, 0, Seq(
        protocolAction(Seq("deletionVectors", "columnMapping")),
        metaAction(logical.json, Nil, Map("delta.columnMapping.mode" -> "name")),
        addActionDv("f0.parquet", d)))
      assert(DeltaRead.read(spark, t).select($"v").collect()
        .map(_.getLong(0)).toSet == (0L to 9L).toSet -- Set(0L, 4L, 9L))
    } finally cleanup(t)
  }
}
