package graft

import graft.io.{DeltaRead, DeltaWrite}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The Delta writer against its own reader AND against the raw
  * protocol shape: commit JSON contents (protocol / metaData / add
  * with stats), Hive-layout partition dirs with URI-escaped values,
  * append schema-drift rejection, overwrite as remove+add, checkpoint
  * + `_last_checkpoint` resolution (deletion vectors and feature-listed
  * protocols persist through checkpoints; compaction purges DVs), the
  * DV write path (deleteWhere/deleteIn), the full change data feed,
  * and the reader's loud rejection of genuinely unsupported features
  * (v2 checkpoints, unknown reader features). */
class DeltaWriteSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def newTable(): String =
    Files.createTempDirectory("deltawrite").toString

  private def cleanup(t: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))

  private def commitLines(t: String, v: Long): Seq[String] =
    Files.readAllLines(Paths.get(t, "_delta_log", f"$v%020d.json")).asScala.toSeq

  test("unpartitioned roundtrip: append then read is value-identical; v0 carries protocol+metaData") {
    val t = newTable()
    try {
      val df = (1 to 100).map(i => (i.toLong, s"d$i", i % 7)).toDF("id", "txt", "grp")
      assert(DeltaWrite.append(df, t) == 0L)
      val got = DeltaRead.read(spark, t)
      assert(got.columns.sorted.sameElements(Array("grp", "id", "txt")))
      assert(got.count() == 100 &&
        got.agg(sum($"id")).collect()(0).getLong(0) == (1 to 100).sum.toLong)
      // raw protocol shape of the v0 commit
      val acts = commitLines(t, 0).map(mapper.readTree)
      val proto = acts.flatMap(n => Option(n.get("protocol"))).head
      assert(proto.get("minReaderVersion").asInt() == 1 &&
        proto.get("minWriterVersion").asInt() == 2)
      val meta = acts.flatMap(n => Option(n.get("metaData"))).head
      assert(meta.get("format").get("provider").asText() == "parquet")
      assert(meta.get("schemaString").asText().contains("\"txt\""))
      val adds = acts.flatMap(n => Option(n.get("add")))
      assert(adds.nonEmpty && adds.forall(a =>
        a.get("size").asLong() > 0 && a.get("dataChange").asBoolean()))
    } finally cleanup(t)
  }

  test("append accumulates versions; time travel sees each; schema drift is rejected with names") {
    val t = newTable()
    try {
      val a = (1 to 10).map(i => (i.toLong, s"a$i")).toDF("id", "txt")
      val b = (11 to 30).map(i => (i.toLong, s"b$i")).toDF("id", "txt")
      assert(DeltaWrite.append(a, t) == 0L)
      assert(DeltaWrite.append(b, t) == 1L)
      assert(DeltaRead.read(spark, t).count() == 30)
      assert(DeltaRead.readVersion(spark, t, 0).count() == 10)
      val drifted = (1 to 3).map(i => (i.toLong, i * 2.0)).toDF("id", "score")
      val e = intercept[IllegalArgumentException](DeltaWrite.append(drifted, t))
      assert(e.getMessage.contains("schema drift") && e.getMessage.contains("score"))
      // the rejected batch's staged files must NOT linger in the root
      val live = DeltaRead.snapshot(spark, t).files.map(_.path).toSet
      val onDisk = Files.list(Paths.get(t)).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      assert(onDisk == live, s"drift rejection leaked staged files: ${onDisk -- live}")
    } finally cleanup(t)
  }

  test("overwrite removes every prior live file and may evolve the schema") {
    val t = newTable()
    try {
      val a = (1 to 10).map(i => (i.toLong, s"a$i")).toDF("id", "txt")
      val b = (1 to 5).map(i => (i.toLong, i * 1.5)).toDF("id", "score")
      DeltaWrite.append(a, t)
      assert(DeltaWrite.overwrite(b, t) == 1L)
      val got = DeltaRead.read(spark, t)
      assert(got.columns.sorted.sameElements(Array("id", "score")) && got.count() == 5)
      // old version still replayable (remove+add, not deletion)
      assert(DeltaRead.readVersion(spark, t, 0).count() == 10)
      val removes = commitLines(t, 1).map(mapper.readTree)
        .flatMap(n => Option(n.get("remove")))
      assert(removes.nonEmpty && removes.forall(_.get("dataChange").asBoolean()))
    } finally cleanup(t)
  }

  test("partitioned write: Hive dir layout, null + special-char values roundtrip") {
    val t = newTable()
    try {
      val df = Seq(
        (1L, "a", "es"), (2L, "b", "es"), (3L, "c", "fr n/k"), (4L, "d", null)
      ).toDF("id", "txt", "lang")
      DeltaWrite.append(df, t, partitionBy = Seq("lang"))
      // data files must NOT contain the partition column (Delta rule)
      val dataFile = Files.walk(Paths.get(t)).iterator().asScala
        .find(p => p.toString.endsWith(".parquet") && !p.toString.contains("_delta_log")).get
      assert(spark.read.parquet(dataFile.toString).columns.toSet == Set("id", "txt"))
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 4 && got.columns.toSet == Set("id", "txt", "lang"))
      val byLang = got.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(byLang(3L) == "fr n/k", "URI-escaped partition value must decode")
      assert(byLang(4L) == null, "__HIVE_DEFAULT_PARTITION__ must become NULL")
      // partition pruning still works through the reader (value filter)
      assert(got.filter($"lang" === "es").count() == 2)
    } finally cleanup(t)
  }

  test("partition typing: int partition col casts back via schemaString") {
    val t = newTable()
    try {
      val df = (1 to 20).map(i => (i.toLong, i % 3)).toDF("id", "bucket")
      DeltaWrite.append(df, t, partitionBy = Seq("bucket"))
      val got = DeltaRead.read(spark, t)
      assert(got.schema("bucket").dataType == org.apache.spark.sql.types.IntegerType)
      assert(got.groupBy($"bucket").count().count() == 3)
      // omitted partitionBy INHERITS the committed partitioning...
      assert(DeltaWrite.append(df, t) == 1L)
      assert(DeltaRead.read(spark, t).count() == 40L)
      assert(DeltaRead.snapshot(spark, t).partitionColumns == Seq("bucket"))
      // ...while an explicit MISMATCH is still drift
      val e = intercept[IllegalArgumentException](
        DeltaWrite.append(df, t, partitionBy = Seq("id")))
      assert(e.getMessage.contains("partition-column drift"))
    } finally cleanup(t)
  }

  test("partition typing: date, boolean and double partition cols roundtrip") {
    val t = newTable()
    try {
      val df = Seq(
        (1L, java.sql.Date.valueOf("2024-01-15"), true, 1.5),
        (2L, java.sql.Date.valueOf("2024-01-15"), false, 1.5),
        (3L, java.sql.Date.valueOf("2025-12-31"), true, -0.25),
        (4L, null.asInstanceOf[java.sql.Date], false, 0.0)
      ).toDF("id", "day", "flag", "weight")
      DeltaWrite.append(df, t, partitionBy = Seq("day", "flag", "weight"))
      val got = DeltaRead.read(spark, t)
      import org.apache.spark.sql.types._
      assert(got.schema("day").dataType == DateType)
      assert(got.schema("flag").dataType == BooleanType)
      assert(got.schema("weight").dataType == DoubleType)
      val back = got.orderBy($"id")
        .collect().map(r => (r.getLong(0), Option(r.getDate(1)).map(_.toString),
          r.getBoolean(2), r.getDouble(3)))
      assert(back.toSeq == Seq(
        (1L, Some("2024-01-15"), true, 1.5),
        (2L, Some("2024-01-15"), false, 1.5),
        (3L, Some("2025-12-31"), true, -0.25),
        (4L, None, false, 0.0)))
      // typed partition pruning still reaches the scan
      assert(got.filter($"day" === "2024-01-15").count() == 2)
      assert(got.filter($"flag" && $"weight" > 0).count() == 1) // id 1 only
      assert(got.filter($"day".isNull).count() == 1)            // id 4
      // timestamp partition values carry colons → Hive %3A escaping in
      // the dir name, decoded at stage, cast back via schemaString
      val t2 = newTable()
      try {
        val ts = Seq(
          (1L, java.sql.Timestamp.valueOf("2024-01-15 10:30:00")),
          (2L, java.sql.Timestamp.valueOf("2024-01-15 10:30:00")),
          (3L, java.sql.Timestamp.valueOf("2024-06-01 23:59:59"))
        ).toDF("id", "hour")
        DeltaWrite.append(ts, t2, partitionBy = Seq("hour"))
        val g2 = DeltaRead.read(spark, t2)
        assert(g2.schema("hour").dataType ==
          org.apache.spark.sql.types.TimestampType)
        assert(g2.filter($"hour" === "2024-01-15 10:30:00").count() == 2)
        assert(g2.select($"hour".cast("string")).distinct().count() == 2)
      } finally cleanup(t2)
    } finally cleanup(t)
  }

  test("checkpoint: reader resolves checkpoint-then-tail with the JSON prefix deleted") {
    val t = newTable()
    try {
      val mk = (lo: Int, hi: Int) => (lo to hi).map(i => (i.toLong, s"x$i")).toDF("id", "txt")
      DeltaWrite.append(mk(1, 10), t)
      DeltaWrite.append(mk(11, 20), t)
      val cpV = DeltaWrite.checkpoint(spark, t)
      assert(cpV == 1L)
      DeltaWrite.append(mk(21, 25), t)
      // destroy replay-from-zero: only the checkpoint path can now work
      Files.delete(Paths.get(t, "_delta_log", f"${0L}%020d.json"))
      Files.delete(Paths.get(t, "_delta_log", f"${1L}%020d.json"))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 25 &&
        got.agg(sum($"id")).collect()(0).getLong(0) == (1 to 25).sum.toLong)
      // checkpoint is a single FILE at the protocol name (not a dir)
      assert(Files.isRegularFile(
        Paths.get(t, "_delta_log", f"${1L}%020d.checkpoint.parquet")))
    } finally cleanup(t)
  }

  test("checkpointed PARTITIONED table keeps partition re-attachment") {
    val t = newTable()
    try {
      val df = Seq((1L, "es"), (2L, "es"), (3L, "fr")).toDF("id", "lang")
      DeltaWrite.append(df, t, partitionBy = Seq("lang"))
      DeltaWrite.checkpoint(spark, t)
      Files.delete(Paths.get(t, "_delta_log", f"${0L}%020d.json"))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      val got = DeltaRead.read(spark, t)
      assert(got.groupBy($"lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("es" -> 2L, "fr" -> 1L))
    } finally cleanup(t)
  }

  test("reader rejects column mapping and unknown reader features loudly") {
    val t = newTable()
    try {
      val df = Seq((1L, "a")).toDF("id", "txt")
      DeltaWrite.append(df, t)
      // deletionVectors, v2Checkpoint, typeWidening AND variantShredding
      // are IMPLEMENTED now (DeltaReadSpec / TypeWideningSpec /
      // VariantShreddingSpec cover the read paths) — a reader-features
      // table demanding something this reader genuinely lacks (an
      // unknown future feature) must still fail loudly
      val proto = """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["futureColumnCipher"],"writerFeatures":["futureColumnCipher"]}}"""
      Files.write(Paths.get(t, "_delta_log", f"${1L}%020d.json"), Seq(proto).asJava)
      val e2 = intercept[UnsupportedOperationException](DeltaRead.read(spark, t))
      assert(e2.getMessage.contains("futureColumnCipher"))
      Files.delete(Paths.get(t, "_delta_log", f"${1L}%020d.json"))

      // an UNKNOWN column mapping mode still fails loudly (name/id are
      // implemented — DeltaReadSpec covers the read path; the WRITE
      // paths to a mapped table are guarded below)
      val cmMeta = """{"metaData":{"id":"x","schemaString":""" +
        mapper.writeValueAsString(df.schema.json) +
        ""","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"weird"}}}"""
      Files.write(Paths.get(t, "_delta_log", f"${1L}%020d.json"), Seq(cmMeta).asJava)
      val e3 = intercept[UnsupportedOperationException](DeltaRead.read(spark, t))
      assert(e3.getMessage.contains("column mapping"))
    } finally cleanup(t)
  }

  test("column-mapped create/append/read roundtrip: physical files, logical surface") {
    val t = newTable()
    try {
      val df = Seq((1L, "a", "es"), (2L, "b", "fr")).toDF("id", "txt", "lang")
      val v0 = DeltaWrite.createColumnMapped(df, t, partitionBy = Seq("lang"))
      assert(v0 == 0L)
      // protocol is (2, 5) as the feature requires
      val log0 = Files.readAllLines(
        Paths.get(t, "_delta_log", f"${0L}%020d.json")).asScala.mkString("\n")
      assert(log0.contains(""""minReaderVersion":2""") &&
        log0.contains(""""minWriterVersion":5"""))
      // data files and partition dirs live under PHYSICAL names
      val dataDirs = Files.list(Paths.get(t)).iterator().asScala
        .filter(Files.isDirectory(_)).map(_.getFileName.toString)
        .filterNot(n => n == "_delta_log" || n.startsWith("_staging")).toList
      assert(dataDirs.nonEmpty && dataDirs.forall(_.startsWith("col-")),
        s"expected col-<uuid>= partition dirs, got $dataDirs")
      // the reader surfaces logical names and values
      val got = DeltaRead.read(spark, t)
      assert(got.columns.sorted.toSeq == Seq("id", "lang", "txt"))
      assert(got.select($"id", $"txt", $"lang").as[(Long, String, String)]
        .collect().toSet == Set((1L, "a", "es"), (2L, "b", "fr")))
      // append detects the mapping from the snapshot and stays physical
      DeltaWrite.append(Seq((3L, "c", "es")).toDF("id", "txt", "lang"), t,
        partitionBy = Seq("lang"))
      assert(DeltaRead.read(spark, t).count() == 3L)
      // appended file also landed under a physical partition dir
      assert(Files.list(Paths.get(t)).iterator().asScala
        .filter(Files.isDirectory(_)).map(_.getFileName.toString)
        .filterNot(n => n == "_delta_log" || n.startsWith("_staging"))
        .forall(_.startsWith("col-")))
    } finally cleanup(t)
  }

  test("mapped data files carry parquet field ids matching the mapping ids") {
    val t = newTable()
    try {
      DeltaWrite.createColumnMapped(
        Seq((1L, "a"), (2L, "b")).toDF("id", "txt").coalesce(1), t, mode = "id")
      val s = DeltaRead.snapshot(spark, t)
      val wantIds = s.schema.get.fields.map(f =>
        f.metadata.getString("delta.columnMapping.physicalName") ->
          f.metadata.getLong("delta.columnMapping.id")).toMap
      val dataFile = Files.walk(Paths.get(t)).iterator().asScala
        .find(p => p.getFileName.toString.endsWith(".parquet")
          && !p.toString.contains("_delta_log")).get
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dataFile.toUri),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val gotIds = try r.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => f.getName -> Option(f.getId).map(_.intValue().toLong))
        .toMap finally r.close()
      assert(gotIds.keySet == wantIds.keySet)
      wantIds.foreach { case (phys, id) =>
        assert(gotIds(phys).contains(id),
          s"field $phys: parquet id ${gotIds(phys)} != mapping id $id")
      }
    } finally cleanup(t)
  }

  test("column rename/drop on a mapped table are metaData-only commits; plain tables refuse") {
    val t = newTable()
    try {
      val df = Seq((1L, "a", "es"), (2L, "b", "fr")).toDF("id", "txt", "lang")
      DeltaWrite.createColumnMapped(df, t, partitionBy = Seq("lang"))
      def dataFiles() = Files.walk(Paths.get(t)).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")
          && !p.toString.contains("_delta_log")).map(_.toString).toSet
      val before = dataFiles()
      // rename a data column AND the partition column: zero new files
      DeltaWrite.renameColumn(spark, t, "txt", "body")
      DeltaWrite.renameColumn(spark, t, "lang", "language")
      assert(dataFiles() == before, "rename must not touch data files")
      val got = DeltaRead.read(spark, t)
      assert(got.columns.sorted.toSeq == Seq("body", "id", "language"))
      assert(got.select($"id", $"body", $"language").as[(Long, String, String)]
        .collect().toSet == Set((1L, "a", "es"), (2L, "b", "fr")))
      // partition pruning works under the NEW logical name
      assert(got.where($"language" === "es").count() == 1L)
      // appends under the new logical surface map back to the same
      // physical names
      DeltaWrite.append(Seq((3L, "c", "es")).toDF("id", "body", "language"), t,
        partitionBy = Seq("language"))
      assert(DeltaRead.read(spark, t).where($"language" === "es").count() == 2L)
      // drop: column disappears from the surface, bytes stay put
      val filesPreDrop = dataFiles()
      DeltaWrite.dropColumn(spark, t, "body")
      assert(dataFiles() == filesPreDrop)
      assert(DeltaRead.read(spark, t).columns.sorted.toSeq == Seq("id", "language"))
      // guard rails
      intercept[IllegalArgumentException](DeltaWrite.dropColumn(spark, t, "language"))
      intercept[IllegalArgumentException](DeltaWrite.renameColumn(spark, t, "nope", "x"))
      // plain (unmapped) tables refuse with a pointer to the fix
      val plain = newTable()
      try {
        DeltaWrite.append(Seq((1L, "a")).toDF("id", "txt"), plain)
        val e = intercept[IllegalArgumentException](
          DeltaWrite.renameColumn(spark, plain, "txt", "body"))
        assert(e.getMessage.contains("createColumnMapped"))
      } finally cleanup(plain)
    } finally cleanup(t)
  }

  test("column-mapped evolution: overwrite keeps physical names, compact+checkpoint stay physical") {
    val t = newTable()
    try {
      import org.apache.spark.sql.functions.col
      val df = Seq((1L, "a", "es"), (2L, "b", "fr")).toDF("id", "txt", "lang")
      DeltaWrite.createColumnMapped(df, t, partitionBy = Seq("lang"))
      val phys0 = DeltaRead.snapshot(spark, t).schema.get.fields
        .map(f => f.name -> f.metadata.getString("delta.columnMapping.physicalName"))
        .toMap
      // overwrite with a NEW column: carried fields keep their physical
      // names, the new field gets a fresh one and maxColumnId advances
      val df2 = df.withColumn("score", col("id") * 10)
      DeltaWrite.overwrite(df2, t, partitionBy = Seq("lang"))
      val s2 = DeltaRead.snapshot(spark, t)
      val phys2 = s2.schema.get.fields
        .map(f => f.name -> f.metadata.getString("delta.columnMapping.physicalName"))
        .toMap
      assert(phys0.forall { case (k, p) => phys2(k) == p })
      assert(phys2.keySet == Set("id", "txt", "lang", "score"))
      assert(s2.configuration("delta.columnMapping.maxColumnId").toLong >= 4L)
      assert(DeltaRead.read(spark, t).select($"id", $"score").as[(Long, Long)]
        .collect().toSet == Set((1L, 10L), (2L, 20L)))
      // small-file buildup, then compact: physical partitionValues keys
      // must survive the rewrite commit
      DeltaWrite.append(Seq((3L, "c", "es", 30L)).toDF("id", "txt", "lang", "score"), t,
        partitionBy = Seq("lang"))
      DeltaWrite.append(Seq((4L, "d", "es", 40L)).toDF("id", "txt", "lang", "score"), t,
        partitionBy = Seq("lang"))
      assert(DeltaWrite.compact(spark, t) >= 1)
      assert(DeltaRead.read(spark, t).count() == 4L)
      // checkpoint persists physical keys + the (2, 5) protocol; the
      // checkpoint-resolved read still surfaces logical names
      DeltaWrite.checkpoint(spark, t)
      val cp = spark.read.parquet(
        Paths.get(t, "_delta_log").toFile.listFiles()
          .filter(_.getName.endsWith(".checkpoint.parquet")).map(_.toString): _*)
      val protoRows = cp.where(cp("protocol").isNotNull)
        .selectExpr("protocol.minReaderVersion", "protocol.minWriterVersion")
        .as[(Int, Int)].collect().toSet
      assert(protoRows == Set((2, 5)))
      val cpPvKeys = cp.where(cp("add").isNotNull)
        .selectExpr("map_keys(add.partitionValues)").as[Seq[String]]
        .collect().flatten.toSet
      assert(cpPvKeys.nonEmpty && cpPvKeys.forall(_.startsWith("col-")), s"$cpPvKeys")
      val after = DeltaRead.read(spark, t)
      assert(after.columns.sorted.toSeq == Seq("id", "lang", "score", "txt"))
      assert(after.where($"lang" === "es").count() == 3L)
    } finally cleanup(t)
  }

  test("change feed: DV transitions surface exactly the newly-deleted rows, and the fold equals the snapshot") {
    val t = newTable()
    try {
      val a = (0 until 100).map(i => (i.toLong, s"d$i")).toDF("id", "txt")
      val b = (100 until 150).map(i => (i.toLong, s"d$i")).toDF("id", "txt")
      DeltaWrite.append(a.repartitionByRange(2, $"id"), t) // v0
      DeltaWrite.append(b.coalesce(1), t)                  // v1
      DeltaWrite.deleteWhere(spark, t, $"id" % 10 === 3)   // v2: DV transition
      DeltaWrite.deleteWhere(spark, t, $"id" < 20)         // v3: MERGED bitmaps
      def feed(s0: Long, u: Long) = DeltaRead.changesBetween(spark, t, s0, u)
      // v2 surfaces exactly the %10==3 rows as deletes, nothing else
      val d2 = feed(1L, 2L)
      assert(d2.select($"_change_type").distinct().as[String].collect().toSeq == Seq("delete"))
      assert(d2.select($"id").as[Long].collect().sorted.toSeq ==
        (0L until 150L).filter(_ % 10 == 3))
      // v3 surfaces only the NEWLY deleted rows — the merged bitmap's
      // %10==3 entries must not re-report
      assert(feed(2L, 3L).select($"id").as[Long].collect().sorted.toSeq ==
        (0L until 20L).filterNot(_ % 10 == 3))
      // folding the whole feed reproduces the live snapshot exactly
      val all = feed(-1L, 3L)
      val folded = all.groupBy($"id", $"txt")
        .agg(sum(when($"_change_type" === "insert", 1).otherwise(-1)).as("net"))
      assert(folded.where($"net" < 0 || $"net" > 1).count() == 0L)
      val foldedIds = folded.where($"net" === 1).select($"id").as[Long].collect().sorted.toSeq
      val liveIds = DeltaRead.read(spark, t).select($"id").as[Long].collect().sorted.toSeq
      assert(foldedIds == liveIds)
    } finally cleanup(t)
  }

  test("change feed state rolls through OPTIMIZE so later DV diffs resolve against compacted files") {
    val t = newTable()
    try {
      DeltaWrite.append((0 until 50).map(i => (i.toLong, s"x$i")).toDF("id", "txt")
        .repartition(4), t)                                 // v0
      DeltaWrite.append((50 until 100).map(i => (i.toLong, s"x$i")).toDF("id", "txt")
        .repartition(4), t)                                 // v1
      assert(DeltaWrite.compact(spark, t) > 0)              // v2: dataChange=false
      DeltaWrite.deleteWhere(spark, t, $"id" % 2 === 0)     // v3: DV on the COMPACTED file
      assert(DeltaRead.changesBetween(spark, t, 1L, 2L).count() == 0L,
        "OPTIMIZE must surface nothing")
      assert(DeltaRead.changesBetween(spark, t, 2L, 3L)
        .select($"id").as[Long].collect().sorted.toSeq == (0L until 100L).filter(_ % 2 == 0))
      // full-range fold still reproduces the snapshot
      val all = DeltaRead.changesBetween(spark, t, -1L, 3L)
      val net = all.groupBy($"id")
        .agg(sum(when($"_change_type" === "insert", 1).otherwise(-1)).as("net"))
      assert(net.where($"net" === 1).count() == 50L && net.where($"net" =!= 1 && $"net" =!= 0).count() == 0L)
    } finally cleanup(t)
  }

  test("changesBetween tails appended rows, ignores OPTIMIZE rewrites, decomposes overwrites") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "txt").coalesce(1), t) // v0
      DeltaWrite.append(Seq((3L, "c")).toDF("id", "txt").coalesce(1), t)            // v1
      DeltaWrite.append(Seq((4L, "d")).toDF("id", "txt").coalesce(1), t)            // v2
      def ids(since: Long, until: Long) =
        DeltaRead.changesBetween(spark, t, since, until)
          .select($"id").as[Long].collect().sorted.toSeq
      assert(ids(-1L, 2L) == Seq(1L, 2L, 3L, 4L)) // bootstrap from before v0
      assert(ids(0L, 2L) == Seq(3L, 4L))          // resume past v0
      assert(ids(1L, 1L) == Nil)                  // empty range
      // OPTIMIZE reorganizes bytes with dataChange=false: not new data
      assert(DeltaWrite.compact(spark, t, targetBytes = 1L << 30) >= 1) // v3
      assert(ids(2L, 3L) == Nil)
      DeltaWrite.append(Seq((5L, "e")).toDF("id", "txt").coalesce(1), t) // v4
      assert(ids(3L, 4L) == Seq(5L))
      // overwrite surfaces as delete-all + insert-all under one version
      DeltaWrite.overwrite(Seq((9L, "z")).toDF("id", "txt"), t) // v5
      val ch = DeltaRead.changesBetween(spark, t, 4L, 5L)
      assert(ch.where($"_change_type" === "delete")
        .select($"id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      assert(ch.where($"_change_type" === "insert")
        .select($"id").as[Long].collect().toSeq == Seq(9L))
      assert(ch.select($"_commit_version").distinct().as[Long].collect().toSeq == Seq(5L))
      // a mapped partitioned table surfaces logical partition values
      val mt = newTable()
      try {
        DeltaWrite.createColumnMapped(
          Seq((1L, "es"), (2L, "fr")).toDF("id", "lang"), mt, partitionBy = Seq("lang"))
        DeltaWrite.append(Seq((3L, "es")).toDF("id", "lang"), mt,
          partitionBy = Seq("lang"))
        val got = DeltaRead.changesBetween(spark, mt, 0L, 1L)
        assert(got.select($"id", $"lang").as[(Long, String)].collect().toSet ==
          Set((3L, "es")))
      } finally cleanup(mt)
    } finally cleanup(t)
  }

  test("checkpoint preserves a foreign table's configuration verbatim") {
    val t = newTable()
    try {
      val df = Seq((1L, "a"), (2L, "b")).toDF("id", "txt")
      DeltaWrite.append(df, t)
      // a foreign writer set table properties this writer must not drop
      val conf = """{"delta.appendOnly":"true","custom.owner":"team-x"}"""
      val meta = """{"metaData":{"id":"x","schemaString":""" +
        mapper.writeValueAsString(df.schema.json) +
        s""","partitionColumns":[],"configuration":$conf}}"""
      Files.write(Paths.get(t, "_delta_log", f"${1L}%020d.json"), Seq(meta).asJava)
      DeltaWrite.checkpoint(spark, t)
      // drop the JSON history: resolution must come from the checkpoint
      Files.delete(Paths.get(t, "_delta_log", f"${0L}%020d.json"))
      Files.delete(Paths.get(t, "_delta_log", f"${1L}%020d.json"))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      val s = DeltaRead.snapshot(spark, t)
      assert(s.configuration == Map(
        "delta.appendOnly" -> "true", "custom.owner" -> "team-x"))
      assert(DeltaRead.read(spark, t).count() == 2L)
    } finally cleanup(t)
  }

  test("checkpoint persists deletion vectors and protocol feature lists — rows stay masked past log truncation") {
    val t = newTable()
    try {
      val df = (0 until 40).map(i => (i.toLong, s"d$i")).toDF("id", "txt")
      DeltaWrite.append(df.repartitionByRange(2, $"id"), t)
      DeltaWrite.deleteWhere(spark, t, $"id" % 4 === 0) // v1: protocol (3,7) + DVs
      val cpv = DeltaWrite.checkpoint(spark, t)
      // force checkpoint-only resolution
      (0L to cpv).foreach(v =>
        Files.deleteIfExists(Paths.get(t, "_delta_log", f"$v%020d.json")))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 30L && got.where($"id" % 4 === 0).count() == 0L,
        "checkpoint must carry the DVs — masked rows resurrected")
      val s = DeltaRead.snapshot(spark, t)
      assert(s.minReaderVersion == 3 && s.readerFeatures.contains("deletionVectors"),
        "checkpoint must carry the feature-listed protocol")
      assert(s.writerFeatures.contains("deletionVectors"))
    } finally cleanup(t)
  }

  test("compact purges deletion vectors: visible rows survive, bitmaps and masked rows do not") {
    val t = newTable()
    try {
      val df = (0 until 60).map(i => (i.toLong, s"d$i")).toDF("id", "txt")
      DeltaWrite.append(df.repartitionByRange(3, $"id"), t)
      DeltaWrite.deleteWhere(spark, t, $"id" % 3 === 0)
      assert(DeltaRead.snapshot(spark, t).files.exists(_.dv.isDefined))
      DeltaWrite.compact(spark, t, targetBytes = Long.MaxValue)
      val s = DeltaRead.snapshot(spark, t)
      assert(s.files.forall(_.dv.isEmpty), "purge must drop every bitmap")
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 40L && got.where($"id" % 3 === 0).count() == 0L)
      // the purge was dataChange=false: the change feed surfaces nothing
      val v = DeltaRead.latestVersion(t)
      assert(DeltaRead.changesBetween(spark, t, v - 1, v).count() == 0L)
      // a SOLO DV'd file still purges (no second file needed)
      DeltaWrite.deleteWhere(spark, t, $"id" === 1L)
      DeltaWrite.compact(spark, t, targetBytes = Long.MaxValue)
      val s2 = DeltaRead.snapshot(spark, t)
      assert(s2.files.forall(_.dv.isEmpty))
      assert(DeltaRead.read(spark, t).count() == 39L)
    } finally cleanup(t)
  }

  test("vacuum reclaims overwritten + orphaned files but never live or recent ones") {
    val t = newTable()
    try {
      val a = (1 to 10).map(i => (i.toLong, s"a$i")).toDF("id", "txt")
      val b = (1 to 5).map(i => (i.toLong, s"b$i")).toDF("id", "txt")
      DeltaWrite.append(a, t)
      DeltaWrite.overwrite(b, t) // v0's files are now dead
      // a crashed writer's abandoned staging dir + an orphan part file
      val stagingDir = Paths.get(t, "_staging-crashed")
      Files.createDirectories(stagingDir)
      Files.write(stagingDir.resolve("part-x.parquet"), Array[Byte](1, 2))
      Files.write(Paths.get(t, "part-orphan.parquet"), Array[Byte](3, 4))
      // retention window protects everything this fresh
      assert(DeltaWrite.vacuum(spark, t, retentionMs = 60000) == 0)
      assert(Files.exists(stagingDir))
      // quiesced vacuum reclaims dead + orphan, leaves live intact
      val n = DeltaWrite.vacuum(spark, t, retentionMs = 0)
      assert(n >= 2, s"expected >=2 reclaimed (dead v0 file + orphan), got $n")
      assert(!Files.exists(stagingDir), "abandoned staging dir must be reclaimed")
      assert(!Files.exists(Paths.get(t, "part-orphan.parquet")))
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 5, "live snapshot must survive vacuum untouched")
    } finally cleanup(t)
  }

  test("partition filter through the reader prunes dead branches to a single file scan") {
    val t = newTable()
    try {
      val df = Seq((1L, "es"), (2L, "es"), (3L, "fr"), (4L, "de")).toDF("id", "lang")
      DeltaWrite.append(df, t, partitionBy = Seq("lang"))
      val filtered = DeltaRead.read(spark, t).filter($"lang" === "es")
      assert(filtered.count() == 2)
      // the union has one parquet branch per partition; the literal
      // lang column must constant-fold the fr/de branches away so only
      // the es file is scanned
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case q: QueryStageExec => allScans(q.plan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(allScans)
      }
      val scans = allScans(filtered.queryExecution.executedPlan)
      assert(scans.size == 1,
        s"expected the fr/de branches folded away, saw ${scans.size} scans")
    } finally cleanup(t)
  }

  test("wide-partition table (> MaxUnionPartitions) reads via the file-map join, values intact") {
    val t = newTable()
    try {
      // 100 distinct partition tuples incl. a spaced value and a null —
      // far past the union threshold, so the input_file_name join path
      // must carry the values (and their types) correctly
      val df = (1 to 400).map { i =>
        val b = i % 100
        (i.toLong, if (b == 0) null else if (b == 1) s"v $b" else s"v$b")
      }.toDF("id", "bucket")
      DeltaWrite.append(df, t, partitionBy = Seq("bucket"))
      assert(DeltaRead.snapshot(spark, t).files
        .map(_.partitionValues).distinct.size > DeltaRead.MaxUnionPartitions)
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 400)
      // every row's partition value round-trips exactly
      val expect = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      got.collect().foreach { r =>
        assert(r.getString(1) == expect(r.getLong(0)),
          s"row ${r.getLong(0)}: got '${r.getString(1)}' want '${expect(r.getLong(0))}'")
      }
      // readVersionWhere prunes the FILE LIST before any scan plans
      val pruned = DeltaRead.readVersionWhere(spark, t, DeltaRead.latestVersion(t))(
        pv => pv.get("bucket").contains("v7"))
      assert(pruned.count() == 4 &&
        pruned.select($"bucket").distinct().collect().map(_.getString(0)).toSeq == Seq("v7"))
    } finally cleanup(t)
  }

  test("compact bin-packs small files into one commit with dataChange=false; history intact") {
    val t = newTable()
    try {
      val mk = (lo: Int, hi: Int) => (lo to hi).map(i => (i.toLong, s"x$i")).toDF("id", "txt")
      (0 until 5).foreach(i => DeltaWrite.append(mk(i * 10 + 1, i * 10 + 10), t))
      val before = DeltaRead.snapshot(spark, t)
      assert(before.files.size >= 5)
      val shrunk = DeltaWrite.compact(spark, t)
      assert(shrunk >= 4, s"5 small files should collapse, shrank by $shrunk")
      val after = DeltaRead.read(spark, t)
      assert(after.count() == 50 &&
        after.agg(sum($"id")).collect()(0).getLong(0) == (1 to 50).sum.toLong,
        "compaction must not change one row of content")
      assert(DeltaRead.snapshot(spark, t).files.size < before.files.size)
      // pre-compaction versions still time travel
      assert(DeltaRead.readVersion(spark, t, 0).count() == 10)
      // the OPTIMIZE commit signals dataChange=false on every action
      val acts = commitLines(t, DeltaRead.latestVersion(t)).map(mapper.readTree)
      val dcs = acts.flatMap(n => Option(n.get("add")).orElse(Option(n.get("remove"))))
        .map(_.get("dataChange").asBoolean())
      assert(dcs.nonEmpty && dcs.forall(_ == false),
        "OPTIMIZE actions must carry dataChange=false")
      // idempotent: nothing left to compact
      assert(DeltaWrite.compact(spark, t) == 0)
    } finally cleanup(t)
  }

  test("multi-part checkpoint: complete set reads as one; incomplete set is invisible") {
    val t = newTable()
    try {
      val mk = (lo: Int, hi: Int) => (lo to hi).map(i => (i.toLong, s"x$i")).toDF("id", "txt")
      DeltaWrite.append(mk(1, 10), t)
      DeltaWrite.append(mk(11, 20), t)
      DeltaWrite.checkpoint(spark, t) // single-part at v1
      // split it into a 2-part checkpoint: row 0 (protocol+meta) | adds
      val ld = Paths.get(t, "_delta_log")
      val single = ld.resolve(f"${1L}%020d.checkpoint.parquet")
      val cp = spark.read.parquet(single.toString)
      def writeHalf(df: org.apache.spark.sql.DataFrame, part: Int): Unit = {
        val tmp = Files.createTempDirectory("mp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val f = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(f, ld.resolve(f"${1L}%020d.checkpoint.${part}%010d.${2}%010d.parquet"))
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
      writeHalf(cp.where(cp("add").isNull), 1)
      writeHalf(cp.where(cp("add").isNotNull), 2)
      Files.delete(single)
      Files.write(ld.resolve("_last_checkpoint"),
        Seq("""{"version":1,"size":4,"parts":2}""").asJava)
      // force the checkpoint path: JSON prefix gone
      Files.delete(ld.resolve(f"${0L}%020d.json"))
      Files.delete(ld.resolve(f"${1L}%020d.json"))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      assert(DeltaRead.read(spark, t).agg(sum($"id")).collect()(0).getLong(0) ==
        (1 to 20).sum.toLong, "complete multi-part checkpoint must read as one")
      // an INCOMPLETE set must become invisible, not half-read
      Files.delete(ld.resolve(f"${1L}%020d.checkpoint.${2}%010d.${2}%010d.parquet"))
      val e = intercept[Exception](DeltaRead.read(spark, t).collect())
      assert(e != null, "no complete checkpoint and no JSON history: must fail loudly")
    } finally cleanup(t)
  }

  test("appendOnce: SetTransaction replay guard, racing replays, txn survives checkpoint") {
    val t = newTable()
    try {
      val b0 = (1 to 10).map(i => (i.toLong, s"a$i")).toDF("id", "txt")
      val b1 = (11 to 15).map(i => (i.toLong, s"b$i")).toDF("id", "txt")
      assert(DeltaWrite.appendOnce(b0, t, "app", 0L) == Some(0L))
      assert(DeltaWrite.appendOnce(b0, t, "app", 0L).isEmpty, "replayed batch must skip")
      assert(DeltaRead.read(spark, t).count() == 10)
      assert(DeltaWrite.appendOnce(b1, t, "app", 1L) == Some(1L))
      // a different appId is an independent ledger
      assert(DeltaWrite.appendOnce(b0, t, "other", 0L).isDefined)
      assert(DeltaWrite.lastTxnVersion(spark, t, "app") == Some(1L))
      // racing replays of one batch: exactly one lands
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val threads = (1 to 4).map(_ => new Thread(() =>
        results.add(DeltaWrite.appendOnce(b1, t, "race", 7L).isDefined)))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(results.asScala.count(identity) == 1,
        s"exactly one racing replay must land, got ${results.asScala.toList}")
      // txn marks survive checkpoint truncation
      DeltaWrite.checkpoint(spark, t)
      val cpV = DeltaRead.latestVersion(t)
      (0L until cpV).foreach(v =>
        Files.delete(Paths.get(t, "_delta_log", f"$v%020d.json")))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      assert(DeltaWrite.lastTxnVersion(spark, t, "app") == Some(1L),
        "txn high-water mark must survive history truncation")
      assert(DeltaWrite.appendOnce(b1, t, "app", 1L).isEmpty)
    } finally cleanup(t)
  }

  test("vacuum retention is measured from the REMOVE commit, not file mtime") {
    val t = newTable()
    try {
      DeltaWrite.append((1 to 10).map(i => (i.toLong, s"a$i")).toDF("id", "txt"), t)
      val v0Files = DeltaRead.snapshot(spark, t).files.map(_.path)
      DeltaWrite.overwrite((1 to 5).map(i => (i.toLong, s"b$i")).toDF("id", "txt"), t)
      // v0's files were WRITTEN long ago (backdated mtime) but removed
      // seconds ago — a reader holding the v0 snapshot is still inside
      // its retention window, so they must survive
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 24L * 3600 * 1000)
      v0Files.foreach(f => Files.setLastModifiedTime(Paths.get(t, f), old))
      DeltaWrite.vacuum(spark, t, retentionMs = 60000)
      v0Files.foreach(f => assert(Files.exists(Paths.get(t, f)),
        s"$f removed 1s ago was vacuumed out from under a v0 reader"))
      assert(DeltaRead.readVersion(spark, t, 0).count() == 10)
      // quiesced (retention 0) reclaim still works
      assert(DeltaWrite.vacuum(spark, t, retentionMs = 0) >= 1)
    } finally cleanup(t)
  }

  test("writer refuses tables declaring writer features or properties it does not honor") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "a")).toDF("id", "txt"), t)
      // a foreign engine upgrades the table to a feature-listed
      // protocol with a feature graft cannot uphold
      Files.write(Paths.get(t, "_delta_log", f"${1L}%020d.json"), Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["icebergCompatV2"]}}""").asJava)
      val e = intercept[UnsupportedOperationException](
        DeltaWrite.append(Seq((2L, "b")).toDF("id", "txt"), t))
      assert(e.getMessage.contains("icebergCompatV2"))
      // merely-listed legacy-implied features are fine
      Files.write(Paths.get(t, "_delta_log", f"${1L}%020d.json"), Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants"]}}""").asJava)
      assert(DeltaWrite.append(Seq((2L, "b")).toDF("id", "txt"), t) == 2L)
      assert(DeltaRead.read(spark, t).count() == 2L)
    } finally cleanup(t)
  }

  test("delta.appendOnly gates row removal but not appends; CHECK constraints enforce per batch") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "a")).toDF("id", "txt"), t)
      val meta = commitLines(t, 0).map(mapper.readTree)
        .find(_.has("metaData")).get.get("metaData")
      def metaWith(conf: String): String =
        s"""{"metaData":{"id":"${meta.get("id").asText()}","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${mapper.writeValueAsString(meta.get("schemaString").asText())},""" +
          s""""partitionColumns":[],"configuration":$conf,"createdTime":1}}"""
      Files.write(Paths.get(t, "_delta_log", f"${1L}%020d.json"),
        Seq(metaWith("""{"delta.appendOnly":"true"}""")).asJava)
      assert(DeltaWrite.append(Seq((2L, "b")).toDF("id", "txt"), t) == 2L)
      val e = intercept[UnsupportedOperationException](
        DeltaWrite.overwrite(Seq((9L, "x")).toDF("id", "txt"), t))
      assert(e.getMessage.contains("appendOnly"))
      // a FOREIGN writer's constraint is honored: conforming batches
      // land, violating batches are refused with the constraint named
      Files.write(Paths.get(t, "_delta_log", f"${3L}%020d.json"),
        Seq(metaWith("""{"delta.constraints.pos":"id > 0"}""")).asJava)
      assert(DeltaWrite.append(Seq((3L, "c")).toDF("id", "txt"), t) == 4L)
      val e2 = intercept[IllegalStateException](
        DeltaWrite.append(Seq((-1L, "bad")).toDF("id", "txt"), t))
      assert(e2.getMessage.contains("CHECK constraint 'pos'"))
    } finally cleanup(t)
  }

  test("ADD CONSTRAINT validates existing data, then gates appends and merges until dropped") {
    val t = newTable()
    try {
      DeltaWrite.append((1 to 20).map(i => (i.toLong, i * 2.0)).toDF("id", "score"), t)
      // a constraint current data violates is refused, not recorded
      val e0 = intercept[IllegalStateException](
        DeltaWrite.addCheckConstraint(spark, t, "big", "score > 100"))
      assert(e0.getMessage.contains("'big'"))
      assert(DeltaWrite.addCheckConstraint(spark, t, "pos", "score > 0") == 1L)
      val s = DeltaRead.snapshot(spark, t)
      assert(s.configuration("delta.constraints.pos") == "score > 0")
      assert(s.minWriterVersion >= 3, "checkConstraints needs writer version 3")
      // appends and merges both enforce; NULL passes (SQL semantics)
      assert(DeltaWrite.append(Seq((21L, Some(1.5)), (22L, None))
        .toDF("id", "score"), t) == 2L)
      val e1 = intercept[IllegalStateException](
        DeltaWrite.append(Seq((23L, -4.0)).toDF("id", "score"), t))
      assert(e1.getMessage.contains("CHECK constraint 'pos'"))
      val e2 = intercept[IllegalStateException](
        DeltaWrite.merge(spark, t, Seq((1L, -9.0)).toDF("id", "score"), Seq("id")))
      assert(e2.getMessage.contains("CHECK constraint 'pos'"))
      // dropped constraint stops gating
      DeltaWrite.dropCheckConstraint(spark, t, "pos")
      assert(DeltaWrite.append(Seq((23L, -4.0)).toDF("id", "score"), t) > 0L)
    } finally cleanup(t)
  }

  test("id-mode mapping persists parquet field ids at NESTED levels, and compact keeps them") {
    val t = newTable()
    try {
      val df = Seq((1L, ("x1", 10)), (2L, ("x2", 20))).toDF("id", "nest")
      DeltaWrite.createColumnMapped(df.repartition(2), t, mode = "id")
      def footerFields(p: java.nio.file.Path) = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri),
          new org.apache.hadoop.conf.Configuration())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getFileMetaData.getSchema finally r.close()
      }
      def dataFiles() = Files.walk(Paths.get(t)).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")
          && !p.startsWith(Paths.get(t, "_delta_log"))).toList
      dataFiles().foreach { p =>
        val sch = footerFields(p)
        // every top-level field carries an id…
        sch.getFields.asScala.foreach(f =>
          assert(f.getId != null, s"missing field id on ${f.getName} in $p"))
        // …and so does every field of the nested struct
        val nested = sch.getFields.asScala.find(!_.isPrimitive).get.asGroupType()
        nested.getFields.asScala.foreach(f =>
          assert(f.getId != null, s"missing NESTED field id on ${f.getName} in $p"))
      }
      // compaction rewrites files — ids must survive the roundtrip
      assert(DeltaWrite.compact(spark, t, targetBytes = Long.MaxValue) > 0)
      dataFiles().foreach { p =>
        val sch = footerFields(p)
        sch.getFields.asScala.foreach(f =>
          assert(f.getId != null, s"compact dropped field id on ${f.getName}"))
      }
      // and the table still reads correctly after the rewrite
      assert(DeltaRead.read(spark, t).selectExpr("sum(nest._2)")
        .collect()(0).getLong(0) == 30L)
    } finally cleanup(t)
  }

  test("deleteWhere writes deletion vectors: rows vanish, bytes stay, history time-travels") {
    val t = newTable()
    try {
      val df = (0 until 300).map(i => (i.toLong, s"d$i")).toDF("id", "txt")
      DeltaWrite.append(df.repartitionByRange(3, $"id"), t)
      def dataFiles() = Files.walk(Paths.get(t)).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")
          && !p.startsWith(Paths.get(t, "_delta_log")))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      val before = dataFiles()
      assert(DeltaWrite.deleteWhere(spark, t, $"id" % 3 === 0) == 1L)
      // rows are gone...
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 200L && got.where($"id" % 3 === 0).count() == 0L)
      // ...but no data file was rewritten (same paths, same mtimes)
      assert(dataFiles() == before, "deleteWhere must not touch data-file bytes")
      // time travel still sees every row
      assert(DeltaRead.readVersion(spark, t, 0).count() == 300L)
      // protocol upgraded to the deletionVectors feature
      val snap = DeltaRead.snapshot(spark, t)
      assert(snap.minReaderVersion == 3 &&
        snap.readerFeatures.contains("deletionVectors"))
      // a second, overlapping delete merges bitmaps (union semantics)
      assert(DeltaWrite.deleteWhere(spark, t, $"id" < 100) == 2L)
      val after2 = DeltaRead.read(spark, t)
      assert(after2.count() == (100 until 300).count(_ % 3 != 0).toLong)
      assert(after2.where($"id" < 100 || $"id" % 3 === 0).count() == 0L)
      // no-match delete is a version no-op
      assert(DeltaWrite.deleteWhere(spark, t, $"id" > 9999) == 2L)
      // stats on DV'd adds are flagged wide, not dropped
      val dvAdds = DeltaRead.snapshot(spark, t).files.filter(_.dv.isDefined)
      assert(dvAdds.nonEmpty && dvAdds.forall(f =>
        f.stats.exists(s => mapper.readTree(s).get("tightBounds").asBoolean() == false)))
      // vacuum(0) reclaims the superseded first-round DV bitmaps but
      // keeps the live ones
      val liveDvNames = dvAdds.map(f =>
        graft.io.DeltaDv.dvFile(t, f.dv.get).getFileName.toString).toSet
      DeltaWrite.vacuum(spark, t, retentionMs = 0)
      val bins = Files.list(Paths.get(t)).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".bin")).toSet
      assert(bins == liveDvNames, s"vacuum left $bins, wanted $liveDvNames")
      assert(DeltaRead.read(spark, t).count() ==
        (100 until 300).count(_ % 3 != 0).toLong)
    } finally cleanup(t)
  }

  test("deleteWhere drops a file whose every row is deleted instead of fully masking it") {
    val t = newTable()
    try {
      // two disjoint-range files; erase one range completely
      val df = (0 until 200).map(i => (i.toLong, i % 2 == 0)).toDF("id", "even")
      DeltaWrite.append(df.repartitionByRange(2, $"id"), t)
      DeltaWrite.deleteWhere(spark, t, $"id" < 100)
      val snap = DeltaRead.snapshot(spark, t)
      assert(snap.files.size == 1, "the fully-deleted file must be removed")
      assert(snap.files.forall(_.dv.isEmpty), "surviving file needs no DV")
      assert(DeltaRead.read(spark, t).agg(min($"id")).collect()(0).getLong(0) == 100L)
    } finally cleanup(t)
  }

  test("deleteWhere on a partitioned table masks only the predicate's partition rows") {
    val t = newTable()
    try {
      val df = (0 until 100).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
        .toDF("id", "grp")
      DeltaWrite.append(df, t, partitionBy = Seq("grp"))
      DeltaWrite.deleteWhere(spark, t, $"grp" === "a" && $"id" < 50)
      val got = DeltaRead.read(spark, t)
      assert(got.where($"grp" === "a").count() == (0 until 100)
        .count(i => i % 2 == 0 && i >= 50).toLong)
      assert(got.where($"grp" === "b").count() == 50L)
    } finally cleanup(t)
  }

  test("id-mode reader resolves columns by parquet field id when the log's physical names drift") {
    val t = newTable()
    try {
      val df = (0 until 20).map(i => (i.toLong, s"v$i", (s"n$i", i)))
        .toDF("id", "txt", "nest")
      DeltaWrite.createColumnMapped(df, t, mode = "id")
      // a foreign id-mode engine rewrote the LOG's physical names
      // (field ids preserved — the protocol's identity in id mode);
      // the parquet files still carry the ORIGINAL names + ids, so
      // name-based resolution would read every column as null
      val logPath = Paths.get(t, "_delta_log", f"${0L}%020d.json")
      val text = new String(Files.readAllBytes(logPath), "UTF-8")
      val colRe = """col-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}""".r
      val renames = colRe.findAllIn(text).toSeq.distinct.zipWithIndex
        .map { case (c, i) => c -> s"foreign-$i" }.toMap
      val scrambled = renames.foldLeft(text) { case (acc, (from, to)) =>
        acc.replace(from, to) }
      Files.write(logPath, scrambled.getBytes("UTF-8"))
      val got = DeltaRead.read(spark, t)
      assert(got.columns.sorted.toSeq == Seq("id", "nest", "txt"))
      assert(got.count() == 20L)
      assert(got.agg(sum($"id")).collect()(0).getLong(0) == (0 until 20).sum.toLong)
      assert(got.where($"id" === 3L).select($"txt").as[String].collect().toSeq == Seq("v3"))
      // nested struct fields resolve by id too
      assert(got.selectExpr("sum(nest._2)").collect()(0).getLong(0) ==
        (0 until 20).sum.toLong)
    } finally cleanup(t)
  }

  test("restore rewinds HEAD to an old version: content identical, history intact, feed folds across it") {
    val t = newTable()
    try {
      val v0Data = (0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "txt")
      DeltaWrite.append(v0Data.repartition(2), t)                     // v0
      DeltaWrite.overwrite((100 until 120).map(i => (i.toLong, "bad")).toDF("id", "txt"), t) // v1
      DeltaWrite.deleteWhere(spark, t, $"id" % 2 === 0)               // v2
      val rv = DeltaWrite.restore(spark, t, 0L)                       // v3
      assert(rv == 3L)
      // HEAD == v0 content, zero data movement
      assert(DeltaRead.read(spark, t).orderBy($"id").as[(Long, String)].collect().toSeq ==
        DeltaRead.readVersion(spark, t, 0).orderBy($"id").as[(Long, String)].collect().toSeq)
      assert(DeltaRead.read(spark, t).count() == 50L)
      // the bad versions stay time-travelable
      assert(DeltaRead.readVersion(spark, t, 1).count() == 20L)
      assert(DeltaRead.readVersion(spark, t, 2).count() == 10L)
      // the change feed folds to the restored snapshot
      val all = DeltaRead.changesBetween(spark, t, -1L, 3L)
      val net = all.groupBy($"id", $"txt")
        .agg(sum(when($"_change_type" === "insert", 1).otherwise(-1)).as("net"))
      assert(net.where($"net" === 1).count() == 50L)
      assert(net.where($"net" =!= 0 && $"net" =!= 1).count() == 0L)
    } finally cleanup(t)
  }

  test("restore reinstates deletion vectors and old schemas; vacuumed targets are refused") {
    val t = newTable()
    try {
      DeltaWrite.append((0 until 30).map(i => (i.toLong, s"v$i")).toDF("id", "txt"), t) // v0
      DeltaWrite.deleteWhere(spark, t, $"id" < 10)                    // v1: DV'd state
      DeltaWrite.overwrite((0 until 5).map(i => (i.toLong, i * 1.5)).toDF("id", "score"), t) // v2: schema change
      DeltaWrite.restore(spark, t, 1L)                                // v3
      val got = DeltaRead.read(spark, t)
      assert(got.columns.sorted.toSeq == Seq("id", "txt"), "old schema must return")
      assert(got.count() == 20L && got.where($"id" < 10).count() == 0L,
        "the DV'd state must reinstate exactly")
      assert(DeltaRead.snapshot(spark, t).files.exists(_.dv.isDefined))
      // a vacuumed target refuses instead of restoring partially
      val t2 = newTable()
      try {
        DeltaWrite.append(Seq((1L, "a")).toDF("id", "txt"), t2)
        DeltaWrite.overwrite(Seq((2L, "b")).toDF("id", "txt"), t2)
        DeltaWrite.vacuum(spark, t2, retentionMs = 0)
        val e = intercept[IllegalArgumentException](DeltaWrite.restore(spark, t2, 0L))
        assert(e.getMessage.contains("vacuumed"))
      } finally cleanup(t2)
    } finally cleanup(t)
  }

  test("multi-part checkpoints write the spec'd part-set shape and resolve like single files") {
    val t = newTable()
    try {
      (0 until 6).foreach(i => DeltaWrite.append(
        Seq((i.toLong, s"v$i")).toDF("id", "txt").coalesce(1), t))
      val v = DeltaWrite.checkpoint(spark, t, parts = 3)
      val names = Files.list(Paths.get(t, "_delta_log")).iterator().asScala
        .map(_.getFileName.toString)
        .filter(x => x.contains("checkpoint") && x.endsWith(".parquet")).toList.sorted
      assert(names == (1 to 3).map(i =>
        f"$v%020d.checkpoint.$i%010d.${3}%010d.parquet").toList, s"got $names")
      val lc = new String(Files.readAllBytes(
        Paths.get(t, "_delta_log", "_last_checkpoint")), "UTF-8")
      assert(lc.contains("\"parts\":3"))
      // resolution works with the whole JSON prefix gone
      (0L to v).foreach(x =>
        Files.delete(Paths.get(t, "_delta_log", f"$x%020d.json")))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      assert(DeltaRead.read(spark, t).count() == 6L)
      assert(DeltaRead.read(spark, t).agg(sum($"id")).collect()(0).getLong(0) == 15L)
      // an INCOMPLETE part set is invisible: with one part gone and the
      // JSON history truncated, resolution must fail loudly, never
      // return a partial table
      Files.delete(Paths.get(t, "_delta_log",
        f"$v%020d.checkpoint.${2}%010d.${3}%010d.parquet"))
      val e = intercept[Exception](DeltaRead.read(spark, t).count())
      assert(e.getMessage.contains("missing") || e.getMessage.contains("truncated"),
        s"wanted a loud truncation error, got: ${e.getMessage}")
    } finally cleanup(t)
  }

  test("timestamp time travel and DESCRIBE HISTORY resolve from the commits' recorded clocks") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "a")).toDF("id", "txt"), t); Thread.sleep(15)
      DeltaWrite.append(Seq((2L, "b")).toDF("id", "txt"), t); Thread.sleep(15)
      DeltaWrite.overwrite(Seq((9L, "z")).toDF("id", "txt"), t)
      val h = DeltaRead.history(spark, t).orderBy($"version")
        .as[(Long, Long, String)].collect().toSeq
      assert(h.map(_._1) == Seq(0L, 1L, 2L))
      assert(h.map(_._3) == Seq("WRITE", "APPEND", "OVERWRITE"))
      assert(h.map(_._2) == h.map(_._2).sorted, "timestamps must be non-decreasing")
      // as-of the middle commit's clock → exactly versions 0+1
      assert(DeltaRead.readAsOf(spark, t, h(1)._2).count() == 2L)
      // far future → head; before the first commit → loud refusal
      assert(DeltaRead.readAsOf(spark, t, h(2)._2 + 3600000L).count() == 1L)
      val e = intercept[IllegalArgumentException](
        DeltaRead.readAsOf(spark, t, h(0)._2 - 1000L))
      assert(e.getMessage.contains("predates"))
      // truncated prefixes bound timestamp travel but not version travel
      DeltaWrite.checkpoint(spark, t)
      Files.delete(Paths.get(t, "_delta_log", f"${0L}%020d.json"))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      assert(DeltaRead.readVersion(spark, t, 2).count() == 1L)
      val e2 = intercept[IllegalArgumentException](
        DeltaRead.readAsOf(spark, t, h(0)._2))
      assert(e2.getMessage.contains("predates"))
    } finally cleanup(t)
  }

  test("clone hard-links a snapshot into an independent table: no copies, no coupling") {
    val src = newTable(); val dst = newTable()
    new java.io.File(dst).delete()
    try {
      val df = (0 until 60).map(i => (i.toLong, s"v$i", if (i % 2 == 0) "a" else "b"))
        .toDF("id", "txt", "grp")
      DeltaWrite.append(df, src, partitionBy = Seq("grp"))
      DeltaWrite.deleteWhere(spark, src, $"id" % 3 === 0) // DV'd source
      DeltaWrite.clone(spark, src, dst)
      // content-identical, DVs included
      assert(DeltaRead.read(spark, dst).orderBy($"id").as[(Long, String, String)]
        .collect().toSeq ==
        DeltaRead.read(spark, src).orderBy($"id").as[(Long, String, String)]
        .collect().toSeq)
      // writes to the clone never reach the source
      DeltaWrite.deleteWhere(spark, dst, $"grp" === "a")
      assert(DeltaRead.read(spark, dst).where($"grp" === "a").count() == 0L)
      assert(DeltaRead.read(spark, src).where($"grp" === "a").count() > 0L)
      // overwrite + vacuum the SOURCE: the clone's hard links keep the
      // shared inodes alive, so the clone still reads in full
      val cloneRows = DeltaRead.read(spark, dst).count()
      DeltaWrite.overwrite(Seq((999L, "x", "a")).toDF("id", "txt", "grp"), src,
        partitionBy = Seq("grp"))
      DeltaWrite.vacuum(spark, src, retentionMs = 0)
      assert(DeltaRead.read(spark, dst).count() == cloneRows,
        "vacuuming the source must not break the clone")
      // protocol and configuration carried over; fresh table id
      val ss = DeltaRead.snapshot(spark, src); val ds = DeltaRead.snapshot(spark, dst)
      assert(ds.readerFeatures.contains("deletionVectors"))
      assert(ss.metaId != ds.metaId)
    } finally { cleanup(src); cleanup(dst) }
  }

  test("legacy column invariants are ENFORCED strictly (null violates), not refused") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, 5.0)).toDF("id", "x"), t)
      // a foreign writer recorded a legacy invariant on x
      val meta0 = commitLines(t, 0).map(mapper.readTree)
        .find(_.has("metaData")).get.get("metaData")
      val invSchema = new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType)
        .add("x", org.apache.spark.sql.types.DoubleType, nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("delta.invariants",
              """{"expression":{"expression":"x > 0"}}""").build())
      val metaLine =
        s"""{"metaData":{"id":"${meta0.get("id").asText()}","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${mapper.writeValueAsString(invSchema.json)},""" +
          s""""partitionColumns":[],"configuration":{},"createdTime":1}}"""
      Files.write(Paths.get(t, "_delta_log", f"${1L}%020d.json"), Seq(metaLine).asJava)
      // conforming rows land
      assert(DeltaWrite.append(Seq((2L, 1.5)).toDF("id", "x"), t) == 2L)
      // a violating value refuses with the column named
      val e = intercept[IllegalStateException](
        DeltaWrite.append(Seq((3L, -1.0)).toDF("id", "x"), t))
      assert(e.getMessage.contains("invariant on column 'x'"))
      // NULL violates too — invariants are strict, unlike CHECK
      val e2 = intercept[IllegalStateException](DeltaWrite.append(
        Seq((3L, Option.empty[Double])).toDF("id", "x"), t))
      assert(e2.getMessage.contains("invariant on column 'x'"))
      // an unparseable invariant is refused, never silently skipped
      val badSchema = new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType)
        .add("x", org.apache.spark.sql.types.DoubleType, nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("delta.invariants", """{"weird":1}""").build())
      val badLine = metaLine.replace(
        mapper.writeValueAsString(invSchema.json),
        mapper.writeValueAsString(badSchema.json))
      assert(badLine != metaLine, "replacement must hit")
      Files.write(Paths.get(t, "_delta_log", f"${3L}%020d.json"), Seq(badLine).asJava)
      val e3 = intercept[UnsupportedOperationException](
        DeltaWrite.append(Seq((4L, 2.0)).toDF("id", "x"), t))
      assert(e3.getMessage.contains("cannot parse"))
    } finally cleanup(t)
  }

  test("generated columns: computed when omitted, validated when provided, protocol v4") {
    val t = newTable()
    try {
      val base = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x")
      DeltaWrite.append(DeltaWrite.withGenerationExpr(base, "x2", "x * 2"), t)
      assert(DeltaRead.snapshot(spark, t).minWriterVersion == 4)
      // append OMITTING the generated column → the writer computes it
      DeltaWrite.append(Seq((3L, 30.0)).toDF("id", "x"), t)
      assert(DeltaRead.read(spark, t).orderBy($"id")
        .select($"x2").as[Double].collect().toSeq == Seq(20.0, 40.0, 60.0))
      // wrong provided values → refused with the column named
      val e = intercept[IllegalStateException](DeltaWrite.append(
        Seq((4L, 40.0, 99.0)).toDF("id", "x", "x2"), t))
      assert(e.getMessage.contains("generated column 'x2'"))
      // conforming provided values pass; merge validates too
      DeltaWrite.append(Seq((4L, 40.0, 80.0)).toDF("id", "x", "x2"), t)
      assert(DeltaRead.read(spark, t).count() == 4L)
      val e2 = intercept[IllegalStateException](DeltaWrite.merge(spark, t,
        Seq((1L, 1.0, 5.0)).toDF("id", "x", "x2"), Seq("id")))
      assert(e2.getMessage.contains("generated column 'x2'"))
    } finally cleanup(t)
  }

  test("a generated PARTITION key derives at write time — the date-partition pattern") {
    val t = newTable()
    try {
      val df = (0 until 30).map(i => (i.toLong, s"v$i")).toDF("id", "txt")
      DeltaWrite.append(DeltaWrite.withGenerationExpr(df, "bucket", "id % 3"), t,
        partitionBy = Seq("bucket"))
      // later appends never mention the partition key at all
      DeltaWrite.append(Seq((100L, "new")).toDF("id", "txt"), t)
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 31L)
      assert(got.where($"bucket" === 1L).count() ==
        (0 until 30).count(_ % 3 == 1) + 1L) // 100 % 3 == 1
      // the Hive layout really is keyed by the derived value
      assert(Files.isDirectory(Paths.get(t, "bucket=2")))
    } finally cleanup(t)
  }

  test("in-commit timestamps take precedence over wall-clock commitInfo for time travel") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "a")).toDF("id", "txt"), t)
      val now = System.currentTimeMillis()
      // a foreign ICT writer's commit: wall-clock field is damaged
      // (file copy reset it to 1) but inCommitTimestamp is authoritative
      Files.write(Paths.get(t, "_delta_log", f"${1L}%020d.json"), Seq(
        s"""{"commitInfo":{"timestamp":1,"inCommitTimestamp":${now + 500000},"operation":"APPEND"}}""").asJava)
      val h = DeltaRead.history(spark, t).orderBy($"version")
        .as[(Long, Long, String)].collect().toSeq
      assert(h(1)._2 == now + 500000, "history must surface the ICT clock")
      // as-of NOW resolves to v0 — v1's effective clock is in the future
      assert(DeltaRead.versionAtTime(spark, t, now) == 0L)
    } finally cleanup(t)
  }

  test("concurrent appenders serialize through the commit CAS (no lost updates)") {
    val t = newTable()
    try {
      val seed = Seq((0L, "seed")).toDF("id", "txt")
      DeltaWrite.append(seed, t)
      val writers = (1 to 4).map { w =>
        new Thread(() => {
          val df = Seq((w.toLong, s"w$w")).toDF("id", "txt")
          DeltaWrite.append(df, t)
        })
      }
      writers.foreach(_.start()); writers.foreach(_.join())
      val got = DeltaRead.read(spark, t)
      assert(got.count() == 5, "every writer's row must survive the race")
      assert(DeltaRead.latestVersion(t) == 4L)
    } finally cleanup(t)
  }
}
