package graft

import graft.io.{DeltaRead, DeltaWrite}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** V2 CHECKPOINT read support (PROTOCOL.md "V2 spec checkpoints") —
  * the UUID-manifest + `_sidecars/` layout current Delta releases
  * write by default: a hand-authored v2 checkpoint over a
  * graft-written table must resolve to the same snapshot as JSON-tail
  * replay, keep resolving after the JSON prefix is truncated, work in
  * both manifest encodings (parquet and newline-JSON), and fail LOUDLY
  * when a named sidecar is missing. */
class V2CheckpointSpec extends SparkTestBase {
  import spark.implicits._

  private def newTable(): String =
    Files.createTempDirectory("deltav2cp").toString

  private def cleanup(t: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))

  private val addType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType, valueContainsNull = true)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType)))

  private val manifestSchema = StructType(Seq(
    StructField("checkpointMetadata", StructType(Seq(StructField("version", LongType)))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(StructField("provider", StringType)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("sidecar", StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType))))))

  private def writeOneParquet(rows: Seq[Row], schema: StructType, dest: Path): Unit = {
    val tmp = Files.createTempDirectory("v2cp-stage")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(dest.getParent)
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  /** Hand-author a v2 checkpoint (manifest + one sidecar) for the
    * current head snapshot of `t`. `jsonManifest` picks the newline-
    * JSON manifest encoding over parquet. Returns the head version. */
  private def authorV2Checkpoint(t: String, jsonManifest: Boolean): Long = {
    val v = DeltaRead.latestVersion(t)
    val s = DeltaRead.snapshotAt(spark, t, v)
    val sidecarName = s"${UUID.randomUUID()}.parquet"
    val sidecarRows = s.files.map { f =>
      val p = Paths.get(t, f.path)
      Row(Row(f.path, f.partitionValues, Files.size(p),
        Files.getLastModifiedTime(p).toMillis, true))
    }
    writeOneParquet(sidecarRows, StructType(Seq(StructField("add", addType))),
      Paths.get(t, "_delta_log", "_sidecars", sidecarName))
    val proto = Row(3, 7, Seq("v2Checkpoint"), Seq("appendOnly", "invariants"))
    val meta = Row(s.metaId.getOrElse("m"), Row("parquet"),
      s.schema.get.json, s.partitionColumns, s.configuration, 1L)
    val manifestDest = Paths.get(t, "_delta_log",
      f"$v%020d.checkpoint.${UUID.randomUUID()}.${if (jsonManifest) "json" else "parquet"}")
    if (jsonManifest) {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def protoJson = s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":["v2Checkpoint"],"writerFeatures":["appendOnly","invariants"]}}"""
      val metaNode = m.createObjectNode()
      val mm = metaNode.putObject("metaData")
      mm.put("id", s.metaId.getOrElse("m"))
      mm.putObject("format").put("provider", "parquet")
      mm.put("schemaString", s.schema.get.json)
      val pc = mm.putArray("partitionColumns"); s.partitionColumns.foreach(pc.add)
      mm.putObject("configuration")
      val cpMeta = s"""{"checkpointMetadata":{"version":$v}}"""
      val side = s"""{"sidecar":{"path":"$sidecarName","sizeInBytes":1,"modificationTime":1}}"""
      Files.write(manifestDest,
        Seq(cpMeta, protoJson, m.writeValueAsString(metaNode), side).asJava)
    } else {
      val rows = Seq(
        Row(Row(v), null, null, null),
        Row(null, proto, null, null),
        Row(null, null, meta, null),
        Row(null, null, null, Row(sidecarName, 1L, 1L)))
      writeOneParquet(rows, manifestSchema, manifestDest)
    }
    v
  }

  test("parquet manifest + sidecar resolves to the JSON-replay snapshot, survives truncation") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "es"), (2L, "es")).toDF("id", "lang"), t,
        partitionBy = Seq("lang"))
      DeltaWrite.append(Seq((3L, "fr"), (4L, "de")).toDF("id", "lang"), t)
      val before = DeltaRead.read(spark, t).select($"id", $"lang")
        .as[(Long, String)].collect().toSet
      val v = authorV2Checkpoint(t, jsonManifest = false)
      // the checkpoint (newest ≤ head) now drives resolution
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      val viaCp = DeltaRead.read(spark, t).select($"id", $"lang")
        .as[(Long, String)].collect().toSet
      assert(viaCp == before, s"v2 checkpoint resolved $viaCp, replay said $before")
      // truncate the JSON prefix: only the v2 checkpoint can resolve now
      (0L to v).foreach(x =>
        Files.deleteIfExists(Paths.get(t, "_delta_log", f"$x%020d.json")))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      val truncated = DeltaRead.read(spark, t).select($"id", $"lang")
        .as[(Long, String)].collect().toSet
      assert(truncated == before)
      val s = DeltaRead.snapshot(spark, t)
      assert(s.minReaderVersion == 3 && s.readerFeatures.contains("v2Checkpoint"))
      // partition re-attachment from sidecar partitionValues still works
      assert(DeltaRead.read(spark, t).where($"lang" === "es").count() == 2)
    } finally cleanup(t)
  }

  test("newline-JSON manifest encoding resolves identically") {
    val t = newTable()
    try {
      DeltaWrite.append((1 to 25).map(i => (i.toLong, s"x$i")).toDF("id", "txt"), t)
      DeltaWrite.append((26 to 40).map(i => (i.toLong, s"x$i")).toDF("id", "txt"), t)
      val before = DeltaRead.read(spark, t).select($"id").as[Long].collect().toSet
      val v = authorV2Checkpoint(t, jsonManifest = true)
      (0L to v).foreach(x =>
        Files.deleteIfExists(Paths.get(t, "_delta_log", f"$x%020d.json")))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      assert(DeltaRead.read(spark, t).select($"id").as[Long].collect().toSet == before)
    } finally cleanup(t)
  }

  test("a missing sidecar fails loudly, never a partial snapshot") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "a")).toDF("id", "txt"), t)
      val v = authorV2Checkpoint(t, jsonManifest = false)
      val sc = Files.list(Paths.get(t, "_delta_log", "_sidecars")).iterator().asScala
        .toList.head
      Files.delete(sc)
      (0L to v).foreach(x =>
        Files.deleteIfExists(Paths.get(t, "_delta_log", f"$x%020d.json")))
      DeltaRead.clearSnapshotCache() // resolve cold: the checkpoint path, not a cached state
      val e = intercept[IllegalArgumentException](DeltaRead.read(spark, t))
      assert(e.getMessage.contains("sidecar"))
    } finally cleanup(t)
  }
}
