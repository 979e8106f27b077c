package graft

import graft.io.{DeltaRead, DeltaWrite, Staging}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Identity columns (PROTOCOL.md "Identity Columns") are a writer
  * feature graft does not implement: it never allocates identity
  * values, so every commit to an identity table is refused by name —
  * whichever form announces the feature — while reads stay correct
  * (an identity column is a plain long to a reader). The tables are
  * foreign-shaped: a plain graft table whose only commit is
  * hand-edited into each protocol form. */
class IdentityColumnsSpec extends SparkTestBase {
  import spark.implicits._

  private val rows = (1 to 10).map(i => (i.toLong, s"v$i"))

  /** A one-commit table whose commit is rewritten by the `edits`
    * (each `from` text must occur) into an identity table. It also
    * carries CHECK constraint `c`, so dropping it reaches the commit. */
  private def identityTable(tag: String, edits0: (String, String)*): String = {
    val t = Staging.tempDir(tag)
    DeltaWrite.append(rows.toDF("id", "txt").coalesce(1), t)
    val p = Paths.get(t, "_delta_log", f"${0}%020d.json")
    val lines = Files.readAllLines(p).asScala.toSeq
    val edits = edits0 :+
      (""""configuration":{}""" -> """"configuration":{"delta.constraints.c":"id > 0"}""")
    edits.foreach { case (from, _) =>
      assert(lines.exists(_.contains(from)), s"commit lacks $from") }
    Files.write(p, lines.map(l =>
      edits.foldLeft(l) { case (acc, (from, to)) => acc.replace(from, to) }).asJava)
    DeltaRead.clearSnapshotCache()
    t
  }

  // schemaString is a JSON-encoded string INSIDE the metaData action,
  // so the field's keys appear with escaped quotes
  private val plainId = """\"name\":\"id\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}"""
  private val identityId = """\"name\":\"id\",\"type\":\"long\",\"nullable\":false,""" +
    """\"metadata\":{\"delta.identity.start\":1,\"delta.identity.step\":1,""" +
    """\"delta.identity.highWaterMark\":10,\"delta.identity.allowExplicitInsert\":false}"""
  private val plainProtocol = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  test("identity tables refuse every write by name; reads still return the rows") {
    // legacy form: writer version 6 plus delta.identity.* field metadata
    val legacy = identityTable("graft_id_legacy_",
      plainProtocol -> """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
      plainId -> identityId)
    // feature form: (3, 7) listing identityColumns, no field metadata —
    // the feature alone obliges the writer
    val feature = identityTable("graft_id_feature_",
      plainProtocol -> ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":[],"writerFeatures":["appendOnly","identityColumns","invariants"]}}"""))
    for (t <- Seq(legacy, feature)) {
      val s = DeltaRead.snapshot(spark, t)
      assert(s.minWriterVersion == 6 || s.writerFeatures.contains("identityColumns"))
      val writes: Seq[(String, () => Any)] = Seq(
        // the batch omits the identity column, as an identity append would
        "append" -> (() => DeltaWrite.append(Seq("x").toDF("txt"), t)),
        "merge" -> (() => DeltaWrite.merge(spark, t, Seq((1L, "m")).toDF("id", "txt"), Seq("id"))),
        "updateWhere" -> (() => DeltaWrite.updateWhere(spark, t, $"id" === 1L, Seq("txt" -> lit("u")))),
        "replaceWhere" -> (() => DeltaWrite.replaceWhere(spark, t,
          Seq((2L, "r")).toDF("id", "txt"), $"id" === 2L)),
        "deleteWhere" -> (() => DeltaWrite.deleteWhere(spark, t, $"id" <= 3L)),
        // metadata-only commits and the layout rewrite refuse the same way
        "setProperties" -> (() => DeltaWrite.setProperties(spark, t, Map("graft.k" -> "v"))),
        "addCheckConstraint" -> (() => DeltaWrite.addCheckConstraint(spark, t, "c2", "id > 0")),
        "dropCheckConstraint" -> (() => DeltaWrite.dropCheckConstraint(spark, t, "c")),
        "addColumns" -> (() => DeltaWrite.addColumns(spark, t,
          Seq(DeltaWrite.AddColSpec(Seq("extra"), org.apache.spark.sql.types.StringType)))),
        "clusterBy" -> (() => DeltaWrite.clusterBy(spark, t, Seq("txt"))),
        "setDomainMetadata" -> (() => DeltaWrite.setDomainMetadata(spark, t, "graft.test", "{}")),
        "compact" -> (() => DeltaWrite.compact(spark, t)))
      writes.foreach { case (op, w) =>
        val e = intercept[UnsupportedOperationException](w())
        assert(e.getMessage.contains("identity columns"), s"$op on $t: ${e.getMessage}")
        assert(DeltaRead.latestVersion(t) == 0L, s"$op on $t minted a version")
      }
      val got = DeltaRead.read(spark, t).as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got == rows, s"reads of $t must return the committed rows")
    }
  }
}
