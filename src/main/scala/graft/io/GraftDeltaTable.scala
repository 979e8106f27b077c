package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The fluent table-handle API Delta users type
  * (`io.delta.tables.DeltaTable`'s surface, re-expressed over graft's
  * transactional writer): one object per table path, verbs for every
  * maintenance and DML door the engine has. Strictly a FACADE — each
  * method delegates to the same [[DeltaRead]]/[[DeltaWrite]] entry
  * points the SQL doors use, so the three surfaces (Scala API, fluent
  * API, SQL) cannot drift.
  *
  * One deliberate deviation from Delta's builder: `merge` takes the
  * JOIN KEYS as column names rather than a free-form condition —
  * graft's merge is keyed (the touch-then-rewrite plan needs the key
  * list), and parsing equi-conjunctions back out of an expression
  * would be the same list with extra steps. Clause conditions are
  * full expressions: target columns by name, source columns via
  * [[DeltaWrite.mergeSrc]].
  */
final class GraftDeltaTable private (val spark: SparkSession, val path: String) {

  /** The table's current snapshot as a DataFrame (head version). */
  def toDF: DataFrame = DeltaRead.read(spark, path)

  def version: Long = DeltaRead.latestVersion(path)

  def asOf(v: Long): DataFrame = DeltaRead.readVersion(spark, path, v)

  def history(limit: Option[Int] = None): Seq[(Long, Option[Long], Option[String])] =
    DeltaRead.history(path, limit)

  def delete(condition: Column): Long = DeltaWrite.deleteWhere(spark, path, condition)
  def delete(): Long = DeltaWrite.deleteWhere(spark, path, lit(true))

  def update(condition: Column, set: Map[String, Column]): Long =
    DeltaWrite.updateWhere(spark, path, condition, set.toSeq)

  def optimize(): GraftDeltaTable.OptimizeBuilder =
    new GraftDeltaTable.OptimizeBuilder(spark, path)

  def vacuum(retentionHours: Double = 1.0, dryRun: Boolean = false): Int =
    DeltaWrite.vacuum(spark, path, (retentionHours * 3600 * 1000).toLong, dryRun)

  def restoreToVersion(v: Long): Long = DeltaWrite.restore(spark, path, v)

  /** Metadata-only SHALLOW CLONE at `version` (default head). */
  def shallowCloneTo(target: String, version: Option[Long] = None,
      replace: Boolean = false): Long =
    DeltaWrite.shallowClone(spark, path, target, version, replace)

  /** Materializing DEEP CLONE at `version` (default head): files
    * copied on a bounded pool; the clone is fully self-contained. */
  def deepCloneTo(target: String, version: Option[Long] = None,
      replace: Boolean = false): Long =
    DeltaWrite.deepClone(spark, path, target, version, replace)

  def fsck(dryRun: Boolean = false): Seq[DeltaRead.FileEntry] =
    DeltaWrite.fsck(spark, path, dryRun)

  /** Validate a version's `<v>.crc` digest against its resolved
    * snapshot: None = no digest, Some(Nil) = matches, Some(problems). */
  def verifyChecksum(version: Option[Long] = None): Option[Seq[String]] =
    DeltaWrite.verifyChecksum(spark, path, version)

  /** Regenerate the symlink manifest tree (Presto/Trino/Athena
    * interop); `incremental = true` rewrites only changed partitions. */
  def generateManifest(incremental: Boolean = false): Int =
    DeltaWrite.generateSymlinkManifest(spark, path, incremental)

  /** Start a MERGE: `source` rows joined to this table on `keys`. */
  def merge(source: DataFrame, keys: Seq[String]): GraftDeltaTable.MergeBuilder =
    new GraftDeltaTable.MergeBuilder(spark, path, source, keys)
}

object GraftDeltaTable {
  /** Handle for an existing Delta table at `path` (loud when absent). */
  def forPath(spark: SparkSession, path: String): GraftDeltaTable = {
    require(isDeltaTable(path),
      s"GraftDeltaTable.forPath: $path is not a Delta table (no _delta_log)")
    new GraftDeltaTable(spark, path)
  }

  def isDeltaTable(path: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path, "_delta_log"))

  /** Handle for a CATALOG identifier (`cat.db.t`) — resolved through
    * the session's catalogs to a [[graft.io.v2.GraftTable]], exactly
    * like the SQL maintenance door resolves its operands. */
  def forName(spark: SparkSession, name: String): GraftDeltaTable = {
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(name)
    val (plugin, ident) = org.apache.spark.sql.GraftCatalogBridge.resolve(spark, parts)
    plugin match {
      case tc: org.apache.spark.sql.connector.catalog.TableCatalog =>
        tc.loadTable(ident) match {
          case g: graft.io.v2.GraftTable => new GraftDeltaTable(spark, g.path)
          case other => throw new UnsupportedOperationException(
            s"GraftDeltaTable.forName: $name is not a graft-delta table " +
              s"(got ${other.getClass.getSimpleName})")
        }
      case _ => throw new UnsupportedOperationException(
        s"GraftDeltaTable.forName: catalog '${plugin.name()}' is not a table catalog")
    }
  }

  /** [[DeltaWrite.convertToDelta]] then hand back the handle. */
  def convertToDelta(spark: SparkSession, dir: String,
      partitionSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : GraftDeltaTable = {
    DeltaWrite.convertToDelta(spark, dir, partitionSchema)
    forPath(spark, dir)
  }

  /** `optimize()` verbs — bin-pack the table, or one partition of it. */
  final class OptimizeBuilder private[io] (spark: SparkSession, path: String) {
    def executeCompaction(): Int = DeltaWrite.compact(spark, path)
    /** Scope the pass to one partition (`col -> literal` conjunction). */
    def where(partitions: Map[String, String]): Int =
      DeltaWrite.compact(spark, path, partitions = partitions)
  }

  /** Ordered first-match-wins WHEN clauses, executed by
    * [[DeltaWrite.mergeAdvanced]]. Matched-clause conditions and SET
    * expressions see the target row by plain names and the source row
    * via [[DeltaWrite.mergeSrc]]; insert clauses see the SOURCE by
    * plain names (there is no target row to collide with). */
  final class MergeBuilder private[io] (spark: SparkSession, path: String,
      source: DataFrame, keys: Seq[String]) {
    private val matched = scala.collection.mutable.Buffer.empty[DeltaWrite.MergeWhen]
    private val notMatched = scala.collection.mutable.Buffer.empty[DeltaWrite.MergeInsertWhen]
    private val bySource = scala.collection.mutable.Buffer.empty[DeltaWrite.MergeWhen]

    def whenMatched(condition: Column = null): MatchedClause =
      new MatchedClause(Option(condition))
    def whenNotMatched(condition: Column = null): NotMatchedClause =
      new NotMatchedClause(Option(condition))
    def whenNotMatchedBySource(condition: Column = null): BySourceClause =
      new BySourceClause(Option(condition))

    final class MatchedClause private[MergeBuilder] (cond: Option[Column]) {
      /** UPDATE SET * — every source column lands on its namesake. */
      def updateAll(): MergeBuilder = {
        matched += DeltaWrite.MergeUpdateWhen(cond,
          source.columns.toSeq.map(c => c -> DeltaWrite.mergeSrc(c)))
        MergeBuilder.this
      }
      def update(set: Map[String, Column]): MergeBuilder = {
        matched += DeltaWrite.MergeUpdateWhen(cond, set.toSeq)
        MergeBuilder.this
      }
      def delete(): MergeBuilder = {
        matched += DeltaWrite.MergeDeleteWhen(cond)
        MergeBuilder.this
      }
    }
    final class NotMatchedClause private[MergeBuilder] (cond: Option[Column]) {
      /** INSERT * — every source column by name, the rest NULL. */
      def insertAll(): MergeBuilder = {
        notMatched += DeltaWrite.MergeInsertWhen(cond,
          source.columns.toSeq.map(c => c -> org.apache.spark.sql.functions.col(c)))
        MergeBuilder.this
      }
      def insert(values: Map[String, Column]): MergeBuilder = {
        notMatched += DeltaWrite.MergeInsertWhen(cond, values.toSeq)
        MergeBuilder.this
      }
    }
    final class BySourceClause private[MergeBuilder] (cond: Option[Column]) {
      def update(set: Map[String, Column]): MergeBuilder = {
        bySource += DeltaWrite.MergeUpdateWhen(cond, set.toSeq)
        MergeBuilder.this
      }
      def delete(): MergeBuilder = {
        bySource += DeltaWrite.MergeDeleteWhen(cond)
        MergeBuilder.this
      }
    }

    /** Run the merge; returns the committed version. */
    def execute(): Long =
      DeltaWrite.mergeAdvanced(spark, path, source, keys,
        matched.toSeq, notMatched.toSeq, bySource.toSeq)
  }
}
