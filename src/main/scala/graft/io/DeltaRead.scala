package graft.io

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, input_file_name, lit, regexp_replace, url_decode}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Read-only Delta Lake `_delta_log` snapshot reader — the format the
  * reference's bronze layer actually lands in
  * (reference extractor_polymarket.py:208-223 writes Delta tables;
  * main.py:128-163 reads them back). graft's own [[TxLog]] provides
  * the equivalent commit protocol for tables graft WRITES; this
  * reader closes the interop gap in the other direction: a user
  * holding the reference's existing datalake points graft at the
  * table directory and gets a correct snapshot — no Delta library,
  * just the public protocol (github.com/delta-io/delta PROTOCOL.md):
  *
  *  - `_delta_log/<v>%020d.json` — one commit per version; each line
  *    is one action object (`add`, `remove`, `metaData`, `protocol`,
  *    `commitInfo`). The live file set at version V = replay of all
  *    commits 0..V: `add` inserts a path, `remove` deletes it.
  *  - `_delta_log/<v>%020d.checkpoint.parquet` — the same replayed
  *    state materialized as parquet (one action per row), so a reader
  *    needn't replay from zero; `_last_checkpoint` names the latest.
  *
  * Resolution ([[snapshotAt]]) takes the first of three paths that
  * applies:
  *
  *  1. CACHE — the JVM keeps, per table (keyed by its absolute path),
  *     the latest small-tier state it replayed; a read at that version
  *     returns it.
  *  2. INCREMENTAL TAIL — a read at a newer version, with every commit
  *     in between still present as JSON, forks the cached state and
  *     applies only those commits, then runs the same support checks
  *     as a cold read.
  *  3. CHECKPOINT + TAIL — otherwise: start from the newest whole
  *     checkpoint at or below the target version, then apply the JSON
  *     tail.
  *
  * A cache entry is trusted only while the commit file of its own
  * version carries the stamp it had when cached (file key, size,
  * mtime, and a CRC-32C of its bytes). Commits are immutable, so a
  * stamp changes only when the table is deleted and re-created at the
  * same path, and such an entry is dropped. The checksum is what makes
  * this independent of the filesystem: a re-created commit may reuse
  * the freed inode, keep the size and land in the same mtime tick, but
  * it carries a new table id and commit clock. Not cached: time travel
  * below the cached version (read cold, the newer entry kept), the
  * Dataset tier, and the DvOnly replay vacuum's DV guard runs. The
  * cache is a bounded LRU (see `SnapshotCache`) and has no
  * configuration. A cold read of a checkpoint runs two Spark jobs: the
  * parquet schema and ONE collect of all its actions (see
  * `applyActionFrame`).
  *
  * FILE STATE IS TIERED ([[FileIndex]]): below the
  * [[DatasetThresholdKey]] file count the checkpoint's actions collect
  * to a driver Seq (the fast path — same driver-memory class as
  * Spark's own InMemoryFileIndex); above it the add rows STAY a Spark
  * DataFrame reconciled with the tail in a window, and the
  * metadata-plane consumers (data skipping, vacuum's protected sets,
  * merge's touched-file lookup, DESCRIBE DETAIL, the change feed's
  * rolled-forward base state, and the checkpoint WRITER) run
  * frame-side — the driver holds O(tail actions), never O(table
  * files). Only planning an actual SCAN still materializes a path
  * list, which Spark's file index requires regardless.
  * Partitioned tables re-attach
  * partition columns from each add's `partitionValues`, cast to the
  * types in `metaData.schemaString` — Delta files do not store
  * partition columns in the parquet itself.
  *
  * Write support lives in [[DeltaWrite]] (same public protocol).
  * Multi-part checkpoints read as one scan over the complete part
  * set (an incomplete set — a writer death mid-checkpoint — is
  * invisible, falling back to older checkpoints or JSON replay).
  * DELETION VECTORS are read correctly: an add's `deletionVector`
  * descriptor decodes through [[DeltaDv]] and the flagged row indexes
  * are masked out of the scan via `_metadata.row_index` + an
  * anti-join (see `assemble`) — so Databricks-written tables with
  * row-level deletes open with the right rows. Column mapping is NOT
  * supported — and because reading past it silently changes column
  * identity, a table that requires it is rejected loudly
  * (see `validateSupported`) rather than read best-effort. */
object DeltaRead {

  final case class FileEntry(path: String, partitionValues: Map[String, String],
      dv: Option[DeltaDv.Descriptor] = None, stats: Option[String] = None,
      baseRowId: Option[Long] = None, defaultRowCommitVersion: Option[Long] = None,
      size: Option[Long] = None, modificationTime: Option[Long] = None) {
    /** `add.size` from the log (protocol-required on every add), with a
      * filesystem-stat fallback only for a legacy action that lacked it.
      * Size-aware paths (compaction planning, DESCRIBE DETAIL, streaming
      * byte pacing) MUST use this instead of statting per file — on
      * object storage a per-file HEAD over millions of files is the
      * difference between a metadata-only plan and an O(files) driver
      * stall, for a number the log already records. The fallback stat
      * FAILS LOUDLY on a missing file: a legacy add whose data file is
      * gone is table damage, not a 0-byte detail for bin-packing math
      * to silently plan around. */
    def sizeOrStat(table: String): Long = size.getOrElse(
      java.nio.file.Files.size(DeltaRead.dataPath(table, path)))
  }
  /** Snapshot FILE STATE, tiered for the 100 TB regime. Below
    * [[DatasetThresholdKey]] files the state is a driver-held Seq (the
    * fast path every small-table code path keeps); above it the
    * checkpoint's add rows STAY a Spark DataFrame — the checkpoint
    * parquet is already columnar — reconciled with the JSON tail in a
    * window, so the driver holds O(tail actions), never O(table
    * files). Consumers that genuinely need every entry on the driver
    * (`seq`) still can — the scan planner's path list is driver-side
    * in Spark regardless (InMemoryFileIndex) — but the metadata-plane
    * consumers (data skipping, vacuum's protected sets, merge's
    * touched-file lookup, DESCRIBE DETAIL) route through
    * [[filterEntries]]/aggregates and never materialize the list. */
  sealed trait FileIndex {
    /** Every live entry, driver-materialized, in deterministic commit
      * order. On a [[DatasetIndex]] this runs a Spark job and collects
      * O(table files) — memoized, and the [[onDatasetMaterialize]]
      * seam fires so tests can pin which consumers avoid it. */
    def seq: Seq[FileEntry]
    def count: Long
    def isEmpty: Boolean
    /** Entries satisfying `pred` (which must be serializable — on the
      * large tier it evaluates EXECUTOR-side), driver-materialized in
      * deterministic commit order. O(survivors) on the driver. */
    def filterEntries(pred: FileEntry => Boolean): Seq[FileEntry]
    /** [[filterEntries]] under the shared [[statsAdmit]] predicate —
      * file-level data skipping without materializing the full list. */
    def admitted(preds: Seq[StatRange]): Seq[FileEntry] =
      if (preds.isEmpty) seq else filterEntries(statsAdmit(_, preds))
  }

  /** The small-tier file state: exactly the pre-tier driver Seq. */
  final case class SeqIndex(entries: Seq[FileEntry]) extends FileIndex {
    def seq: Seq[FileEntry] = entries
    def count: Long = entries.size.toLong
    def isEmpty: Boolean = entries.isEmpty
    def filterEntries(pred: FileEntry => Boolean): Seq[FileEntry] =
      entries.filter(pred)
  }

  final case class DeltaSnapshot(version: Long, index: FileIndex,
      schema: Option[StructType], partitionColumns: Seq[String],
      metaId: Option[String] = None, txns: Map[String, Long] = Map.empty,
      configuration: Map[String, String] = Map.empty,
      minReaderVersion: Int = 1, minWriterVersion: Int = 2,
      readerFeatures: Set[String] = Set.empty,
      writerFeatures: Set[String] = Set.empty,
      domains: Map[String, (String, Boolean)] = Map.empty) {
    /** Driver-materialized entries (see [[FileIndex.seq]]). */
    def files: Seq[FileEntry] = index.seq
    /** This snapshot with an explicit (already-pruned) entry list. */
    def withFiles(fs: Seq[FileEntry]): DeltaSnapshot = copy(index = SeqIndex(fs))
    /** `delta.columnMapping.mode` — `none` (default), `name`, or `id`. */
    def columnMappingMode: String =
      configuration.getOrElse("delta.columnMapping.mode", "none")
    /** Live (non-removed) DOMAIN METADATA: domain → configuration JSON
      * (PROTOCOL.md "Domain Metadata" — per-domain system state like
      * `delta.rowTracking`'s row-id high-water mark). Removed-domain
      * tombstones stay in `domains` (checkpoints must retain them) but
      * are invisible here. */
    def liveDomains: Map[String, String] =
      domains.collect { case (d, (conf, false)) => d -> conf }
  }

  /** Canonical columnar shape of one live-file entry — the schema of
    * [[DatasetIndex.df]] and of [[canonicalAddFrame]]'s projection.
    * `pv` keys are logical once the index applies column mapping;
    * `stats` keys stay PHYSICAL in the frame (the JSON rekey is JVM
    * work, applied when an entry materializes). */
  private[graft] val CanonicalFileSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pv",
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType)),
    org.apache.spark.sql.types.StructField("dvStorageType",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("dvPathOrInlineDv",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("dvOffset",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("dvSizeInBytes",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("dvCardinality",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("stats",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("baseRowId",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("defaultRowCommitVersion",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("size",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("modificationTime",
      org.apache.spark.sql.types.LongType)))

  /** One [[CanonicalFileSchema]]-shaped row → a [[FileEntry]] (path
    * taken as-is — callers decode where the source was encoded).
    * Extra columns (ordering) are ignored; lookup is by name. */
  private[graft] def rowToFileEntry(row: org.apache.spark.sql.Row): FileEntry = {
    def optLong(name: String): Option[Long] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(row.getLong(i))
    }
    val pvI = row.fieldIndex("pv")
    val pv =
      if (row.isNullAt(pvI)) Map.empty[String, String]
      else row.getMap[String, String](pvI).toMap
    val dv = Option(row.getAs[String]("dvStorageType")).map { st =>
      val offI = row.fieldIndex("dvOffset")
      DeltaDv.Descriptor(st, row.getAs[String]("dvPathOrInlineDv"),
        if (row.isNullAt(offI)) None else Some(row.getInt(offI)),
        row.getAs[Int]("dvSizeInBytes"), row.getAs[Long]("dvCardinality"))
    }
    FileEntry(row.getAs[String]("path"), pv, dv,
      Option(row.getAs[String]("stats")),
      optLong("baseRowId"), optLong("defaultRowCommitVersion"),
      optLong("size"), optLong("modificationTime"))
  }

  /** Session conf: file count at which snapshot resolution switches to
    * the Dataset tier (decided from `_last_checkpoint`'s advertised
    * `numOfAddFiles`, so small tables pay zero extra I/O). */
  private[graft] val DatasetThresholdKey = "spark.graft.snapshot.datasetThreshold"
  private def datasetThreshold(spark: SparkSession): Long =
    spark.conf.getOption(DatasetThresholdKey).flatMap(_.toLongOption)
      .getOrElse(100000L)

  /** TEST SEAM: fires (with the table path) whenever a [[DatasetIndex]]
    * materializes its full entry list on the driver — the
    * large-fixture spec pins that the ported metadata consumers never
    * trigger it. */
  private[graft] var onDatasetMaterialize: Option[String => Unit] = None

  /** Large-tier file state (see [[FileIndex]]): checkpoint add frames
    * (never collected) + the bounded tail journal, reconciled
    * remove-over-add in one window keyed on the decoded path. Ordering
    * ties to the journal sequence; checkpoint rows rank below every
    * tail action (a checkpoint holds each path at most once, so the
    * shared -1 rank is unambiguous). Materialization order is
    * (last-action sequence, path) — deterministic, though not
    * bit-identical to the Seq tier's LinkedHashMap order when a tail
    * commit re-adds a checkpointed path. */
  final class DatasetIndex private[io] (spark: SparkSession, val table: String,
      cpFrames: Seq[DataFrame], journal: Seq[Replay.JEntry],
      logicalByPhys: Map[String, String]) extends FileIndex {
    import org.apache.spark.sql.functions.{element_at, lit => flit,
      row_number, transform_keys, try_url_decode, typedlit}
    import org.apache.spark.sql.Row

    private val SeqCol = "__graft_seq"
    private val AddCol = "__graft_is_add"

    /** Live rows in [[CanonicalFileSchema]] + [[SeqCol]]. The SQL-side
      * path decode matches [[decodePath]] (= `URI.getPath`):
      * percent-encoded segments decode, '+' is literal (protected
      * before url_decode), an undecodable path passes through raw,
      * and a scheme-ful URI — which foreign writers and SHALLOW CLONE
      * logs legitimately carry as ABSOLUTE add paths — drops its
      * `scheme:` / `scheme://authority` prefix exactly as
      * `URI.getPath` does. Without the strip, the Dataset tier would
      * keep the scheme while driver-decoded tail removes don't, so
      * remove-over-add reconciliation on `path` would silently miss
      * and [[dataPath]] would misresolve the scheme-ful string. */
    private lazy val reconciled: DataFrame = {
      def decode(c: Column): Column = {
        // lookahead keeps the strip to HIERARCHICAL URIs (a '/' path
        // follows) — an opaque `a:b` form has no URI path and is not
        // a resolvable data file either way
        val noScheme =
          regexp_replace(c, "^[a-zA-Z][A-Za-z0-9+.-]*:(//[^/]*)?(?=/)", "")
        coalesce(try_url_decode(regexp_replace(noScheme, "\\+", "%2B")), noScheme)
      }
      val cps = cpFrames.map(f => f
        .withColumn("path", decode(col("path")))
        .withColumn(AddCol, flit(true)).withColumn(SeqCol, flit(-1L)))
      val jdf =
        if (journal.isEmpty) Nil
        else {
          val rows = journal.map {
            case Replay.JAdd(sq, e) => Row(
              e.path, e.partitionValues,
              e.dv.map(_.storageType).orNull, e.dv.map(_.pathOrInlineDv).orNull,
              e.dv.flatMap(_.offset).map(Int.box).orNull,
              e.dv.map(d => Int.box(d.sizeInBytes)).orNull,
              e.dv.map(d => Long.box(d.cardinality)).orNull,
              e.stats.orNull, e.baseRowId.map(Long.box).orNull,
              e.defaultRowCommitVersion.map(Long.box).orNull,
              e.size.map(Long.box).orNull,
              e.modificationTime.map(Long.box).orNull,
              Boolean.box(true), Long.box(sq))
            case Replay.JRemove(sq, p) => Row(p, null, null, null, null, null,
              null, null, null, null, null, null, Boolean.box(false), Long.box(sq))
          }
          val sch = StructType(CanonicalFileSchema.fields ++ Seq(
            org.apache.spark.sql.types.StructField(AddCol,
              org.apache.spark.sql.types.BooleanType),
            org.apache.spark.sql.types.StructField(SeqCol,
              org.apache.spark.sql.types.LongType)))
          Seq(spark.createDataFrame(
            spark.sparkContext.parallelize(rows,
              math.max(1, rows.size / 100000)), sch))
        }
      val all = (cps ++ jdf) match {
        case Nil => // degenerate: a checkpoint with no add column at all
          val sch = StructType(CanonicalFileSchema.fields ++ Seq(
            org.apache.spark.sql.types.StructField(AddCol,
              org.apache.spark.sql.types.BooleanType),
            org.apache.spark.sql.types.StructField(SeqCol,
              org.apache.spark.sql.types.LongType)))
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch)
        case fs => fs.reduce(_.unionByName(_))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("path").orderBy(col(SeqCol).desc)
      val live = all.withColumn("__graft_rn", row_number().over(w))
        .where(col("__graft_rn") === 1 && col(AddCol))
        .drop("__graft_rn", AddCol)
      if (logicalByPhys.isEmpty) live
      else {
        val renameMap = typedlit(logicalByPhys)
        live.withColumn("pv",
          transform_keys(col("pv"), (k, _) => coalesce(element_at(renameMap, k), k)))
      }
    }

    /** The canonical live-file frame ([[CanonicalFileSchema]]). */
    def df: DataFrame = reconciled.drop(SeqCol)

    private def finish(e: FileEntry): FileEntry =
      if (logicalByPhys.isEmpty) e
      else e.copy(stats = e.stats.map(renameStatsKeys(_, logicalByPhys)))

    override lazy val count: Long = reconciled.count()
    override def isEmpty: Boolean = count == 0L

    override lazy val seq: Seq[FileEntry] = {
      onDatasetMaterialize.foreach(_(table))
      reconciled.orderBy(col(SeqCol), col("path"))
        .collect().toSeq.map(r => finish(rowToFileEntry(r)))
    }

    override def filterEntries(pred: FileEntry => Boolean): Seq[FileEntry] = {
      val rename = logicalByPhys
      val kept = reconciled.mapPartitions { it =>
        it.filter { row =>
          val e0 = rowToFileEntry(row)
          val e = if (rename.isEmpty) e0
            else e0.copy(stats = e0.stats.map(renameStatsKeys(_, rename)))
          pred(e)
        }
      }(org.apache.spark.sql.Encoders.row(reconciled.schema))
      kept.orderBy(col(SeqCol), col("path"))
        .collect().toSeq.map(r => finish(rowToFileEntry(r)))
    }

    /** (file count, Σ log-recorded `size` with absent→0) as ONE
      * metadata aggregate — the version-checksum arithmetic's base
      * facts (crc semantics treat a missing size as 0, never a stat). */
    lazy val loggedCountAndBytes: (Long, Long) = {
      import org.apache.spark.sql.functions.{count => fcount, lit => flit, sum => fsum}
      val r = df.agg(fcount(flit(1)), fsum(coalesce(col("size"), flit(0L))))
        .collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    /** (file count, total bytes) as one executor-side aggregate — the
      * DESCRIBE DETAIL path; a legacy add lacking `size` stats its
      * file in the task, never on the driver. */
    lazy val countAndBytes: (Long, Long) = {
      val t = table
      val enc = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
      df.mapPartitions { it =>
        var n = 0L; var b = 0L
        it.foreach { row => n += 1L; b += rowToFileEntry(row).sizeOrStat(t) }
        Iterator((n, b))
      }(enc).collect()
        .foldLeft((0L, 0L)) { case ((an, ab), (n, b)) => (an + n, ab + b) }
    }

    /** Normalized live data-file paths (same normalization the vacuum
      * walk applies) — the anti-join build side. */
    def livePathsDf: org.apache.spark.sql.Dataset[String] = {
      val t = table
      df.select("path").mapPartitions(_.map(r =>
        dataPath(t, r.getString(0)).normalize().toString))(
        org.apache.spark.sql.Encoders.STRING)
    }

    /** Normalized live deletion-vector FILE paths (u/p storage only). */
    def liveDvPathsDf: org.apache.spark.sql.Dataset[String] = {
      val t = table
      df.select("dvStorageType", "dvPathOrInlineDv", "dvOffset",
        "dvSizeInBytes", "dvCardinality")
        .where(col("dvStorageType").isin("u", "p"))
        .mapPartitions(_.map { r =>
          val d = DeltaDv.Descriptor(r.getString(0), r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getInt(2)),
            r.getInt(3), r.getLong(4))
          DeltaDv.dvFile(t, d).normalize().toString
        })(org.apache.spark.sql.Encoders.STRING)
    }
  }

  /** Reader features this implementation actually honors. Anything
    * else would silently change what the data MEANS — columns
    * resolving to the wrong parquet field — so an unsupported feature
    * is a loud error, never a best-effort read. timestampNtz only
    * widens a type (the parquet scan already handles it);
    * deletionVectors is implemented for real (descriptor decode + row
    * masking — [[DeltaDv]]); columnMapping is implemented by scanning
    * under physical names and renaming back (see [[ColumnMapping]]);
    * v2Checkpoint resolves the UUID-manifest + sidecar layout current
    * Delta releases write by default (see `applyV2Checkpoint`);
    * typeWidening is honored because every scan runs under the LOG's
    * explicit schema and Spark's parquet reader performs the
    * protocol's whole widening matrix physically (int→long,
    * byte/short→int, int→double, float→double, date→timestamp_ntz,
    * integer→decimal, decimal precision/scale increases — probed, and
    * pinned by TypeWideningSpec); variantType reads natively (Spark's
    * VariantType IS the parquet layout the feature names); SHREDDED
    * variants (`variantShredding`, typed_value groups per the parquet
    * variant shredding spec) reassemble inside Spark's parquet row
    * converter — `spark.sql.variant.allowReadingShredded` defaults
    * true and VariantShreddingSpec pins the roundtrip, so the feature
    * is honored, not waved through; vacuumProtocolCheck's reader half
    * requires nothing of a reader — it exists to gate legacy VACUUM
    * implementations, and graft's vacuum checks the protocol first. */
  private val SupportedReaderFeatures =
    Set("timestampNtz", "deletionVectors", "columnMapping", "v2Checkpoint",
      "vacuumProtocolCheck", "typeWidening", "typeWidening-preview",
      "variantType", "variantShredding", "checkpointProtection")

  /** Column-mapping translation (PROTOCOL.md "Column Mapping"): when
    * `delta.columnMapping.mode` is `name` or `id`, each logical field
    * in `metaData.schemaString` carries metadata —
    * `delta.columnMapping.physicalName` (the name the parquet files
    * actually store, at EVERY nesting level) and
    * `delta.columnMapping.id` — and the `partitionValues` keys of
    * add/remove actions use the physical names too. This reader scans
    * under an explicit physicalized schema and renames back to the
    * logical names (nested renames ride a positional struct cast,
    * exact because physical and logical schemas are structurally
    * identical). `id` mode resolves through the same physical names:
    * every Delta writer that enables id mode is required to also
    * record physicalName and writes files under it, so name-resolution
    * is correct for Delta-written files; a foreign file carrying ONLY
    * parquet field ids (no matching physical names) is outside this
    * reader's support and reads as all-null columns rather than wrong
    * columns. */
  private[io] object ColumnMapping {
    val PhysKey = "delta.columnMapping.physicalName"
    val IdKey = "delta.columnMapping.id"

    def active(mode: String): Boolean = mode == "name" || mode == "id"

    private def physField(f: org.apache.spark.sql.types.StructField): String =
      if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey) else f.name

    /** The schema as the parquet files store it: physical names at
      * every level, field metadata stripped (it would be noise in the
      * scan schema). */
    def physicalize(dt: DataType): DataType = dt match {
      // metadata rides along: EXISTS_DEFAULT on the SCAN schema is what
      // makes the parquet reader serve a defaulted column for files
      // predating its add (ADD COLUMN ... DEFAULT's read half)
      case st: StructType => StructType(st.fields.map(f =>
        org.apache.spark.sql.types.StructField(
          physField(f), physicalize(f.dataType), f.nullable, f.metadata)))
      case org.apache.spark.sql.types.ArrayType(et, n) =>
        org.apache.spark.sql.types.ArrayType(physicalize(et), n)
      case org.apache.spark.sql.types.MapType(k, v, n) =>
        org.apache.spark.sql.types.MapType(physicalize(k), physicalize(v), n)
      case other => other
    }

    /** logical name → physical name for the TOP level of `schema`. */
    def physByLogical(schema: StructType): Map[String, String] =
      schema.fields.map(f => f.name -> physField(f)).toMap

    /** ID-MODE name resolution against an actual parquet footer
      * (PROTOCOL.md: id mode matches columns on parquet FIELD IDS, not
      * names): for each logical field carrying a mapping id, find the
      * footer field with that id and scan under ITS stored name — so a
      * table whose physical names were rewritten by another id-mode
      * engine (ids preserved, `col-*` names regenerated) still opens
      * with the right columns instead of all-nulls. Fields the footer
      * doesn't carry (added after this file was written) fall back to
      * the log's physical name and read as null, as schema evolution
      * requires. Struct nesting resolves recursively; array/map
      * ELEMENT structs keep the log's physical names (their parquet
      * wrapper groups don't round-trip ids portably). */
    def resolveByFieldId(logical: StructType,
        footer: org.apache.parquet.schema.GroupType): StructType = {
      def resolveStruct(st: StructType, g: org.apache.parquet.schema.GroupType): StructType =
        StructType(st.fields.map { f =>
          val byId =
            if (!f.metadata.contains(IdKey)) None
            else {
              val id = f.metadata.getLong(IdKey)
              g.getFields.asScala.find(t => t.getId != null && t.getId.intValue() == id)
            }
          val name = byId.map(_.getName).getOrElse(physField(f))
          val dt = (f.dataType, byId) match {
            case (nested: StructType, Some(t)) if !t.isPrimitive =>
              resolveStruct(nested, t.asGroupType())
            case (nested: StructType, None) =>
              g.getFields.asScala.find(t => t.getName == name && !t.isPrimitive)
                .map(t => resolveStruct(nested, t.asGroupType()))
                .getOrElse(physicalize(nested).asInstanceOf[StructType])
            case (other, _) => physicalize(other)
          }
          org.apache.spark.sql.types.StructField(name, dt, f.nullable)
        })
      resolveStruct(logical, footer)
    }
  }

  private val mapper = new ObjectMapper()

  private def logDir(table: String): Path = Paths.get(table, "_delta_log")

  private def listLog(table: String): Seq[String] = {
    val ld = logDir(table)
    require(Files.isDirectory(ld), s"$table has no _delta_log — not a Delta table")
    val st = Files.list(ld)
    try st.iterator().asScala.map(_.getFileName.toString).toList
    finally st.close()
  }

  /** Delta `add.path` is a URI-encoded relative path; decode the
    * percent escapes (never `+`-as-space — that is form encoding). */
  private[io] def decodePath(p: String): String =
    try new java.net.URI(p).getPath catch { case _: Exception => p }

  /** A log action's (decoded) path resolved to a concrete data file.
    * The protocol allows TWO shapes: relative to the table root (the
    * writer's own files) and ABSOLUTE (what SHALLOW CLONE commits —
    * add actions pointing into the SOURCE table's directory). Every
    * consumer of `FileEntry.path` must come through here; a bare
    * `Paths.get(table, path)` silently mis-joins an absolute path
    * UNDER the table root (`Paths.get` treats every later segment as
    * relative) and the scan would read a nonexistent file. */
  private[graft] def dataPath(table: String, path: String): Path = {
    val p = Paths.get(path)
    if (p.isAbsolute) p else Paths.get(table, path)
  }

  /** `<v>.checkpoint.<part>.<of>.parquet` — what large writers emit
    * when one checkpoint parquet would be too big. */
  private val MultiPartRe = """^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$""".r

  /** `<v>.checkpoint.<uuid>.{parquet,json}` — a V2 CHECKPOINT
    * (PROTOCOL.md "V2 spec checkpoints"): a UUID-named MANIFEST
    * holding the non-file actions plus `sidecar` pointers to parquet
    * files under `_delta_log/_sidecars/` that carry the add actions.
    * The default layout current Delta releases write. */
  private val V2Re =
    """^(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.(parquet|json)$""".r

  /** `<x>.<y>.compacted.json` — a MINOR LOG COMPACTION (PROTOCOL.md
    * "Log Compaction Files"): the reconciled actions of commits x..y
    * in one newline-JSON file, readable in place of the per-commit
    * files it spans. Invisible to every version listing (the dotted
    * stem fails the all-digits filters). */
  private val CompactedRe = """^(\d{20})\.(\d{20})\.compacted\.json$""".r

  /** Available minor compactions keyed by start version; each start
    * keeps ALL its spans so a resolution targeting a mid-range version
    * can still take a shorter one that fits. */
  private def compactedRanges(table: String): Map[Long, Seq[(Long, Path)]] = {
    val ld = logDir(table)
    if (!Files.isDirectory(ld)) return Map.empty
    val st = Files.list(ld)
    val all =
      try st.iterator().asScala.flatMap { p =>
        p.getFileName.toString match {
          case CompactedRe(a, b) if a.toLong <= b.toLong =>
            Some((a.toLong, b.toLong, p))
          case _ => None
        }
      }.toList
      finally st.close()
    all.groupBy(_._1).map { case (a, xs) =>
      a -> xs.map(x => (x._2, x._3)).sortBy(-_._1)
    }
  }

  /** The checkpoint version a MULTIPART or V2-MANIFEST log file name
    * encodes (classic single-part names are handled by their plain
    * suffix at call sites). */
  private[io] def checkpointVersionOf(name: String): Option[Long] = name match {
    case MultiPartRe(v, _, _) => Some(v.toLong)
    case V2Re(v, _, _) => Some(v.toLong)
    case _ => None
  }

  /** The sidecar FILE NAMES a v2 manifest references (empty for
    * anything else — classic checkpoints carry no sidecars). Metadata
    * cleanup uses this to spare shared sidecars that a surviving
    * checkpoint still needs. */
  private[io] def sidecarsOfManifest(spark: SparkSession, table: String,
      p: Path): Seq[String] = p.getFileName.toString match {
    case V2Re(_, _, kind) =>
      val raw: Seq[String] =
        if (kind == "json")
          Files.readAllLines(p).asScala.filter(_.trim.nonEmpty).flatMap { line =>
            Option(mapper.readTree(line).get("sidecar")).filterNot(_.isNull)
              .map(s => s.get("path").asText())
          }.toSeq
        else {
          val cp = spark.read.parquet(p.toString)
          if (!cp.columns.contains("sidecar")) Nil
          else cp.where(cp("sidecar").isNotNull).selectExpr("sidecar.path")
            .collect().map(_.getString(0)).toSeq
        }
      raw.map(sp => Paths.get(decodePath(sp)).getFileName.toString)
    case _ => Nil
  }

  /** A resolvable checkpoint at one version: the classic single/multi
    * part set, or a v2 manifest. */
  private sealed trait CheckpointRef
  private final case class ClassicCp(parts: Seq[Path]) extends CheckpointRef
  private final case class V2Cp(manifest: Path) extends CheckpointRef

  /** The checkpoint for version `v`, if whole: classic single-part,
    * COMPLETE multi-part set (an incomplete set — a writer death
    * mid-checkpoint — is invisible, never a partial state), or a v2
    * manifest. Classic wins when both exist (graft writes classic;
    * either resolves to the same state). */
  private[io] def isWholeCheckpoint(table: String, v: Long): Boolean =
    checkpointRef(table, v).isDefined

  private def checkpointRef(table: String, v: Long): Option[CheckpointRef] = {
    val single = logDir(table).resolve(f"$v%020d.checkpoint.parquet")
    if (Files.exists(single)) Some(ClassicCp(Seq(single)))
    else {
      val names = listLog(table)
      val parts = names.flatMap {
        case n @ MultiPartRe(ver, i, cnt) if ver.toLong == v =>
          Some((i.toInt, cnt.toInt, n))
        case _ => None
      }
      val multi = parts.headOption.map(_._2) match {
        case Some(n) if parts.size == n && parts.map(_._1).toSet == (1 to n).toSet =>
          Some(ClassicCp(parts.sortBy(_._1).map(p => logDir(table).resolve(p._3))))
        case _ => None
      }
      multi.orElse {
        names.collect { case n @ V2Re(ver, _, _) if ver.toLong == v => n }
          .sorted.headOption // deterministic pick among racing writers
          .map(n => V2Cp(logDir(table).resolve(n)))
      }
    }
  }

  def latestVersion(table: String): Long = {
    val names = listLog(table)
    val jsonVs = names.filter(_.endsWith(".json")).filterNot(_.startsWith("_"))
      .map(_.stripSuffix(".json")).filter(_.forall(_.isDigit)).map(_.toLong)
    val cpVs = names.filter(_.endsWith(".checkpoint.parquet"))
      .map(_.stripSuffix(".checkpoint.parquet")).filter(_.forall(_.isDigit)).map(_.toLong)
    val mpVs = names.collect { case MultiPartRe(ver, _, _) => ver.toLong }
    val v2Vs = names.collect { case V2Re(ver, _, _) => ver.toLong }
    require(jsonVs.nonEmpty || cpVs.nonEmpty || mpVs.nonEmpty || v2Vs.nonEmpty,
      s"$table: empty _delta_log")
    (jsonVs ++ cpVs ++ mpVs ++ v2Vs).max
  }

  /** The newest whole checkpoint version ≤ `target`, preferring the
    * `_last_checkpoint` pointer (one read instead of a listing) when
    * it is present and in range. */
  private def checkpointAtOrBelow(table: String, target: Long): Option[Long] = {
    val fromPointer =
      try {
        val p = logDir(table).resolve("_last_checkpoint")
        if (Files.exists(p)) {
          val node = mapper.readTree(Files.readAllBytes(p))
          Option(node.get("version")).map(_.asLong()).filter(_ <= target)
            // trust the pointer only when the files it names are whole
            .filter(v => checkpointRef(table, v).isDefined)
        } else None
      } catch { case _: Exception => None }
    fromPointer.orElse {
      val names = listLog(table)
      val singles = names.filter(_.endsWith(".checkpoint.parquet"))
        .map(_.stripSuffix(".checkpoint.parquet")).filter(_.forall(_.isDigit))
        .map(_.toLong)
      val others = names.collect {
        case MultiPartRe(ver, _, _) => ver.toLong
        case V2Re(ver, _, _) => ver.toLong
      }.distinct.filter(v => checkpointRef(table, v).isDefined) // whole only
      (singles ++ others).filter(_ <= target).maxOption
    }
  }

  /** The oldest version a replay can still resolve: 0 while the full
    * JSON history survives, else the oldest surviving WHOLE checkpoint
    * ([[DeltaWrite.cleanMetadata]] deletes the contiguous prefix below
    * its boundary checkpoint, so everything at or above that
    * checkpoint is replayable and nothing below it is). Consumers that
    * walk history (vacuum's DV-window guard) must clamp their start
    * here — asking for anything older hits `applyJsonCommit`'s
    * missing-file require. */
  private[io] def oldestResolvableVersion(table: String): Long = {
    if (Files.exists(logDir(table).resolve(f"${0L}%020d.json"))) 0L
    else {
      val names = listLog(table)
      val singles = names.filter(_.endsWith(".checkpoint.parquet"))
        .map(_.stripSuffix(".checkpoint.parquet")).filter(_.forall(_.isDigit))
        .map(_.toLong)
      val others = names.collect {
        case MultiPartRe(ver, _, _) => ver.toLong
        case V2Re(ver, _, _) => ver.toLong
      }.distinct
      (singles ++ others).filter(isWholeCheckpoint(table, _)).minOption
        .getOrElse(0L)
    }
  }

  private[io] object Replay {
    /** What a replay TRACKS, so one replay engine serves three scale
      * profiles without three reimplementations of the action grammar. */
    sealed trait Mode
    /** Full driver-held file state (the small tier). */
    case object Full extends Mode
    /** Only dv-BEARING entries (vacuum's DV-window guard): an add
      * without a dv clears its path — a rewrite dropped the bitmap —
      * so driver state is O(dv-carrying files), not O(table files). */
    case object DvOnly extends Mode
    /** No driver file state at all: checkpoint add frames are recorded
      * as DataFrames and the tail as a bounded journal, feeding a
      * [[DatasetIndex]]. */
    case object Dataset extends Mode

    sealed trait JEntry { def seq: Long }
    final case class JAdd(seq: Long, e: FileEntry) extends JEntry
    final case class JRemove(seq: Long, path: String) extends JEntry
  }

  /** Replay state: insertion-ordered so output file order is the
    * commit order (deterministic reads). */
  private final class Replay(val mode: Replay.Mode = Replay.Full) {
    val files = new scala.collection.mutable.LinkedHashMap[String, FileEntry]
    /** Dataset mode: the checkpoint's add projections, uncollected. */
    val cpAddFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    /** Dataset mode: every post-checkpoint file action, in order. */
    val journal = scala.collection.mutable.ArrayBuffer.empty[Replay.JEntry]
    private var seqCounter = 0L
    private def nextSeq(): Long = { val s = seqCounter; seqCounter += 1; s }
    var schema: Option[StructType] = None
    var partitionColumns: Seq[String] = Nil
    var metaId: Option[String] = None
    var minReaderVersion: Int = 1
    var minWriterVersion: Int = 2
    var readerFeatures: Set[String] = Set.empty
    var writerFeatures: Set[String] = Set.empty
    var configuration: Map[String, String] = Map.empty
    /** Highest SetTransaction version per appId — the protocol's
      * exactly-once handle for streaming sinks. */
    val txns = scala.collection.mutable.HashMap.empty[String, Long]
    def txn(appId: String, version: Long): Unit =
      txns.updateWith(appId)(v => Some(v.fold(version)(math.max(_, version))))
    /** Domain metadata: latest action per domain wins (replay order);
      * removed=true tombstones are kept — checkpoints retain them. */
    val domains = new scala.collection.mutable.LinkedHashMap[String, (String, Boolean)]
    def domain(name: String, conf: String, removed: Boolean): Unit =
      domains.put(name, (conf, removed))
    def metaData(schemaString: String, partCols: Seq[String],
        id: Option[String] = None, conf: Map[String, String] = Map.empty): Unit = {
      schema = Some(DataType.fromJson(schemaString).asInstanceOf[StructType])
      partitionColumns = partCols
      id.foreach(i => metaId = Some(i))
      configuration = conf
    }
    def protocol(minReader: Int, features: Set[String],
        minWriter: Int = 2, wFeatures: Set[String] = Set.empty): Unit = {
      minReaderVersion = minReader
      readerFeatures = features
      minWriterVersion = minWriter
      writerFeatures = wFeatures
    }
    def add(e: FileEntry): Unit = mode match {
      case Replay.Full => files.put(e.path, e)
      case Replay.DvOnly =>
        if (e.dv.isDefined) files.put(e.path, e) else files.remove(e.path)
      case Replay.Dataset => journal += Replay.JAdd(nextSeq(), e)
    }
    def remove(path: String): Unit = mode match {
      case Replay.Dataset => journal += Replay.JRemove(nextSeq(), path)
      case _ => files.remove(path)
    }

    /** A [[Replay.Full]] copy of this small-tier state — the seed the
      * snapshot cache advances, so a cached state is never mutated. */
    def fork(): Replay = {
      require(mode == Replay.Full, s"only small-tier replays fork, not $mode")
      val r = new Replay(Replay.Full)
      r.files ++= files
      r.schema = schema
      r.partitionColumns = partitionColumns
      r.metaId = metaId
      r.minReaderVersion = minReaderVersion
      r.minWriterVersion = minWriterVersion
      r.readerFeatures = readerFeatures
      r.writerFeatures = writerFeatures
      r.configuration = configuration
      r.txns ++= txns
      r.domains ++= domains
      r
    }

    /** Refuse any table whose correct interpretation needs a feature
      * this reader does not implement — the alternative is silently
      * wrong rows (a deletion-vectored file read in full resurrects
      * deleted data; a column-mapped schema resolves names to the
      * wrong parquet fields). */
    def validateSupported(table: String): Unit = {
      val mappingMode = configuration.getOrElse("delta.columnMapping.mode", "none")
      if (mappingMode != "none" && !ColumnMapping.active(mappingMode))
        throw new UnsupportedOperationException(
          s"$table uses column mapping mode '$mappingMode' — unsupported; " +
            "physical parquet names would not match the logical schema")
      if (ColumnMapping.active(mappingMode))
        require(schema.nonEmpty,
          s"$table: column mapping '$mappingMode' with no metaData schema")
      if (minReaderVersion >= 3) {
        val unsupported = readerFeatures -- SupportedReaderFeatures
        if (unsupported.nonEmpty) throw new UnsupportedOperationException(
          s"$table requires reader features ${unsupported.toSeq.sorted.mkString(", ")} — " +
            "unsupported; reading anyway would return wrong rows")
      } else if (minReaderVersion > 3) throw new UnsupportedOperationException(
        s"$table requires minReaderVersion $minReaderVersion — unsupported")
    }
  }

  private def applyJsonCommit(table: String, v: Long, r: Replay): Unit = {
    val p = commitPath(table, v)
    require(Files.exists(p),
      s"$table: commit $v missing — log truncated past the last checkpoint")
    applyActionsFile(p, r)
  }

  /** Replay every action line of a newline-JSON log file (a commit or
    * a `{x}.{y}.compacted.json` minor compaction) into `r`. */
  private def applyActionsFile(p: Path, r: Replay): Unit = {
    Files.readAllLines(p).asScala.filter(_.trim.nonEmpty).foreach { line =>
      val node = mapper.readTree(line)
      val addN = node.get("add"); val remN = node.get("remove")
      val metaN = node.get("metaData"); val protoN = node.get("protocol")
      if (addN != null) r.add(fileEntry(addN))
      if (remN != null) r.remove(decodePath(remN.get("path").asText()))
      if (metaN != null) r.metaData(
        metaN.get("schemaString").asText(),
        Option(metaN.get("partitionColumns")).map(_.elements().asScala.map(_.asText()).toSeq)
          .getOrElse(Nil),
        Option(metaN.get("id")).filterNot(_.isNull).map(_.asText()),
        Option(metaN.get("configuration")).filterNot(_.isNull).map { c =>
          c.fieldNames().asScala.map(k => k -> c.get(k).asText()).toMap
        }.getOrElse(Map.empty))
      if (protoN != null) r.protocol(
        Option(protoN.get("minReaderVersion")).map(_.asInt()).getOrElse(1),
        Option(protoN.get("readerFeatures")).filterNot(_.isNull)
          .map(_.elements().asScala.map(_.asText()).toSet).getOrElse(Set.empty),
        Option(protoN.get("minWriterVersion")).map(_.asInt()).getOrElse(2),
        Option(protoN.get("writerFeatures")).filterNot(_.isNull)
          .map(_.elements().asScala.map(_.asText()).toSet).getOrElse(Set.empty))
      val txnN = node.get("txn")
      if (txnN != null) r.txn(txnN.get("appId").asText(), txnN.get("version").asLong())
      val domN = node.get("domainMetadata")
      if (domN != null) r.domain(domN.get("domain").asText(),
        Option(domN.get("configuration")).filterNot(_.isNull)
          .map(_.asText()).getOrElse(""),
        Option(domN.get("removed")).exists(_.asBoolean()))
    }
  }

  /** One commit's FILE-level data changes, for tailing consumers (the
    * `graft-delta` streaming source): the table-relative paths of this
    * commit's `dataChange=true` adds (sorted — a stable order the
    * source's file-granular offsets index into), plus whether the
    * commit also REMOVED data (`dataChange=true` removes — an
    * update/delete/overwrite, which an append-tail must refuse or
    * skip, never silently misread as inserts). Maintenance commits
    * (OPTIMIZE / compaction, `dataChange=false` on both sides)
    * contribute nothing on either channel. */
  def commitAdds(table: String, version: Long): (Seq[(String, Long)], Boolean) = {
    val p = logDir(table).resolve(f"$version%020d.json")
    require(Files.exists(p),
      s"commitAdds: $table commit $version is gone (expired/vacuumed) — " +
        "a consumer this far behind must re-bootstrap from a snapshot")
    val adds = Seq.newBuilder[(String, Long)]
    var removesData = false
    Files.readAllLines(p).asScala.filter(_.trim.nonEmpty).foreach { line =>
      val node = mapper.readTree(line)
      val addN = node.get("add"); val remN = node.get("remove")
      if (addN != null &&
          Option(addN.get("dataChange")).forall(_.asBoolean(true))) {
        val rel = decodePath(addN.get("path").asText())
        // size rides the add action (protocol-required); the stat
        // fallback covers only a legacy action lacking it, and fails
        // LOUDLY on a missing file — a 0-byte stand-in would make the
        // byte pacer admit a file the batch read is about to die on
        val size = Option(addN.get("size")).filterNot(_.isNull).map(_.asLong())
          .getOrElse(Files.size(dataPath(table, rel)))
        adds += ((rel, size))
      }
      if (remN != null &&
          Option(remN.get("dataChange")).forall(_.asBoolean(true)))
        removesData = true
    }
    (adds.result().sortBy(_._1), removesData)
  }

  /** The schema a commit DECLARED, if it carried a metaData action —
    * how a streaming tail detects mid-stream schema evolution (a
    * cross-version union over drifted schemas must refuse, not guess).
    * Commit JSONs are immutable and small; this is a cheap re-read. */
  def commitSchemaChange(table: String, version: Long): Option[String] = {
    val p = logDir(table).resolve(f"$version%020d.json")
    if (!Files.exists(p)) return None
    Files.readAllLines(p).asScala.iterator.filter(_.trim.nonEmpty)
      .map(mapper.readTree)
      .flatMap(n => Option(n.get("metaData")))
      .flatMap(m => Option(m.get("schemaString")).map(_.asText()))
      .toSeq.lastOption
  }

  private def fileEntry(addN: JsonNode): FileEntry = {
    val pv = Option(addN.get("partitionValues")).map { m =>
      m.fieldNames().asScala.map(k =>
        k -> (if (m.get(k).isNull) null else m.get(k).asText())).toMap
    }.getOrElse(Map.empty[String, String])
    val dv = Option(addN.get("deletionVector")).filterNot(_.isNull).map { d =>
      DeltaDv.Descriptor(
        d.get("storageType").asText(),
        d.get("pathOrInlineDv").asText(),
        Option(d.get("offset")).filterNot(_.isNull).map(_.asInt()),
        d.get("sizeInBytes").asInt(),
        d.get("cardinality").asLong())
    }
    val stats = Option(addN.get("stats")).filterNot(_.isNull).map(_.asText())
    FileEntry(decodePath(addN.get("path").asText()), pv, dv, stats,
      Option(addN.get("baseRowId")).filterNot(_.isNull).map(_.asLong()),
      Option(addN.get("defaultRowCommitVersion")).filterNot(_.isNull).map(_.asLong()),
      Option(addN.get("size")).filterNot(_.isNull).map(_.asLong()),
      Option(addN.get("modificationTime")).filterNot(_.isNull).map(_.asLong()))
  }

  /** Rewrite the top-level column keys of a stats JSON's minValues /
    * maxValues / nullCount sections (physical ⇄ logical under column
    * mapping). Unparseable stats pass through untouched. */
  private[io] def renameStatsKeys(statsJson: String, rename: Map[String, String]): String =
    try {
      import com.fasterxml.jackson.databind.node.ObjectNode
      mapper.readTree(statsJson) match {
        case obj: ObjectNode =>
          Seq("minValues", "maxValues", "nullCount").foreach { sec =>
            Option(obj.get(sec)).collect { case o: ObjectNode =>
              val entries = o.fieldNames().asScala.toList.map(k => k -> o.get(k))
              o.removeAll()
              entries.foreach { case (k, v) => o.set[ObjectNode](rename.getOrElse(k, k), v) }
            }
          }
          mapper.writeValueAsString(obj)
        case _ => statsJson
      }
    } catch { case _: Exception => statsJson }

  private def applyCheckpoint(spark: SparkSession, table: String, v: Long, r: Replay): Unit =
    checkpointRef(table, v) match {
      case Some(ClassicCp(parts)) =>
        applyActionFrame(spark.read.parquet(parts.map(_.toString): _*), r)
      case Some(V2Cp(manifest)) => applyV2Checkpoint(spark, table, manifest, r)
      case None => throw new IllegalArgumentException(
        s"$table: checkpoint $v has no complete file set")
    }

  /** A V2 CHECKPOINT: the manifest (parquet, or newline-JSON actions)
    * carries protocol / metaData / txn — and possibly inline adds —
    * plus `sidecar` actions naming the `_delta_log/_sidecars/`
    * parquet files that hold the file actions. Sidecar `remove` rows are
    * vacuum tombstones, not reader-visible state (same as classic
    * checkpoints, which simply omit them from graft's writer). */
  private def applyV2Checkpoint(spark: SparkSession, table: String,
      manifest: Path, r: Replay): Unit = {
    val sidecarDir = logDir(table).resolve("_sidecars")
    def sidecarPath(p: String): Path = {
      val dp = decodePath(p)
      if (dp.startsWith("/")) Paths.get(dp) else sidecarDir.resolve(dp)
    }
    val sidecars = scala.collection.mutable.ArrayBuffer.empty[Path]
    if (manifest.getFileName.toString.endsWith(".json")) {
      Files.readAllLines(manifest).asScala.filter(_.trim.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        val addN = node.get("add"); val metaN = node.get("metaData")
        val protoN = node.get("protocol"); val txnN = node.get("txn")
        val sideN = node.get("sidecar")
        if (addN != null) r.add(fileEntry(addN))
        if (metaN != null) r.metaData(
          metaN.get("schemaString").asText(),
          Option(metaN.get("partitionColumns"))
            .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil),
          Option(metaN.get("id")).filterNot(_.isNull).map(_.asText()),
          Option(metaN.get("configuration")).filterNot(_.isNull).map { c =>
            c.fieldNames().asScala.map(k => k -> c.get(k).asText()).toMap
          }.getOrElse(Map.empty))
        if (protoN != null) r.protocol(
          Option(protoN.get("minReaderVersion")).map(_.asInt()).getOrElse(1),
          Option(protoN.get("readerFeatures")).filterNot(_.isNull)
            .map(_.elements().asScala.map(_.asText()).toSet).getOrElse(Set.empty),
          Option(protoN.get("minWriterVersion")).map(_.asInt()).getOrElse(2),
          Option(protoN.get("writerFeatures")).filterNot(_.isNull)
            .map(_.elements().asScala.map(_.asText()).toSet).getOrElse(Set.empty))
        if (txnN != null) r.txn(txnN.get("appId").asText(), txnN.get("version").asLong())
        val domN = node.get("domainMetadata")
        if (domN != null) r.domain(domN.get("domain").asText(),
          Option(domN.get("configuration")).filterNot(_.isNull)
            .map(_.asText()).getOrElse(""),
          Option(domN.get("removed")).exists(_.asBoolean()))
        if (sideN != null) sidecars += sidecarPath(sideN.get("path").asText())
      }
    } else {
      applyActionFrame(spark.read.parquet(manifest.toString), r)
        .foreach(p => sidecars += sidecarPath(p))
    }
    sidecars.foreach { sc =>
      require(Files.exists(sc),
        s"$table: v2 checkpoint sidecar $sc is missing — checkpoint unusable")
      applyActionFrame(spark.read.parquet(sc.toString), r)
    }
  }

  /** Apply one checkpoint-shaped action frame (protocol / txn /
    * domainMetadata / metaData / add / sidecar columns, any subset) to
    * the replay in ONE collect: every action kind projects into one
    * flat row (optional fields a foreign writer omitted as typed
    * nulls) and the rows dispatch driver-side in file order. Which adds
    * ride the collect follows the replay's tier: all of them (Full),
    * the dv-bearing ones (DvOnly), none (Dataset — there the add
    * projection stays a frame for the [[DatasetIndex]]). Returns the
    * `sidecar` paths a v2 manifest names, as logged. */
  private def applyActionFrame(cp: DataFrame, r: Replay): Seq[String] = {
    val cols = cp.columns.toSet
    def has(parent: String, field: String) =
      cp.schema(parent).dataType.asInstanceOf[StructType].fieldNames.contains(field)
    // each present action kind → its (field, SQL type) projection
    val actions: Seq[(String, Seq[(String, String)])] = Seq(
      "protocol" -> Seq("minReaderVersion" -> "INT", "readerFeatures" -> "ARRAY<STRING>",
        "minWriterVersion" -> "INT", "writerFeatures" -> "ARRAY<STRING>"),
      "txn" -> Seq("appId" -> "STRING", "version" -> "BIGINT"),
      "domainMetadata" -> Seq("domain" -> "STRING", "configuration" -> "STRING",
        "removed" -> "BOOLEAN"),
      "metaData" -> Seq("schemaString" -> "STRING", "partitionColumns" -> "ARRAY<STRING>",
        "id" -> "STRING", "configuration" -> "MAP<STRING,STRING>"),
      "sidecar" -> Seq("path" -> "STRING")
    ).filter { case (a, _) => cols(a) }
    val fieldExprs = actions.flatMap { case (a, fs) => fs.map { case (f, t) =>
      if (has(a, f)) s"CAST($a.$f AS $t) AS ${a}_$f" else s"CAST(NULL AS $t) AS ${a}_$f"
    } }
    // checkpoint state holds only LIVE adds (tombstoned removes are
    // retained for vacuum only and carry no reader-visible files)
    val addCond: Option[String] =
      if (!cols("add")) None
      else r.mode match {
        case Replay.Full => Some("add IS NOT NULL")
        case Replay.DvOnly =>
          // O(dv-carrying files) on the driver
          if (has("add", "deletionVector")) Some("add.deletionVector.storageType IS NOT NULL")
          else None
        case Replay.Dataset =>
          // the large tier's whole point: the add rows NEVER collect
          r.cpAddFrames += canonicalAddFrame(cp)
          None
      }
    val conds = actions.map { case (a, _) => a -> s"$a IS NOT NULL" } ++
      addCond.map("add" -> _)
    if (conds.isEmpty) return Nil
    val rows = cp.where(conds.map(c => s"(${c._2})").mkString(" OR "))
      .selectExpr(conds.map { case (a, c) => s"$c AS ${a}_present" } ++
        fieldExprs ++ addCond.map(_ => canonicalAddExprs(cp)).getOrElse(Nil): _*)
      .collect()
    val sidecars = Seq.newBuilder[String]
    rows.foreach { row =>
      def get[T](name: String): Option[T] = {
        val i = row.fieldIndex(name)
        if (row.isNullAt(i)) None else Some(row.getAs[T](i))
      }
      def strings(name: String): Option[Seq[String]] =
        get[scala.collection.Seq[String]](name).map(_.toSeq)
      def on(a: String) = conds.exists(_._1 == a) && row.getAs[Boolean](s"${a}_present")
      if (on("protocol")) r.protocol(get[Int]("protocol_minReaderVersion").getOrElse(1),
        strings("protocol_readerFeatures").map(_.toSet).getOrElse(Set.empty),
        get[Int]("protocol_minWriterVersion").getOrElse(2),
        strings("protocol_writerFeatures").map(_.toSet).getOrElse(Set.empty))
      if (on("txn")) r.txn(row.getAs[String]("txn_appId"), row.getAs[Long]("txn_version"))
      if (on("domainMetadata")) r.domain(row.getAs[String]("domainMetadata_domain"),
        get[String]("domainMetadata_configuration").getOrElse(""),
        get[Boolean]("domainMetadata_removed").getOrElse(false))
      if (on("metaData")) r.metaData(row.getAs[String]("metaData_schemaString"),
        strings("metaData_partitionColumns").getOrElse(Nil),
        get[String]("metaData_id"),
        get[scala.collection.Map[String, String]]("metaData_configuration")
          .map(_.toMap).getOrElse(Map.empty))
      if (on("sidecar")) sidecars += row.getAs[String]("sidecar_path")
      if (on("add")) {
        val e = rowToFileEntry(row)
        r.add(e.copy(path = decodePath(e.path)))
      }
    }
    sidecars.result()
  }

  /** The [[CanonicalFileSchema]]-shaped projection of an action
    * frame's `add` rows (path still ENCODED as logged — consumers
    * decode driver-side via [[decodePath]] or SQL-side in
    * [[DatasetIndex]]). Optional protocol fields a foreign writer
    * omitted project as typed nulls. */
  private[io] def canonicalAddFrame(cp: DataFrame): DataFrame =
    cp.where(cp("add").isNotNull).selectExpr(canonicalAddExprs(cp): _*)

  /** The select list of [[canonicalAddFrame]] (null on non-add rows). */
  private def canonicalAddExprs(cp: DataFrame): Seq[String] = {
    def struct(name: String) = cp.schema(name).dataType.asInstanceOf[StructType]
    def has(field: String) = struct("add").fieldNames.contains(field)
    val dvExprs =
      if (has("deletionVector")) Seq(
        "add.deletionVector.storageType AS dvStorageType",
        "add.deletionVector.pathOrInlineDv AS dvPathOrInlineDv",
        "CAST(add.deletionVector.offset AS INT) AS dvOffset",
        "CAST(add.deletionVector.sizeInBytes AS INT) AS dvSizeInBytes",
        "CAST(add.deletionVector.cardinality AS BIGINT) AS dvCardinality")
      else Seq("CAST(NULL AS STRING) AS dvStorageType",
        "CAST(NULL AS STRING) AS dvPathOrInlineDv",
        "CAST(NULL AS INT) AS dvOffset", "CAST(NULL AS INT) AS dvSizeInBytes",
        "CAST(NULL AS BIGINT) AS dvCardinality")
    val statsExpr =
      if (has("stats")) "add.stats AS stats" else "CAST(NULL AS STRING) AS stats"
    val rowIdExprs = Seq(
      if (has("baseRowId")) "add.baseRowId AS baseRowId"
      else "CAST(NULL AS BIGINT) AS baseRowId",
      if (has("defaultRowCommitVersion"))
        "add.defaultRowCommitVersion AS defaultRowCommitVersion"
      else "CAST(NULL AS BIGINT) AS defaultRowCommitVersion")
    val sizeExpr =
      if (has("size")) "CAST(add.size AS BIGINT) AS size"
      else "CAST(NULL AS BIGINT) AS size"
    val mtimeExpr =
      if (has("modificationTime")) "CAST(add.modificationTime AS BIGINT) AS modificationTime"
      else "CAST(NULL AS BIGINT) AS modificationTime"
    Seq("add.path AS path", "add.partitionValues AS pv") ++
      dvExprs ++ (statsExpr +: rowIdExprs) ++ Seq(sizeExpr, mtimeExpr)
  }

  /** `_last_checkpoint`'s (version, advertised `numOfAddFiles`) — the
    * zero-extra-IO signal the tier decision reads (a stale or absent
    * pointer means the small tier, which is always correct). */
  private def lastCheckpointHint(table: String): Option[(Long, Option[Long])] =
    try {
      val p = logDir(table).resolve("_last_checkpoint")
      if (!Files.exists(p)) None
      else {
        val node = mapper.readTree(Files.readAllBytes(p))
        Option(node.get("version")).map(v => (v.asLong(),
          Option(node.get("numOfAddFiles")).filterNot(_.isNull).map(_.asLong())))
      }
    } catch { case _: Exception => None }

  private def commitPath(table: String, v: Long): Path =
    logDir(table).resolve(f"$v%020d.json")

  /** The snapshot cache (resolution order in the header): per table,
    * keyed by its absolute path, the latest replayed small-tier state
    * — the [[Replay]] in PHYSICAL names, before the column-mapping
    * translation, so an advance applies commits in the names they are
    * logged in — together with the snapshot built from it. Bounded LRU
    * over [[MaxTables]] tables. */
  private object SnapshotCache {
    val MaxTables = 32

    /** (file key, size, mtime, CRC-32C of the bytes) of one commit
      * file. Commits are immutable, so a stamp changes only when the
      * file is replaced — a table deleted and re-created at the same
      * path. */
    final case class Stamp(fileKey: Any, size: Long, mtimeNanos: Long, crc: Long)
    final case class Entry(version: Long, stamp: Stamp, state: Replay,
        snapshot: DeltaSnapshot)

    private val entries = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)

    def stamp(table: String, v: Long): Option[Stamp] =
      try {
        val p = commitPath(table, v)
        val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        val crc = new java.util.zip.CRC32C()
        crc.update(Files.readAllBytes(p))
        Some(Stamp(a.fileKey(), a.size(),
          a.lastModifiedTime().to(java.util.concurrent.TimeUnit.NANOSECONDS), crc.getValue))
      } catch { case _: java.io.IOException => None }

    /** The entry for `key` while its version's commit file still
      * carries its stamp; a stale entry is dropped. */
    def valid(key: String, table: String): Option[Entry] =
      synchronized(Option(entries.get(key))).filter { e =>
        stamp(table, e.version).contains(e.stamp) || { drop(key, e); false }
      }

    /** Keep `e` unless a newer state of the table is already cached
      * (time travel never evicts the head). */
    def offer(key: String, e: Entry): Unit = synchronized {
      val cur = entries.get(key)
      if (cur == null || cur.version <= e.version) {
        entries.put(key, e)
        val it = entries.values().iterator()
        while (entries.size > MaxTables) { it.next(); it.remove() }
      }
    }

    private def drop(key: String, e: Entry): Unit = synchronized { entries.remove(key, e) }

    def clear(): Unit = synchronized { entries.clear() }

    /** Cached version for `key`, without touching the LRU order. */
    def versionOf(key: String): Option[Long] = synchronized {
      entries.entrySet().asScala.find(_.getKey == key).map(_.getValue.version)
    }
  }

  private def cacheKey(table: String): String =
    Paths.get(table).toAbsolutePath.normalize().toString

  /** TEST SEAM: empty the snapshot cache, so the next resolution of
    * every table takes the cold path (checkpoint + tail) — the specs
    * that prove the checkpoint path read through this. */
  private[graft] def clearSnapshotCache(): Unit = SnapshotCache.clear()

  /** TEST SEAM: the version the snapshot cache holds for `table`. */
  private[graft] def cachedSnapshotVersion(table: String): Option[Long] =
    SnapshotCache.versionOf(cacheKey(table))

  /** How many tables the snapshot cache keeps. */
  private[graft] def snapshotCacheTables: Int = SnapshotCache.MaxTables

  /** The live state at `version` (resolution order in the header):
    * the cached state when it is at `version`; the cached state
    * advanced by the newer commits when it is older and every commit
    * between survives as JSON; otherwise checkpoint (if any) + tail.
    * Under column mapping, `partitionValues` keys are translated
    * physical → logical here, ONCE — every consumer downstream
    * ([[assemble]]'s partition re-attachment, [[readVersionWhere]]'s
    * `keep` predicate) sees logical names only. */
  def snapshotAt(spark: SparkSession, table: String, version: Long): DeltaSnapshot = {
    val key = cacheKey(table)
    // a pointer advertising the Dataset tier sends the read cold: that
    // tier is decided there and never cached
    val cached = SnapshotCache.valid(key, table).filter(e => e.version <= version &&
      !lastCheckpointHint(table).exists { case (cpV, adds) =>
        cpV <= version && adds.exists(_ >= datasetThreshold(spark))
      })
    cached match {
      case Some(e) if e.version == version => e.snapshot
      case Some(e) if (e.version + 1 to version).forall(v => Files.exists(commitPath(table, v))) =>
        // stamp BEFORE reading: a file replaced mid-read then fails the
        // next lookup instead of pinning what was read
        val stamp = SnapshotCache.stamp(table, version)
        val r = e.state.fork()
        (e.version + 1 to version).foreach(v => applyJsonCommit(table, v, r))
        remember(spark, table, key, version, stamp, r)
      case _ => coldSnapshotAt(spark, table, version, key)
    }
  }

  private def coldSnapshotAt(spark: SparkSession, table: String, version: Long,
      key: String): DeltaSnapshot = {
    val stamp = SnapshotCache.stamp(table, version)
    val cp = checkpointAtOrBelow(table, version)
    // TIER DECISION: past the threshold the checkpoint's add rows stay
    // a DataFrame (see [[FileIndex]]) — resolution itself is then
    // O(tail) on the driver instead of O(table files)
    val datasetTier = cp.exists(v => lastCheckpointHint(table)
      .exists { case (cpV, adds) => cpV == v && adds.exists(_ >= datasetThreshold(spark)) })
    val r = new Replay(if (datasetTier) Replay.Dataset else Replay.Full)
    cp.foreach(v => applyCheckpoint(spark, table, v, r))
    // tail replay prefers minor log compactions ({x}.{y}.compacted.json,
    // the protocol's reconciled form of commits x..y): one file read
    // replaces y−x+1 — on a long-lived table the log tail is thousands
    // of commits and this is what keeps snapshot resolution O(files
    // touched), not O(table age). A compaction is only taken when it
    // starts exactly at the next version needed and ends at or before
    // the target (mid-range time travel falls back to the per-commit
    // files, which compaction never removes).
    val compacted = compactedRanges(table)
    var tv = cp.map(_ + 1).getOrElse(0L)
    while (tv <= version) {
      compacted.getOrElse(tv, Nil).find(_._1 <= version) match {
        case Some((end, p)) => applyActionsFile(p, r); tv = end + 1
        case None => applyJsonCommit(table, tv, r); tv += 1
      }
    }
    if (datasetTier) buildSnapshot(spark, table, version, r)
    else remember(spark, table, key, version, stamp, r)
  }

  /** Build the small-tier snapshot of `r` and offer it to the cache
    * (when `version`'s commit file could be stamped). */
  private def remember(spark: SparkSession, table: String, key: String, version: Long,
      stamp: Option[SnapshotCache.Stamp], r: Replay): DeltaSnapshot = {
    val snap = buildSnapshot(spark, table, version, r)
    stamp.foreach(s => SnapshotCache.offer(key, SnapshotCache.Entry(version, s, r, snap)))
    snap
  }

  /** Validate a replayed state and build its snapshot. */
  private def buildSnapshot(spark: SparkSession, table: String, version: Long,
      r: Replay): DeltaSnapshot = {
    r.validateSupported(table)
    val mappingActive = ColumnMapping.active(
      r.configuration.getOrElse("delta.columnMapping.mode", "none"))
    val logicalByPhys: Map[String, String] =
      if (!mappingActive) Map.empty
      else r.schema.map(ColumnMapping.physByLogical(_).map(_.swap)).getOrElse(Map.empty)
    val index: FileIndex =
      if (r.mode == Replay.Dataset)
        // mapping (pv rekey in the frame, stats rekey at entry
        // materialization) is the index's own concern on this tier
        new DatasetIndex(spark, table, r.cpAddFrames.toSeq, r.journal.toSeq,
          logicalByPhys)
      else if (!mappingActive) SeqIndex(r.files.values.toSeq)
      else SeqIndex(r.files.values.toSeq.map(f => f.copy(
        partitionValues =
          f.partitionValues.map { case (k, v) => logicalByPhys.getOrElse(k, k) -> v },
        stats = f.stats.map(renameStatsKeys(_, logicalByPhys)))))
    DeltaSnapshot(version, index, r.schema,
      r.partitionColumns, r.metaId, r.txns.toMap, r.configuration,
      r.minReaderVersion, r.minWriterVersion, r.readerFeatures, r.writerFeatures,
      r.domains.toMap)
  }

  def snapshot(spark: SparkSession, table: String): DeltaSnapshot =
    snapshotAt(spark, table, latestVersion(table))

  /** The change-feed metadata column: `insert` or `delete`. */
  val ChangeTypeCol = "_change_type"
  /** The change-feed metadata column carrying the commit version each
    * change landed in. */
  val CommitVersionCol = "_commit_version"

  /** CHANGE DATA FEED: every row-level change committed in
    * `(sinceVersion, untilVersion]`, each tagged [[ChangeTypeCol]]
    * (`insert` / `delete`) and [[CommitVersionCol]] — the primitive a
    * downstream incremental job tails a table with (resume from the
    * last version processed instead of re-scanning the lake; fold
    * inserts minus deletes to mirror the table). Semantics, derived
    * purely from the commit log — no `_change_data` files needed:
    *
    *  - `add` of a new path (dataChange) → its VISIBLE rows as
    *    `insert` (any birth DV already masked);
    *  - `remove` of a path with no same-commit re-add (dataChange) →
    *    the rows visible at removal time as `delete` — so an
    *    overwrite surfaces delete-all + insert-all, and a rewrite
    *    style DELETE surfaces exactly the erased rows;
    *  - a DV TRANSITION (remove + re-add of one path with a changed
    *    deletion vector — [[DeltaWrite.deleteWhere]]'s shape) →
    *    `newDv ∖ oldDv` as `delete` and `oldDv ∖ newDv` as `insert`
    *    (restores), computed executor-side from the bitmaps;
    *  - `dataChange = false` actions (OPTIMIZE/compaction) surface
    *    NOTHING — reorganized bytes are not changes — but still
    *    advance the internal file state so a later DV diff resolves
    *    against the right predecessor.
    *
    * Update semantics: a MERGE rewrite reports an updated row as
    * delete(old) + insert(new) under the same commit version — the
    * lossless decomposition every CDC consumer can fold.
    *
    * At 100 TB this is the difference between tailing a feed and
    * re-reading a lake: the JSON commits are the feed, and per-commit
    * work is bounded by that commit's touched files.
    *
    * When a commit carries `cdc` actions (a CDF-obligated writer —
    * [[DeltaWrite]] when `delta.enableChangeDataFeed` is set — recorded
    * the exact change rows in `_change_data/` files), those are
    * PREFERRED over reconstruction, as the protocol requires: the cdc
    * files are exact (a MERGE's kept rows never surface as spurious
    * delete+insert pairs) and cheaper (no DV bitmap diffing). The
    * spec's four-type cdc surface folds onto this feed's two types:
    * `update_preimage` reads as `delete`, `update_postimage` as
    * `insert` — the same lossless decomposition reconstruction emits.
    * `useCdc = false` forces reconstruction everywhere (the
    * equivalence of the two paths is spec-tested). */
  /** TEST SEAM: fires on every LOG-derived change-feed read — the
    * single-read-per-trigger pin for stream-maintained views counts
    * these. */
  private[graft] var onLogChangesRead: Option[(String, Long, Long) => Unit] = None

  def changesBetween(spark: SparkSession, table: String,
      sinceVersion: Long, untilVersion: Long,
      useCdc: Boolean = true): DataFrame = {
    require(sinceVersion <= untilVersion,
      s"changesBetween: since $sinceVersion > until $untilVersion")
    onLogChangesRead.foreach(_(table, sinceVersion, untilVersion))
    val snap = snapshotAt(spark, table, untilVersion) // schema + mapping context
    val logicalByPhys = snap.schema.filter(_ => ColumnMapping.active(snap.columnMappingMode))
      .map(ColumnMapping.physByLogical(_).map(_.swap)).getOrElse(Map.empty)
    // live file state rolled forward from `since`, so each commit's
    // removes and DV transitions resolve against their predecessor
    val state = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
    if (sinceVersion >= 0) {
      val sinceSnap = snapshotAt(spark, table, sinceVersion)
      sinceSnap.index match {
        case idx: DatasetIndex =>
          // BOUNDED base state: only paths the range's commits TOUCH
          // can ever be looked up, so fetch exactly those entries from
          // the frame — O(range actions) driver work per call, never
          // O(table files). This is the CDF stream's per-micro-batch
          // path; materializing a 10M-file inventory per trigger would
          // undo the tier.
          val touched = touchedPathsInRange(table, sinceVersion + 1, untilVersion)
          if (touched.nonEmpty)
            idx.filterEntries(f => touched(f.path))
              .foreach(f => state.put(f.path, f))
        case _ =>
          sinceSnap.files.foreach(f => state.put(f.path, f))
      }
    }
    val frames = Seq.newBuilder[DataFrame]
    ((sinceVersion + 1) to untilVersion).foreach { v =>
      val p = logDir(table).resolve(f"$v%020d.json")
      require(Files.exists(p),
        s"changesBetween: $table commit $v is gone (vacuumed/checkpointed past) — " +
          "an incremental consumer this far behind must re-bootstrap from a snapshot")
      val adds = scala.collection.mutable.LinkedHashMap.empty[String, (FileEntry, Boolean)]
      val removes = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
      val cdcs = scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, String])]
      Files.readAllLines(p).asScala.filter(_.trim.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        val addN = node.get("add"); val remN = node.get("remove")
        if (addN != null) {
          val e0 = fileEntry(addN)
          val e = e0.copy(partitionValues =
            e0.partitionValues.map { case (k, x) => logicalByPhys.getOrElse(k, k) -> x })
          adds.put(e.path, (e, Option(addN.get("dataChange")).forall(_.asBoolean(true))))
        }
        if (remN != null)
          removes.put(decodePath(remN.get("path").asText()),
            Option(remN.get("dataChange")).forall(_.asBoolean(true)))
        val cdcN = node.get("cdc")
        if (cdcN != null) {
          val pv = Option(cdcN.get("partitionValues")).map { m =>
            m.fieldNames().asScala.map(k =>
              k -> (if (m.get(k).isNull) null else m.get(k).asText())).toMap
          }.getOrElse(Map.empty[String, String])
          cdcs += ((decodePath(cdcN.get("path").asText()),
            pv.map { case (k, x) => logicalByPhys.getOrElse(k, k) -> x }))
        }
      }
      def tag(df: DataFrame, ct: String): DataFrame =
        df.withColumn(ChangeTypeCol, lit(ct)).withColumn(CommitVersionCol, lit(v))
      if (cdcs.nonEmpty && useCdc) {
        // the writer recorded this commit's exact change rows — read
        // them instead of reconstructing from add/remove/DV diffs
        frames += readCdc(spark, table, snap, cdcs.toSeq, v)
      } else {
        val fullInserts = Seq.newBuilder[FileEntry]
        val fullDeletes = Seq.newBuilder[FileEntry]
        // (entry whose dv is the SELECT set, dv to SUBTRACT, change type)
        val diffSel = scala.collection.mutable.ArrayBuffer
          .empty[(FileEntry, Option[DeltaDv.Descriptor], String)]
        removes.foreach { case (path, dc) =>
          if (dc && !adds.contains(path))
            state.get(path).foreach(prior => fullDeletes += prior)
        }
        adds.foreach { case (path, (e, dc)) =>
          if (dc) state.get(path) match {
            case None => fullInserts += e
            case Some(prior) => (prior.dv, e.dv) match {
              case (None, None) => () // same content re-added: no change
              case (o, Some(n)) =>
                diffSel += ((e.copy(dv = Some(n)), o, "delete"))
                o.foreach(od => diffSel += ((e.copy(dv = Some(od)), Some(n), "insert")))
              case (Some(o), None) => // un-delete: previously-masked rows return
                diffSel += ((e.copy(dv = Some(o)), None, "insert"))
            }
          }
        }
        val dels = fullDeletes.result(); val ins = fullInserts.result()
        if (dels.nonEmpty) frames += tag(assemble(spark, table, snap.withFiles(dels)), "delete")
        if (ins.nonEmpty) frames += tag(assemble(spark, table, snap.withFiles(ins)), "insert")
        diffSel.groupBy(_._3).toSeq.sortBy(_._1).foreach { case (ct, group) =>
          val oldBy = group.map(x => (x._1.path, x._2)).toMap
          frames += tag(assemble(spark, table,
            snap.withFiles(group.map(_._1).toSeq), dvSelect = Some(oldBy)), ct)
        }
      }
      // roll state forward with EVERY action, dataChange or not — an
      // OPTIMIZE rewrite must still re-key later DV diffs
      removes.keys.foreach(state.remove)
      adds.foreach { case (path, (e, _)) => state.put(path, e) }
    }
    frames.result().reduceOption(_ unionByName _).getOrElse {
      assemble(spark, table, snap.withFiles(Nil))
        .withColumn(ChangeTypeCol, lit(null).cast(org.apache.spark.sql.types.StringType))
        .withColumn(CommitVersionCol, lit(null).cast(org.apache.spark.sql.types.LongType))
    }
  }

  /** Decoded add/remove paths across a JSON commit range — the
    * pre-scan that bounds [[changesBetween]]'s base state on the
    * Dataset tier. Missing commits are skipped here; the main loop's
    * require still reports them loudly. */
  private def touchedPathsInRange(table: String, fromV: Long, toV: Long): Set[String] = {
    val out = scala.collection.mutable.HashSet.empty[String]
    (fromV to toV).foreach { v =>
      val p = logDir(table).resolve(f"$v%020d.json")
      if (Files.exists(p))
        Files.readAllLines(p).asScala.filter(_.trim.nonEmpty).foreach { line =>
          val node = mapper.readTree(line)
          Option(node.get("add")).filterNot(_.isNull)
            .foreach(a => out += decodePath(a.get("path").asText()))
          Option(node.get("remove")).filterNot(_.isNull)
            .foreach(r => out += decodePath(r.get("path").asText()))
        }
    }
    out.toSet
  }

  /** Read one commit's `cdc` files as a change frame: the files store
    * the table's DATA columns (physical names under column mapping)
    * plus a literal [[ChangeTypeCol]]; partition columns re-attach from
    * the cdc action's `partitionValues` exactly as adds do. The
    * four-type spec surface (insert / delete / update_preimage /
    * update_postimage) folds onto this feed's two types: preimage is
    * the row's old content (a delete), postimage its new content (an
    * insert) — the decomposition every fold-style consumer already
    * handles. Per-partition-tuple union branches: a commit's cdc set
    * is commit-sized, never table-sized. */
  private def readCdc(spark: SparkSession, table: String, snap: DeltaSnapshot,
      entries: Seq[(String, Map[String, String])], v: Long): DataFrame = {
    import org.apache.spark.sql.functions.when
    val mapped = ColumnMapping.active(snap.columnMappingMode)
    val schema = snap.schema.getOrElse(throw new IllegalStateException(
      s"$table: cdc actions with no metaData schema"))
    val dataSchema = StructType(
      schema.fields.filterNot(f => snap.partitionColumns.contains(f.name)))
    val scanSchema = StructType(
      (if (mapped) ColumnMapping.physicalize(dataSchema).asInstanceOf[StructType]
       else StructType(dataSchema.map(f =>
         f.copy(dataType = relaxNullable(f.dataType), nullable = true)))).fields :+
        org.apache.spark.sql.types.StructField(ChangeTypeCol,
          org.apache.spark.sql.types.StringType))
    val colType = schema.fields.map(f => f.name -> f.dataType).toMap
    val physByLogical = ColumnMapping.physByLogical(dataSchema)
    val out = entries.groupBy(_._2).toSeq.map { case (pv, es) =>
      val scan = spark.read.schema(scanSchema)
        .parquet(es.map(e => dataPath(table, e._1).toString): _*)
      val renamed =
        if (!mapped) scan
        else scan.select(dataSchema.fields.toSeq.map(f =>
          col(physByLogical(f.name)).cast(relaxNullable(f.dataType)).as(f.name)) :+
          col(ChangeTypeCol): _*)
      snap.partitionColumns.foldLeft(renamed) { (df, c) =>
        val raw = pv.get(c).orNull match {
          case null => lit(null)
          case x    => lit(x)
        }
        df.withColumn(c, colType.get(c).map(raw.cast).getOrElse(raw))
      }
    }.reduce(_ unionByName _)
    out
      .withColumn(ChangeTypeCol,
        when(col(ChangeTypeCol) === "update_preimage", "delete")
          .when(col(ChangeTypeCol) === "update_postimage", "insert")
          .otherwise(col(ChangeTypeCol)))
      .withColumn(CommitVersionCol, lit(v))
      .select(schema.fieldNames.toSeq.map(col) :+
        col(ChangeTypeCol) :+ col(CommitVersionCol): _*)
  }

  /** Read the latest snapshot as a DataFrame. */
  def read(spark: SparkSession, table: String): DataFrame =
    readVersion(spark, table, latestVersion(table))

  /** Above this many distinct partition tuples, [[readVersion]] stops
    * building one union branch per partition (the branch count is a
    * DRIVER-side plan cost — 100k branches is an unplannable query)
    * and switches to one scan + a broadcast file→partition-values
    * join keyed on `input_file_name()`. The union form is kept below
    * the threshold because its literal partition columns
    * constant-fold under partition filters (dead branches vanish from
    * the plan — spec-pinned); the join form trades that pruning for
    * O(1) plan size, pre-filtering the FILE LIST instead when the
    * caller provides partition predicates via [[readVersionWhere]]. */
  val MaxUnionPartitions = 64

  /** Time travel: read the table as of a pinned version. */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame =
    assemble(spark, table, snapshotAt(spark, table, version))

  /** The commit timestamp of version `v`:
    * `commitInfo.inCommitTimestamp` when present (the ICT writer
    * feature — monotonic by protocol guarantee, immune to file-copy
    * clock damage), else `commitInfo.timestamp`, else the commit
    * file's mtime — the same fallback order Delta uses. None when the
    * JSON is gone (checkpoint-truncated history). */
  private[io] def commitTimestamp(table: String, v: Long): Option[Long] = {
    val p = logDir(table).resolve(f"$v%020d.json")
    if (!Files.exists(p)) None
    else {
      val fromInfo = Files.readAllLines(p).asScala.iterator
        .map(l => try mapper.readTree(l) catch { case _: Exception => null })
        .filter(n => n != null && n.has("commitInfo"))
        .flatMap { n =>
          val ci = n.get("commitInfo")
          Option(ci.get("inCommitTimestamp")).filterNot(_.isNull).map(_.asLong())
            .orElse(Option(ci.get("timestamp")).filterNot(_.isNull).map(_.asLong()))
        }
        .nextOption()
      fromInfo.orElse(Some(Files.getLastModifiedTime(p).toMillis))
    }
  }

  /** `DESCRIBE HISTORY` surface: (version, commit timestamp millis,
    * operation) for every SURVIVING JSON commit, newest first. A
    * checkpoint-truncated prefix simply doesn't appear — the history a
    * reader can still resolve is the history reported. ONE read per
    * commit file: operation and timestamp come off the same parsed
    * commitInfo, with [[commitTimestamp]]'s fallback order (ICT >
    * recorded timestamp > file mtime). The DataFrame twin below builds
    * from this, so the two DESCRIBE-HISTORY doors cannot drift.
    *
    * `limit` is a PUSHDOWN, not a post-filter: `DESCRIBE HISTORY t
    * LIMIT n` on a 10⁵-commit table must parse n commit files, never
    * the whole log — version listing is one directory scan, then only
    * the newest n files are opened. `parsedCounter` is a test seam
    * pinning exactly that. */
  def history(table: String, limit: Option[Int] = None,
      parsedCounter: Option[java.util.concurrent.atomic.AtomicInteger] = None)
      : Seq[(Long, Option[Long], Option[String])] = {
    val ld = logDir(table)
    if (!Files.isDirectory(ld)) return Nil
    val st = Files.list(ld)
    val versions =
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("\\d{20}\\.json"))
        .map(_.stripSuffix(".json").toLong).toSeq.sorted
      finally st.close()
    limit.fold(versions.reverse)(n => versions.reverse.take(math.max(0, n))).map { v =>
      parsedCounter.foreach(_.incrementAndGet())
      val p = ld.resolve(f"$v%020d.json")
      val infos = Files.readAllLines(p).asScala.iterator
        .map(l => try mapper.readTree(l) catch { case _: Exception => null })
        .filter(n => n != null && n.has("commitInfo"))
        .map(_.get("commitInfo")).toSeq
      val op = infos.iterator.flatMap(ci =>
        Option(ci.get("operation")).filterNot(_.isNull).map(_.asText()))
        .nextOption()
      val ts = infos.iterator.flatMap(ci =>
        Option(ci.get("inCommitTimestamp")).filterNot(_.isNull).map(_.asLong())
          .orElse(Option(ci.get("timestamp")).filterNot(_.isNull).map(_.asLong())))
        .nextOption()
        .orElse(Some(Files.getLastModifiedTime(p).toMillis))
      (v, ts, op)
    }
  }

  /** Time-travel timestamp literal → epoch millis: accepts epoch
    * millis, a zoned instant (`...T12:00:00Z`), a LOCAL date-time with
    * `T` or space (read as UTC), or a bare date (UTC midnight) —
    * refusing loudly on anything else rather than time-traveling
    * somewhere surprising. One parser for every door (DSv2
    * `timestampAsOf`, SQL SHALLOW CLONE `TIMESTAMP AS OF`). */
  def parseTimestampMillis(ts: String): Long =
    ts.toLongOption.getOrElse {
      val norm = ts.trim.replace(' ', 'T')
      try java.time.Instant.parse(norm).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          try java.time.LocalDateTime.parse(norm)
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          catch {
            case _: java.time.format.DateTimeParseException =>
              try java.time.LocalDate.parse(norm).atStartOfDay()
                .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
              catch {
                case _: java.time.format.DateTimeParseException =>
                  throw new IllegalArgumentException(
                    s"graft-delta: unparseable timestamp '$ts' — use epoch " +
                      "millis, 'yyyy-MM-dd[ HH:mm:ss]' (UTC), or an ISO instant")
              }
          }
      }
    }

  /** TIMESTAMP AS OF resolution: the newest version whose commit
    * landed at or before `tsMillis`. Only versions whose JSON commit
    * survives are resolvable — a checkpoint-truncated prefix bounds
    * how far back timestamp travel reaches (version travel through the
    * checkpoint still works). Non-monotonic wall clocks resolve to the
    * HIGHEST eligible version, matching Delta's adjusted-timestamp
    * behavior. */
  def versionAtTime(spark: SparkSession, table: String, tsMillis: Long): Long = {
    val known = (0L to latestVersion(table)).flatMap(v =>
      commitTimestamp(table, v).map(v -> _))
    require(known.nonEmpty,
      s"$table: no surviving JSON commits to resolve a timestamp against")
    val eligible = known.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"$table: timestamp $tsMillis predates the oldest surviving commit " +
        s"(${known.map(_._2).min})")
    eligible.map(_._1).max
  }

  /** Time travel by wall clock: read the table as of `tsMillis`. */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    readVersion(spark, table, versionAtTime(spark, table, tsMillis))

  /** DESCRIBE HISTORY: one row per surviving commit — (version,
    * timestamp, operation) from the commitInfo actions. Metadata-sized
    * by construction (one row per commit, parsed driver-side from the
    * log the driver already lists). */
  def history(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val rows = history(table).reverse.map { case (v, ts, op) =>
      org.apache.spark.sql.Row(v, ts.getOrElse(0L), op.orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("version", LongType),
        StructField("timestamp", LongType),
        StructField("operation", StringType, nullable = true))))
  }

  /** Every deletion-vector FILE referenced by any snapshot at or after
    * the boundary of the retention window — the DV analogue of
    * [[DeltaWrite.vacuum]]'s `recentRemovePaths` guard: a bitmap
    * written long ago but superseded by a commit INSIDE the window
    * (second deleteWhere, merge, DV-purging compact) is still needed
    * by time travel / restore() to the pre-supersession versions, so
    * vacuum must not reclaim it. The boundary is one version BELOW the
    * oldest in-window commit: that snapshot is the newest state a
    * reader resolved before the window opened and must stay whole.
    * ONE incremental replay (checkpoint + stepped JSON commits), not
    * one replay per version — O(history), never O(history²). */
  private[io] def dvFilesInWindow(spark: SparkSession, table: String,
      cutoffTs: Long): Set[Path] = {
    val head = latestVersion(table)
    (0L to head).find(v => commitTimestamp(table, v).exists(_ >= cutoffTs)) match {
      case None => Set.empty
      case Some(vMin) =>
        // clamp to the oldest version cleanMetadata left resolvable: a
        // vacuum whose retention exceeds delta.logRetentionDuration can
        // otherwise land start below the log-cleanup boundary, where no
        // checkpoint or JSONs survive and the replay's require throws.
        // Versions older than the boundary are unreachable by time
        // travel anyway, so they are outside the protectable window.
        val start = math.max(oldestResolvableVersion(table), vMin - 1)
        val out = scala.collection.mutable.HashSet.empty[Path]
        // DvOnly: driver state is O(dv-carrying files) — a 10⁷-file
        // table with a handful of DVs no longer replays its whole
        // inventory into driver memory just to guard the bitmaps
        val r = new Replay(Replay.DvOnly)
        val cp = checkpointAtOrBelow(table, start)
        cp.foreach(v => applyCheckpoint(spark, table, v, r))
        ((cp.map(_ + 1).getOrElse(0L)) to start).foreach(v => applyJsonCommit(table, v, r))
        def collect(): Unit = r.files.values.foreach(_.dv
          .filter(d => d.storageType == "u" || d.storageType == "p")
          .foreach(d => out += DeltaDv.dvFile(table, d).normalize()))
        collect()
        ((start + 1) to head).foreach { v => applyJsonCommit(table, v, r); collect() }
        out.toSet
    }
  }

  /** Name of the lineage column carrying each row's normalized absolute
    * data-file path (see [[readVersionWithLineage]]). */
  val LineageFile = "__graft_file"
  /** Name of the lineage column carrying each row's index within its
    * data file. */
  val LineagePos = "__graft_pos"

  /** [[readVersion]] plus ROW LINEAGE: every row carries
    * [[LineageFile]] (the normalized absolute path of the parquet file
    * it lives in) and [[LineagePos]] (its row index within that file).
    * Both come from scan-local `_metadata` columns — zero extra I/O —
    * and deletion-vector masking still applies, so the (file, pos)
    * pairs identify exactly the LIVE rows. This is the primitive
    * row-level DELETE (deletion-vector writes) and MERGE build on:
    * "which files hold matching rows, and at which indexes" without
    * any content-based re-identification. */
  /** The READ schema of `table@version`, resolved WITHOUT enumerating
    * the snapshot's files when possible. For an unpartitioned table
    * with a declared schema, the assembled read schema is fully
    * determined by the log: the scan is schema-pinned to the declared
    * fields (file-source relations surface them nullable), so the
    * declared schema `.asNullable` IS the read schema — no file-list
    * materialization. Partitioned tables fall back to the full
    * assemble: partition columns re-attach AFTER the data columns and
    * their nullability follows the live partition VALUES. The
    * streaming bootstrap is the motivating consumer — resolving a
    * schema at stream (re)start must not cost a full FileEntry
    * collect on a 100 TB table. */
  def readVersionSchema(spark: SparkSession, table: String,
      version: Long): StructType = {
    val s = snapshotAt(spark, table, version)
    s.schema match {
      case Some(sch) if s.partitionColumns.isEmpty =>
        relaxNullable(sch).asInstanceOf[StructType]
      case _ => assemble(spark, table, s).schema
    }
  }

  def readVersionWithLineage(spark: SparkSession, table: String, version: Long): DataFrame =
    assemble(spark, table, snapshotAt(spark, table, version), keepLineage = true)

  /** [[readVersionWithLineage]] restricted to the files whose
    * table-relative paths are in `relPaths` — the second half of the
    * touch-then-rewrite pattern (MERGE): once the touched file set is
    * known, the rewrite scan must cost O(touched), not O(table). */
  def readFilesWithLineage(spark: SparkSession, table: String, version: Long,
      relPaths: Set[String]): DataFrame = {
    val s = snapshotAt(spark, table, version)
    assemble(spark, table, s.withFiles(s.index.filterEntries(f => relPaths(f.path))),
      keepLineage = true)
  }

  // --- ROW TRACKING reads (PROTOCOL.md "Row Tracking"; write half in
  // [[DeltaWrite]]) ---

  /** Stable row-id column names [[readWithRowIds]] appends. */
  val RowIdCol = "_row_id"
  val RowCommitVersionCol = "_row_commit_version"
  private val RtBase = "__rt_base"
  private val RtRcv = "__rt_rcv"

  /** Per-file (LineageFile-keyed) frame of `baseRowId` /
    * `defaultRowCommitVersion` — file-count-sized metadata the log
    * already holds, so it broadcasts. */
  private def fileIdFrame(spark: SparkSession, table: String,
      files: Seq[FileEntry]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val sch = StructType(Seq(StructField(LineageFile, StringType),
      StructField(RtBase, LongType), StructField(RtRcv, LongType)))
    val rows = files.map { f =>
      Row(dataPath(table, f.path).toAbsolutePath.normalize().toString,
        f.baseRowId.getOrElse(throw new IllegalStateException(
          s"$table: ${f.path} carries no baseRowId — row tracking not (fully) enabled")),
        f.defaultRowCommitVersion.getOrElse(throw new IllegalStateException(
          s"$table: ${f.path} carries no defaultRowCommitVersion")))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), sch)
  }

  /** The two materialized-column names a row-tracking table records in
    * its config (throws when row tracking was never enabled). */
  private def matColNames(table: String, s: DeltaSnapshot): (String, String) =
    (s.configuration.getOrElse(DeltaWrite.MatRowIdKey,
      throw new IllegalStateException(
        s"$table: no ${DeltaWrite.MatRowIdKey} — row tracking not enabled")),
      s.configuration.getOrElse(DeltaWrite.MatRcvKey,
        throw new IllegalStateException(
          s"$table: no ${DeltaWrite.MatRcvKey} — row tracking not enabled")))

  /** The table's rows with their STABLE row-tracking identity
    * attached as [[RowIdCol]] / [[RowCommitVersionCol]]: each row's id
    * is `coalesce(materialized value, add.baseRowId + row_index)` —
    * fresh rows resolve positionally against their file's id block,
    * rewritten rows (OPTIMIZE, MERGE) through the materialized columns
    * the rewriting writer preserved. The id a row gets here is the one
    * it keeps for life: dedup ledgers, CDC joins, and incremental
    * indexes can key on it across arbitrary table maintenance. */
  def readWithRowIds(spark: SparkSession, table: String): DataFrame =
    readVersionWithRowIds(spark, table, latestVersion(table))

  def readVersionWithRowIds(spark: SparkSession, table: String,
      version: Long): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val s = snapshotAt(spark, table, version)
    val (matId, matRcv) = matColNames(table, s)
    val extras = Seq(StructField(matId, LongType), StructField(matRcv, LongType))
    val df = assemble(spark, table, s, keepLineage = true,
      extraDataFields = extras)
    if (s.files.isEmpty)
      return df.withColumn(RowIdCol, lit(null).cast("long"))
        .withColumn(RowCommitVersionCol, lit(null).cast("long"))
        .drop(LineageFile, LineagePos, matId, matRcv)
    df.join(broadcast(fileIdFrame(spark, table, s.files)), Seq(LineageFile), "left")
      .withColumn(RowIdCol, coalesce(col(matId), col(RtBase) + col(LineagePos)))
      .withColumn(RowCommitVersionCol, coalesce(col(matRcv), col(RtRcv)))
      .drop(LineageFile, LineagePos, RtBase, RtRcv, matId, matRcv)
  }

  /** The rewrite-path read ([[DeltaWrite.merge]] on a row-tracking
    * table): the requested files' rows with their stable ids filled
    * INTO the materialized columns (config-named), ready to be carried
    * through a rewrite so the new files preserve them. Lineage columns
    * ride along for the caller's own bookkeeping and must be dropped
    * before staging. */
  private[io] def readFilesForRewrite(spark: SparkSession, table: String,
      version: Long, relPaths: Set[String]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val s = snapshotAt(spark, table, version)
    val files = s.index.filterEntries(f => relPaths(f.path))
    val (matId, matRcv) = matColNames(table, s)
    val extras = Seq(StructField(matId, LongType), StructField(matRcv, LongType))
    val df = assemble(spark, table, s.withFiles(files), keepLineage = true,
      extraDataFields = extras)
    if (files.isEmpty) return df.drop(LineageFile, LineagePos)
    df.join(broadcast(fileIdFrame(spark, table, files)), Seq(LineageFile), "left")
      .withColumn(matId, coalesce(col(matId), col(RtBase) + col(LineagePos)))
      .withColumn(matRcv, coalesce(col(matRcv), col(RtRcv)))
      .drop(LineageFile, LineagePos, RtBase, RtRcv)
  }

  /** [[maskedRawScan]] with the stable ids materialized — the
    * compaction rewrite on a row-tracking table. Raw in the same sense
    * (no partition-column re-attachment: the output goes straight back
    * into files), but the scan runs under the LOG schema + the two
    * materialized columns so mixed inputs (some already materialized,
    * some not) resolve uniformly. On a column-mapped table the data
    * fields scan under their PHYSICAL names (what the files store —
    * the raw output goes straight back into files, so no re-logical
    * rename happens); the materialized columns are physical-only
    * passengers either way. */
  private[io] def maskedRawScanWithRowIds(spark: SparkSession, table: String,
      s: DeltaSnapshot, files: Seq[FileEntry]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val (matId, matRcv) = matColNames(table, s)
    val logical = s.schema.getOrElse(throw new IllegalStateException(
      s"$table: no schema"))
    // filter partition columns on LOGICAL names first (that is what
    // partitionColumns records), physicalize the survivors after
    val logicalData = StructType(logical.fields
      .filterNot(f => s.partitionColumns.contains(f.name)))
    val dataFields = (if (ColumnMapping.active(s.columnMappingMode))
        ColumnMapping.physicalize(logicalData).asInstanceOf[StructType]
      else logicalData).fields
    val sch = StructType(dataFields ++
      Seq(StructField(matId, LongType), StructField(matRcv, LongType)))
    val scan = spark.read.schema(sch)
      .parquet(files.map(f => dataPath(table, f.path).toString): _*)
      .withColumn(LineageFile, normalizedUriPath(col("_metadata.file_path")))
      .withColumn(LineagePos, col("_metadata.row_index"))
    val dvFiles = files.filter(_.dv.isDefined)
    val masked = if (dvFiles.isEmpty) scan
      else maskDeleted(spark, table, scan, dvFiles)
    masked.join(broadcast(fileIdFrame(spark, table, files)), Seq(LineageFile), "left")
      .withColumn(matId, coalesce(col(matId), col(RtBase) + col(LineagePos)))
      .withColumn(matRcv, coalesce(col(matRcv), col(RtRcv)))
      .drop(LineageFile, LineagePos, RtBase, RtRcv)
  }

  /** [[readVersion]] with partition-level pruning applied to the FILE
    * LIST before any scan is planned: `keep` sees each file's
    * partitionValues (column → string value, null for the Hive null
    * partition). This is how a wide-partition table (above
    * [[MaxUnionPartitions]]) gets directory-level pruning — the
    * listing is metadata graft already holds, so filtering it costs
    * nothing and the skipped files never reach the scan. */
  def readVersionWhere(spark: SparkSession, table: String, version: Long)(
      keep: Map[String, String] => Boolean): DataFrame = {
    val s = snapshotAt(spark, table, version)
    assemble(spark, table, s.withFiles(s.index.filterEntries(f => keep(f.partitionValues))))
  }

  /** One conjunct of a data-skipping predicate: `col` ∈ [lo, hi]
    * (inclusive; None = unbounded on that side). Bound values may be
    * Int / Long / Double / BigDecimal (compared numerically), String,
    * Boolean, or java.time.LocalDate (compared as its ISO string — the
    * stats encoding for dates). */
  final case class StatRange(col: String, lo: Option[Any] = None, hi: Option[Any] = None)
  object StatRange {
    def eq(col: String, v: Any): StatRange = StatRange(col, Some(v), Some(v))
    def atLeast(col: String, v: Any): StatRange = StatRange(col, Some(v), None)
    def atMost(col: String, v: Any): StatRange = StatRange(col, None, Some(v))
  }

  /** File-level DATA SKIPPING from `add.stats`: the snapshot's files
    * minus those whose per-column min/max prove NO row can satisfy the
    * conjunction of `preds`. Strictly best-effort and sound: a file
    * with no stats, no bounds for the column, or a type mismatch is
    * kept. This is the log-as-index move that matters at 100 TB — the
    * pruning runs on metadata the driver already holds, so a selective
    * range predicate skips whole files before any scan task exists
    * (the complement of partition pruning: it works on columns the
    * table is NOT partitioned by, e.g. a sorted/Z-ordered key). */
  /** A COLLATED string column's min/max bounds cannot be compared in
    * binary order (UTF8_LCASE's "apple" vs "Apple" invert), so any
    * StatRange on one is dropped before skipping — the file is
    * admitted, which is always sound. Top-level fields only, matching
    * the stats writer. */
  private[io] def collatedCols(schema: Option[StructType]): Set[String] =
    schema.map(_.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] &&
        f.dataType != org.apache.spark.sql.types.StringType => f.name
    }.toSet).getOrElse(Set.empty)

  def filesAfterSkipping(spark: SparkSession, table: String, version: Long,
      preds: Seq[StatRange]): Seq[FileEntry] = {
    val s = snapshotAt(spark, table, version)
    val skip = collatedCols(s.schema)
    // index-routed: on the Dataset tier the SAME statsAdmit predicate
    // evaluates executor-side and only survivors reach the driver
    s.index.admitted(preds.filterNot(p => skip(p.col)))
  }

  /** [[readVersion]] with [[filesAfterSkipping]] applied to the file
    * list. The caller still applies its row-level filter — skipping
    * only removes files PROVEN empty of matches. */
  def readVersionWhereStats(spark: SparkSession, table: String, version: Long,
      preds: Seq[StatRange]): DataFrame = {
    val s = snapshotAt(spark, table, version)
    val skip = collatedCols(s.schema)
    assemble(spark, table,
      s.withFiles(s.index.admitted(preds.filterNot(p => skip(p.col)))))
  }

  /** TEST SEAM: fires with (table, files kept, files total) whenever
    * point-set skipping runs — the dedup-ledger probe's pruning pin. */
  private[graft] var onPointSkipping: Option[(String, Int, Int) => Unit] = None

  /** [[readVersion]] restricted to the files whose [min,max] bounds
    * for LONG column `column` intersect ANY of `sortedPoints` — the
    * POINT-SET form of data skipping. The motivating consumer is the
    * incremental-dedup ledger: appends land SORTED by fingerprint, so
    * each ledger file covers a disjoint slice of the hash space, and a
    * batch of B probe keys can only hit min(B, files) of them —
    * O(batch) ledger files read per ingest, not O(corpus history).
    * Sound like every skipping path: a file with no usable bounds for
    * the column is admitted. */
  def readVersionWherePoints(spark: SparkSession, table: String, version: Long,
      column: String, sortedPoints: Array[Long]): DataFrame = {
    val s = snapshotAt(spark, table, version)
    val colName = column
    val pts = sortedPoints
    val kept = s.index.filterEntries { f =>
      statsLongBounds(f, colName) match {
        case Some((lo, hi)) =>
          var i = java.util.Arrays.binarySearch(pts, lo)
          if (i < 0) i = -i - 1
          i < pts.length && pts(i) <= hi
        case None => true
      }
    }
    onPointSkipping.foreach(h => h(table, kept.size, s.index.count.toInt))
    assemble(spark, table, s.withFiles(kept))
  }

  /** `column`'s numeric [min,max] from a file's stats, when both
    * bounds are present and numeric. */
  private[graft] def statsLongBounds(f: FileEntry, column: String): Option[(Long, Long)] =
    f.stats.flatMap { js =>
      try {
        val n = mapper.readTree(js)
        val mn = Option(n.get("minValues")).flatMap(m => Option(m.get(column)))
          .filterNot(_.isNull)
        val mx = Option(n.get("maxValues")).flatMap(m => Option(m.get(column)))
          .filterNot(_.isNull)
        (mn, mx) match {
          case (Some(a), Some(b)) if a.isNumber && b.isNumber =>
            Some((a.asLong(), b.asLong()))
          case _ => None
        }
      } catch { case _: Exception => None }
    }

  /** Can any row of `f` satisfy every conjunct? Missing evidence ⇒ yes.
    * ONE implementation for both tiers — the Dataset tier ships this
    * exact predicate to executors, so skipping can never diverge. */
  private[io] def statsAdmit(f: FileEntry, preds: Seq[StatRange]): Boolean = {
    lazy val node = f.stats.flatMap(js =>
      try Some(mapper.readTree(js)) catch { case _: Exception => None })
    lazy val minN = node.flatMap(n => Option(n.get("minValues")))
    lazy val maxN = node.flatMap(n => Option(n.get("maxValues")))
    preds.forall { p =>
      // a PARTITION column's value is exact evidence (min == max) —
      // data files carry no stats for it, but the add action does
      if (f.partitionValues.contains(p.col)) {
        val v = f.partitionValues(p.col)
        // SQL range comparisons never match NULL, so a null-partition
        // file is provably empty of matches whenever a bound exists
        if (v == null) p.lo.isEmpty && p.hi.isEmpty
        else {
          val loOk = p.hi.forall(b => comparePartitionValue(v, b).forall(_ <= 0))
          val hiOk = p.lo.forall(b => comparePartitionValue(v, b).forall(_ >= 0))
          loOk && hiOk
        }
      } else {
        val mn = minN.flatMap(m => Option(m.get(p.col))).filterNot(_.isNull)
        val mx = maxN.flatMap(m => Option(m.get(p.col))).filterNot(_.isNull)
        (mn, mx) match {
          case (Some(lo0), Some(hi0)) =>
            val loOk = p.hi.forall(b => compareBound(lo0, b).forall(_ <= 0))
            val hiOk = p.lo.forall(b => compareBound(hi0, b).forall(_ >= 0))
            loOk && hiOk
          case _ => true // no bounds recorded — cannot prove exclusion
        }
      }
    }
  }

  /** Compare a Hive-encoded partition value string against a typed
    * predicate bound. None (incomparable / unparseable) ADMITS — only
    * provable exclusion may skip. Numerics compare as BigDecimal,
    * dates as their ISO strings (lexicographic == chronological),
    * strings in unsigned UTF-8 order like every other string bound. */
  private def comparePartitionValue(v: String, b: Any): Option[Int] = b match {
    case _: Byte | _: Short | _: Int | _: Long | _: Float | _: Double =>
      try Some(BigDecimal(v).compare(BigDecimal(b.toString)))
      catch { case _: NumberFormatException => None }
    case bd: java.math.BigDecimal =>
      try Some(BigDecimal(v).compare(BigDecimal(bd)))
      catch { case _: NumberFormatException => None }
    case s: String => Some(utf8Compare(v, s))
    case d: java.sql.Date => Some(utf8Compare(v, d.toString))
    case d: java.time.LocalDate => Some(utf8Compare(v, d.toString))
    case bb: Boolean => v.toBooleanOption.map(_.compareTo(bb))
    case _ => None
  }

  /** Unsigned UTF-8 byte order — the order parquet footer stats are
    * computed in (parquet-format: UNSIGNED sort order for BYTE_ARRAY /
    * UTF8). Java's String.compareTo orders by UTF-16 code units, which
    * DISAGREES for supplementary-plane characters (U+FFFF sorts above
    * any surrogate-pair emoji in UTF-16, below it in UTF-8 bytes) — a
    * skipping decision made in the wrong order can prune a file that
    * contains matching rows, so every string bound comparison routes
    * through this. */
  private[io] def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** compare(statsValue, bound): Some(sign), or None when the kinds
    * don't line up (⇒ admit). */
  private def compareBound(v: JsonNode, bound: Any): Option[Int] = (bound match {
    case n @ (_: Int | _: Long | _: Double | _: java.math.BigDecimal | _: BigDecimal) =>
      if (!v.isNumber) None
      else {
        val b = n match {
          case i: Int => BigDecimal(i)
          case l: Long => BigDecimal(l)
          case d: Double => BigDecimal(d)
          case bd: java.math.BigDecimal => BigDecimal(bd)
          case bd: BigDecimal => bd
        }
        Some(BigDecimal(v.decimalValue()).compare(b))
      }
    case s: String => if (v.isTextual) Some(utf8Compare(v.asText(), s)) else None
    case d: java.time.LocalDate =>
      if (v.isTextual) Some(utf8Compare(v.asText(), d.toString)) else None
    case b: Boolean =>
      if (v.isBoolean) Some(java.lang.Boolean.compare(v.asBoolean(), b)) else None
    case _ => None
  })

  /** `dt` with every nesting level made nullable — the scan relation
    * is all-nullable (parquet carries no NOT NULL), so any cast whose
    * target came from a committed schema with required fields must
    * relax first or analysis refuses the nullable→required narrowing. */
  private def relaxNullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = relaxNullable(f.dataType), nullable = true)))
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(relaxNullable(et), containsNull = true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(relaxNullable(k), relaxNullable(v),
        valueContainsNull = true)
    case other => other
  }

  /** The visible rows of exactly `files`, under `snap`'s metadata —
    * DV masking, partition re-attachment and mapping renames included.
    * The writer's cdc emission ([[DeltaWrite]]) builds its full-file
    * delete/insert change rows from this. */
  private[io] def readEntriesRows(spark: SparkSession, table: String,
      snap: DeltaSnapshot, files: Seq[FileEntry]): DataFrame =
    assemble(spark, table, snap.withFiles(files))

  /** The rows each entry's deletion vector SELECTS, minus the rows of
    * `subtractByPath(path)` — the "rows newly deleted by this DV
    * transition" primitive the change feed and the writer's cdc
    * emission share. Every entry in `files` must carry a dv. */
  private[io] def readDvDiffRows(spark: SparkSession, table: String,
      snap: DeltaSnapshot, files: Seq[FileEntry],
      subtractByPath: Map[String, Option[DeltaDv.Descriptor]]): DataFrame =
    assemble(spark, table, snap.withFiles(files), dvSelect = Some(subtractByPath))

  /** A file-source URI column (`input_file_name()`, `_metadata
    * .file_path`) normalized to the on-disk absolute path: strip the
    * scheme, protect literal '+' (url_decode is form-decoding), decode
    * the percent escapes. */
  private def normalizedUriPath(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    url_decode(regexp_replace(
      regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/"), "\\+", "%2B"))

  /** The (file, row-index) set `dv ∖ subtract` for each spec, decoded
    * in EXECUTORS: one input row per FILE (metadata-sized), flatMapped
    * through the [[DeltaDv]] decode task-side — decoded row-index sets
    * are data-sized (a 100 TB table can hold billions of deleted rows)
    * and must never materialize on the driver. The `subtract` slot is
    * what lets the change feed express a DV TRANSITION (rows newly
    * deleted = newDv ∖ oldDv) with the same machinery the plain read
    * path masks with. */
  private def dvRowsFrame(spark: SparkSession, table: String,
      specs: Seq[(String, DeltaDv.Descriptor, Option[DeltaDv.Descriptor])]): DataFrame = {
    import spark.implicits._
    val deser = specs.map { case (path, n, o) =>
      def t(d: DeltaDv.Descriptor) =
        (d.storageType, d.pathOrInlineDv, d.offset.getOrElse(-1), d.sizeInBytes, d.cardinality)
      (path, t(n), o.map(t))
    }
    spark.createDataset(deser)
      .flatMap { case (path, n, o) =>
        def d(x: (String, String, Int, Int, Long)) =
          DeltaDv.Descriptor(x._1, x._2, if (x._3 < 0) None else Some(x._3), x._4, x._5)
        val excl = o.map(x => DeltaDv.deletedRows(table, d(x)).toSet)
          .getOrElse(Set.empty[Long])
        DeltaDv.deletedRows(table, d(n)).iterator.filterNot(excl).map(path -> _)
      }.toDF(LineageFile, LineagePos)
  }

  /** RAW physical scan of `files` with deletion-vector rows hidden —
    * no partition re-attachment, no logical renames: exactly the bytes
    * a rewrite (OPTIMIZE purge) should carry forward. Columns come out
    * under the files' stored (physical) names. */
  private[io] def maskedRawScan(spark: SparkSession, table: String,
      files: Seq[FileEntry]): DataFrame = {
    val scan = spark.read.parquet(files.map(f => dataPath(table, f.path).toString): _*)
    val dvFiles = files.filter(_.dv.isDefined)
    if (dvFiles.isEmpty) scan
    else maskDeleted(spark, table,
      scan.withColumn(LineageFile, normalizedUriPath(col("_metadata.file_path")))
        .withColumn(LineagePos, col("_metadata.row_index")),
      dvFiles).drop(LineageFile, LineagePos)
  }

  /** Hide every (file, row index) a deletion vector flags. `scan` must
    * already carry [[LineageFile]] (normalized `_metadata.file_path`)
    * and [[LineagePos]] (`_metadata.row_index`) — zero extra I/O, both
    * are scan-local metadata. The deleted set arrives by anti-join
    * from [[dvRowsFrame]]. */
  private def maskDeleted(spark: SparkSession, table: String,
      scan: DataFrame, dvFiles: Seq[FileEntry]): DataFrame = {
    val specs = dvFiles.map { f =>
      (dataPath(table, f.path).toAbsolutePath.normalize().toString, f.dv.get,
        Option.empty[DeltaDv.Descriptor])
    }
    scan.join(dvRowsFrame(spark, table, specs), Seq(LineageFile, LineagePos), "left_anti")
  }

  /** @param dvSelect when set, INVERTS the DV mask into a selector:
    *   every file in the snapshot must carry a dv, and the output is
    *   exactly the rows in `file.dv ∖ dvSelect(file.path)` — the
    *   change feed's "rows newly deleted by this DV transition". When
    *   None (every normal read), DV rows are hidden as usual. */
  private def assemble(spark: SparkSession, table: String, s: DeltaSnapshot,
      keepLineage: Boolean = false,
      dvSelect: Option[Map[String, Option[DeltaDv.Descriptor]]] = None,
      extraDataFields: Seq[org.apache.spark.sql.types.StructField] = Nil): DataFrame = {
    def abs(e: FileEntry) = dataPath(table, e.path).toString
    val mapped = ColumnMapping.active(s.columnMappingMode)
    // data columns only — partition columns live in the log, never the files
    val dataSchema = s.schema.map(sc => StructType(
      sc.fields.filterNot(f => s.partitionColumns.contains(f.name))))
    val physDataSchema = dataSchema.map(d =>
      ColumnMapping.physicalize(d).asInstanceOf[StructType])
    // id-mode tables resolve columns by PARQUET FIELD ID when the
    // files' stored names differ from the log's physical names (a
    // foreign engine may regenerate names but must preserve ids): one
    // footer read decides; files are assumed name-uniform within a
    // table, which every single-engine rewrite satisfies
    val idResolved: Option[StructType] =
      if (!(mapped && s.columnMappingMode == "id" && s.files.nonEmpty)) None
      else try {
        val first = dataPath(table, s.files.head.path)
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(first.toUri),
          new org.apache.hadoop.conf.Configuration())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val footer = try r.getFooter.getFileMetaData.getSchema finally r.close()
        val resolved = ColumnMapping.resolveByFieldId(dataSchema.get, footer)
        if (resolved == physDataSchema.get) None else Some(resolved)
      } catch { case _: Exception => None }
    val coreScanSchema = idResolved.orElse(physDataSchema)
    val scanSchema = coreScanSchema.map(c =>
      StructType(c.fields ++ extraDataFields))
    // logical name → the name the SCAN will carry (footer-resolved for
    // id mode, the log's physical name otherwise)
    val scanNameByLogical: Map[String, String] = dataSchema.map { d =>
      idResolved match {
        case Some(res) => d.fieldNames.zip(res.fieldNames).toMap
        case None => ColumnMapping.physByLogical(d)
      }
    }.getOrElse(Map.empty)
    // The files store PHYSICAL names under column mapping; either way
    // the scan uses the LOG's schema explicitly — schemaString is
    // authoritative (a file predating a column add reads the new
    // column as null), and physical-only passenger columns a rewrite
    // materialized (row-tracking ids) stay invisible unless requested
    // via extraDataFields
    def scan(paths: Seq[String]): DataFrame = scanSchema match {
      case Some(sch) => spark.read.schema(sch).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
    // ...and rename back to logical names right after the scan-side DV
    // mask: one positional struct cast per top-level column renames
    // every nesting level at once (physical and logical schemas are
    // structurally identical), and non-data passthrough columns
    // (`__graft_path` in the wide-partition form) survive untouched.
    def relogical(df: DataFrame): DataFrame =
      if (!mapped) df
      else {
        val dataCols = dataSchema.get.fields.map(f =>
          col(scanNameByLogical(f.name)).cast(relaxNullable(f.dataType)).as(f.name))
        // extraDataFields and non-scan passthrough columns (lineage)
        // both survive the rename untouched
        val extras = df.columns.filterNot(coreScanSchema.get.fieldNames.contains)
          .map(col)
        df.select(dataCols ++ extras: _*)
      }
    // DV masking happens SCAN-SIDE, per branch: `_metadata` columns
    // resolve only against a file-source relation, so the (file, pos)
    // capture must attach before any union/join reshapes the plan
    def masked(df: DataFrame, fs: Seq[FileEntry]): DataFrame = dvSelect match {
      case Some(oldBy) =>
        // selector mode: keep ONLY the rows each file's dv flags,
        // minus the previous dv's rows — same scan-side (file, pos)
        // capture, but a SEMI join against the diff set
        val withMeta = df
          .withColumn(LineageFile, normalizedUriPath(col("_metadata.file_path")))
          .withColumn(LineagePos, col("_metadata.row_index"))
        val specs = fs.map { f =>
          require(f.dv.isDefined, s"dvSelect: ${f.path} carries no deletion vector")
          (dataPath(table, f.path).toAbsolutePath.normalize().toString, f.dv.get,
            oldBy.getOrElse(f.path, None))
        }
        relogical(withMeta
          .join(dvRowsFrame(spark, table, specs), Seq(LineageFile, LineagePos), "left_semi")
          .drop(LineageFile, LineagePos))
      case None =>
        val dvFiles = fs.filter(_.dv.isDefined)
        val withMeta =
          if (dvFiles.isEmpty && !keepLineage) df
          else df.withColumn(LineageFile, normalizedUriPath(col("_metadata.file_path")))
            .withColumn(LineagePos, col("_metadata.row_index"))
        val m = if (dvFiles.isEmpty) withMeta
          else maskDeleted(spark, table, withMeta, dvFiles)
        val m2 = if (keepLineage || dvFiles.isEmpty) m
          else m.drop(LineageFile, LineagePos)
        relogical(m2)
    }
    if (s.files.isEmpty) {
      val sch0 = s.schema.getOrElse(throw new IllegalStateException(
        s"$table@${s.version} has no files and no metaData schema"))
      val sch = if (!keepLineage) sch0 else StructType(sch0.fields ++ Seq(
        org.apache.spark.sql.types.StructField(LineageFile,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(LineagePos,
          org.apache.spark.sql.types.LongType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    } else if (s.partitionColumns.isEmpty) {
      masked(scan(s.files.map(abs)), s.files)
    } else {
      // partition columns live in the log, not the files
      val colType = s.schema.map(_.fields.map(f => f.name -> f.dataType).toMap)
        .getOrElse(Map.empty)
      val byPartition = s.files.groupBy(_.partitionValues).toSeq
      if (byPartition.size <= MaxUnionPartitions) {
        // one scan per partition tuple, literal columns re-attached
        // with schemaString types (filters constant-fold dead branches)
        byPartition.map { case (pv, fs) =>
          s.partitionColumns.foldLeft(masked(scan(fs.map(abs)), fs)) {
            (df, c) =>
              val raw = pv.get(c).orNull match {
                case null => lit(null)
                case v    => lit(v)
              }
              df.withColumn(c, colType.get(c).map(raw.cast).getOrElse(raw))
          }
        }.reduce(_.unionByName(_))
      } else {
        // wide-partition form: ONE scan over every file; partition
        // values re-attach through a broadcast (path → values) map
        // joined on the normalized `_metadata.file_path` (same value
        // contract as input_file_name, but still resolvable when the
        // DV mask has to capture scan metadata on the same relation).
        // Map size = file count — metadata the log already carries.
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{StringType, StructField, StructType}
        val pvSchema = StructType(StructField("__graft_path", StringType) +:
          s.partitionColumns.map(c => StructField(c, StringType, nullable = true)))
        val pvRows = s.files.map { f =>
          Row.fromSeq(dataPath(table, f.path).toAbsolutePath.normalize().toString +:
            s.partitionColumns.map(c => f.partitionValues.get(c).orNull))
        }
        val pvDf = spark.createDataFrame(
          spark.sparkContext.parallelize(pvRows, 1), pvSchema)
        val joined = masked(
          scan(s.files.map(abs))
            .withColumn("__graft_path", normalizedUriPath(col("_metadata.file_path"))),
          s.files)
          .join(broadcast(pvDf), Seq("__graft_path"), "left")
          .drop("__graft_path")
        s.partitionColumns.foldLeft(joined) { (df, c) =>
          df.withColumn(c, colType.get(c).map(df(c).cast).getOrElse(df(c)))
        }
      }
    }
  }
}
