package graft.io

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Zero-copy [[TxLog]] → Delta Lake migration: both formats are a
  * commit log over plain parquet, so a TxLog table converts to a
  * Delta table WITHOUT rewriting a byte of data — every data file is
  * hard-linked into the Delta root (copy fallback across devices) and
  * each TxLog manifest becomes one Delta commit whose `add`/`remove`
  * actions are the file-set diff against the previous manifest. The
  * full version history survives: Delta time travel to version v−1
  * sees exactly what `TxLog.readVersion(v)` sees.
  *
  * Why this matters at 100 TB: a format migration that rewrites data
  * costs a full read+write of the lake; a manifest transcription costs
  * O(versions × files-per-manifest) metadata operations and zero data
  * I/O. After export, the reference's own Delta tooling (delta-rs,
  * Spark+delta) reads the graft table in place.
  *
  * Vacuumed histories: a TxLog version whose data files were already
  * reclaimed cannot be replayed, so export starts at the EARLIEST
  * version whose files are all still present (the same contract
  * TxLog's own time travel degrades to after vacuum). */
object DeltaBridge {

  /** Export `txTable`'s full surviving history into a NEW Delta table
    * at `deltaTable`. Returns the number of Delta commits written.
    * Fails if `deltaTable` already has a `_delta_log`. */
  def exportTxLog(spark: SparkSession, txTable: String, deltaTable: String): Int = {
    require(!Files.isDirectory(Paths.get(deltaTable, "_delta_log")),
      s"$deltaTable is already a Delta table — export targets a fresh directory")
    val latest = TxLog.currentSnapshot(txTable)
    require(latest.version > 0, s"$txTable has no committed versions to export")

    // TxLog.vacuum deletes old MANIFESTS as well as data files — skip
    // versions whose manifest is gone instead of crashing on them
    val snapshots = (1L to latest.version).flatMap { v =>
      try Some(TxLog.snapshotAt(txTable, v))
      catch { case _: IllegalArgumentException => None }
    }
    // earliest version whose files all survive (vacuum reclaims old ones)
    val intact = snapshots.dropWhile(
      _.files.exists(f => !Files.exists(Paths.get(txTable, f))))
    require(intact.nonEmpty,
      s"$txTable: no version has all its data files present — nothing exportable")

    val schemaJson = intact.flatMap(_.schemaJson).filter(_.nonEmpty).lastOption
      .getOrElse(spark.read.parquet(
        intact.head.files.map(f => s"$txTable/$f"): _*).schema.json)

    Files.createDirectories(Paths.get(deltaTable))
    val now = System.currentTimeMillis()
    val conf = spark.sessionState.newHadoopConf()
    var prev = Set.empty[String]
    var deltaV = 0L
    intact.foreach { s =>
      val cur = s.files.toSet
      val added = s.files.filterNot(prev) // manifest order, deterministic
      val removed = prev.toSeq.sorted.filterNot(cur)
      added.foreach(f => linkOrCopy(Paths.get(txTable, f), Paths.get(deltaTable, f)))
      val header =
        if (deltaV == 0L)
          Seq(DeltaWrite.commitInfoAction("CONVERT", now), DeltaWrite.protocolAction,
            DeltaWrite.metaDataAction(java.util.UUID.randomUUID().toString,
              schemaJson, Nil, now))
        else Seq(DeltaWrite.commitInfoAction(
          if (removed.nonEmpty) "OVERWRITE" else "APPEND", now))
      val adds = added.map { f =>
        val p = Paths.get(deltaTable, f)
        DeltaWrite.addAction(DeltaWrite.Staged(f, Map.empty, Files.size(p),
          Files.getLastModifiedTime(p).toMillis, DeltaWrite.parquetStats(p, conf)))
      }
      val removes = removed.map(f => DeltaWrite.removeAction(f, now))
      require(DeltaWrite.tryPublish(deltaTable, deltaV, header ++ removes ++ adds),
        s"export race: $deltaTable version $deltaV appeared mid-export")
      prev = cur
      deltaV += 1
    }
    // long histories read checkpoint-then-tail, not replay-from-zero
    DeltaWrite.checkpoint(spark, deltaTable)
    deltaV.toInt
  }

  private def linkOrCopy(src: Path, dest: Path): Unit = {
    Files.createDirectories(dest.getParent)
    try Files.createLink(dest, src)
    catch {
      case _: java.nio.file.FileAlreadyExistsException => // idempotent re-link
      case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(src, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
