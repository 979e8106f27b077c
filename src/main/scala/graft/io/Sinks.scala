package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Sinks (SURVEY §2.1 S7–S12): parquet/CSV/JSON-report writers plus a
  * JDBC conflict-skip batch sink mirroring the reference's
  * `execute_values ... ON CONFLICT DO NOTHING` loads
  * (loader_NeonDB.py:364-371 etc.).
  */
object Sinks {

  /** S7: overwrite parquet (bronze/gold persist), optionally
    * hive-partitioned by the given columns. */
  def parquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Bucketed + sorted parquet table (hash-bucketed by join key): the
    * co-located-join layout for fact↔fact joins too big to broadcast.
    * Two tables bucketed the same way join with ZERO exchanges — the
    * shuffle is paid once at write time, then every downstream join of
    * the bucketed keys is exchange-free (asserted in IoCleanerSpec).
    * Goes through the session catalog (`saveAsTable`) because bucket
    * metadata lives there, not in the files. */
  def parquetBucketed(df: DataFrame, tableName: String, bucketCols: Seq[String],
      numBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(tableName)

  /** S9: headered CSV export (extract_gaming_data.py:91-93). */
  def csv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** S11: small JSON report written driver-side (volumetry report;
    * the aggregation is distributed, only the final object is local). */
  def jsonReport(json: String, path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)

  /** The offline MERGE-equivalent of [[jdbcConflictSkip]]: idempotent
    * parquet append — stage the incoming batch, anti-join its PK
    * against the keys already on disk, append only the new rows
    * (`INSERT ... ON CONFLICT (pk) DO NOTHING` re-run semantics,
    * loader_NeonDB.py:370-645; SURVEY §7.4 #2). Batch-internal key
    * conflicts collapse first-wins like a single conflict-skip INSERT.
    *
    * Scale: the existing side is read PK-columns-only (column-pruned
    * scan — `ReadSchema` carries just the keys) and the anti-join
    * shuffles on the PK hash; AQE broadcasts it when the key set is
    * small. NOT transactional across concurrent writers (parquet has
    * no multi-job commit protocol; that's Delta's job) — it targets
    * the reference's re-run idempotence, not concurrent loads.
    *
    * Surrogate-key caveat, as in the reference: re-running on the SAME
    * bronze input is a no-op (same keys regenerate). For INCREMENTAL
    * loads where new dimension rows must not collide with keys already
    * assigned, use hashKey surrogates (stable under growth) — seqKey
    * renumbers from 1 on every rebuild.
    *
    * Empty `keyCols` means full-row conflict skip — for SERIAL-PK-only
    * tables like fact_metricas where duplicate GRAIN rows are legal
    * data (loader_NeonDB.py:641-645: `ON CONFLICT DO NOTHING` with no
    * conflict target never fires, so the reference keeps them; its
    * re-runs actually duplicate rows — full-row skip keeps our re-runs
    * idempotent while preserving every distinct row). */
  def parquetAppendNew(df: DataFrame, path: String, keyCols: Seq[String],
      partitionCols: Seq[String] = Nil): Unit = {
    val keys = if (keyCols.nonEmpty) keyCols else df.columns.toSeq
    val spark = df.sparkSession
    val incoming = df.dropDuplicates(keys)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hPath)) parquet(incoming, path, partitionCols)
    else {
      // null-safe (<=>) key equality: a NULL key value must match its
      // stored self or the row re-appends on every run, breaking
      // idempotence (plain = treats NULL as never-equal)
      val existingKeys = spark.read.parquet(path)
        .select(keys.map(c => col(c).as(s"__ex_$c")): _*)
      val cond = keys.map(c => incoming(c) <=> col(s"__ex_$c")).reduce(_ && _)
      val fresh = incoming.join(existingKeys, cond, "left_anti")
      val w = fresh.write.mode("append")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
    }
  }

  /** Z-order key: interleave the bits of each column's min/max-scaled
    * integer image, so rows close in EVERY clustered dimension land
    * close in the sort. Pure (unrolled) column math — `bits` iterations
    * of shift/mask per column, whole-stage-codegen'd. */
  def zValue(cols: Seq[org.apache.spark.sql.Column], mins: Seq[Double],
      maxs: Seq[Double], bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{least, greatest, lit, shiftright}
    require(cols.size * bits <= 62, "z-key must fit a long")
    val top = (1L << bits) - 1
    val scaled = cols.zip(mins.zip(maxs)).map { case (c, (mn, mx)) =>
      val range = if (mx > mn) mx - mn else 1.0
      // clamp in DOUBLE before the cast: an epsilon above 2^bits-1 would
      // throw under ANSI long-cast, not truncate
      least(greatest((c.cast("double") - lit(mn)) / lit(range) * lit(top.toDouble),
        lit(0.0)), lit(top.toDouble)).cast("long")
    }
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      scaled.zipWithIndex.foldLeft(acc) { case (a, (s, j)) =>
        a + shiftright(s, i).bitwiseAND(lit(1L)) * lit(1L << (i * scaled.size + j))
      }
    }
  }

  /** S12: idempotent JDBC batch insert with conflict-skip. Batched
    * per-partition statements, `ON CONFLICT (keys) DO NOTHING` so
    * re-runs are idempotent like the reference loads. Requires a live
    * PostgreSQL-compatible endpoint (none in this offline environment —
    * exercised only by its SQL-text unit test).
    */
  def jdbcConflictSkip(df: DataFrame, url: String, table: String,
      keyCols: Seq[String], batchSize: Int = 1000,
      props: java.util.Properties = new java.util.Properties): Unit = {
    val cols = df.columns.toSeq
    val sql = insertSql(table, cols, keyCols)
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val conn = java.sql.DriverManager.getConnection(url, props)
      conn.setAutoCommit(false)
      try {
        val st = conn.prepareStatement(sql)
        var n = 0
        rows.foreach { r =>
          cols.indices.foreach(i => st.setObject(i + 1, r.get(i)))
          st.addBatch(); n += 1
          if (n % batchSize == 0) { st.executeBatch(); conn.commit() }
        }
        st.executeBatch(); conn.commit()
      } finally conn.close()
    }
  }

  /** The conflict-skip statement text (unit-testable without a DB). */
  def insertSql(table: String, cols: Seq[String], keyCols: Seq[String]): String =
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES " +
      s"(${cols.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT (${keyCols.mkString(", ")}) DO NOTHING"
}
