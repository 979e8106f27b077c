package graft.io

import org.apache.spark.sql.DataFrame

/** Sinks (SURVEY §2.1 S7–S12): the whole-output writers — overwrite
  * parquet (silver), CSV and the JSON report — plus a JDBC
  * conflict-skip batch sink mirroring the reference's
  * `execute_values ... ON CONFLICT DO NOTHING` loads
  * (loader_NeonDB.py:364-371 etc.). A table updated in place (the gold
  * warehouse) is not written here: its offline conflict-skip load is
  * [[DeltaWrite.appendNew]], one atomic Delta commit per load, which
  * `Main` makes exactly-once per input set with a SetTransaction mark
  * (a re-run on unchanged bronze skips the build, not just the rows).
  */
object Sinks {

  /** S7: overwrite parquet (silver persist), optionally
    * hive-partitioned by the given columns. */
  def parquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** S9: headered CSV export (extract_gaming_data.py:91-93). */
  def csv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** S11: small JSON report written driver-side (volumetry report;
    * the aggregation is distributed, only the final object is local). */
  def jsonReport(json: String, path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)

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
