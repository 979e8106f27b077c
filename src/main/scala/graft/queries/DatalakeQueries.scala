package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Data-lake maintenance operators: CDC snapshot diffing, incremental
  * aggregate (materialized-view) maintenance, schema-evolution reads,
  * and privacy operations (k-anonymity audit, GDPR erasure
  * propagation). These are the table-management half of a lakehouse —
  * the reference's loader handles them imperatively row-by-row
  * (loader_NeonDB.py:370-645 upserts); here each is a declarative plan
  * whose only shuffles are key-hash equi-joins.
  *
  * Both engines derive the "mutated" inputs from the same base tables
  * with identical arithmetic, so every decision (which rows changed,
  * which groups are unsafe) reproduces bit-for-bit in the oracle.
  */
object DatalakeQueries {

  /** 16-bit Morton (Z-order) code of two 8-bit values, as pure integer
    * column math: z = Σᵢ bitᵢ(x)·4ⁱ + 2·bitᵢ(y)·4ⁱ. One generator for
    * the Spark Column form and one for the DuckDB dialect (over columns
    * named x/y) so q148 and q160 cannot drift. */
  private def mortonZ(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 8).map { i =>
      val p = math.pow(2, i).toLong
      val q = math.pow(4, i).toLong
      ((x / p).cast("bigint") % 2) * q + ((y / p).cast("bigint") % 2) * (2 * q)
    }.reduce(_ + _)

  private def mortonZSql: String =
    (0 until 8).map { i =>
      val p = math.pow(2, i).toLong
      val q = math.pow(4, i).toLong
      s"((x // $p) % 2) * $q + ((y // $p) % 2) * ${2 * q}"
    }.mkString(" + ")

  /** q130 — CDC snapshot diff: classify every key across two table
    * versions as added / deleted / changed / same, with the net price
    * delta per class. The new snapshot is derived deterministically
    * (deletes %97, in-place updates %13, inserts %89 re-keyed high).
    * Scale shape: one full-outer shuffle join on the 8-byte key; the
    * change test compares columns in place — no row serialization, no
    * driver involvement.
    */
  val q130SnapshotDiff = GQuery(
    "q130_snapshot_diff",
    (s, d) => {
      import s.implicits._
      // NOT checkpointed, measured both ways (optimization r17): base
      // feeds 3 plan branches, but each is a cheap 3-column pruned scan
      // and the materialization barrier costs more than it saves
      // (0.38→0.50 s sf0.1, 0.74→1.0 s sf1 with a lazy checkpoint) —
      // the q170 lesson again.
      val base = Tables.orders(s, d)
        .select($"o_orderkey".as("k"), $"o_totalprice".as("p"), $"o_orderstatus".as("st"))
      val next = base.where($"k" % 97 =!= 0)
        .withColumn("p", when($"k" % 13 === 0, $"p" + 10.0).otherwise($"p"))
        .unionByName(base.where($"k" % 89 === 0)
          .select(($"k" + 3000000000L).as("k"), $"p", lit("N").as("st")))
      val b = base.select($"k".as("bk"), $"p".as("bp"), $"st".as("bs"))
      val n = next.select($"k".as("nk"), $"p".as("np"), $"st".as("ns"))
      b.join(n, $"bk" === $"nk", "full_outer")
        .withColumn("change",
          when($"bk".isNull, "added")
            .when($"nk".isNull, "deleted")
            .when($"np" =!= $"bp" || $"ns" =!= $"bs", "changed")
            .otherwise("same"))
        .groupBy($"change")
        .agg(count(lit(1)).as("n"),
          round(sum(coalesce($"np", lit(0.0)) - coalesce($"bp", lit(0.0))), 2)
            .as("price_delta"))
        .orderBy($"change")
    },
    Some("""WITH base AS (
           |  SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS st FROM orders),
           |nxt AS (
           |  SELECT k, CASE WHEN k % 13 = 0 THEN p + 10.0 ELSE p END AS p, st
           |  FROM base WHERE k % 97 <> 0
           |  UNION ALL
           |  SELECT k + 3000000000 AS k, p, 'N' AS st FROM base WHERE k % 89 = 0)
           |SELECT CASE WHEN b.k IS NULL THEN 'added'
           |            WHEN n.k IS NULL THEN 'deleted'
           |            WHEN n.p <> b.p OR n.st <> b.st THEN 'changed'
           |            ELSE 'same' END AS change,
           |       count(*) AS n,
           |       round(sum(COALESCE(n.p, 0.0) - COALESCE(b.p, 0.0)), 2) AS price_delta
           |FROM base b FULL OUTER JOIN nxt n ON b.k = n.k
           |GROUP BY change ORDER BY change""".stripMargin),
    benchmark = true)

  /** q131 — incremental aggregate maintenance: a materialized per-
    * priority aggregate built from a historical partition plus a delta
    * batch, merged by COMBINING partials (sum+sum, count+count) rather
    * than rescanning history — the 100 TB refresh pattern where the
    * delta is a day and the history is years. The oracle recomputes
    * from scratch, so a green row IS the incremental==full proof.
    */
  val q131IncrementalAgg = GQuery(
    "q131_incremental_agg",
    (s, d) => {
      import s.implicits._
      val cutoff = lit("2000-01-01").cast("date")
      val orders = Tables.orders(s, d)
      def part(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy($"o_orderpriority")
          .agg(count(lit(1)).as(s"n_$tag"), sum($"o_totalprice").as(s"s_$tag"))
      val state = part(orders.where($"o_orderdate".cast("date") < cutoff), "h")
      val delta = part(orders.where($"o_orderdate".cast("date") >= cutoff), "d")
      state.join(delta, Seq("o_orderpriority"), "full_outer")
        .select($"o_orderpriority",
          (coalesce($"n_h", lit(0L)) + coalesce($"n_d", lit(0L))).as("n_orders"),
          round(coalesce($"s_h", lit(0.0)) + coalesce($"s_d", lit(0.0)), 2).as("revenue"),
          round((coalesce($"s_h", lit(0.0)) + coalesce($"s_d", lit(0.0))) /
            (coalesce($"n_h", lit(0L)) + coalesce($"n_d", lit(0L))), 4).as("avg_price"))
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_orders,
           |       round(sum(o_totalprice), 2) AS revenue,
           |       round(sum(o_totalprice) / count(*), 4) AS avg_price
           |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** q132 — schema-evolution read: two parquet generations of the same
    * table (gen=2 grew two columns), written separately and read back
    * as one DataFrame via mergeSchema + partition discovery — the
    * lakehouse answer to ALTER TABLE ADD COLUMN with no rewrite of old
    * files. Missing columns surface as NULLs; the audit counts them
    * per generation. The oracle reproduces the merged relation
    * logically (UNION ALL with explicit NULLs).
    */
  val q132SchemaEvolution = GQuery(
    "q132_schema_evolution",
    (s, d) => {
      import s.implicits._
      // staging the two generations is inherently part of this query
      // (it tests the READ path over evolved files), so the writes run
      // eagerly here; a fresh per-invocation temp dir keeps concurrent
      // runs (Verify + a dev loop) from racing on one path
      val tmp = graft.io.Staging.tempDir("graft_q132_")
      val orders = Tables.orders(s, d)
      orders.where($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", $"o_totalprice")
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      orders.where($"o_orderkey" % 2 =!= 0)
        .select($"o_orderkey", $"o_totalprice", $"o_orderstatus", $"o_orderpriority")
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy($"gen".cast("int").as("gen"))
        .agg(count(lit(1)).as("n"),
          count(when($"o_orderstatus".isNull, 1)).as("n_null_status"),
          count(when($"o_orderpriority".isNull, 1)).as("n_null_priority"),
          round(sum($"o_totalprice"), 2).as("sum_price"))
        .orderBy($"gen")
    },
    Some("""SELECT gen, count(*) AS n,
           |       count(*) FILTER (WHERE st IS NULL) AS n_null_status,
           |       count(*) FILTER (WHERE pr IS NULL) AS n_null_priority,
           |       round(sum(p), 2) AS sum_price
           |FROM (
           |  SELECT 1 AS gen, o_totalprice AS p, NULL AS st, NULL AS pr
           |  FROM orders WHERE o_orderkey % 2 = 0
           |  UNION ALL
           |  SELECT 2, o_totalprice, o_orderstatus, o_orderpriority
           |  FROM orders WHERE o_orderkey % 2 <> 0)
           |GROUP BY gen ORDER BY gen""".stripMargin))

  /** q133 — k-anonymity audit over the quasi-identifier (segment,
    * nation, coarse balance bucket): per segment, the smallest
    * equivalence class, how many classes and rows fall under k=5, and
    * the fraction that suppression would remove. One shuffle on the
    * quasi-identifier, one tiny re-agg per segment.
    */
  val q133KAnonymity = GQuery(
    "q133_k_anonymity",
    (s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .withColumn("bal_bucket", floor($"c_acctbal" / 1000.0).cast("int"))
        .groupBy($"c_mktsegment", $"c_nationkey", $"bal_bucket")
        .agg(count(lit(1)).as("cnt"))
        .groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).as("n_classes"),
          min($"cnt").as("k_min"),
          count(when($"cnt" < 5, 1)).as("classes_lt5"),
          coalesce(sum(when($"cnt" < 5, $"cnt")), lit(0L)).as("rows_at_risk"),
          round(coalesce(sum(when($"cnt" < 5, $"cnt")), lit(0L)).cast("double") /
            sum($"cnt").cast("double"), 4).as("risk_frac"))
        .orderBy($"c_mktsegment")
    },
    Some("""WITH classes AS (
           |  SELECT c_mktsegment, c_nationkey,
           |         CAST(floor(c_acctbal / 1000.0) AS INT) AS bal_bucket,
           |         count(*) AS cnt
           |  FROM customer GROUP BY 1, 2, 3)
           |SELECT c_mktsegment, count(*) AS n_classes,
           |       CAST(min(cnt) AS BIGINT) AS k_min,
           |       count(*) FILTER (WHERE cnt < 5) AS classes_lt5,
           |       CAST(COALESCE(sum(cnt) FILTER (WHERE cnt < 5), 0) AS BIGINT) AS rows_at_risk,
           |       round(CAST(COALESCE(sum(cnt) FILTER (WHERE cnt < 5), 0) AS DOUBLE) /
           |             CAST(sum(cnt) AS DOUBLE), 4) AS risk_frac
           |FROM classes GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** q134 — GDPR erasure propagation: a small "forget me" key set
    * cascades customer → orders → lineitem, reporting per-table rows
    * removed and retained. The deletion sets travel as semi-/anti-join
    * keys (never materialized to the driver); at 100 TB each hop is
    * one key-hash join, broadcastable while the forget-set is small.
    */
  val q134GdprErasure = GQuery(
    "q134_gdpr_erasure",
    (s, d) => {
      import s.implicits._
      val cust = Tables.customer(s, d)
      val orders = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val forget = cust.where($"c_custkey" % 101 === 0).select($"c_custkey")
      val ordersDel = orders.join(forget, $"o_custkey" === $"c_custkey", "left_semi")
        .select($"o_orderkey")
      def audit(tbl: String, total: org.apache.spark.sql.DataFrame,
                removed: org.apache.spark.sql.DataFrame) =
        total.agg(count(lit(1)).as("rows_before"))
          .crossJoin(removed.agg(count(lit(1)).as("rows_removed")))
          .select(lit(tbl).as("tbl"), $"rows_before", $"rows_removed",
            ($"rows_before" - $"rows_removed").as("rows_after"))
      audit("customer", cust, forget)
        .unionByName(audit("orders", orders, ordersDel))
        .unionByName(audit("lineitem", li,
          li.join(ordersDel, $"l_orderkey" === $"o_orderkey", "left_semi")))
        .orderBy($"tbl")
    },
    Some("""WITH forget AS (SELECT c_custkey FROM customer WHERE c_custkey % 101 = 0),
           |odel AS (SELECT o_orderkey FROM orders
           |         WHERE o_custkey IN (SELECT c_custkey FROM forget))
           |SELECT 'customer' AS tbl,
           |       (SELECT count(*) FROM customer) AS rows_before,
           |       (SELECT count(*) FROM forget) AS rows_removed,
           |       (SELECT count(*) FROM customer) - (SELECT count(*) FROM forget) AS rows_after
           |UNION ALL
           |SELECT 'lineitem',
           |       (SELECT count(*) FROM lineitem),
           |       (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM odel)),
           |       (SELECT count(*) FROM lineitem) -
           |       (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM odel))
           |UNION ALL
           |SELECT 'orders',
           |       (SELECT count(*) FROM orders),
           |       (SELECT count(*) FROM odel),
           |       (SELECT count(*) FROM orders) - (SELECT count(*) FROM odel)
           |ORDER BY tbl""".stripMargin))

  /** q147 — small-file compaction planner: treat each (event_type,
    * day) slice as a "file" (its size = the byte volume of its rows),
    * then pack files into target-size compaction bins sequentially in
    * day order with a cumulative-sum window — the OPTIMIZE planning
    * step of a lakehouse. At 100 TB this runs over the file CATALOG
    * (one row per file, ~1e6 rows), not the data: one narrow shuffle
    * on the partition key, a window inside it, and the plan ships to
    * executors that each rewrite one bin.
    */
  val q147CompactionPlan = GQuery(
    "q147_compaction_plan",
    (s, d) => {
      import s.implicits._
      val target = 4000L
      val files = Tables.events(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"event_type", $"day")
        .agg((sum(length($"props")) + lit(64L)).as("bytes"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type").orderBy($"day")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      files
        .withColumn("bin", (coalesce(sum($"bytes").over(w), lit(0L)) / target)
          .cast("bigint"))
        .groupBy($"event_type", $"bin")
        .agg(count(lit(1)).as("n_files"), sum($"bytes").as("bytes"),
          date_format(min($"day"), "yyyy-MM-dd").as("d_lo"),
          date_format(max($"day"), "yyyy-MM-dd").as("d_hi"))
        .orderBy($"event_type", $"bin")
    },
    Some("""WITH files AS (
           |  SELECT event_type, CAST(ts AS DATE) AS day,
           |         CAST(sum(length(props)) + 64 AS BIGINT) AS bytes
           |  FROM events GROUP BY event_type, day),
           |planned AS (
           |  SELECT event_type, day, bytes,
           |         CAST(COALESCE(sum(bytes) OVER (PARTITION BY event_type ORDER BY day
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           // 4000 AS BIGINT) AS bin
           |  FROM files)
           |SELECT event_type, bin, count(*) AS n_files,
           |       CAST(sum(bytes) AS BIGINT) AS bytes,
           |       CAST(min(day) AS VARCHAR) AS d_lo,
           |       CAST(max(day) AS VARCHAR) AS d_hi
           |FROM planned GROUP BY event_type, bin
           |ORDER BY event_type, bin""".stripMargin))

  /** q148 — Z-order layout audit: interleave the bits of two join/
    * filter dimensions (partkey, suppkey) into a Z-value, bucket the
    * Z-range into files, and report each file's min/max span of BOTH
    * dimensions — the data-skipping footprint a Z-ordered rewrite
    * (Delta OPTIMIZE ZORDER) buys. A linear sort clusters only its
    * leading key; Z-order keeps both spans narrow, so a predicate on
    * EITHER key prunes most files. The interleave is pure integer
    * column math generated from one Scala loop for both engines; at
    * scale the sort becomes repartitionByRange on z (sampled range
    * exchange — no global single-partition sort).
    */
  val q148ZorderLayout = GQuery(
    "q148_zorder_layout",
    (s, d) => {
      import s.implicits._
      val x = $"l_partkey" % 256
      val y = $"l_suppkey" % 256
      val z = mortonZ(x, y)
      Tables.lineitem(s, d)
        .select(x.as("x"), y.as("y"), (z / 4096).cast("bigint").as("file_id"))
        .groupBy($"file_id")
        .agg(count(lit(1)).as("n_rows"),
          min($"x").as("x_lo"), max($"x").as("x_hi"),
          min($"y").as("y_lo"), max($"y").as("y_hi"))
        .orderBy($"file_id")
    },
    Some {
      val terms = mortonZSql
      s"""WITH pts AS (
         |  SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
         |zed AS (SELECT x, y, ($terms) // 4096 AS file_id FROM pts)
         |SELECT file_id, count(*) AS n_rows,
         |       min(x) AS x_lo, max(x) AS x_hi,
         |       min(y) AS y_lo, max(y) AS y_hi
         |FROM zed GROUP BY file_id ORDER BY file_id""".stripMargin
    },
    benchmark = true)

  /** q149 — one-pass ANALYZE: per-column statistics (distinct count,
    * nulls, average serialized length, numeric min/max) for the CBO /
    * data-skipping index, computed in a SINGLE scan with one aggregate
    * row then unpivoted to long form — never one pass per column.
    * String min/max are deliberately excluded from the contract
    * (cross-engine collation); lengths and NDVs are collation-free.
    */
  val q149ColumnStats = GQuery(
    "q149_column_stats",
    (s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
      val stats = o.agg(
        countDistinct($"o_orderstatus").as("ndv_status"),
        countDistinct($"o_orderpriority").as("ndv_priority"),
        countDistinct($"o_custkey").as("ndv_custkey"),
        countDistinct($"o_totalprice").as("ndv_totalprice"),
        round(avg(length($"o_orderpriority")), 4).as("len_priority"),
        round(min($"o_totalprice"), 2).as("min_totalprice"),
        round(max($"o_totalprice"), 2).as("max_totalprice"),
        min($"o_custkey").cast("double").as("min_custkey"),
        max($"o_custkey").cast("double").as("max_custkey"))
      stats.select(expr(
        """stack(4,
          |  'o_custkey',    ndv_custkey,    CAST(NULL AS DOUBLE), min_custkey, max_custkey,
          |  'o_orderpriority', ndv_priority, len_priority, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          |  'o_orderstatus', ndv_status,    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          |  'o_totalprice', ndv_totalprice, CAST(NULL AS DOUBLE), min_totalprice, max_totalprice
          |) AS (col_name, ndv, avg_len, min_num, max_num)""".stripMargin))
        .orderBy($"col_name")
    },
    Some("""WITH s AS (
           |  SELECT count(DISTINCT o_orderstatus) AS ndv_status,
           |         count(DISTINCT o_orderpriority) AS ndv_priority,
           |         count(DISTINCT o_custkey) AS ndv_custkey,
           |         count(DISTINCT o_totalprice) AS ndv_totalprice,
           |         round(avg(length(o_orderpriority)), 4) AS len_priority,
           |         round(min(o_totalprice), 2) AS min_totalprice,
           |         round(max(o_totalprice), 2) AS max_totalprice,
           |         CAST(min(o_custkey) AS DOUBLE) AS min_custkey,
           |         CAST(max(o_custkey) AS DOUBLE) AS max_custkey
           |  FROM orders)
           |SELECT 'o_custkey' AS col_name, ndv_custkey AS ndv,
           |       CAST(NULL AS DOUBLE) AS avg_len, min_custkey AS min_num, max_custkey AS max_num FROM s
           |UNION ALL SELECT 'o_orderpriority', ndv_priority, len_priority, NULL, NULL FROM s
           |UNION ALL SELECT 'o_orderstatus', ndv_status, NULL, NULL, NULL FROM s
           |UNION ALL SELECT 'o_totalprice', ndv_totalprice, NULL, min_totalprice, max_totalprice FROM s
           |ORDER BY col_name""".stripMargin))

  /** q160 — data-skipping pruning simulator: the same points laid out
    * two ways — linear (sorted by x) vs Z-order (q148's Morton code) —
    * each cut into 16 files carrying min/max stats; a 4-predicate
    * probe workload (point + range on EACH dimension) then counts
    * which files a stats-pruning reader must touch. This quantifies
    * the layout decision: linear prunes ~15/16 on its sort key and
    * NOTHING on the other dimension; Z-order prunes ~12/16 on both.
    * The simulation runs on the per-file STATS table (16 rows/layout —
    * at 100 TB this is the catalog, not the data), crossed with a
    * broadcast predicate table.
    */
  val q160PruningSim = GQuery(
    "q160_pruning_sim",
    (s, d) => {
      import s.implicits._
      val pts = Tables.lineitem(s, d)
        .select(($"l_partkey" % 256).as("x"), ($"l_suppkey" % 256).as("y"))
        .withColumn("z_file", (mortonZ($"x", $"y") / 4096).cast("bigint"))
        .withColumn("lin_file", ($"x" / 16).cast("bigint"))
      def stats(fileCol: String, layout: String) = pts
        .groupBy(col(fileCol).as("file_id"))
        .agg(min($"x").as("x_lo"), max($"x").as("x_hi"),
          min($"y").as("y_lo"), max($"y").as("y_hi"))
        .withColumn("layout", lit(layout))
      val st = stats("z_file", "zorder").unionByName(stats("lin_file", "linear"))
      val preds = Seq(
        ("p1_x_point", "x", 17, 17), ("p2_y_point", "y", 42, 42),
        ("p3_x_range", "x", 100, 120), ("p4_y_range", "y", 10, 30))
        .toDF("pred_id", "pcol", "lo", "hi")
      st.crossJoin(broadcast(preds))
        .withColumn("must_read",
          when($"pcol" === "x", !($"x_hi" < $"lo" || $"x_lo" > $"hi"))
            .otherwise(!($"y_hi" < $"lo" || $"y_lo" > $"hi")))
        .groupBy($"layout", $"pred_id")
        .agg(count(lit(1)).as("n_files"),
          count(when($"must_read", 1)).as("files_read"),
          round(lit(1.0) - count(when($"must_read", 1)).cast("double") /
            count(lit(1)).cast("double"), 4).as("prune_frac"))
        .orderBy($"layout", $"pred_id")
    },
    Some(s"""WITH pts AS (
            |  SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
            |f AS (SELECT x, y, ($mortonZSql) // 4096 AS z_file, x // 16 AS lin_file
            |      FROM pts),
            |st AS (
            |  SELECT 'zorder' AS layout, min(x) AS x_lo, max(x) AS x_hi,
            |         min(y) AS y_lo, max(y) AS y_hi
            |  FROM f GROUP BY z_file
            |  UNION ALL
            |  SELECT 'linear', min(x), max(x), min(y), max(y)
            |  FROM f GROUP BY lin_file),
            |preds(pred_id, pcol, lo, hi) AS (VALUES
            |  ('p1_x_point', 'x', 17, 17), ('p2_y_point', 'y', 42, 42),
            |  ('p3_x_range', 'x', 100, 120), ('p4_y_range', 'y', 10, 30))
            |SELECT layout, pred_id, count(*) AS n_files,
            |       count(*) FILTER (WHERE must_read) AS files_read,
            |       round(1.0 - CAST(count(*) FILTER (WHERE must_read) AS DOUBLE) /
            |             CAST(count(*) AS DOUBLE), 4) AS prune_frac
            |FROM (
            |  SELECT layout, pred_id,
            |         CASE WHEN pcol = 'x' THEN NOT (x_hi < lo OR x_lo > hi)
            |              ELSE NOT (y_hi < lo OR y_lo > hi) END AS must_read
            |  FROM st CROSS JOIN preds)
            |GROUP BY layout, pred_id ORDER BY layout, pred_id""".stripMargin))

  /** q163 — ORC round-trip: the second columnar format of the
    * lakehouse (cross-team interchange), written and read back in the
    * query itself (q132 staging recipe: fresh temp dir per
    * invocation), then audited against the DuckDB oracle reading the
    * ORIGINAL parquet — a green row proves the format conversion lost
    * nothing. ORC gets the same predicate/projection pushdown as
    * parquet in Spark's DSv2 scan.
    */
  val q163OrcRoundtrip = GQuery(
    "q163_orc_roundtrip",
    (s, d) => {
      import s.implicits._
      val tmp = graft.io.Staging.tempDir("graft_q163_")
      Tables.events(s, d)
        .where($"event_type" === "click")
        .select($"event_id", $"user_id", $"value")
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp).agg(
        count(lit(1)).as("n"),
        countDistinct($"user_id").as("n_users"),
        round(sum($"value"), 2).as("sum_value"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
    },
    Some("""SELECT count(*) AS n, count(DISTINCT user_id) AS n_users,
           |       round(sum(value), 2) AS sum_value,
           |       min(event_id) AS min_id, max(event_id) AS max_id
           |FROM events WHERE event_type = 'click'""".stripMargin))

  /** q164 — hive-partitioned write + partition-pruned read: events
    * land as `event_type=.../part-*.parquet` and the read filters on
    * the partition column, so the scan's PartitionFilters eliminate
    * whole directories before any file I/O — the directory-level
    * complement of q160's file-level stats pruning (PruningSpec
    * asserts the filter actually lands in the scan's partitionFilters,
    * not post-scan). Oracle reads the original unpartitioned table.
    */
  val q164PartitionPruning = GQuery(
    "q164_partition_pruning",
    (s, d) => {
      import s.implicits._
      val tmp = graft.io.Staging.tempDir("graft_q164_")
      Tables.events(s, d)
        .select($"event_id", $"value", $"event_type")
        .write.partitionBy("event_type").mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .where($"event_type".isin("click", "error"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
           |FROM events WHERE event_type IN ('click', 'error')
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** q166 — corrupt-file-tolerant scan: a staging dir holds one good
    * parquet file and one garbage file; the read sets
    * `ignoreCorruptFiles` so the scan SKIPS the junk instead of
    * failing the job — the resilience posture of a 100 TB lake where a
    * truncated upload or torn write must not kill a 1000-executor
    * query. The oracle reads the ORIGINAL table: a green row proves
    * the tolerant scan returned exactly the good file's rows, no more,
    * no fewer.
    */
  val q166CorruptTolerance = GQuery(
    "q166_corrupt_tolerance",
    (s, d) => {
      import s.implicits._
      val tmp = java.nio.file.Paths.get(graft.io.Staging.tempDir("graft_q166_"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$d/orders.parquet"),
        tmp.resolve("good.parquet"))
      java.nio.file.Files.write(tmp.resolve("junk.parquet"),
        "this is not a parquet file".getBytes)
      s.read.option("ignoreCorruptFiles", "true").parquet(tmp.toString)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("revenue"))
        .orderBy($"o_orderstatus")
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
           |       round(sum(o_totalprice), 2) AS revenue
           |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** q177 — a keyed, insert-only transactional table on Delta (the
    * reference's gold loads are `ON CONFLICT DO NOTHING` inserts,
    * loader_NeonDB.py:364-371): documents land as Delta version 0, the
    * SAME batch re-sends through an insert-only keyed merge (a no-op
    * that mints no version — checked), a disjoint second batch lands
    * through the same merge as version 1, and the table compacts
    * (version 2). Output reads the HEAD and time-travels back to
    * version 0; the oracle recomputes both snapshots arithmetically
    * from `documents`. A green row proves: idempotent keyed insert,
    * version pinning, and that compaction changed files but not one
    * row of content. */
  val q177TxTable = GQuery(
    "q177_tx_table",
    (s, d) => {
      import s.implicits._
      import graft.io.{DeltaRead, DeltaWrite}
      val t = graft.io.Staging.tempDir("graft_q177_")
      val docs = Tables.documents(s, d).select($"doc_id", $"n_chars")
      val insertNew = Seq(DeltaWrite.MergeInsertWhen(None,
        Seq("doc_id" -> $"doc_id", "n_chars" -> $"n_chars")))
      val v0 = DeltaWrite.append(docs, t)
      val rerun = DeltaWrite.mergeAdvanced(s, t, docs, Seq("doc_id"), notMatched = insertNew)
      require(rerun == v0, s"q177: re-sent batch minted version $rerun over $v0")
      DeltaWrite.mergeAdvanced(s, t,
        docs.select(($"doc_id" + 500000L).as("doc_id"), $"n_chars"), Seq("doc_id"),
        notMatched = insertNew)
      DeltaWrite.compact(s, t, targetBytes = Long.MaxValue)
      val head = DeltaRead.read(s, t)
        .agg(count(lit(1)).as("head_rows"), sum($"doc_id").as("head_id_sum"))
      val first = DeltaRead.readVersion(s, t, v0)
        .agg(count(lit(1)).as("v1_rows"), sum($"doc_id").as("v1_id_sum"))
      head.crossJoin(first)
    },
    Some("""SELECT CAST(2 * count(*) AS BIGINT) AS head_rows,
           |  CAST(2 * sum(doc_id) + 500000 * count(*) AS BIGINT) AS head_id_sum,
           |  count(*) AS v1_rows,
           |  CAST(sum(doc_id) AS BIGINT) AS v1_id_sum
           |FROM documents""".stripMargin))

  /** q179 — read-only Delta Lake `_delta_log` interop (VERDICT r5 #3:
    * the reference's bronze is ACTUAL Delta, so a user holding that
    * datalake must be able to point graft at it). The query authors a
    * protocol-conformant log over real parquet: nation lands as commit
    * 0, a key-shifted copy as commit 1, commit 2 removes the original
    * file. Output reads HEAD through the log replay (shifted rows
    * only) and time-travels to v1 (both files); the oracle recomputes
    * both snapshots arithmetically from `nation` via the direct
    * parquet scan. A green row proves add/remove replay, version
    * pinning, and that unreferenced files stay invisible. */
  val q179DeltaRead = GQuery(
    "q179_delta_read",
    (s, d) => {
      import java.nio.file.{Files, Paths}
      val t = graft.io.Staging.tempDir("graft_q179_")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      // data file A: the nation parquet byte-for-byte
      Files.copy(Paths.get(s"$d/nation.parquet"), Paths.get(t, "part-a.parquet"))
      // data file B: keys shifted by 100, staged then placed
      val nation = s.read.parquet(s"$d/nation.parquet")
      val staged = graft.io.Staging.tempDir("graft_q179s_")
      nation.withColumn("n_nationkey", col("n_nationkey") + lit(100))
        .coalesce(1).write.mode("overwrite").parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(t, "part-b.parquet"))
      // protocol actions, hand-authored: v0 = metaData + A, v1 = +B, v2 = −A
      def add(p: String) = {
        val n = mapper.createObjectNode()
        val a = n.putObject("add"); a.put("path", p).put("dataChange", true)
        a.putObject("partitionValues"); mapper.writeValueAsString(n)
      }
      def remove(p: String) = {
        val n = mapper.createObjectNode()
        n.putObject("remove").put("path", p); mapper.writeValueAsString(n)
      }
      val meta = {
        val n = mapper.createObjectNode()
        val m = n.putObject("metaData")
        m.put("id", "q179").put("schemaString", nation.schema.json)
        m.putArray("partitionColumns"); mapper.writeValueAsString(n)
      }
      val ld = Paths.get(t, "_delta_log"); Files.createDirectories(ld)
      import scala.jdk.CollectionConverters._
      Files.write(ld.resolve(f"${0L}%020d.json"), Seq(meta, add("part-a.parquet")).asJava)
      Files.write(ld.resolve(f"${1L}%020d.json"), Seq(add("part-b.parquet")).asJava)
      Files.write(ld.resolve(f"${2L}%020d.json"), Seq(remove("part-a.parquet")).asJava)
      val head = graft.io.DeltaRead.read(s, t)
        .agg(count(lit(1)).as("head_rows"), sum(col("n_nationkey")).as("head_key_sum"))
      val v1 = graft.io.DeltaRead.readVersion(s, t, 1)
        .agg(count(lit(1)).as("v1_rows"), sum(col("n_nationkey")).as("v1_key_sum"))
      head.crossJoin(v1)
    },
    Some("""SELECT count(*) AS head_rows,
           |  CAST(sum(n_nationkey) + 100 * count(*) AS BIGINT) AS head_key_sum,
           |  CAST(2 * count(*) AS BIGINT) AS v1_rows,
           |  CAST(2 * sum(n_nationkey) + 100 * count(*) AS BIGINT) AS v1_key_sum
           |FROM nation""".stripMargin))

  /** q180 — full Delta interop LOOP: [[graft.io.DeltaWrite]] writes a
    * lang-partitioned Delta table (Hive dir layout, protocol/metaData/
    * add commits, checkpoint + `_last_checkpoint`), [[graft.io.DeltaRead]]
    * reads it back through the checkpoint, and time travel re-reads
    * version 0 through JSON replay. Documents land in two appends split
    * by doc_id parity, so v0 vs HEAD differ arithmetically and the
    * oracle pins both snapshots (and the partition-column re-attachment:
    * the per-lang grouping only works if `lang` — stored ONLY in the
    * log, never in the parquet — comes back correctly typed). */
  val q180DeltaRoundtrip = GQuery(
    "q180_delta_roundtrip",
    (s, d) => {
      val t = graft.io.Staging.tempDir("graft_q180_")
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("lang"), length(col("text")).as("n_chars"))
      graft.io.DeltaWrite.append(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), t, partitionBy = Seq("lang"))
      graft.io.DeltaWrite.append(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), t, partitionBy = Seq("lang"))
      graft.io.DeltaWrite.checkpoint(s, t)
      val head = graft.io.DeltaRead.read(s, t)
        .groupBy(col("lang")).agg(
          count(lit(1)).as("head_rows"), sum(col("n_chars")).as("head_chars"))
      val v0 = graft.io.DeltaRead.readVersion(s, t, 0)
        .groupBy(col("lang")).agg(
          count(lit(1)).as("v0_rows"), sum(col("n_chars")).as("v0_chars"))
      // LEFT join + coalesce: a lang whose doc_ids are all odd has no
      // v0 (even-parity) rows, and an inner join would drop it where
      // the oracle's count FILTER emits it with v0_rows = 0 — the
      // current test data happens to have both parities in every lang,
      // but the query must not depend on that
      head.join(v0, Seq("lang"), "left")
        .withColumn("v0_rows", coalesce(col("v0_rows"), lit(0L)))
        .withColumn("v0_chars", coalesce(col("v0_chars"), lit(0L)))
        .orderBy(col("lang"))
    },
    Some("""SELECT lang,
           |  count(*) AS head_rows,
           |  CAST(sum(length(text)) AS BIGINT) AS head_chars,
           |  count(*) FILTER (WHERE doc_id % 2 = 0) AS v0_rows,
           |  coalesce(CAST(sum(length(text)) FILTER (WHERE doc_id % 2 = 0) AS BIGINT), 0)
           |    AS v0_chars
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** q194 — incremental ingest through the Delta change feed
    * ([[graft.io.DeltaRead.changesBetween]]), append-side semantics:
    * orders land in three append commits (keyed o_orderkey % 3), an
    * OPTIMIZE rewrite lands after them, and a consumer tails each
    * version's delta SEPARATELY — including the compaction, whose
    * dataChange=false rewrite must surface zero rows. The union of the
    * tailed increments must equal the direct full-table aggregate,
    * which the oracle recomputes from `orders`: a green row proves the
    * feed neither drops nor duplicates rows across commits and ignores
    * byte reorganization. (The delete/upsert half of the feed is
    * q196's territory.) */
  val q194DeltaChangefeed = GQuery(
    "q194_delta_changefeed",
    (s, d) => {
      val t = graft.io.Staging.tempDir("graft_q194_")
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      (0 to 2).foreach { i =>
        graft.io.DeltaWrite.append(
          orders.filter(pmod(col("o_orderkey"), lit(3)) === i).repartition(4), t)
      }
      // 12 small files → one OPTIMIZE commit (v3) the feed must ignore
      require(graft.io.DeltaWrite.compact(s, t) > 0, "q194 expects a compaction commit")
      val incr = (0L to 3L).map(v => graft.io.DeltaRead.changesBetween(s, t, v - 1, v))
        .reduce(_ unionByName _)
      incr.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n_orders,
           |       round(sum(o_totalprice), 2) AS revenue
           |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** q196 — FULL change data feed with deletes
    * ([[graft.io.DeltaRead.changesBetween]] + the round-9 DV write /
    * MERGE paths): a history containing two appends, an OPTIMIZE (must
    * surface nothing), a deletion-vector erasure
    * ([[graft.io.DeltaWrite.deleteWhere]] — the q134 GDPR story
    * without rewriting a byte), and a MERGE upsert (updates + inserts)
    * is tailed from scratch; folding the feed (+1 per insert, −1 per
    * delete, keep net=1 rows) must reproduce the live snapshot
    * EXACTLY. The output emits the per-lang aggregate BOTH ways —
    * folded feed and direct snapshot — and the oracle computes the
    * expected final state arithmetically from `documents`, so a green
    * row pins insert/delete completeness, DV-diff correctness, and
    * OPTIMIZE invisibility in one hash. */
  val q196CdfFold = GQuery(
    "q196_cdf_fold",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q196_")
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars")
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 0).repartition(2), t) // v0
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 1).repartition(2), t) // v1
      require(graft.io.DeltaWrite.compact(s, t) > 0,
        "q196 expects an OPTIMIZE commit")                            // v2
      graft.io.DeltaWrite.deleteWhere(s, t, pmod($"doc_id", lit(10)) === 3) // v3
      val src = docs.filter(pmod($"doc_id", lit(10)) === 4)
        .withColumn("n_chars", $"n_chars" + 1000L)
        .unionByName(docs.filter(pmod($"doc_id", lit(10)) === 7)
          .withColumn("doc_id", $"doc_id" + 1000000L))
      graft.io.DeltaWrite.merge(s, t, src, Seq("doc_id"))             // v4
      val feed = graft.io.DeltaRead.changesBetween(
        s, t, -1L, graft.io.DeltaRead.latestVersion(t))
      val folded = feed.groupBy($"doc_id", $"lang", $"n_chars")
        .agg(sum(when($"_change_type" === "insert", 1).otherwise(-1)).as("net"))
        .where($"net" === 1)
      val viaFeed = folded.groupBy($"lang").agg(
        count(lit(1)).as("feed_docs"), sum($"n_chars").as("feed_chars"),
        sum($"doc_id").as("feed_id_sum"))
      val direct = graft.io.DeltaRead.read(s, t).groupBy($"lang").agg(
        count(lit(1)).as("live_docs"), sum($"n_chars").as("live_chars"),
        sum($"doc_id").as("live_id_sum"))
      viaFeed.join(direct, Seq("lang")).orderBy($"lang")
    },
    Some("""WITH fin AS (
           |  SELECT doc_id, lang,
           |    CASE WHEN doc_id % 10 = 4 THEN n_chars + 1000 ELSE n_chars END AS nc
           |  FROM documents WHERE doc_id % 10 <> 3
           |  UNION ALL
           |  SELECT doc_id + 1000000, lang, n_chars FROM documents WHERE doc_id % 10 = 7),
           |agg AS (SELECT lang, count(*) AS n, CAST(sum(nc) AS BIGINT) AS ch,
           |               CAST(sum(doc_id) AS BIGINT) AS ids
           |        FROM fin GROUP BY lang)
           |SELECT lang, n AS feed_docs, ch AS feed_chars, ids AS feed_id_sum,
           |       n AS live_docs, ch AS live_chars, ids AS live_id_sum
           |FROM agg ORDER BY lang""".stripMargin))

  /** q197 — Delta MERGE upsert ([[graft.io.DeltaWrite.merge]]):
    * completes the reference's `ON CONFLICT` story past insert-only
    * (loader_NeonDB.py:364-371 is DO NOTHING; [[graft.io.Sinks]]
    * mirrors that) — re-ingesting a batch where some rows CHANGED must
    * update them in place and insert the genuinely new ones, and
    * re-running the SAME merge must converge (idempotent). The query
    * runs the merge TWICE and aggregates the final state; the oracle
    * recomputes it arithmetically from `orders`, so a green row pins
    * update semantics, insert semantics, and idempotence at once.
    * Revenue sums as integer cents (order-independent, bit-identical
    * across engines). */
  val q197MergeUpsert = GQuery(
    "q197_merge_upsert",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q197_")
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      graft.io.DeltaWrite.append(
        orders.filter(pmod($"o_orderkey", lit(2)) === 0).repartition(4), t) // v0
      val batch = orders.filter(pmod($"o_orderkey", lit(4)) === 0)
        .withColumn("o_totalprice", $"o_totalprice" + lit(1.0))
        .unionByName(orders.filter(
          pmod($"o_orderkey", lit(2)) === 1 && pmod($"o_orderkey", lit(3)) === 0))
      graft.io.DeltaWrite.merge(s, t, batch, Seq("o_orderkey")) // v1: upsert
      graft.io.DeltaWrite.merge(s, t, batch, Seq("o_orderkey")) // v2: re-run converges
      graft.io.DeltaRead.read(s, t)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          (sum(round($"o_totalprice" * 100).cast("long")) / 100.0).as("revenue"))
        .orderBy($"o_orderstatus")
    },
    Some("""WITH fin AS (
           |  SELECT o_orderkey, o_orderstatus,
           |    CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 1.0
           |         ELSE o_totalprice END AS p
           |  FROM orders WHERE o_orderkey % 2 = 0
           |  UNION ALL
           |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0)
           |SELECT o_orderstatus, count(*) AS n_orders,
           |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
           |FROM fin GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** q198 — q134's GDPR erasure re-run the MODERN-WRITER way: the
    * forget-list (customers with `c_custkey % 101 = 0`) erases from a
    * Delta orders table via DELETION VECTORS
    * ([[graft.io.DeltaWrite.deleteIn]] — kilobytes of bitmap, zero
    * data-file rewrites), then an OPTIMIZE pass PURGES the bitmaps
    * (rewrites only visible rows, dataChange=false). The output pins
    * all three states — pre-erasure (time travel), post-DV, and
    * post-purge — plus booleans proving DVs existed and were purged;
    * the oracle recomputes the counts from `orders`/`customer`. */
  val q198DvErasure = GQuery(
    "q198_dv_erasure",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q198_")
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      graft.io.DeltaWrite.append(orders.repartition(4), t) // v0
      val forget = Tables.customer(s, d)
        .where(pmod($"c_custkey", lit(101)) === 0)
        .select($"c_custkey".as("o_custkey"))
      graft.io.DeltaWrite.deleteIn(s, t, Seq("o_custkey"), forget) // v1: DVs
      val hadDvs = graft.io.DeltaRead.snapshot(s, t).files.exists(_.dv.isDefined)
      graft.io.DeltaWrite.compact(s, t, targetBytes = Long.MaxValue) // v2: purge
      val purged = graft.io.DeltaRead.snapshot(s, t).files.forall(_.dv.isEmpty)
      val before = graft.io.DeltaRead.readVersion(s, t, 0)
        .agg(count(lit(1)).as("rows_before"))
      val afterDv = graft.io.DeltaRead.readVersion(s, t, 1)
        .agg(count(lit(1)).as("rows_after_dv"))
      val afterPurge = graft.io.DeltaRead.read(s, t)
        .agg(count(lit(1)).as("rows_after_purge"))
      before.crossJoin(afterDv).crossJoin(afterPurge)
        .withColumn("had_dvs", lit(hadDvs))
        .withColumn("purged", lit(purged))
    },
    Some("""SELECT count(*) AS rows_before,
           |  count(*) FILTER (WHERE o_custkey % 101 <> 0) AS rows_after_dv,
           |  count(*) FILTER (WHERE o_custkey % 101 <> 0) AS rows_after_purge,
           |  true AS had_dvs, true AS purged
           |FROM orders""".stripMargin))

  /** q199 — the change feed consumed as MICRO-BATCHES
    * ([[graft.streaming.DeltaTail.mirror]]): a source table accumulates
    * appends, a DV erasure and a MERGE upsert; the mirror folds one
    * commit per batch (deletes via `deleteIn`, inserts via `appendOnce`
    * carrying the SetTransaction mark) and the output aggregates the
    * MIRROR — so a green row proves the tailed copy converged to the
    * source state the oracle recomputes arithmetically. The streaming
    * CDC story end to end: tail, fold, exactly-once. */
  val q199CdfMirror = GQuery(
    "q199_cdf_mirror",
    (s, d) => {
      import s.implicits._
      val src = graft.io.Staging.tempDir("graft_q199s_")
      val dst = graft.io.Staging.tempDir("graft_q199d_")
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars")
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 0).repartition(2), src) // v0
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 1).repartition(2), src) // v1
      graft.io.DeltaWrite.deleteWhere(s, src, pmod($"doc_id", lit(7)) === 2) // v2
      val upd = docs.filter(pmod($"doc_id", lit(7)) === 3)
        .withColumn("n_chars", $"n_chars" + 500L)
        .unionByName(docs.filter(pmod($"doc_id", lit(7)) === 5)
          .withColumn("doc_id", $"doc_id" + 2000000L))
      graft.io.DeltaWrite.merge(s, src, upd, Seq("doc_id")) // v3
      graft.streaming.DeltaTail.mirror(s, src, dst, Seq("doc_id"))
      graft.io.DeltaRead.read(s, dst)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
          sum($"doc_id").as("sum_ids"))
        .orderBy($"lang")
    },
    Some("""WITH fin AS (
           |  SELECT doc_id, lang,
           |    CASE WHEN doc_id % 7 = 3 THEN n_chars + 500 ELSE n_chars END AS nc
           |  FROM documents WHERE doc_id % 7 <> 2
           |  UNION ALL
           |  SELECT doc_id + 2000000, lang, n_chars FROM documents WHERE doc_id % 7 = 5)
           |SELECT lang, count(*) AS n_docs, CAST(sum(nc) AS BIGINT) AS sum_chars,
           |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
           |FROM fin GROUP BY lang ORDER BY lang""".stripMargin))

  /** q200 — RESTORE as the bad-deploy undo
    * ([[graft.io.DeltaWrite.restore]]): a good load is followed by a
    * corrupting overwrite and a wrong erasure; one RESTORE commit
    * rewinds HEAD to the good version with zero data movement while
    * the bad versions stay time-travelable — and because the restore
    * surfaces through the change feed as ordinary delete+insert
    * changes, a folding consumer converges to the restored state too.
    * The output aggregates the restored table BOTH ways (direct read
    * and feed fold); the oracle is simply the original `orders`
    * aggregate, so a green row pins content-exact restoration AND
    * CDC consistency across it. Revenue sums as integer cents. */
  val q200Restore = GQuery(
    "q200_restore",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q200_")
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      graft.io.DeltaWrite.append(orders.repartition(4), t) // v0: the good load
      graft.io.DeltaWrite.overwrite( // v1: corrupting re-load (prices shifted)
        orders.withColumn("o_totalprice", $"o_totalprice" + lit(10.0)), t)
      graft.io.DeltaWrite.deleteWhere(s, t, pmod($"o_orderkey", lit(5)) === 0) // v2
      val rv = graft.io.DeltaWrite.restore(s, t, 0L) // v3: undo everything
      def agg(df: org.apache.spark.sql.DataFrame, n: String, r: String) =
        df.groupBy($"o_orderstatus")
          .agg(count(lit(1)).as(n),
            (sum(round($"o_totalprice" * 100).cast("long")) / 100.0).as(r))
      val live = agg(graft.io.DeltaRead.read(s, t), "n_live", "rev_live")
      val folded = graft.io.DeltaRead.changesBetween(s, t, -1L, rv)
        .groupBy($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        .agg(sum(when($"_change_type" === "insert", 1).otherwise(-1)).as("net"))
        .where($"net" === 1)
      val viaFeed = agg(folded, "n_fold", "rev_fold")
      live.join(viaFeed, Seq("o_orderstatus")).orderBy($"o_orderstatus")
    },
    Some("""SELECT o_orderstatus,
           |  count(*) AS n_live,
           |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
           |    AS rev_live,
           |  count(*) AS n_fold,
           |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
           |    AS rev_fold
           |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** q202 — the governed-table story in one loop: a Delta table is
    * created with a GENERATED partition key
    * ([[graft.io.DeltaWrite.withGenerationExpr]] — the derived
    * date/band-partition pattern) and a CHECK constraint
    * ([[graft.io.DeltaWrite.addCheckConstraint]], validated against
    * existing rows first); a second batch appends OMITTING the
    * generated key (the writer recomputes it), and a violating batch
    * is refused without corrupting anything. The output aggregates the
    * final table per derived band plus a boolean recording that the
    * bad batch bounced; the oracle recomputes bands and totals from
    * `orders` directly — a green row pins generation arithmetic,
    * partition re-attachment of a DERIVED key, constraint enforcement,
    * and rejection atomicity (no partial batch) in one hash. */
  val q202TableFeatures = GQuery(
    "q202_table_features",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q202_")
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select($"o_orderkey", $"o_totalprice")
      val evens = orders.filter(pmod($"o_orderkey", lit(2)) === 0)
      graft.io.DeltaWrite.append(
        graft.io.DeltaWrite.withGenerationExpr(evens, "price_band",
          "CAST(floor(o_totalprice / 50000) AS BIGINT)"),
        t, partitionBy = Seq("price_band"))                       // v0
      graft.io.DeltaWrite.addCheckConstraint(s, t, "pos",
        "o_totalprice > 0")                                       // v1
      // the second batch never mentions the derived key
      graft.io.DeltaWrite.append(
        orders.filter(pmod($"o_orderkey", lit(2)) === 1), t)      // v2
      val rejected =
        try {
          graft.io.DeltaWrite.append(
            Seq((9999999L, -5.0)).toDF("o_orderkey", "o_totalprice"), t)
          false
        } catch { case _: IllegalStateException => true }
      graft.io.DeltaRead.read(s, t)
        .groupBy($"price_band")
        .agg(count(lit(1)).as("n_orders"),
          (sum(round($"o_totalprice" * 100).cast("long")) / 100.0).as("revenue"))
        .withColumn("rejected_bad_batch", lit(rejected))
        .orderBy($"price_band")
    },
    Some("""SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_band,
           |  count(*) AS n_orders,
           |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
           |    AS revenue,
           |  true AS rejected_bad_batch
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q203 — WRITE-side Change Data Feed
    * ([[graft.io.DeltaWrite.setProperties]] +
    * the cdc emission in deleteWhere / merge): a table is put under
    * `delta.enableChangeDataFeed = true`, then mutated by an append
    * (cdc-free — add actions are the exact change set), a
    * deletion-vector erasure, and a MERGE upsert (both obligated to
    * record `_change_data` cdc files). The feed is consumed BOTH ways —
    * cdc-preferred and forced reconstruction
    * ([[graft.io.DeltaRead.changesBetween]] `useCdc = false`) — and
    * each fold must equal the live snapshot; `wrote_cdc` pins that the
    * cdc actions actually landed (this isn't reconstruction twice),
    * and `cdc_exact` pins the cdc stream of the merge commit at
    * exactly changed-rows size (no spurious kept-row pairs). The
    * oracle recomputes the final state arithmetically from
    * `documents`. This retires the writer's last commonly-hit refusal:
    * graft can now commit to CDF-obligated lakehouse tables. */
  val q203CdfWrite = GQuery(
    "q203_cdf_write",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q203_")
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars")
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 0).repartition(2), t)  // v0
      graft.io.DeltaWrite.setProperties(s, t,
        Map("delta.enableChangeDataFeed" -> "true"))                   // v1
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 1).repartition(2), t)  // v2
      graft.io.DeltaWrite.deleteWhere(s, t, pmod($"doc_id", lit(10)) === 6) // v3
      val src = docs.filter(pmod($"doc_id", lit(10)) === 1)
        .withColumn("n_chars", $"n_chars" + 2000L)
        .unionByName(docs.filter(pmod($"doc_id", lit(10)) === 8)
          .withColumn("doc_id", $"doc_id" + 3000000L))
      val mv = graft.io.DeltaWrite.merge(s, t, src, Seq("doc_id"))     // v4
      val wroteCdc = Seq(3L, 4L).forall(v =>
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
          t, "_delta_log", f"$v%020d.json")).stream()
          .anyMatch(_.contains("\"cdc\"")))
      // merge touched-keys: |%10==1 updates| * 2 (pre+post) + |new inserts|
      val nUpd = docs.filter(pmod($"doc_id", lit(10)) === 1).count()
      val nNew = docs.filter(pmod($"doc_id", lit(10)) === 8).count()
      val cdcExact = graft.io.DeltaRead.changesBetween(s, t, mv - 1, mv)
        .count() == 2 * nUpd + nNew
      def foldAgg(changes: org.apache.spark.sql.DataFrame) = changes
        .groupBy($"doc_id", $"lang", $"n_chars")
        .agg(sum(when($"_change_type" === "insert", 1).otherwise(-1)).as("net"))
        .where($"net" === 1)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
          sum($"doc_id").as("sum_ids"))
      val viaCdc = foldAgg(graft.io.DeltaRead.changesBetween(s, t, -1L, mv))
      val viaRecon = foldAgg(
        graft.io.DeltaRead.changesBetween(s, t, -1L, mv, useCdc = false))
        .withColumnRenamed("n_docs", "r_docs")
        .withColumnRenamed("sum_chars", "r_chars")
        .withColumnRenamed("sum_ids", "r_ids")
      viaCdc.join(viaRecon, Seq("lang"))
        .withColumn("wrote_cdc", lit(wroteCdc))
        .withColumn("cdc_exact", lit(cdcExact))
        .orderBy($"lang")
    },
    Some("""WITH fin AS (
           |  SELECT doc_id, lang,
           |    CASE WHEN doc_id % 10 = 1 THEN n_chars + 2000 ELSE n_chars END AS nc
           |  FROM documents WHERE doc_id % 10 <> 6
           |  UNION ALL
           |  SELECT doc_id + 3000000, lang, n_chars FROM documents WHERE doc_id % 10 = 8),
           |agg AS (SELECT lang, count(*) AS n, CAST(sum(nc) AS BIGINT) AS ch,
           |               CAST(sum(doc_id) AS BIGINT) AS ids
           |        FROM fin GROUP BY lang)
           |SELECT lang, n AS n_docs, ch AS sum_chars, ids AS sum_ids,
           |       n AS r_docs, ch AS r_chars, ids AS r_ids,
           |       true AS wrote_cdc, true AS cdc_exact
           |FROM agg ORDER BY lang""".stripMargin))

  /** q207 — ROW TRACKING end to end
    * ([[graft.io.DeltaWrite.enableRowTracking]] /
    * [[graft.io.DeltaRead.readWithRowIds]]): a documents table gets
    * stable row ids, then survives the full maintenance gauntlet — a
    * second append (fresh id block), a DV erasure, an OPTIMIZE rewrite
    * (ids preserved via the MATERIALIZED columns), and a MERGE upsert
    * (updated rows keep their ids, inserts allocate past the
    * high-water mark). The output carries the per-lang data aggregates
    * (oracle recomputes them arithmetically) plus three booleans the
    * query itself proves — every surviving row kept the id it held
    * before the maintenance (`ids_stable`), ids are globally distinct
    * (`ids_unique`), and every fresh row's id clears the pre-merge
    * maximum (`fresh_past_hwm`). The stable-id column is what makes
    * dedup ledgers and CDC joins keyable across arbitrary table
    * maintenance at 100 TB — no content hash needed. */
  val q207RowTracking = GQuery(
    "q207_row_tracking",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q207_")
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars")
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 0).repartition(3), t)  // v0
      graft.io.DeltaWrite.enableRowTracking(s, t)                      // v1
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 1).repartition(2), t)  // v2
      val vBoth = graft.io.DeltaRead.latestVersion(t)
      graft.io.DeltaWrite.deleteWhere(s, t, pmod($"doc_id", lit(10)) === 3)
      require(graft.io.DeltaWrite.compact(s, t) > 0,
        "q207 expects an OPTIMIZE rewrite")
      val src = docs.filter(pmod($"doc_id", lit(10)) === 4)
        .withColumn("n_chars", $"n_chars" + 500L)
        .unionByName(docs.filter(pmod($"doc_id", lit(10)) === 7)
          .withColumn("doc_id", $"doc_id" + 9000000L))
      graft.io.DeltaWrite.merge(s, t, src, Seq("doc_id"))
      val rid = graft.io.DeltaRead.RowIdCol
      val early = graft.io.DeltaRead.readVersionWithRowIds(s, t, vBoth)
        .select($"doc_id", col(rid).as("rid_early"))
      val maxEarly = early.agg(max($"rid_early")).first().getLong(0)
      val head = graft.io.DeltaRead.readWithRowIds(s, t)
      val globallyUnique = {
        val r = head.agg(count(lit(1)), countDistinct(col(rid))).first()
        r.getLong(0) == r.getLong(1)
      }
      head.join(early, Seq("doc_id"), "left")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").cast("long").as("sum_chars"),
          min(coalesce($"rid_early" === col(rid), lit(true))).as("ids_stable"),
          (count(lit(1)) === countDistinct(col(rid)) && lit(globallyUnique))
            .as("ids_unique"),
          min(when($"rid_early".isNull, col(rid) > lit(maxEarly))
            .otherwise(lit(true))).as("fresh_past_hwm"))
        .orderBy($"lang")
    },
    Some("""WITH fin AS (
           |  SELECT doc_id, lang,
           |    CASE WHEN doc_id % 10 = 4 THEN n_chars + 500 ELSE n_chars END AS nc
           |  FROM documents WHERE doc_id % 10 <> 3
           |  UNION ALL
           |  SELECT doc_id + 9000000, lang, n_chars FROM documents WHERE doc_id % 10 = 7)
           |SELECT lang, count(*) AS n_docs, CAST(sum(nc) AS BIGINT) AS sum_chars,
           |       true AS ids_stable, true AS ids_unique, true AS fresh_past_hwm
           |FROM fin GROUP BY lang ORDER BY lang""".stripMargin))

  /** q208 — TYPE WIDENING end to end
    * ([[graft.io.DeltaWrite.widenColumnType]]): an orders table lands
    * with INT key and INT cents, widens to LONG and DECIMAL(20,0) in
    * two log-only commits (zero bytes rewritten — the narrow files
    * stay), then a second batch appends values past Int.MaxValue; the
    * per-status aggregate must read BOTH generations uniformly under
    * the log schema (Spark's parquet layer upcasts the old files —
    * the read-side contract of the `typeWidening` feature). The
    * oracle recomputes the mixed-width arithmetic directly. */
  val q208TypeWidening = GQuery(
    "q208_type_widening",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q208_")
      val orders = s.read.parquet(s"$d/orders.parquet")
        .selectExpr("o_orderstatus",
          "CAST(o_orderkey AS INT) AS k",
          "CAST(round(o_totalprice * 100) AS INT) AS cents")
      graft.io.DeltaWrite.append(orders, t)                           // v0: narrow
      graft.io.DeltaWrite.widenColumnType(s, t, "k",
        org.apache.spark.sql.types.LongType)                          // v1
      graft.io.DeltaWrite.widenColumnType(s, t, "cents",
        org.apache.spark.sql.types.DecimalType(20, 0))                // v2
      graft.io.DeltaWrite.append(
        orders.selectExpr("o_orderstatus",
          "CAST(k AS LONG) + 5000000000 AS k",
          "CAST(cents AS DECIMAL(20,0)) AS cents"), t)                // v3: wide
      graft.io.DeltaRead.read(s, t)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum($"k").as("sum_k"),
          sum($"cents").cast("long").as("sum_cents"))
        .orderBy($"o_orderstatus")
    },
    Some("""WITH base AS (SELECT o_orderstatus, o_orderkey AS k,
           |                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           |              FROM orders),
           |fin AS (SELECT * FROM base
           |        UNION ALL
           |        SELECT o_orderstatus, k + 5000000000, cents FROM base)
           |SELECT o_orderstatus, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
           |       CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM fin GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** q209 — VARIANT columns through the Delta writer (`variantType`
    * feature): per-document semi-structured metadata lands as a real
    * VariantType column (parse_json at ingest — the open-schema
    * pattern for crawl/telemetry payloads), the table creates at the
    * (3,7) feature form, and the readback extracts typed fields with
    * `variant_get` and aggregates per lang. The oracle mirrors the
    * extraction with DuckDB's JSON functions over the same documents
    * — a green row proves the variant payload survives the
    * write/read roundtrip value-exactly. */
  val q209Variant = GQuery(
    "q209_variant",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q209_")
      val docs = Tables.documents(s, d).selectExpr("doc_id", "lang",
        """parse_json(concat('{"len":', n_chars, ',"src":"', source, '"}')) AS meta""")
      graft.io.DeltaWrite.append(docs, t)
      graft.io.DeltaRead.read(s, t)
        .selectExpr("lang",
          "variant_get(meta, '$.len', 'long') AS len",
          "variant_get(meta, '$.src', 'string') AS src")
        .groupBy($"lang", $"src")
        .agg(count(lit(1)).as("n"), sum($"len").as("sum_len"))
        .orderBy($"lang", $"src")
    },
    Some("""SELECT lang, source AS src, count(*) AS n,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_len
           |FROM documents GROUP BY lang, source ORDER BY lang, src""".stripMargin))

  /** q210 — CLUSTERED TABLE data skipping
    * ([[graft.io.DeltaWrite.clusterBy]] /
    * [[graft.io.DeltaWrite.appendClustered]] /
    * [[graft.io.DeltaRead.readVersionWhereStats]]): lineitem lands in
    * a Delta table whose `delta.clustering` domain declares
    * (l_partkey, l_suppkey), the batch lays out along their Z-key into
    * 8 files, and a 2-D range predicate then resolves through
    * LOG-METADATA skipping — only files whose stats admit the range
    * are scanned. The output is the predicate's aggregate computed
    * FROM THE PRUNED READ (the oracle recomputes it from raw parquet —
    * equality proves skipping dropped no matching rows) plus a
    * `pruned` boolean asserting the clustered layout actually skipped
    * files (admitted < total). The 100 TB story in one row: layout +
    * footer stats turn a full scan into a few-file scan with zero
    * index infrastructure. */
  val q210ClusteredSkip = GQuery(
    "q210_clustered_skipping",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q210_")
      val li = Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_partkey", $"l_suppkey", $"l_quantity")
      graft.io.DeltaWrite.append(li.limit(0), t)                      // v0: schema
      graft.io.DeltaWrite.clusterBy(s, t, Seq("l_partkey", "l_suppkey")) // v1
      graft.io.DeltaWrite.appendClustered(li, t, numFiles = 8)        // v2
      val v = graft.io.DeltaRead.latestVersion(t)
      val preds = Seq(
        graft.io.DeltaRead.StatRange("l_partkey", Some(100L), Some(180L)),
        graft.io.DeltaRead.StatRange("l_suppkey", Some(10L), Some(60L)))
      val total = graft.io.DeltaRead.snapshotAt(s, t, v).files
        .count(_.stats.exists(!_.contains("\"numRecords\":0")))
      val admitted = graft.io.DeltaRead.filesAfterSkipping(s, t, v, preds).size
      graft.io.DeltaRead.readVersionWhereStats(s, t, v, preds)
        .where($"l_partkey".between(100L, 180L) &&
          $"l_suppkey".between(10L, 60L))
        .agg(count(lit(1)).as("n"),
          sum($"l_orderkey").as("sum_okey"),
          sum($"l_quantity").cast("long").as("sum_qty"))
        .withColumn("pruned", lit(admitted < total))
    },
    Some("""SELECT count(*) AS n, CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
           |       CAST(CAST(sum(l_quantity) AS BIGINT) AS BIGINT) AS sum_qty,
           |       true AS pruned
           |FROM lineitem
           |WHERE l_partkey BETWEEN 100 AND 180
           |  AND l_suppkey BETWEEN 10 AND 60""".stripMargin))

  /** q206 — the change feed as a REAL `readStream` source
    * ([[graft.streaming.DeltaCdfStreamProvider]], format
    * `graft-delta-cdf`): the same append/append/DV-erasure/MERGE
    * history as q199, but tailed through Spark's streaming machinery —
    * `maxVersionsPerTrigger = 1` paces one commit per micro-batch
    * (`paced` pins 4 row-bearing batches for 4 row-bearing versions,
    * read off the query's progress metrics), a memory sink collects
    * the feed, and the fold of the STREAMED rows must equal the source
    * state the oracle recomputes arithmetically. q199 proved the
    * driver-paced loop; this proves the identical feed surfaces
    * through `readStream` — triggers, offset checkpointing and
    * progress metrics included — because `getBatch` reuses the whole
    * `changesBetween` read path. */
  val q206CdfReadStream = GQuery(
    "q206_cdf_readstream",
    (s, d) => {
      import s.implicits._
      val src = graft.io.Staging.tempDir("graft_q206_")
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars")
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 0).repartition(2), src) // v0
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 1).repartition(2), src) // v1
      graft.io.DeltaWrite.deleteWhere(s, src, pmod($"doc_id", lit(7)) === 2) // v2
      val upd = docs.filter(pmod($"doc_id", lit(7)) === 3)
        .withColumn("n_chars", $"n_chars" + 500L)
        .unionByName(docs.filter(pmod($"doc_id", lit(7)) === 5)
          .withColumn("doc_id", $"doc_id" + 2000000L))
      graft.io.DeltaWrite.merge(s, src, upd, Seq("doc_id")) // v3
      val sink = "q206_feed_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = s.readStream.format("graft-delta-cdf")
        .option("maxVersionsPerTrigger", "1").load(src)
        .writeStream.format("memory").queryName(sink).start()
      q.processAllAvailable()
      val paced = q.recentProgress.count(_.numInputRows > 0) == 4
      q.stop()
      val out = s.table(sink)
        .groupBy($"doc_id", $"lang", $"n_chars")
        .agg(sum(when($"_change_type" === "insert", 1).otherwise(-1)).as("net"))
        .where($"net" === 1)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
          sum($"doc_id").as("sum_ids"))
        .withColumn("paced", lit(paced))
        .orderBy($"lang")
      // materialize before dropping the memory sink the plan reads from
      val rows = out.collect().toSeq
      s.catalog.dropTempView(sink)
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    },
    Some("""WITH fin AS (
           |  SELECT doc_id, lang,
           |    CASE WHEN doc_id % 7 = 3 THEN n_chars + 500 ELSE n_chars END AS nc
           |  FROM documents WHERE doc_id % 7 <> 2
           |  UNION ALL
           |  SELECT doc_id + 2000000, lang, n_chars FROM documents WHERE doc_id % 7 = 5)
           |SELECT lang, count(*) AS n_docs, CAST(sum(nc) AS BIGINT) AS sum_chars,
           |       CAST(sum(doc_id) AS BIGINT) AS sum_ids, true AS paced
           |FROM fin GROUP BY lang ORDER BY lang""".stripMargin))

  /** q215 — INCREMENTAL MATERIALIZED VIEW maintenance
    * ([[graft.views.IncrementalView]]): a per-lang aggregate view
    * (count / sum / min / max of n_chars) over a Delta base is built
    * once, then maintained purely from the change feed across an
    * append, a DV delete (which evicts per-group extremes — the
    * partial min/max recompute path), and a MERGE update, each folded
    * as ONE SetTransaction-marked merge commit. `folded_ok` pins each
    * refresh to the exact base version it folded; `replay_noop` proves
    * a fourth refresh with nothing new short-circuits (exactly-once).
    * The oracle recomputes the final aggregate from `documents`
    * arithmetically — the maintained view must equal a from-scratch
    * recompute while having done only delta-bounded work. At 100 TB
    * this is the difference between a nightly full-scan rebuild of
    * every gold table and a minutely fold of one commit's files
    * (reference gold loads: loader_NeonDB.py:682-882 recompute). */
  /** q242 — CONTINUOUSLY MAINTAINED VIEW
    * ([[graft.views.IncrementalView.maintainStream]]): a Structured
    * Streaming query tails the base's change feed and folds every
    * arrival into the view; a CHECKPOINT-LOSS restart (fresh
    * checkpoint, feed replayed from genesis) is absorbed by the view's
    * own SetTransaction mark — exactly-once end to end without
    * trusting the offset log. The oracle recomputes the final grouped
    * aggregate from `documents`. */
  val q242ViewMaintainStream = GQuery(
    "q242_view_maintain_stream",
    (s, d) => {
      import s.implicits._
      val base = graft.io.Staging.tempDir("graft_q242b_")
      val view = graft.io.Staging.tempDir("graft_q242v_")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(view))
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars")
      val spec = graft.views.IncrementalView.ViewSpec(
        Seq("lang"), sums = Seq("n_chars"))
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 0).repartition(2), base) // v0
      graft.views.IncrementalView.build(s, base, view, spec)
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 1).repartition(2), base) // v1
      graft.io.DeltaWrite.deleteWhere(s, base,
        pmod($"doc_id", lit(10)) === 6)                                  // v2
      def drain(ck: String): Unit = {
        val q = graft.views.IncrementalView.maintainStream(
          s, base, view, spec, ck, availableNow = true)
        q.awaitTermination(120000); q.stop()
      }
      drain(graft.io.Staging.tempDir("graft_q242c1_"))
      val afterFirst = graft.io.DeltaRead.read(s, view)
        .agg(sum($"cnt")).head.getLong(0)
      // more commits, then a CHECKPOINT-LOSS restart: fresh checkpoint
      // replays the whole feed; the mark absorbs it
      graft.io.DeltaWrite.merge(s, base,
        docs.filter(pmod($"doc_id", lit(10)) === 7)
          .withColumn("n_chars", $"n_chars" + 1000L), Seq("doc_id"))     // v3
      drain(graft.io.Staging.tempDir("graft_q242c2_"))
      val n = graft.io.DeltaRead.read(s, view).agg(sum($"cnt")).head.getLong(0)
      graft.io.DeltaRead.read(s, view)
        .select($"lang", $"cnt", $"sum_n_chars")
        .withColumn("no_double_count", lit(n == afterFirst))
        .orderBy($"lang")
    },
    Some("""WITH fin AS (
           |  SELECT lang,
           |    CASE WHEN doc_id % 10 = 7 THEN n_chars + 1000 ELSE n_chars END AS nc
           |  FROM documents WHERE doc_id % 10 <> 6)
           |SELECT lang, count(*) AS cnt, CAST(sum(nc) AS BIGINT) AS sum_n_chars,
           |       true AS no_double_count
           |FROM fin GROUP BY lang ORDER BY lang""".stripMargin))

  val q215IncrementalView = GQuery(
    "q215_incremental_view",
    (s, d) => {
      import s.implicits._
      val base = graft.io.Staging.tempDir("graft_q215b_")
      val view = graft.io.Staging.tempDir("graft_q215v_")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(view))
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars")
      val spec = graft.views.IncrementalView.ViewSpec(
        Seq("lang"), sums = Seq("n_chars"), minMaxes = Seq("n_chars"))
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 0).repartition(2), base) // v0
      graft.views.IncrementalView.build(s, base, view, spec)
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 1).repartition(2), base) // v1
      val r1 = graft.views.IncrementalView.refresh(s, base, view, spec)
      graft.io.DeltaWrite.deleteWhere(s, base,
        pmod($"doc_id", lit(10)) === 3)                                  // v2
      val r2 = graft.views.IncrementalView.refresh(s, base, view, spec)
      graft.io.DeltaWrite.merge(s, base,
        docs.filter(pmod($"doc_id", lit(10)) === 4)
          .withColumn("n_chars", $"n_chars" + 1000L), Seq("doc_id"))     // v3
      val r3 = graft.views.IncrementalView.refresh(s, base, view, spec)
      val replayNoop = graft.views.IncrementalView.refresh(s, base, view, spec).isEmpty
      graft.io.DeltaRead.read(s, view)
        .select($"lang", $"cnt", $"sum_n_chars", $"min_n_chars", $"max_n_chars")
        .withColumn("folded_ok",
          lit(r1.contains(1L) && r2.contains(2L) && r3.contains(3L)))
        .withColumn("replay_noop", lit(replayNoop))
        .orderBy($"lang")
    },
    Some("""WITH fin AS (
           |  SELECT lang,
           |    CASE WHEN doc_id % 10 = 4 THEN n_chars + 1000 ELSE n_chars END AS nc
           |  FROM documents WHERE doc_id % 10 <> 3)
           |SELECT lang, count(*) AS cnt, CAST(sum(nc) AS BIGINT) AS sum_n_chars,
           |       CAST(min(nc) AS BIGINT) AS min_n_chars,
           |       CAST(max(nc) AS BIGINT) AS max_n_chars,
           |       true AS folded_ok, true AS replay_noop
           |FROM fin GROUP BY lang ORDER BY lang""".stripMargin))

  /** q216 — MINOR LOG COMPACTION ([[graft.io.DeltaWrite.compactLog]] /
    * [[graft.io.DeltaRead.snapshotAt]]'s compacted-tail replay): a
    * five-commit history (three appends, a DV delete, a property
    * change) is log-compacted over commits 1..4, then the spanned
    * per-commit files are HIDDEN and the snapshot is resolved again —
    * through the compacted file alone. The output carries the per-lang
    * aggregate read both ways (per-commit replay before compaction,
    * compacted replay with the commits hidden); the oracle recomputes
    * the same numbers from `documents`, so a reconciliation bug in
    * either path mismatches. At 100 TB the log tail between
    * checkpoints is thousands of commits; compaction keeps cold-start
    * snapshot resolution at one read per span instead of one per
    * commit, without sacrificing mid-range time travel (the per-commit
    * files stay). */
  val q216LogCompaction = GQuery(
    "q216_log_compaction",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q216_")
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars")
      (0 to 2).foreach(i => graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(3)) === i).repartition(2), t)) // v0..v2
      graft.io.DeltaWrite.deleteWhere(s, t, pmod($"doc_id", lit(10)) === 7) // v3
      graft.io.DeltaWrite.setProperties(s, t, Map("graft.q216" -> "x"))     // v4
      def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      val perCommit = agg(graft.io.DeltaRead.readVersion(s, t, 4L))
        .withColumnRenamed("n_docs", "p_docs")
        .withColumnRenamed("sum_chars", "p_chars")
        .localCheckpoint() // pin the pre-compaction resolution
      graft.io.DeltaWrite.compactLog(t, 1L, 4L)
      val ld = java.nio.file.Paths.get(t, "_delta_log")
      val hidden = (1L to 4L).map { v =>
        val p = ld.resolve(f"$v%020d.json"); val b = ld.resolve(f"hidden-$v")
        java.nio.file.Files.move(p, b); (p, b)
      }
      val viaCompact =
        try agg(graft.io.DeltaRead.readVersion(s, t, 4L)).localCheckpoint()
        finally hidden.foreach { case (p, b) => java.nio.file.Files.move(b, p) }
      viaCompact.join(perCommit, Seq("lang"))
        .withColumn("compact_used", lit(true))
        .orderBy($"lang")
    },
    Some("""WITH fin AS (
           |  SELECT lang, n_chars FROM documents WHERE doc_id % 10 <> 7)
           |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |       count(*) AS p_docs, CAST(sum(n_chars) AS BIGINT) AS p_chars,
           |       true AS compact_used
           |FROM fin GROUP BY lang ORDER BY lang""".stripMargin))

  /** q217 — SHREDDED VARIANT columns
    * ([[graft.io.DeltaWrite.appendShredded]] /
    * [[graft.io.DeltaRead]]'s `variantShredding` support): document
    * metadata lands as a variant column written in the parquet variant
    * SHREDDING layout (typed_value groups — Spark's default writer
    * form), the table protocol carries `variantShredding` on both
    * sides from its creation commit, and an unshredded append then
    * mixes in. The aggregate reads `variant_get` paths across BOTH
    * layouts; `shredded_files`/`plain_files` prove the two layouts are
    * really both present (footer bytes), so the equality with the
    * oracle pins Spark's shredded reassembly, not just the happy
    * path. Shredding is the scale form of semi-structured columns:
    * typed subcolumn reads instead of per-row binary decoding. */
  val q217ShreddedVariant = GQuery(
    "q217_shredded_variant",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q217_")
      val docs = Tables.documents(s, d).selectExpr("doc_id",
        """parse_json(concat('{"lang":"', lang, '","len":', n_chars,
          |',"src":"', source, '"}')) AS meta""".stripMargin)
      graft.io.DeltaWrite.appendShredded(
        docs.filter(pmod($"doc_id", lit(2)) === 0).repartition(2), t)  // v0
      val offKey = "spark.sql.variant.writeShredding.enabled"
      s.conf.set(offKey, "false")
      try graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 1).repartition(2), t)  // v1
      finally s.conf.unset(offKey)
      val snap = graft.io.DeltaRead.snapshot(s, t)
      def shredded(p: String): Boolean = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(t, p)),
        "ISO-8859-1").contains("typed_value")
      val nShred = snap.files.count(f => shredded(f.path))
      val nPlain = snap.files.size - nShred
      graft.io.DeltaRead.read(s, t)
        .selectExpr("variant_get(meta, '$.lang', 'string') AS lang",
          "variant_get(meta, '$.len', 'long') AS len",
          "variant_get(meta, '$.src', 'string') AS src")
        .groupBy($"lang", $"src")
        .agg(count(lit(1)).as("n"), sum($"len").as("sum_len"))
        .withColumn("shredded_files", lit(nShred >= 2))
        .withColumn("plain_files", lit(nPlain >= 2))
        .orderBy($"lang", $"src")
    },
    Some("""SELECT lang, source AS src, count(*) AS n,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_len,
           |       true AS shredded_files, true AS plain_files
           |FROM documents GROUP BY lang, source ORDER BY lang, src""".stripMargin))

  /** q218 — COLLATED string columns (the Delta `collations` writer
    * feature): document sources are mixed-cased deterministically,
    * stored in a Delta table under a UTF8_LCASE collation, and grouped
    * CASE-INSENSITIVELY straight off the collated column after the
    * schemaString round-trip — no lower() in the aggregation path.
    * `feature_ok` pins the writer-only protocol declaration
    * (writerFeatures yes, readerFeatures no, minReaderVersion still
    * 1); `stats_ok` pins the writer obligation that no binary-ordered
    * min/max bounds were emitted for the collated column. The oracle
    * normalizes with lower(), which equals UTF8_LCASE grouping for
    * this corpus. */
  val q218Collations = GQuery(
    "q218_collations",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q218_")
      val docs = Tables.documents(s, d)
        .withColumn("src_mixed",
          when(pmod($"doc_id", lit(2)) === 1, initcap($"source"))
            .otherwise($"source"))
        .select($"doc_id", $"n_chars",
          collate($"src_mixed", "UTF8_LCASE").as("src"))
      graft.io.DeltaWrite.append(docs.repartition(2), t)
      val snap = graft.io.DeltaRead.snapshot(s, t)
      val featureOk = snap.writerFeatures.contains("collations") &&
        !snap.readerFeatures.contains("collations") && snap.minReaderVersion == 1
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val statsOk = snap.files.forall(_.stats.exists { js =>
        val st = om.readTree(js)
        !st.get("minValues").has("src") && !st.get("maxValues").has("src")
      })
      graft.io.DeltaRead.read(s, t)
        .groupBy($"src")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("sum_chars"))
        .select(lower($"src").as("src_l"), $"n", $"sum_chars")
        .withColumn("feature_ok", lit(featureOk))
        .withColumn("stats_ok", lit(statsOk))
        .orderBy($"src_l")
    },
    Some("""SELECT lower(source) AS src_l, count(*) AS n,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |       true AS feature_ok, true AS stats_ok
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q219 — the `graft-delta` SQL-facing format
    * ([[graft.io.v2.DeltaDataSource]]): a Delta table with a DV
    * erasure is registered as `CREATE TEMPORARY VIEW ... USING
    * graft-delta` and queried with plain `spark.sql` — no Scala API in
    * the query path. The WHERE conjuncts travel the v1 pushdown
    * contract: comparable literals become log-metadata StatRanges
    * (file skipping before any scan is planned) and re-applied scan
    * predicates; the DV mask rides the delegate. The oracle recomputes
    * from raw parquet, so a translation bug in either direction
    * (over-pruning or a dropped filter) mismatches. */
  val q219SqlDatasource = GQuery(
    "q219_sql_datasource",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q219_")
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars")
      graft.io.DeltaWrite.append(docs.repartition(2), t)                // v0
      graft.io.DeltaWrite.deleteWhere(s, t, pmod($"doc_id", lit(10)) === 2) // v1
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW gd_q219
        USING `graft-delta` OPTIONS (path '$t')""")
      s.sql("""SELECT lang, count(*) AS n, sum(n_chars) AS sum_chars
              |FROM gd_q219 WHERE doc_id > 100 AND lang IS NOT NULL
              |GROUP BY lang ORDER BY lang""".stripMargin)
    },
    Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM documents
           |WHERE doc_id % 10 <> 2 AND doc_id > 100 AND lang IS NOT NULL
           |GROUP BY lang ORDER BY lang""".stripMargin))

  /** Register a throwaway [[graft.io.v2.GraftCatalog]], run `body`
    * against it, MATERIALIZE the (small) result, then UNSET the catalog
    * conf keys. CatalogManager caches instances by name, so each run
    * gets a unique name + fresh warehouse — and without the unset,
    * repeated Verify/bench invocations in one long-lived session would
    * accumulate dead `spark.sql.catalog.*` entries forever.
    * Materialization is what makes the unset safe: the returned frame
    * is a local relation over the collected rows (every caller returns
    * a per-group aggregate, ≤ a dozen rows) and no longer references
    * the catalog. */
  private def withFreshCatalog(s: org.apache.spark.sql.SparkSession, tag: String)(
      body: String => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val name = tag + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    s.conf.set(s"spark.sql.catalog.$name", "graft.io.v2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$name.warehouse",
      graft.io.Staging.tempDir(s"graft_${tag}_"))
    try {
      val out = body(name)
      val rows = out.collect().toSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    } finally {
      s.conf.unset(s"spark.sql.catalog.$name")
      s.conf.unset(s"spark.sql.catalog.$name.warehouse")
    }
  }

  /** q220 — SQL DML end-to-end ([[graft.plans.GraftSqlDmlRule]] +
    * [[graft.io.DeltaWrite.updateWhere]]): a pure-`spark.sql` history —
    * CREATE TABLE, INSERT, DELETE FROM (deletion vectors), UPDATE
    * (copy-on-write rewrite), and a three-clause MERGE INTO
    * (first-match-wins DELETE / UPDATE SET * / INSERT *) — on a
    * catalog-resolved graft-delta table; no Scala writer API anywhere
    * in the query path. This is the reference's warehouse surface
    * (loader_NeonDB.py:364-371 `ON CONFLICT`,
    * validator_warehouse.py:31-248 all-SQL checks) served by the
    * lakehouse layer. The oracle recomputes the final state
    * arithmetically from `orders`; revenue compares as integer cents
    * (order-independent, bit-identical across engines). */
  val q220SqlDml = GQuery(
    "q220_sql_dml",
    (s, d) => withFreshCatalog(s, "q220") { cat =>
      s.read.parquet(s"$d/orders.parquet")
        .selectExpr("CAST(o_orderkey AS BIGINT) AS o_orderkey",
          "o_orderstatus", "CAST(o_totalprice AS DOUBLE) AS o_totalprice")
        .createOrReplaceTempView("q220_src")
      s.sql(s"""CREATE TABLE $cat.dml (o_orderkey BIGINT,
        o_orderstatus STRING, o_totalprice DOUBLE) USING `graft-delta`""")
      s.sql(s"INSERT INTO $cat.dml SELECT * FROM q220_src")
      s.sql(s"DELETE FROM $cat.dml WHERE o_orderkey % 7 = 0")
      s.sql(s"""UPDATE $cat.dml SET o_totalprice = o_totalprice + 10.0
        WHERE o_orderkey % 5 = 0""")
      s.sql(s"""MERGE INTO $cat.dml t
        USING (SELECT o_orderkey, o_orderstatus,
               o_totalprice + 5.0 AS o_totalprice
               FROM q220_src WHERE o_orderkey % 3 = 0) s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.o_orderkey % 6 = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"""SELECT o_orderstatus, count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM $cat.dml GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""WITH fin AS (
           |  SELECT o_orderstatus,
           |    CASE
           |      WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
           |           AND o_orderkey % 6 = 0 THEN NULL
           |      WHEN o_orderkey % 3 = 0 THEN o_totalprice + 5.0
           |      WHEN o_orderkey % 7 = 0 THEN NULL
           |      WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
           |      ELSE o_totalprice END AS p
           |  FROM orders)
           |SELECT o_orderstatus, count(*) AS n_orders,
           |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents
           |FROM fin WHERE p IS NOT NULL
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** q221 — the DSv2 `TableCatalog` lakehouse door
    * ([[graft.io.v2.GraftCatalog]]): CREATE NAMESPACE, CTAS, INSERT and
    * `VERSION AS OF` time travel all on CATALOG IDENTIFIERS — zero
    * `option("path")`, zero temp views over the table. CTAS commits
    * v0 (CREATE) + v1 (the SELECT's rows), the later INSERT is v2, so
    * `VERSION AS OF 1` pins the post-CTAS state; the head/as-of counts
    * join in one result and the oracle recomputes both from
    * `customer`. */
  val q221CatalogSql = GQuery(
    "q221_catalog_sql",
    (s, d) => withFreshCatalog(s, "q221") { cat =>
      s.read.parquet(s"$d/customer.parquet")
        .createOrReplaceTempView("q221_cust")
      s.sql(s"CREATE NAMESPACE $cat.lake")
      s.sql(s"""CREATE TABLE $cat.lake.c USING `graft-delta` AS
        SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment
        FROM q221_cust""")
      s.sql(s"""INSERT INTO $cat.lake.c
        SELECT CAST(c_custkey + 1000000 AS BIGINT), c_mktsegment
        FROM q221_cust WHERE c_custkey % 4 = 0""")
      s.sql(s"""SELECT h.c_mktsegment, h.n AS head_n, a.n AS asof_n
        FROM (SELECT c_mktsegment, count(*) AS n FROM $cat.lake.c
              GROUP BY c_mktsegment) h
        JOIN (SELECT c_mktsegment, count(*) AS n
              FROM $cat.lake.c VERSION AS OF 1
              GROUP BY c_mktsegment) a
        ON h.c_mktsegment = a.c_mktsegment
        ORDER BY h.c_mktsegment""")
    },
    Some("""SELECT c_mktsegment,
           |  CAST(count(*) + count(*) FILTER (WHERE c_custkey % 4 = 0)
           |       AS BIGINT) AS head_n,
           |  CAST(count(*) AS BIGINT) AS asof_n
           |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** q222 — SKETCH-FOLD incremental views
    * ([[graft.views.IncrementalView]] `approxDistincts`): the 100 TB
    * daily-uniques materialization — a per-lang HLL sketch column is
    * BUILT once, FOLDED from the change feed across an append
    * (`hll_union` of the batch sketch, O(changed rows)), and dirtied
    * into a semi-join-pruned recompute by a DV delete (HLL cannot
    * subtract). `matches_direct` pins the lossless-union property at
    * the REGISTER level: the incrementally-maintained sketch equals a
    * from-scratch sketch of the head after canonicalizing both
    * estimates through a self-union — RAW estimates are
    * build-path-dependent (HIP for streamed sketches, composite for
    * union-built ones) and diverge once dense mode starts, which sf0.1
    * reaches; `within_tol` pins the estimate against the exact
    * distinct count (q60's pattern — booleans travel to the oracle,
    * engine-specific estimates don't). */
  val q222HllView = GQuery(
    "q222_hll_view",
    (s, d) => {
      import s.implicits._
      val base = graft.io.Staging.tempDir("graft_q222b_")
      val view = graft.io.Staging.tempDir("graft_q222v_")
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars")
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 0).repartition(2), base) // v0
      val spec = graft.views.IncrementalView.ViewSpec(
        keys = Seq("lang"), approxDistincts = Seq("doc_id"))
      graft.views.IncrementalView.build(s, base, view, spec)
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 1).repartition(2), base) // v1
      graft.views.IncrementalView.refresh(s, base, view, spec) // union fold
      graft.io.DeltaWrite.deleteWhere(s, base, pmod($"doc_id", lit(11)) === 3) // v2
      graft.views.IncrementalView.refresh(s, base, view, spec) // dirty recompute
      val head = graft.io.DeltaRead.read(s, base)
      // REGISTER-level comparison through a canonicalizing self-union:
      // a directly-streamed sketch estimates via DataSketches' HIP
      // accumulator while any union-built sketch uses the composite
      // estimator — SAME registers, different numbers once the sketch
      // leaves exact mode (this bit at sf0.1: per-lang cardinalities
      // cross into dense mode and 4/5 langs "mismatched" on estimates
      // whose registers were identical; even two direct builds differ
      // with partitioning: 595 vs 590 for one 600-distinct set).
      // hll_union(s, s) invalidates HIP on every path, so equal
      // canonical estimates ⟺ equal registers — the property the
      // incremental fold actually guarantees.
      def canonEst(sketch: org.apache.spark.sql.Column) =
        hll_sketch_estimate(hll_union(sketch, sketch))
      val direct = head.groupBy($"lang").agg(
        countDistinct($"doc_id").as("exact"),
        hll_sketch_agg($"doc_id").as("__dsk"))
        .select($"lang", $"exact", canonEst($"__dsk").as("direct_est"))
      graft.io.DeltaRead.read(s, view)
        .select($"lang", $"cnt", canonEst($"hll_doc_id").as("est"))
        .join(direct, Seq("lang"))
        .select($"lang", $"cnt",
          (abs($"est" - $"exact") <=
            greatest($"exact" * 0.05, lit(2.0))).as("within_tol"),
          ($"est" === $"direct_est").as("matches_direct"))
        .orderBy($"lang")
    },
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
           |       true AS within_tol, true AS matches_direct
           |FROM documents WHERE doc_id % 11 <> 3
           |GROUP BY lang ORDER BY lang""".stripMargin))

  /** q223 — a PLAIN Delta table as a `readStream` source
    * ([[graft.streaming.DeltaTableSource]], format `graft-delta`): the
    * non-CDF tail every downstream lakehouse job starts from — initial
    * snapshot + per-commit adds, with an OPTIMIZE in the middle of the
    * history that must stay invisible (`dataChange=false` adds never
    * enter the stream — a duplicate here would double-count every
    * compacted row). `maxFilesPerTrigger=2` paces the multi-file
    * history across micro-batches (`paced` pins >= 3 row-bearing
    * batches off the progress metrics); the streamed rows aggregate to
    * the head table state, which the oracle recomputes from
    * `documents`. Complements q206 (the CDF source) — together the two
    * formats cover both Delta streaming shapes. */
  val q223TableReadStream = GQuery(
    "q223_table_readstream",
    (s, d) => {
      import s.implicits._
      val src = graft.io.Staging.tempDir("graft_q223_")
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars")
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(3)) === 0).repartition(2), src) // v0
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(3)) === 1).repartition(2), src) // v1
      graft.io.DeltaWrite.compact(s, src, targetBytes = Long.MaxValue)  // v2: invisible
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(3)) === 2).repartition(2), src) // v3
      val sink = "q223_tail_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = s.readStream.format("graft-delta")
        .option("startingVersion", "0").option("maxFilesPerTrigger", "2")
        .load(src)
        .writeStream.format("memory").queryName(sink).start()
      q.processAllAvailable()
      val paced = q.recentProgress.count(_.numInputRows > 0) >= 3
      q.stop()
      val out = s.table(sink)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
          sum($"doc_id").as("sum_ids"))
        .withColumn("paced", lit(paced))
        .orderBy($"lang")
      // materialize before dropping the memory sink the plan reads from
      val rows = out.collect().toSeq
      s.catalog.dropTempView(sink)
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    },
    Some("""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |       CAST(sum(doc_id) AS BIGINT) AS sum_ids, true AS paced
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** q224 — REPLACE WHERE / `INSERT OVERWRITE ... PARTITION`
    * ([[graft.io.DeltaWrite.replaceWhere]] via the catalog's
    * `SupportsOverwrite` write builder): the nightly partition-reload
    * primitive — ONE commit replaces exactly one partition's rows with
    * a reload carrying fewer rows and shifted prices while every other
    * partition keeps its bytes (`untouched` pins file-level identity,
    * not just row equality — at 100 TB the point is what is NOT
    * rewritten). Pure SQL end to end; the oracle recomputes the final
    * state arithmetically from `orders` with integer-cents revenue. */
  val q224ReplaceWhere = GQuery(
    "q224_replace_where",
    (s, d) => withFreshCatalog(s, "q224") { cat =>
      s.read.parquet(s"$d/orders.parquet")
        .selectExpr("CAST(o_orderkey AS BIGINT) AS o_orderkey",
          "CAST(o_totalprice AS DOUBLE) AS o_totalprice",
          "CAST(o_orderkey % 4 AS STRING) AS bucket")
        .createOrReplaceTempView("q224_src")
      s.sql(s"""CREATE TABLE $cat.po (o_orderkey BIGINT,
        o_totalprice DOUBLE, bucket STRING) USING `graft-delta`
        PARTITIONED BY (bucket)""")
      s.sql(s"INSERT INTO $cat.po SELECT * FROM q224_src")
      val wh = s.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/po"
      val before = graft.io.DeltaRead.snapshot(s, wh).files
        .filterNot(_.partitionValues.get("bucket").contains("2"))
        .map(_.path).toSet
      val v0 = graft.io.DeltaRead.latestVersion(wh)
      s.sql(s"""INSERT OVERWRITE $cat.po PARTITION (bucket = '2')
        SELECT o_orderkey, o_totalprice + 100.0
        FROM q224_src WHERE o_orderkey % 4 = 2 AND o_orderkey % 3 = 0""")
      val oneCommit = graft.io.DeltaRead.latestVersion(wh) == v0 + 1
      val after = graft.io.DeltaRead.snapshot(s, wh).files
        .filterNot(_.partitionValues.get("bucket").contains("2"))
        .map(_.path).toSet
      import org.apache.spark.sql.functions.lit
      s.sql(s"""SELECT bucket, count(*) AS n,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM $cat.po GROUP BY bucket ORDER BY bucket""")
        .withColumn("untouched", lit(before == after))
        .withColumn("one_commit", lit(oneCommit))
    },
    Some("""WITH fin AS (
           |  SELECT CAST(o_orderkey % 4 AS VARCHAR) AS bucket,
           |         CASE WHEN o_orderkey % 4 = 2 THEN o_totalprice + 100.0
           |              ELSE o_totalprice END AS p
           |  FROM orders
           |  WHERE o_orderkey % 4 <> 2 OR o_orderkey % 3 = 0)
           |SELECT bucket, count(*) AS n,
           |  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents,
           |  true AS untouched, true AS one_commit
           |FROM fin GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** q225 — the GENERAL SQL MERGE ([[graft.plans.GraftSqlDmlRule]] →
    * [[graft.io.DeltaWrite.mergeAdvanced]]): ordered first-match-wins
    * clauses, a PARTIAL `SET` whose RHS reads both rows (the SCD shape
    * the star-only merge refused), target-referencing clause
    * conditions, a partial-column INSERT (unnamed → NULL), and
    * `WHEN NOT MATCHED BY SOURCE` (the full-sync shape). The oracle
    * recomputes the final state arithmetically from `orders`; revenue
    * compares as integer cents. */
  val q225MergeGeneral = GQuery(
    "q225_merge_general",
    (s, d) => withFreshCatalog(s, "q225") { cat =>
      s.read.parquet(s"$d/orders.parquet")
        .selectExpr("CAST(o_orderkey AS BIGINT) AS o_orderkey",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
          "o_orderstatus AS status")
        .createOrReplaceTempView("q225_src")
      s.sql(s"""CREATE TABLE $cat.gm (o_orderkey BIGINT, cents BIGINT,
        status STRING) USING `graft-delta`""")
      s.sql(s"INSERT INTO $cat.gm SELECT * FROM q225_src")
      s.sql(s"""MERGE INTO $cat.gm t
        USING (SELECT o_orderkey, o_orderkey % 100 AS bonus
               FROM q225_src WHERE o_orderkey % 3 = 0
               UNION ALL
               SELECT o_orderkey + 30000000, 7 AS bonus
               FROM q225_src WHERE o_orderkey % 30 = 0) s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND t.cents % 2 = 0 THEN UPDATE SET cents = t.cents + s.bonus
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (o_orderkey, cents) VALUES (s.o_orderkey, s.bonus)
        WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 5 = 0
          THEN UPDATE SET status = 'flagged'""")
      s.sql(s"""SELECT coalesce(status, 'new') AS status, count(*) AS n,
        CAST(sum(cents) AS BIGINT) AS cents
        FROM $cat.gm GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH base AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS k,
           |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           |         o_orderstatus AS status FROM orders),
           |fin AS (
           |  SELECT CASE WHEN k % 3 = 0 AND cents % 2 = 0 THEN cents + (k % 100)
           |              ELSE cents END AS cents,
           |         CASE WHEN k % 3 <> 0 AND k % 5 = 0 THEN 'flagged'
           |              ELSE status END AS status
           |  FROM base WHERE NOT (k % 3 = 0 AND cents % 2 <> 0)
           |  UNION ALL
           |  SELECT 7 AS cents, 'new' AS status FROM base WHERE k % 30 = 0)
           |SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
           |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q226 — SQL SCHEMA EVOLUTION through the catalog
    * ([[graft.io.v2.GraftCatalog]] `alterTable` →
    * [[graft.io.DeltaWrite.addColumn]]/`widenColumnType`): ADD COLUMN
    * is one metaData JSON line (pre-add files serve NULL — at 100 TB a
    * column add must never re-ingest), ALTER COLUMN TYPE widens
    * INT→BIGINT log-only, and inserts straddling the evolution land
    * under the evolved schema. The oracle recomputes from `documents`:
    * even doc_ids predate the add (NULL quality), odd ones carry
    * quality = n_chars * 0.5. */
  val q226SchemaEvolution = GQuery(
    "q226_sql_schema_evolution",
    (s, d) => withFreshCatalog(s, "q226") { cat =>
      s.read.parquet(s"$d/documents.parquet")
        .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "lang",
          "CAST(n_chars AS INT) AS n_chars")
        .createOrReplaceTempView("q226_src")
      s.sql(s"""CREATE TABLE $cat.ev (doc_id BIGINT, lang STRING,
        n_chars INT) USING `graft-delta`""")
      s.sql(s"INSERT INTO $cat.ev SELECT * FROM q226_src WHERE doc_id % 2 = 0")
      s.sql(s"ALTER TABLE $cat.ev ADD COLUMNS (quality DOUBLE)")
      s.sql(s"ALTER TABLE $cat.ev ALTER COLUMN n_chars TYPE BIGINT")
      s.sql(s"""INSERT INTO $cat.ev SELECT doc_id, lang,
        CAST(n_chars AS BIGINT), n_chars * 0.5
        FROM q226_src WHERE doc_id % 2 = 1""")
      s.sql(s"""SELECT lang, count(*) AS n,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        count(quality) AS n_quality,
        CAST(sum(CAST(round(coalesce(quality, 0) * 10) AS BIGINT)) AS BIGINT) AS q10
        FROM $cat.ev GROUP BY lang ORDER BY lang""")
    },
    Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |  count(*) FILTER (WHERE doc_id % 2 = 1) AS n_quality,
           |  CAST(sum(CASE WHEN doc_id % 2 = 1
           |                THEN CAST(round(n_chars * 0.5 * 10) AS BIGINT)
           |                ELSE 0 END) AS BIGINT) AS q10
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** q227 — SQL MAINTENANCE entry points ([[graft.plans
    * .GraftMaintenanceParser]]): a pure-SQL nightly — three small
    * inserts, `OPTIMIZE ... ZORDER BY` (declares clustering, compacts
    * and re-clusters in `dataChange=false` commits), `RESTORE TABLE ...
    * TO VERSION AS OF 2` (a NEW head reinstating the two-insert state),
    * and `VACUUM ... RETAIN 0 HOURS` (reclaims the orphaned rewrites
    * while live files survive — the writer clamps to the oldest
    * resolvable version). `compacted` pins that OPTIMIZE really
    * reduced the file count; the count/sum pin that restore+vacuum
    * land exactly on the version-2 row set. */
  val q227SqlMaintenance = GQuery(
    "q227_sql_maintenance",
    (s, d) => withFreshCatalog(s, "q227") { cat =>
      s.read.parquet(s"$d/orders.parquet")
        .selectExpr("CAST(o_orderkey AS BIGINT) AS o_orderkey",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
        .createOrReplaceTempView("q227_src")
      s.sql(s"""CREATE TABLE $cat.mx (o_orderkey BIGINT, cents BIGINT)
        USING `graft-delta`""")
      (0 to 2).foreach(r => s.sql(
        s"INSERT INTO $cat.mx SELECT * FROM q227_src WHERE o_orderkey % 3 = $r"))
      val wh = s.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/mx"
      val filesBefore = graft.io.DeltaRead.snapshot(s, wh).files.size
      s.sql(s"OPTIMIZE $cat.mx ZORDER BY (o_orderkey)")
      val filesAfter = graft.io.DeltaRead.snapshot(s, wh).files.size
      s.sql(s"RESTORE TABLE $cat.mx TO VERSION AS OF 2")
      s.sql(s"VACUUM $cat.mx RETAIN 0 HOURS")
      // DESCRIBE HISTORY pins the audit surface: CREATE(0) + 3 INSERTs
      // + CLUSTER BY + OPTIMIZE + RESTORE = 7 commits, newest first
      // (VACUUM reclaims without committing)
      val hist = s.sql(s"DESCRIBE HISTORY $cat.mx").collect()
      import org.apache.spark.sql.functions.lit
      s.sql(s"""SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        FROM $cat.mx""")
        .withColumn("compacted", lit(filesAfter < filesBefore))
        .withColumn("n_commits", lit(hist.length.toLong))
        .withColumn("newest_op", lit(hist.head.getString(2)))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           |  true AS compacted, CAST(7 AS BIGINT) AS n_commits,
           |  'RESTORE' AS newest_op
           |FROM orders WHERE o_orderkey % 3 IN (0, 1)""".stripMargin))

  /** q228 — BATCH change-data-feed through pure SQL
    * ([[graft.io.v2.CdfBatchRelation]] behind `readChangeFeed 'true'`,
    * Delta's own option shape): a CDF-enabled documents table takes an
    * append and a DV delete; a temp view over versions [2, head]
    * aggregates the exact change rows per `_change_type` — the
    * incremental-consumer door that needs no Scala and no stream. The
    * oracle recomputes both populations from `documents` (inserts =
    * the odd-id append; deletes = the id%10==3 rows, all of which are
    * odd and therefore present). */
  val q228CdfBatchSql = GQuery(
    "q228_cdf_batch_sql",
    (s, d) => {
      import s.implicits._
      val t = graft.io.Staging.tempDir("graft_q228_")
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"n_chars")
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 0).repartition(2), t)  // v0
      graft.io.DeltaWrite.setProperties(s, t,
        Map("delta.enableChangeDataFeed" -> "true"))                   // v1
      graft.io.DeltaWrite.append(
        docs.filter(pmod($"doc_id", lit(2)) === 1).repartition(2), t)  // v2
      graft.io.DeltaWrite.deleteWhere(s, t,
        pmod($"doc_id", lit(10)) === 3)                                // v3
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW q228_ch
        USING `graft-delta` OPTIONS (path '$t', readChangeFeed 'true',
        startingVersion '2')""")
      s.sql("""SELECT _change_type AS ct, count(*) AS n,
              |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
              |FROM q228_ch GROUP BY 1 ORDER BY 1""".stripMargin)
    },
    Some("""SELECT 'delete' AS ct, count(*) AS n,
           |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
           |FROM documents WHERE doc_id % 10 = 3
           |UNION ALL
           |SELECT 'insert' AS ct, count(*) AS n,
           |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
           |FROM documents WHERE doc_id % 2 = 1
           |ORDER BY ct""".stripMargin))

  /** q229 — `MERGE WITH SCHEMA EVOLUTION` in one SQL statement: Spark's
    * analyzer diffs source vs target and commits the missing column
    * through [[graft.io.v2.GraftCatalog]] `alterTable` →
    * [[graft.io.DeltaWrite.addColumns]] (ONE metaData-only commit —
    * pre-merge rows serve NULL), then the merge runs against the
    * evolved table. The commit-trail pins make the mechanism auditable:
    * exactly one ADD COLUMN commit, MERGE as the head — the same log
    * the explicit two-statement form (q226's ALTER then MERGE) leaves.
    * The oracle recomputes the final state from `documents`: evens
    * seeded the table; every multiple of 4 got tagged by the matched
    * update; odd multiples of 3 arrived via insert WITH the new
    * column. */
  val q229MergeSchemaEvolution = GQuery(
    "q229_merge_schema_evolution",
    (s, d) => withFreshCatalog(s, "q229") { cat =>
      s.read.parquet(s"$d/documents.parquet")
        .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "lang",
          "CAST(n_chars AS BIGINT) AS n_chars")
        .createOrReplaceTempView("q229_src")
      s.sql(s"""CREATE TABLE $cat.me (doc_id BIGINT, n_chars BIGINT)
        USING `graft-delta`""")
      s.sql(s"INSERT INTO $cat.me SELECT doc_id, n_chars FROM q229_src " +
        "WHERE doc_id % 2 = 0")
      s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.me t
        USING (SELECT doc_id, n_chars, lang AS tag FROM q229_src
               WHERE doc_id % 4 = 0
               UNION ALL
               SELECT doc_id, n_chars, lang AS tag FROM q229_src
               WHERE doc_id % 2 = 1 AND doc_id % 3 = 0) s
        ON t.doc_id = s.doc_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      val hist = s.sql(s"DESCRIBE HISTORY $cat.me").collect()
        .map(_.getString(2)).toSeq
      import org.apache.spark.sql.functions.lit
      s.sql(s"""SELECT coalesce(tag, 'none') AS tag, count(*) AS n,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM $cat.me GROUP BY 1 ORDER BY 1""")
        .withColumn("add_commits",
          lit(hist.count(_.startsWith("ADD COLUMN")).toLong))
        .withColumn("head_op", lit(hist.head))
    },
    Some("""WITH fin AS (
           |  SELECT CASE WHEN doc_id % 4 = 0 THEN lang END AS tag, n_chars
           |  FROM documents WHERE doc_id % 2 = 0
           |  UNION ALL
           |  SELECT lang AS tag, n_chars FROM documents
           |  WHERE doc_id % 2 = 1 AND doc_id % 3 = 0)
           |SELECT coalesce(tag, 'none') AS tag, count(*) AS n,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |  CAST(1 AS BIGINT) AS add_commits, 'MERGE' AS head_op
           |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q230 — SHALLOW CLONE through pure SQL ([[graft.plans
    * .GraftCloneCommand]] → [[graft.io.DeltaWrite.shallowClone]]): a
    * seeded table takes two inserts; `CREATE TABLE c SHALLOW CLONE s
    * VERSION AS OF 1` pins the FIRST insert with ZERO data files
    * copied (the `zero_copy` pin counts parquet under the clone's
    * root); the source then diverges (third insert) without showing
    * through; the clone takes a deletion-vector DELETE — the bitmap
    * masks rows in the SOURCE's files, read through absolute add
    * paths — and an OPTIMIZE that LOCALIZES the clone (the
    * `localized` pin asserts no absolute entry survives). The oracle
    * recomputes both sides from `orders`. */
  val q230ShallowClone = GQuery(
    "q230_shallow_clone",
    (s, d) => withFreshCatalog(s, "q230") { cat =>
      s.read.parquet(s"$d/orders.parquet")
        .selectExpr("CAST(o_orderkey AS BIGINT) AS o_orderkey",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
        .createOrReplaceTempView("q230_src")
      s.sql(s"""CREATE TABLE $cat.s (o_orderkey BIGINT, cents BIGINT)
        USING `graft-delta`""")                                        // v0
      s.sql(s"INSERT INTO $cat.s SELECT * FROM q230_src WHERE o_orderkey % 3 = 0")
      s.sql(s"INSERT INTO $cat.s SELECT * FROM q230_src WHERE o_orderkey % 3 = 1")
      s.sql(s"CREATE TABLE $cat.c SHALLOW CLONE $cat.s VERSION AS OF 1")
      val whC = s.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/c"
      val copied = {
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(whC))
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.count(p =>
            p.getFileName.toString.endsWith(".parquet") &&
              !p.startsWith(java.nio.file.Paths.get(whC, "_delta_log")))
        } finally st.close()
      }
      // the source diverging must not show through the pinned clone
      s.sql(s"INSERT INTO $cat.s SELECT * FROM q230_src WHERE o_orderkey % 3 = 2")
      // a DV delete on the clone masks rows inside the SOURCE's files
      s.sql(s"DELETE FROM $cat.c WHERE o_orderkey % 5 = 0")
      s.sql(s"OPTIMIZE $cat.c")
      val localized = graft.io.DeltaRead.snapshot(s, whC).files
        .forall(f => !java.nio.file.Paths.get(f.path).isAbsolute)
      import org.apache.spark.sql.functions.lit
      s.sql(s"""SELECT 'clone' AS side, count(*) AS n,
          CAST(sum(cents) AS BIGINT) AS cents FROM $cat.c
        UNION ALL
        SELECT 'source' AS side, count(*) AS n,
          CAST(sum(cents) AS BIGINT) AS cents FROM $cat.s
        ORDER BY side""")
        .withColumn("zero_copy", lit(copied == 0))
        .withColumn("localized", lit(localized))
    },
    Some("""WITH src AS (
           |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           |  FROM orders)
           |SELECT 'clone' AS side, count(*) AS n,
           |  CAST(sum(cents) AS BIGINT) AS cents,
           |  true AS zero_copy, true AS localized
           |FROM src WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0
           |UNION ALL
           |SELECT 'source' AS side, count(*) AS n,
           |  CAST(sum(cents) AS BIGINT) AS cents,
           |  true AS zero_copy, true AS localized
           |FROM src
           |ORDER BY side""".stripMargin))

  /** q231 — COPY INTO through pure SQL ([[graft.plans
    * .GraftCopyIntoCommand]] → [[graft.io.DeltaWrite.copyInto]]): two
    * parquet drops land under a staging dir; the first COPY loads
    * both, the second is an exact no-op (0 files, NO commit), a third
    * drop arriving later loads alone on the next COPY — the
    * mtime-watermark + tie-set ledger (a `graft.copyInto.*` domain +
    * SetTransaction generation) doing idempotent ingestion with O(1)
    * state. The oracle recomputes the final row set from `orders`. */
  val q231CopyInto = GQuery(
    "q231_copy_into",
    (s, d) => withFreshCatalog(s, "q231") { cat =>
      val src = graft.io.Staging.tempDir("graft_q231_src_")
      val orders = s.read.parquet(s"$d/orders.parquet")
        .selectExpr("CAST(o_orderkey AS BIGINT) AS o_orderkey",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      orders.filter("o_orderkey % 3 = 0").coalesce(1)
        .write.parquet(s"$src/drop_a")
      orders.filter("o_orderkey % 3 = 1").coalesce(1)
        .write.parquet(s"$src/drop_b")
      s.sql(s"""CREATE TABLE $cat.t (o_orderkey BIGINT, cents BIGINT)
        USING `graft-delta`""")
      val r1 = s.sql(s"COPY INTO $cat.t FROM '$src' FILEFORMAT = PARQUET")
        .collect().head
      val r2 = s.sql(s"COPY INTO $cat.t FROM '$src' FILEFORMAT = PARQUET")
        .collect().head
      Thread.sleep(5) // a strictly newer mtime for the late drop
      orders.filter("o_orderkey % 3 = 2").coalesce(1)
        .write.parquet(s"$src/drop_c")
      val r3 = s.sql(s"COPY INTO $cat.t FROM '$src' FILEFORMAT = PARQUET")
        .collect().head
      import org.apache.spark.sql.functions.lit
      s.sql(s"""SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
        CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys FROM $cat.t""")
        .withColumn("first_files", lit(r1.getInt(2).toLong))
        .withColumn("noop_files", lit(r2.getInt(2).toLong))
        .withColumn("late_files", lit(r3.getInt(2).toLong))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           |  CAST(2 AS BIGINT) AS first_files,
           |  CAST(0 AS BIGINT) AS noop_files,
           |  CAST(1 AS BIGINT) AS late_files
           |FROM orders""".stripMargin))

  /** q232 — NESTED schema evolution through pure SQL
    * ([[graft.io.v2.GraftCatalog.alterTable]] nested AddColumn →
    * metaData-only commit): a struct-typed table takes pre-add rows,
    * `ALTER TABLE ... ADD COLUMNS (meta.quality DOUBLE)` lands as ONE
    * JSON line (the `evo_files` pin counts data files across the
    * evolution — unchanged), pre-add rows serve the nested field as
    * NULL, and post-add rows carry real values — the struct-first
    * engine's natural DDL ask (variant shredding and multimodal
    * metadata are struct columns). Oracle recomputes from
    * `documents`. */
  val q232NestedAddSql = GQuery(
    "q232_nested_add_sql",
    (s, d) => withFreshCatalog(s, "q232") { cat =>
      s.read.parquet(s"$d/documents.parquet")
        .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "lang",
          "CAST(n_chars AS BIGINT) AS n_chars")
        .createOrReplaceTempView("q232_src")
      s.sql(s"""CREATE TABLE $cat.n (doc_id BIGINT,
        meta STRUCT<lang: STRING, n_chars: BIGINT>) USING `graft-delta`""")
      s.sql(s"""INSERT INTO $cat.n SELECT doc_id,
        named_struct('lang', lang, 'n_chars', n_chars)
        FROM q232_src WHERE doc_id % 2 = 0""")
      val whN = s.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/n"
      val filesBefore = graft.io.DeltaRead.snapshot(s, whN).files.size
      s.sql(s"ALTER TABLE $cat.n ADD COLUMNS (meta.quality DOUBLE)")
      val filesAfter = graft.io.DeltaRead.snapshot(s, whN).files.size
      s.sql(s"""INSERT INTO $cat.n SELECT doc_id,
        named_struct('lang', lang, 'n_chars', n_chars,
          'quality', CAST(n_chars AS DOUBLE) / 100.0)
        FROM q232_src WHERE doc_id % 2 = 1""")
      import org.apache.spark.sql.functions.lit
      s.sql(s"""SELECT (meta.quality IS NULL) AS pre_add, count(*) AS n,
          CAST(sum(meta.n_chars) AS BIGINT) AS sum_chars,
          CAST(round(coalesce(sum(meta.quality), 0) * 100) AS BIGINT) AS q100
        FROM $cat.n GROUP BY 1 ORDER BY 1""")
        .withColumn("metadata_only", lit(filesBefore == filesAfter))
    },
    Some("""SELECT (doc_id % 2 = 0) AS pre_add, count(*) AS n,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |  CAST(round(coalesce(sum(CASE WHEN doc_id % 2 = 1
           |    THEN CAST(n_chars AS DOUBLE) / 100.0 END), 0) * 100) AS BIGINT) AS q100,
           |  true AS metadata_only
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q237 — ADD COLUMN ... DEFAULT through pure SQL
    * ([[graft.io.DeltaWrite.addColumns]] with `defaultSql` +
    * [[graft.io.DeltaRead.ColumnMapping.physicalize]] metadata
    * carry-through): ONE metadata commit adds a defaulted column —
    * zero data files rewritten (pinned via the `metadata_only`
    * column) — and rows predating the add serve the alter-time value
    * through the parquet reader's EXISTS_DEFAULT fill, not null.
    * `ALTER COLUMN ... SET DEFAULT` then moves CURRENT_DEFAULT for
    * future inserts only. The oracle recomputes both default tiers
    * from `documents`. */
  val q237AddColumnDefault = GQuery(
    "q237_add_column_default",
    (s, d) => withFreshCatalog(s, "q237") { cat =>
      s.read.parquet(s"$d/documents.parquet")
        .selectExpr("CAST(doc_id AS BIGINT) AS doc_id",
          "CAST(n_chars AS BIGINT) AS n_chars")
        .createOrReplaceTempView("q237_src")
      s.sql(s"CREATE TABLE $cat.cd (doc_id BIGINT, n_chars BIGINT) " +
        "USING `graft-delta`")
      s.sql(s"INSERT INTO $cat.cd SELECT doc_id, n_chars FROM q237_src " +
        "WHERE doc_id % 2 = 0")
      val whT = s.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/cd"
      val filesBefore = graft.io.DeltaRead.snapshot(s, whT).files.map(_.path).toSet
      s.sql(s"ALTER TABLE $cat.cd ADD COLUMN boost DOUBLE DEFAULT 2.5")
      val filesAfter = graft.io.DeltaRead.snapshot(s, whT).files.map(_.path).toSet
      // future inserts re-evaluate CURRENT_DEFAULT; pre-add rows keep
      // serving the ADD-time 2.5
      s.sql(s"ALTER TABLE $cat.cd ALTER COLUMN boost SET DEFAULT 7.5")
      s.sql(s"INSERT INTO $cat.cd (doc_id, n_chars) " +
        "SELECT doc_id, n_chars FROM q237_src WHERE doc_id % 2 = 1")
      import org.apache.spark.sql.functions.lit
      s.sql(s"""SELECT CAST(boost * 10 AS BIGINT) AS boost10,
          count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM $cat.cd GROUP BY 1 ORDER BY 1""")
        .withColumn("metadata_only", lit(filesBefore == filesAfter))
    },
    Some("""SELECT CAST((CASE WHEN doc_id % 2 = 0 THEN 2.5 ELSE 7.5 END) * 10
           |    AS BIGINT) AS boost10,
           |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |  true AS metadata_only
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q238 — DEEP CLONE through pure SQL ([[graft.plans
    * .GraftCloneCommand]] → [[graft.io.DeltaWrite.deepClone]]): clone a
    * live table, then DESTROY the source entirely — the deep clone must
    * serve the full row set from its own copied files (relative adds,
    * bounded-pool copy). The oracle recomputes the aggregate from
    * `orders` directly. */
  val q238DeepClone = GQuery(
    "q238_deep_clone",
    (s, d) => {
      val base = graft.io.Staging.tempDir("graft_q238_")
      val src = s"$base/src"; val dst = s"$base/dst"
      s.read.parquet(s"$d/orders.parquet")
        .selectExpr("CAST(o_orderkey AS BIGINT) AS o_orderkey",
          "o_orderstatus AS status",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
          "CAST(o_orderkey % 3 AS STRING) AS bucket")
        .createOrReplaceTempView("q238_src")
      graft.io.DeltaWrite.append(s.table("q238_src"), src, partitionBy = Seq("bucket"))
      val row = s.sql(s"CREATE TABLE '$dst' DEEP CLONE '$src'").collect().head
      require(row.getLong(3) == 0L, "deep clone must land as version 0")
      // the proof: the source is gone, the clone serves everything
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(src))
      import org.apache.spark.sql.functions.lit
      val relative = graft.io.DeltaRead.snapshot(s, dst).files
        .forall(f => !java.nio.file.Paths.get(f.path).isAbsolute)
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW q238_c USING `graft-delta`
        OPTIONS (path '$dst')""")
      s.sql("""SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        FROM q238_c GROUP BY status ORDER BY status""")
        .withColumn("self_contained", lit(relative))
    },
    Some("""SELECT o_orderstatus AS status, count(*) AS n,
           |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           |  true AS self_contained
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q239 — AUTO OPTIMIZE honored as writer behavior
    * ([[graft.io.DeltaWrite]] `delta.autoOptimize.optimizeWrite` /
    * `autoCompact`): a deliberately fragmented 16-task append lands as
    * one file per partition under optimizeWrite, and a drip-feed of
    * single-row appends keeps each partition's live file count at the
    * compaction floor instead of growing one file per append. File
    * counts ride literal columns; the oracle recomputes the data. */
  val q239AutoOptimize = GQuery(
    "q239_auto_optimize",
    (s, d) => {
      val t = graft.io.Staging.tempDir("graft_q239_") + "/t"
      val src = s.read.parquet(s"$d/orders.parquet")
        .selectExpr("CAST(o_orderkey AS BIGINT) AS o_orderkey",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
          "CAST(o_orderkey % 2 AS STRING) AS bucket")
      graft.io.DeltaWrite.append(src.limit(0), t, partitionBy = Seq("bucket"))
      graft.io.DeltaWrite.setProperties(s, t, Map(
        "delta.autoOptimize.optimizeWrite" -> "true",
        "delta.autoOptimize.autoCompact" -> "true",
        "graft.autoCompact.minNumFiles" -> "4"))
      graft.io.DeltaWrite.append(src.where("o_orderkey % 7 <> 0").repartition(16),
        t, partitionBy = Seq("bucket"))
      val afterBig = graft.io.DeltaRead.snapshot(s, t).files.size
      // 6 drip appends into bucket 0 (o_orderkey % 7 = 0 rows, % 2 = 0)
      val drip = src.where("o_orderkey % 7 = 0").orderBy("o_orderkey")
        .limit(60).collect()
      drip.grouped(10).zipWithIndex.foreach { case (rows, _) =>
        import s.implicits._
        graft.io.DeltaWrite.append(
          rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
            .toDF("o_orderkey", "cents", "bucket"),
          t, partitionBy = Seq("bucket"))
      }
      val perPartMax = graft.io.DeltaRead.snapshot(s, t).files
        .groupBy(_.partitionValues).map(_._2.size).max
      import org.apache.spark.sql.functions.lit
      graft.io.DeltaRead.read(s, t)
        .createOrReplaceTempView("q239_t")
      s.sql("""SELECT bucket, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        FROM q239_t GROUP BY bucket ORDER BY bucket""")
        .withColumn("optimize_write_one_file_per_bucket", lit(afterBig == 2))
        .withColumn("auto_compact_bounded", lit(perPartMax <= 4))
    },
    Some("""WITH rows AS (
           |  SELECT CAST(o_orderkey % 2 AS VARCHAR) AS bucket,
           |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           |  FROM orders WHERE o_orderkey % 7 <> 0
           |  UNION ALL
           |  SELECT CAST(o_orderkey % 2 AS VARCHAR) AS bucket,
           |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           |  FROM (SELECT * FROM orders WHERE o_orderkey % 7 = 0
           |        ORDER BY o_orderkey LIMIT 60))
           |SELECT bucket, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
           |  true AS optimize_write_one_file_per_bucket,
           |  true AS auto_compact_bounded
           |FROM rows GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** q240 — VERSION CHECKSUMS end-to-end
    * ([[graft.io.DeltaWrite]] `writeVersionChecksum` /
    * [[graft.io.DeltaWrite.verifyChecksum]]): every commit kind
    * (append, DV delete, compaction, merge) leaves a `<v>.crc` digest
    * whose numFiles/tableSizeBytes agree with the independently
    * resolved snapshot, and a doctored digest trips. The verification
    * outcomes ride literal columns; the oracle recomputes the final
    * table state from `orders`. */
  val q240VersionChecksum = GQuery(
    "q240_version_checksum",
    (s, d) => {
      val t = graft.io.Staging.tempDir("graft_q240_") + "/t"
      s.read.parquet(s"$d/orders.parquet")
        .selectExpr("CAST(o_orderkey AS BIGINT) AS o_orderkey",
          "o_orderstatus AS status",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
        .createOrReplaceTempView("q240_src")
      graft.io.DeltaWrite.append(
        s.table("q240_src").where("o_orderkey % 2 = 0"), t)          // v0
      graft.io.DeltaWrite.append(
        s.table("q240_src").where("o_orderkey % 2 = 1"), t)          // v1
      import org.apache.spark.sql.functions.{col, lit}
      graft.io.DeltaWrite.deleteWhere(s, t, col("o_orderkey") % 10 === 0) // v2
      graft.io.DeltaWrite.compact(s, t)                              // v3
      val allVerify = (0L to 3L).forall(v =>
        graft.io.DeltaWrite.verifyChecksum(s, t, Some(v)).contains(Nil))
      // a doctored digest must trip (then restore it for hygiene)
      val crc = java.nio.file.Paths.get(t, "_delta_log", f"${3L}%020d.crc")
      val original = java.nio.file.Files.readAllBytes(crc)
      java.nio.file.Files.write(crc, new String(original, "UTF-8")
        .replaceAll(""""numFiles":\d+""", "\"numFiles\":12345")
        .getBytes("UTF-8"))
      val tripped = graft.io.DeltaWrite.verifyChecksum(s, t, Some(3L))
        .exists(_.nonEmpty)
      java.nio.file.Files.write(crc, original)
      graft.io.DeltaRead.read(s, t).createOrReplaceTempView("q240_t")
      s.sql("""SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        FROM q240_t GROUP BY status ORDER BY status""")
        .withColumn("digests_verify", lit(allVerify))
        .withColumn("tamper_trips", lit(tripped))
    },
    Some("""SELECT o_orderstatus AS status, count(*) AS n,
           |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           |  true AS digests_verify, true AS tamper_trips
           |FROM orders WHERE o_orderkey % 10 <> 0
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q234 — CONVERT TO DELTA through pure SQL
    * ([[graft.plans.GraftConvertCommand]] →
    * [[graft.io.DeltaWrite.convertToDelta]]): a Hive-partitioned plain
    * parquet directory becomes a Delta table IN PLACE (no data read or
    * moved; footer stats harvested at version 0), then proves itself a
    * full citizen — a DV DELETE lands through a `graft-delta` temp
    * view and the final per-bucket aggregate reads through the log.
    * The oracle recomputes from `orders`. */
  val q234ConvertToDelta = GQuery(
    "q234_convert_to_delta",
    (s, d) => {
      val t = graft.io.Staging.tempDir("graft_q234_")
      val dir = s"$t/plain"
      s.read.parquet(s"$d/orders.parquet")
        .selectExpr("CAST(o_orderkey AS BIGINT) AS o_orderkey",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
          "CAST(o_orderkey % 4 AS INT) AS bucket")
        .write.partitionBy("bucket").parquet(dir)
      val conv = s.sql(
        s"CONVERT TO DELTA '$dir' PARTITIONED BY (bucket INT)").collect().head
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW q234_t
        USING `graft-delta` OPTIONS (path '$dir')""")
      s.sql("DELETE FROM q234_t WHERE bucket = 3")
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      // fresh relation: the temp view resolved its snapshot at CREATE
      // VIEW time (statement-pinned reads); the post-DELETE state needs
      // a new resolution
      s.read.format("graft-delta").load(dir)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).cast("long").as("cents"))
        .withColumn("converted_files_gt0", lit(conv.getLong(1) > 0))
        .orderBy(col("bucket"))
    },
    Some("""SELECT CAST(o_orderkey % 4 AS INT) AS bucket, count(*) AS n,
           |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           |  true AS converted_files_gt0
           |FROM orders WHERE o_orderkey % 4 <> 3
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q236 — the FLUENT handle API end-to-end
    * ([[graft.io.GraftDeltaTable]]): seed → ordered-clause merge
    * builder (conditional DELETE, partial UPDATE, INSERT, NOT MATCHED
    * BY SOURCE tag) → optimize().executeCompaction() → history — the
    * third door (Scala writer, SQL, fluent handle) exercised through
    * the registry with the SAME oracle discipline as the other two.
    * The oracle recomputes the final state from `orders`. */
  val q236FluentApi = GQuery(
    "q236_fluent_api",
    (s, d) => {
      import org.apache.spark.sql.functions.{col, lit}
      val t = graft.io.Staging.tempDir("graft_q236_") + "/t"
      val orders = s.read.parquet(s"$d/orders.parquet")
        .selectExpr("CAST(o_orderkey AS BIGINT) AS o_orderkey",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
          "o_orderstatus AS status")
      graft.io.DeltaWrite.append(
        orders.filter("o_orderkey % 2 = 0").repartition(4), t)
      val dt = graft.io.GraftDeltaTable.forPath(s, t)
      val src = orders.filter("o_orderkey % 3 = 0")
      dt.merge(src, Seq("o_orderkey"))
        // matched multiples of 6: tiny sources purge, others re-tag
        .whenMatched(graft.io.DeltaWrite.mergeSrc("cents") < 100000L).delete()
        .whenMatched().update(Map("status" -> lit("M")))
        .whenNotMatched().insertAll()
        .whenNotMatchedBySource(col("o_orderkey") % 10 === 4L)
          .update(Map("status" -> lit("S")))
        .execute()
      dt.optimize().executeCompaction()
      val ops = dt.history().map(_._3.getOrElse("?"))
      dt.toDF.groupBy(col("status")).agg(
          org.apache.spark.sql.functions.count(lit(1)).as("n"),
          org.apache.spark.sql.functions.sum(col("cents")).cast("long").as("cents"))
        .withColumn("n_commits", lit(ops.length.toLong))
        .withColumn("head_op", lit(ops.head))
        .orderBy(col("status"))
    },
    Some("""WITH src AS (
           |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           |         o_orderstatus AS status
           |  FROM orders),
           |seeded AS (SELECT * FROM src WHERE o_orderkey % 2 = 0),
           |fin AS (
           |  -- matched (even AND %3): cents<100000 deleted, else status='M'
           |  SELECT o_orderkey, cents, 'M' AS status FROM seeded
           |  WHERE o_orderkey % 3 = 0 AND cents >= 100000
           |  UNION ALL
           |  -- unmatched-by-source evens (not %3): %10=4 re-tagged 'S'
           |  SELECT o_orderkey, cents,
           |         CASE WHEN o_orderkey % 10 = 4 THEN 'S' ELSE status END
           |  FROM seeded WHERE o_orderkey % 3 <> 0
           |  UNION ALL
           |  -- inserts: odd multiples of 3 arrive whole
           |  SELECT o_orderkey, cents, status FROM src
           |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 1)
           |SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
           |  CAST(3 AS BIGINT) AS n_commits, 'OPTIMIZE' AS head_op
           |FROM fin GROUP BY status ORDER BY status""".stripMargin))

  val all: Seq[GQuery] = Seq(
    q234ConvertToDelta, q236FluentApi,
    q130SnapshotDiff, q131IncrementalAgg, q132SchemaEvolution,
    q133KAnonymity, q134GdprErasure, q147CompactionPlan,
    q148ZorderLayout, q149ColumnStats, q160PruningSim,
    q163OrcRoundtrip, q164PartitionPruning, q166CorruptTolerance,
    q177TxTable, q179DeltaRead, q180DeltaRoundtrip,
    q194DeltaChangefeed, q196CdfFold, q197MergeUpsert,
    q198DvErasure, q199CdfMirror, q200Restore, q202TableFeatures,
    q203CdfWrite, q206CdfReadStream, q207RowTracking, q208TypeWidening,
    q209Variant, q210ClusteredSkip, q215IncrementalView, q216LogCompaction,
    q217ShreddedVariant, q218Collations, q219SqlDatasource,
    q220SqlDml, q221CatalogSql, q222HllView, q223TableReadStream,
    q224ReplaceWhere, q225MergeGeneral, q226SchemaEvolution,
    q227SqlMaintenance, q228CdfBatchSql, q229MergeSchemaEvolution,
    q230ShallowClone, q231CopyInto, q232NestedAddSql, q237AddColumnDefault,
    q238DeepClone, q239AutoOptimize, q240VersionChecksum,
    q242ViewMaintainStream)
}
