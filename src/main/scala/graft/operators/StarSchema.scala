package graft.operators

import graft.Tables
import graft.functions.Normalize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Gold-layer star-schema builder — the Spark-first re-expression of
  * the reference's warehouse loader (loader_NeonDB.py:78-256 DDL +
  * :682-882 load_all, SURVEY §3 E3): dimensions with deterministic
  * surrogate keys, facts FK-joined to dims, all as one lazy lineage
  * graph (no per-row inserts, no driver loops).
  *
  * Surrogate keys, two strategies (SURVEY §7.4 hard part #1):
  *  - [[seqKey]]: contiguous SERIAL-style keys equal to a global
  *    `row_number() OVER (ORDER BY orderCol)` — but computed scale-safe:
  *    range-repartition on the key column, rank *within* each partition,
  *    then add the cumulative row-count offset of the partitions before
  *    it. No single-partition exchange (the naive global window moves
  *    the whole table through one reducer — `WindowExec: No Partition
  *    Defined`); the only driver-side data is one count per partition.
  *  - [[hashKey]]: xxhash64 of the natural key — fully parallel with no
  *    counting pass at all, the path when keys need no contiguity; not
  *    SERIAL-shaped, so not used where oracles compare key values.
  */
object StarSchema {

  /** Scalable contiguous surrogate key. `orderCol` must be unique
    * (dims are distinct on their natural key by construction) — with
    * ties, rows at a range-partition boundary could swap ranks vs the
    * single-partition formulation. Runs one small job eagerly (the
    * per-partition counts). The range-parted input MUST be persisted
    * while keys are assigned: repartitionByRange SAMPLES its
    * boundaries with a per-RDD-id seed, so without materialization the
    * counting job and the consumer job can split ranges differently
    * and the offsets silently mint duplicate keys (observed: 34 dup
    * fecha_ids). The KEYED result is then eagerly localCheckpoint-ed —
    * keys are frozen in materialized blocks, immune to any later
    * boundary re-sample — and the range-parted cache is released
    * immediately instead of pinning executor memory for the session's
    * lifetime; the checkpoint blocks themselves are freed by the
    * ContextCleaner when the returned frame goes unreferenced (the
    * memoized star holds its dims deliberately; per-call q18/q54
    * frames release with GC).
    */
  def seqKey(df: DataFrame, orderCol: String, keyName: String): DataFrame = {
    val nParts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val parted = df
      .repartitionByRange(nParts, col(orderCol))
      .withColumn("__pid", spark_partition_id())
      .persist()
    val counts = parted.groupBy(col("__pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1).zip(counts.scanLeft(0L)(_ + _._2).init)
    // partition id → rows-before-it, as a literal map expression (≤ nParts entries)
    val offsetOf =
      if (offsets.isEmpty) lit(0L)
      else element_at(
        map_from_arrays(
          array(offsets.map(o => lit(o._1)): _*),
          array(offsets.map(o => lit(o._2)): _*)),
        col("__pid"))
    val keyed = parted
      .withColumn("__local",
        row_number().over(Window.partitionBy(col("__pid")).orderBy(col(orderCol))))
      .withColumn(keyName, (offsetOf + col("__local")).cast("int"))
      .drop("__pid", "__local")
      .localCheckpoint(true)
    parted.unpersist()
    keyed
  }

  def hashKey(df: DataFrame, naturalKey: Seq[String], keyName: String): DataFrame =
    df.withColumn(keyName, xxhash64(naturalKey.map(col): _*))

  /** Surrogate-key strategy a dim builder applies: (df, naturalKeyCol,
    * keyName) → keyed df. [[seqKey]] is the reference-parity SERIAL
    * form (renumbers per rebuild); [[hashKeyOf]] is stable under
    * incremental growth — the continuous-ingestion path. */
  type KeyFn = (DataFrame, String, String) => DataFrame
  val hashKeyOf: KeyFn = (df, c, k) => hashKey(df, Seq(c), k)

  /** The union of every date column that will FK into dim_fecha — the
    * set-wise form of the reference's get-or-create fecha map
    * (loader_NeonDB.py:271-293 inserts any date a fact mentions), so no
    * fact row can be fecha-orphaned. Each (table, column) contributes
    * its non-null distinct dates.
    */
  def dateDomain(sources: (DataFrame, String)*): DataFrame =
    sources
      .map { case (df, c) =>
        df.select(col(c).cast("date").as("fecha")).where(col("fecha").isNotNull)
      }
      .reduce(_ union _)
      .distinct()

  /** dim_fecha from a date-domain frame (J5, loader_NeonDB.py:266-285). */
  def dimFecha(dates: DataFrame, key: KeyFn = seqKey): DataFrame =
    key(dates, "fecha", "fecha_id")
      .withColumn("anio", year(col("fecha")))
      .withColumn("mes", month(col("fecha")))
      .withColumn("trimestre", quarter(col("fecha")))
      .withColumn("dia_semana", Normalize.dayOfWeekMonday0(col("fecha")))
      .withColumn("es_fin_semana", Normalize.isWeekend(col("fecha")))

  /** dim_customer with nation/region denormalized in (snowflake→star
    * flattening; both small → broadcast). */
  def dimCustomer(customer: DataFrame, nation: DataFrame, region: DataFrame,
      key: KeyFn = seqKey): DataFrame =
    key(
      customer
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("n_name").as("nation"), col("r_name").as("region")),
      "c_custkey", "customer_sk")

  /** Seeded catalog dimension (loader_NeonDB.py:118-132 seeds
    * dim_videojuego from a literal list): category → genre. 'General'
    * is deliberately absent so lookups exercise the default path (the
    * reference's 'Other Gaming' lookup returns null — SURVEY §2.3 J2
    * note; we coalesce to a real default instead). */
  val CategoryCatalog: Seq[(String, String)] = Seq(
    "Streaming" -> "realtime", "Windowing" -> "analytics",
    "Joins" -> "relational", "Aggregation" -> "analytics",
    "Sorting" -> "relational", "Filtering" -> "relational")

  def seedCatalog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    seqKey(CategoryCatalog.toDF("category", "genre"), "category", "catalog_sk")
  }

  def dimPart(part: DataFrame, key: KeyFn = seqKey): DataFrame =
    key(part.select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")),
      "p_partkey", "part_sk")

  /** Tag dimension from exploded distinct values of a delimited column —
    * the dim_tag_gaming pattern (loader_NeonDB.py:431-455: parse the
    * events' tags field, collect the distinct set, SERIAL-key it sorted
    * by name). Here the real array source is p_name's word list; the
    * explode→trim→distinct→seqKey shape is identical.
    */
  def dimTag(part: DataFrame, key: KeyFn = seqKey): DataFrame =
    key(
      part.select(explode(split(col("p_name"), " ")).as("tag_nombre"))
        .select(trim(col("tag_nombre")).as("tag_nombre"))
        .where(col("tag_nombre") =!= "")
        .distinct(),
      "tag_nombre", "tag_id")

  /** N:M bridge part↔tag (fact_evento_tag_gaming,
    * loader_NeonDB.py:519-551): explode the array column into
    * (natural_id, tag) pairs, resolve the tag surrogate via a broadcast
    * lookup (the reference's preloaded tag_map), keep distinct pairs
    * (its UNIQUE (evento_id, tag_id) + ON CONFLICT DO NOTHING).
    * At scale: only (p_partkey, tag_nombre) pairs shuffle for the
    * distinct; the dim side broadcasts.
    */
  def bridgePartTag(part: DataFrame, dimTag: DataFrame): DataFrame =
    part.select(col("p_partkey"), explode(split(col("p_name"), " ")).as("tag_nombre"))
      .select(col("p_partkey"), trim(col("tag_nombre")).as("tag_nombre"))
      .where(col("tag_nombre") =!= "")
      .distinct()
      .join(Joins.maybeBroadcast(dimTag.select(col("tag_nombre"), col("tag_id"))), Seq("tag_nombre"))
      .select(col("p_partkey"), col("tag_id"))

  /** N:M bridge order↔part from the genuinely many-to-many lineitem
    * relation (fact_mercado_evento_gaming, loader_NeonDB.py:457-517):
    * distinct pairs, then both FKs validated against their dims — the
    * reference's valid_markets/valid_events set filters become
    * left-semi joins (the big dim streams through the shuffle, the
    * small one broadcasts).
    */
  def bridgeOrderPart(lineitem: DataFrame, orders: DataFrame, part: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(Joins.maybeBroadcast(part.select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_orderkey").as("orderkey"), col("l_partkey").as("partkey"))

  /** Multi-measure metrics fact (fact_metricas_gaming,
    * loader_NeonDB.py:608-652: market FK + fecha FK + 7 numeric
    * measures). Carries (orderkey, linenumber) as degenerate keys —
    * like the reference table it has no natural unique grain (SERIAL PK
    * only); fecha resolves from the ship date via a broadcast dim
    * lookup, and the three derived
    * measures stay raw IEEE products (rounding per-row diverges across
    * engines). Facts never shuffle here — the only exchange is the
    * broadcast of dim_fecha.
    */
  def factMetricas(lineitem: DataFrame, dimFecha: DataFrame): DataFrame =
    lineitem
      .join(Joins.maybeBroadcast(dimFecha.select(col("fecha"), col("fecha_id"))),
        lineitem("l_shipdate").cast("date") === col("fecha"))
      .select(
        col("l_orderkey").as("orderkey"),
        col("l_linenumber").as("linenumber"),
        col("fecha_id"),
        col("l_partkey").as("partkey"),
        col("l_quantity").as("cantidad"),
        col("l_extendedprice").as("precio_ext"),
        col("l_discount").as("descuento"),
        col("l_tax").as("impuesto"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("precio_neto"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).as("cargo_total"),
        (col("l_extendedprice") * col("l_discount")).as("monto_descuento"))

  /** fact_orders: FK surrogate resolution via broadcast lookups (J2).
    * At 100 TB the fact never shuffles here — both dims broadcast.
    * Carries `anio` as the physical partition column (facts partitioned
    * by year → partition pruning for the dominant time-sliced query
    * shape; the parquet-layout analog of the reference's fecha index,
    * loader_NeonDB.py:245-246).
    *
    * INNER joins, deliberately: the reference filters facts to
    * FK-valid rows before load (J1, loader_NeonDB.py:493-500), and a
    * left join would let a null-date order land in the
    * __HIVE_DEFAULT_PARTITION__ year, invisible to pruned readers. */
  def factOrders(orders: DataFrame, dimFecha: DataFrame, dimCustomer: DataFrame): DataFrame =
    orders
      .join(Joins.maybeBroadcast(dimFecha.select(col("fecha"), col("fecha_id"), col("anio"))),
        orders("o_orderdate").cast("date") === col("fecha"))
      .join(Joins.maybeBroadcast(dimCustomer.select(col("c_custkey"), col("customer_sk"))),
        orders("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("fecha_id"), col("customer_sk"),
        col("o_totalprice"), col("o_orderstatus"), col("anio"))

  /** Physical partition columns per gold table (consumed by the writer
    * layer; lives here so the layout decision sits next to the table
    * definition, not in orchestration code). */
  val partitionSpec: Map[String, Seq[String]] =
    Map("fact_orders" -> Seq("anio")).withDefaultValue(Nil)

  /** Natural/grain keys per gold table — the ON CONFLICT targets of the
    * reference DDL (loader_NeonDB.py:94-246 UNIQUE constraints), used
    * by the idempotent gold load (DeltaWrite.appendNew). Natural
    * keys, not surrogates: surrogates renumber per rebuild (see the
    * seqKey/hashKey note), natural keys are what dedup re-runs. */
  val mergeKeys: Map[String, Seq[String]] = Map(
    "dim_fecha" -> Seq("fecha"),
    "dim_customer" -> Seq("c_custkey"),
    "dim_part" -> Seq("p_partkey"),
    "dim_tag" -> Seq("tag_nombre"),
    "fact_orders" -> Seq("o_orderkey"),
    "bridge_order_part" -> Seq("orderkey", "partkey"),
    "bridge_part_tag" -> Seq("p_partkey", "tag_id"),
    // SERIAL-PK-only in the reference: duplicate grain rows are legal
    // data — empty key list = full-row conflict skip in the load
    "fact_metricas" -> Nil)

  /** Map whose values materialize on first access. seqKey runs an eager
    * counting job, so an eager Map would pay that job for every dim on
    * every build — a consumer touching only fact_orders must not pay
    * for dim_tag. Thread-safe not required: builds are per-query. */
  private final class LazyStar(thunks: Seq[(String, () => DataFrame)])
      extends scala.collection.immutable.AbstractMap[String, DataFrame] {
    private val byName = thunks.toMap
    // ConcurrentHashMap: one LazyStar per (session, sfDir) is shared
    // process-wide via buildCache, so concurrent query threads may
    // force entries at once (the thunks' shared deps are Scala lazy
    // vals, already synchronized)
    private val memo = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    private def force(k: String): DataFrame = memo.computeIfAbsent(k, kk => byName(kk)())
    override def get(key: String): Option[DataFrame] = byName.get(key).map(_ => force(key))
    override def iterator: Iterator[(String, DataFrame)] =
      thunks.iterator.map { case (k, _) => k -> force(k) }
    override def removed(key: String): Map[String, DataFrame] = iterator.toMap.removed(key)
    override def updated[V1 >: DataFrame](key: String, value: V1): Map[String, V1] =
      iterator.toMap.updated(key, value)
  }

  /** All star tables in one lineage — the full reference shape
    * (loader_NeonDB.py:78-256 DDL): date/customer/part/tag dims, the
    * orders fact, both N:M bridges, and the multi-measure metrics fact.
    * Entries are lazy (see [[LazyStar]]); the two dims every fact
    * FK-joins through (fecha, customer) are cached on first touch —
    * each is consumed up to three times per downstream query (fact
    * build + validator + rollups) and the seqKey pass has already
    * materialized their exchange once.
    */
  /** Memoized per (session, sfDir): the star queries (q33/q34/q39,
    * q65–q68) each call build — sharing one LazyStar instance means
    * they share the dims' eager keying jobs and `cache()`d exchanges
    * instead of rebuilding the lineage per query (SURVEY §4: cleaned
    * frames are reused up to 5×). Keyed on session identity; entries
    * live for the process (sessions here are few and long-lived). */
  private val buildCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Map[String, DataFrame]]()

  def build(spark: SparkSession, sfDir: String): Map[String, DataFrame] =
    buildCache.computeIfAbsent((spark, sfDir), _ => buildFrom(Bronze(spark, sfDir), seqKey))

  /** The bronze inputs of one load — injectable so incremental loads
    * can pass a batch slice instead of the full table set. */
  case class Bronze(orders: DataFrame, lineitem: DataFrame, part: DataFrame,
      customer: DataFrame, nation: DataFrame, region: DataFrame)
  object Bronze {
    /** The bronze tables the star reads, each `$sfDir/<t>.parquet`, in
      * the field order of [[Bronze]]. */
    val tables: Seq[String] = Seq("orders", "lineitem", "part", "customer", "nation", "region")

    def apply(spark: SparkSession, sfDir: String): Bronze = {
      val Seq(o, l, p, c, n, r) = tables.map(Tables.read(spark, sfDir, _))
      Bronze(o, l, p, c, n, r)
    }

    /** A stamp of the star's inputs: SHA-256 (hex) over the absolute
      * path, size and mtime in ns of every file under each of
      * [[tables]], walked so a single file and a directory of parts
      * both work. Equal stamps mean the same files at the same sizes
      * and mtimes; the bytes themselves are not read. */
    def stamp(sfDir: String): String = {
      import java.nio.file.{FileVisitOption, Files, Paths}
      import java.nio.file.attribute.BasicFileAttributes
      import scala.jdk.CollectionConverters._
      val md = java.security.MessageDigest.getInstance("SHA-256")
      tables.foreach { t =>
        val st = Files.walk(Paths.get(sfDir, s"$t.parquet").toAbsolutePath.normalize(),
          FileVisitOption.FOLLOW_LINKS)
        val files =
          try st.iterator().asScala.filter(Files.isRegularFile(_)).toList.sortBy(_.toString)
          finally st.close()
        files.foreach { f =>
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          val mtimeNs = a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS)
          // NUL ends the path: no path contains one
          md.update(f.toString.getBytes("UTF-8")); md.update(0.toByte)
          md.update(s"${a.size} $mtimeNs\n".getBytes("UTF-8"))
        }
      }
      java.util.HexFormat.of().formatHex(md.digest())
    }
  }

  /** Gold table names in build order — lets orchestration iterate the
    * star WITHOUT forcing every LazyStar entry up front (LazyStar's own
    * `keys`/`iterator` materialize each frame as they enumerate). */
  val tableNames: Seq[String] = Seq(
    "dim_fecha", "dim_customer", "dim_part", "dim_tag",
    "fact_orders", "bridge_order_part", "bridge_part_tag", "fact_metricas")

  def buildFrom(b: Bronze, key: KeyFn): Map[String, DataFrame] = {
    lazy val fecha =
      dimFecha(dateDomain(b.orders -> "o_orderdate", b.lineitem -> "l_shipdate"), key).cache()
    lazy val cust = dimCustomer(b.customer, b.nation, b.region, key).cache()
    lazy val tag = dimTag(b.part, key)
    val thunks = Seq(
      "dim_fecha" -> (() => fecha),
      "dim_customer" -> (() => cust),
      "dim_part" -> (() => dimPart(b.part, key)),
      "dim_tag" -> (() => tag),
      "fact_orders" -> (() => factOrders(b.orders, fecha, cust)),
      "bridge_order_part" -> (() => bridgeOrderPart(b.lineitem, b.orders, b.part)),
      "bridge_part_tag" -> (() => bridgePartTag(b.part, tag)),
      "fact_metricas" -> (() => factMetricas(b.lineitem, fecha)))
    require(thunks.map(_._1) == tableNames, "tableNames drifted from buildFrom")
    new LazyStar(thunks)
  }

  /** Incremental-safe star: hashKey surrogates, so a dimension row
    * keeps its key across growing loads — no renumbering, which is
    * what makes `DeltaWrite.appendNew` converge: appending the gold
    * of batch N over the gold of batch N-1 equals a full rebuild (the
    * seqKey form cannot offer this; it re-ranks the whole domain every
    * build). Proven in PropertySpec. */
  def buildIncremental(b: Bronze): Map[String, DataFrame] = buildFrom(b, hashKeyOf)
}

/** Warehouse validation (validator_warehouse.py:31-248, SURVEY §2.4
  * A11/A12 + §2.3 J3): PK uniqueness, FK orphan counts (anti-joins),
  * plausibility stats — returned as a tidy (check, n_bad) report
  * DataFrame so both the driver's oracle and ScalaTest can assert on it.
  */
object Validator {

  def uniqueness(df: DataFrame, pk: String, name: String): DataFrame =
    uniquenessMulti(df, Seq(pk), name)

  /** Composite-grain uniqueness (the bridges' UNIQUE (a, b) constraints,
    * loader_NeonDB.py:216,231). */
  def uniquenessMulti(df: DataFrame, pk: Seq[String], name: String): DataFrame =
    df.agg((count(lit(1)) - countDistinct(col(pk.head), pk.tail.map(col): _*)).as("n_bad"))
      .select(lit(name).as("check_name"), col("n_bad"))

  def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String, name: String): DataFrame =
    // rename the dim key: fk and pk often share a name and a bare
    // col(pk) would ambiguously resolve against the fact side
    fact.join(dim.select(col(pk).as("__dim_pk")), fact(fk) === col("__dim_pk"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
      .select(lit(name).as("check_name"), col("n_bad"))

  /** One fused validation pass over a table: a single aggregation
    * emitting several (check_name, n_bad) rows. Uniqueness counters are
    * `count(*) − count(distinct pk)` as before; each orphan counter is
    * a null-flag count after a left join against the referenced
    * table's DISTINCT key set — row-multiplication-free (a duplicate
    * dim key cannot fan the fact out), so every fact row contributes
    * exactly once to every counter, same as the old per-check
    * anti-join. */
  private def fusedChecks(df: DataFrame,
      grain: Option[(Seq[String], String)],
      orphanChecks: Seq[(String, DataFrame, String, String)]): DataFrame = {
    val joined = orphanChecks.zipWithIndex.foldLeft(df) {
      case (acc, ((fk, dim, pk, _), i)) =>
        acc.join(dim.select(col(pk).as(s"__ref_$i")).distinct(),
          acc(fk) === col(s"__ref_$i"), "left")
    }
    val counters =
      grain.toSeq.map { case (pk, _) =>
        (count(lit(1)) - countDistinct(col(pk.head), pk.tail.map(col): _*))
          .as("__uniq") } ++
      orphanChecks.zipWithIndex.map { case (_, i) =>
        count(when(col(s"__ref_$i").isNull, lit(1))).as(s"__orph_$i") }
    val agged = joined.agg(counters.head, counters.tail: _*)
    val rows =
      grain.toSeq.map { case (_, name) =>
        struct(lit(name).as("check_name"), col("__uniq").as("n_bad")) } ++
      orphanChecks.zipWithIndex.map { case ((_, _, _, name), i) =>
        struct(lit(name).as("check_name"), col(s"__orph_$i").as("n_bad")) }
    agged.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
  }

  /** Full integrity report over the built star: PK/grain uniqueness for
    * every dim, fact and bridge, plus FK orphans in both directions
    * through the bridges (validator_warehouse.py:72-164 extended to the
    * 9-table shape). Checks against the same table FUSE into one scan +
    * one aggregation ([[fusedChecks]]): the old 13-branch union scanned
    * fact_orders 4× and bridge_order_part 3× — at warehouse scale those
    * are THE big tables, and each extra pass was a full re-read. The 13
    * (check_name, n_bad) rows are value-identical. */
  def report(star: Map[String, DataFrame]): DataFrame =
    reportBranches(star).map(_._2()).reduce(_ unionByName _)

  /** The report's (check_name: string, n_bad: long) output schema —
    * for orchestrators that rebuild the report frame from collected
    * branch rows. Both fields are non-nullable, as in [[report]]'s own
    * schema (every counter is count-based). */
  val reportSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("check_name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_bad",
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** [[report]] decomposed into independent branches, each tagged with
    * the gold tables it reads — so an orchestrator can START each
    * branch the moment its own input loads finish instead of holding
    * ALL validation behind the full gold barrier (the dim checks need
    * one dim each; only the fact_metricas branch needs the longest
    * load). Thunks, not frames: a branch over a read-back warehouse
    * must not resolve its parquet paths before the loads it depends on
    * have written them. `reduce(union)` over the invoked branches is
    * byte-for-byte the former monolithic report (q39's oracle pin). */
  def reportBranches(star: String => DataFrame)
      : Seq[(Seq[String], () => DataFrame)] = {
    def f = star("fact_orders")
    // no grain-uniqueness check on fact_metricas: the reference table
    // carries only a SERIAL PK (loader_NeonDB.py:234-246) — duplicate
    // (mercado, fecha) metric rows are legal there, and here too
    Seq(
      Seq("dim_fecha") -> (() =>
        uniqueness(star("dim_fecha"), "fecha_id", "uniq_dim_fecha")),
      Seq("dim_customer") -> (() =>
        uniqueness(star("dim_customer"), "customer_sk", "uniq_dim_customer")),
      Seq("dim_part") -> (() =>
        uniqueness(star("dim_part"), "part_sk", "uniq_dim_part")),
      Seq("dim_tag") -> (() =>
        uniqueness(star("dim_tag"), "tag_id", "uniq_dim_tag")),
      Seq("fact_orders", "dim_fecha", "dim_customer") -> (() =>
        fusedChecks(f, Some(Seq("o_orderkey") -> "uniq_fact_orders"), Seq(
          ("fecha_id", star("dim_fecha"), "fecha_id", "orphan_fact_fecha"),
          ("customer_sk", star("dim_customer"), "customer_sk", "orphan_fact_customer")))),
      Seq("bridge_order_part", "fact_orders", "dim_part") -> (() =>
        fusedChecks(star("bridge_order_part"),
          Some(Seq("orderkey", "partkey") -> "uniq_bridge_order_part"), Seq(
          ("orderkey", f, "o_orderkey", "orphan_bridge_order"),
          ("partkey", star("dim_part"), "p_partkey", "orphan_bridge_part")))),
      Seq("bridge_part_tag", "dim_tag") -> (() =>
        fusedChecks(star("bridge_part_tag"),
          Some(Seq("p_partkey", "tag_id") -> "uniq_bridge_part_tag"), Seq(
          ("tag_id", star("dim_tag"), "tag_id", "orphan_bridge_tag")))),
      Seq("fact_metricas", "dim_fecha") -> (() =>
        fusedChecks(star("fact_metricas"), None, Seq(
          ("fecha_id", star("dim_fecha"), "fecha_id", "orphan_metricas_fecha")))))
  }
}
