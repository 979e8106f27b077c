package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iterative graph analytics. PageRank is a co-partitioned Pregel loop
  * in GraphX's shape: the adjacency is partitioned by source once and
  * the vertex state lives under the same partitioner, so each round's
  * edge ⋈ state join is narrow and only the messages shuffle.
  */
object Graph {

  /** PageRank with damping `d` over a directed edge list (src, dst),
    * `iters` fixed iterations from a uniform start; duplicate edges
    * count once. src and dst share one atomic id type.
    *
    * The adjacency is one `collect_set(dst)` aggregate per src (the
    * out-degree is its length), moved to an RDD under one
    * `HashPartitioner(spark.sql.shuffle.partitions)` and persisted with
    * the node set under the same partitioner (|V| is one `count`). A
    * round hash-joins each adjacency partition with the same keys' rank
    * partition, and each node partition with its messages; the
    * per-dst `reduceByKey` of the messages is its only shuffle. The
    * rounds stay lazy: the final `localCheckpoint` runs them as one job.
    *
    * `redistributeDangling = false` (default): nodes with no out-edges
    * leak rank — for ranking use the leak is a uniform scale-down.
    * `redistributeDangling = true`: the strict random-surfer model —
    * each round the dangling nodes' total rank is spread uniformly
    * over all nodes, so Σrank stays exactly 1. That total is one scalar
    * reduce, the only job a round starts.
    *
    * `checkpointInterval` bounds the RDD lineage depth: every that many
    * rounds the rank is local-checkpointed and materialized (one job).
    *
    * Returns (node, rank), node of the input's `src` type. Deterministic
    * up to FP summation order — round before comparing across runs.
    */
  def pagerank(edges: DataFrame, iters: Int, d: Double = 0.85,
      redistributeDangling: Boolean = false,
      checkpointInterval: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    val id = edges.schema("src").dataType
    require(edges.schema("dst").dataType == id && (id match {
      case _: NumericType | _: StringType | BooleanType | DateType | TimestampType |
          TimestampNTZType => true
      case _ => false
    }), s"pagerank: ids must share one atomic type, got ${id.simpleString} and " +
      edges.schema("dst").dataType.simpleString)
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // one array per partition: the block store sizes a cached block by
    // walking it, once per array rather than at every sampled record
    val adj = edges.groupBy("src").agg(collect_set("dst")).rdd
      .map(r => (r.get(0), r.getSeq[Any](1).toArray)).partitionBy(part)
      .mapPartitions(it => Iterator(it.toArray)).persist()
    val nodes = adj.flatMap(_.iterator.flatMap { case (s, ds) => // value: dangling
      Iterator((s, false)) ++ ds.iterator.map((_, true)) }).reduceByKey(part, _ && _).persist()
    val n = nodes.count().toDouble
    var rank = nodes.mapValues(dangling => (dangling, 1.0 / n))
    for (i <- 1 to iters) {
      val spread = if (!redistributeDangling) 0.0
        else rank.values.filter(_._1).map(_._2).sum() / n
      val mass = adj.zipPartitions(rank) { (a, rs) =>
        val r = rs.map { case (v, (_, x)) => v -> x }.toMap
        a.flatMap(_.iterator.flatMap { case (s, ds) => ds.iterator.map((_, r(s) / ds.length)) })
      }.reduceByKey(part, _ + _)
      rank = nodes.zipPartitions(mass) { (ns, ms) =>
        val m = ms.toMap
        ns.map { case (v, dangling) =>
          (v, (dangling, (1.0 - d) / n + d * (m.getOrElse(v, 0.0) + spread))) }
      }
      if (i < iters && i % checkpointInterval == 0) rank.localCheckpoint().count()
    }
    rank.localCheckpoint().count()
    adj.unpersist()
    nodes.unpersist()
    spark.createDataFrame(rank.map { case (v, (_, r)) => Row(v, r) },
      StructType(Seq(StructField("node", id), StructField("rank", DoubleType))))
  }

  /** Triangle count + global clustering coefficient over an undirected
    * id-oriented edge list (ua < ub, already distinct). Each triangle
    * a<b<c materializes exactly once: the two-path a→b→c closed by the
    * a→c edge — three equi-joins on node keys. At 100 TB orient by
    * degree instead of id (same plan shape) so hub two-paths don't
    * skew; triplet counts are pure integer math.
    *
    * Returns one row: (n_nodes, n_edges, n_triangles, n_triplets,
    * clustering).
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col("ua"), col("ub")).persist()
    val tri = e.select(col("ua").as("a"), col("ub").as("b"))
      .join(e.select(col("ua").as("b2"), col("ub").as("c")), col("b") === col("b2"))
      .join(e.select(col("ua").as("a3"), col("ub").as("c3")),
        col("a") === col("a3") && col("c") === col("c3"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(explode(array(col("ua"), col("ub"))).as("u"))
      .groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("(deg * (deg - 1)) div 2")), lit(0L)).as("n_triplets"))
    val stats = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(nodes).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"), col("n_triplets"),
        when(col("n_triplets") > 0,
          round(lit(3.0) * col("n_triangles").cast("double") /
            col("n_triplets").cast("double"), 6)).otherwise(0.0).as("clustering"))
    // single-row result: materialize lineage-free, then release the
    // edge cache
    val out = stats.localCheckpoint(true)
    e.unpersist()
    out
  }
}
