package graft

import graft.operators.Graph
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.sum
import org.apache.spark.storage.StorageLevel
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("pagerank: symmetric 2-cycle converges to uniform") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pagerank(edges, iters = 5).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(math.abs(r(1L) - 0.5) < 1e-12 && math.abs(r(2L) - 0.5) < 1e-12)
  }

  test("pagerank: hub in a star graph outranks leaves and mass stays bounded") {
    // leaves 2..5 all point at 1, and 1 points back at each — hub gets
    // 4 full contributions, each leaf gets 1/4 of the hub's.
    val edges = ((2L to 5L).map(i => (i, 1L)) ++ (2L to 5L).map(i => (1L, i))).toDF("src", "dst")
    val r = Graph.pagerank(edges, iters = 10).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(r(1L) > r(2L) * 2)
    val total = r.values.sum
    assert(total > 0.99 && total < 1.01, s"rank mass drifted: $total")
    // leaves are symmetric → identical ranks
    assert((2L to 5L).map(r).distinct.size == 1)
  }

  test("triangleStats: K4 has 4 triangles and clustering 1.0") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("ua", "ub")
    val r = Graph.triangleStats(k4).collect()(0)
    assert(r.getAs[Long]("n_nodes") == 4)
    assert(r.getAs[Long]("n_edges") == 6)
    assert(r.getAs[Long]("n_triangles") == 4)
    assert(r.getAs[Long]("n_triplets") == 12) // 4 nodes × C(3,2)
    assert(r.getAs[Double]("clustering") == 1.0)
  }

  test("triangleStats: a path graph has no triangles") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("ua", "ub")
    val r = Graph.triangleStats(path).collect()(0)
    assert(r.getAs[Long]("n_triangles") == 0)
    assert(r.getAs[Long]("n_triplets") == 2) // middle nodes each close one
    assert(r.getAs[Double]("clustering") == 0.0)
  }

  test("pagerank dangling redistribution matches the analytic fixed point, Σrank = 1") {
    // 1 → 2, node 2 dangling. Strict random-surfer fixed point with
    // d = 0.85, n = 2: r1 = (1−d)/n + d·r2/n and r1 + r2 = 1, so
    // r1 = 0.5/1.425 = 0.3508771…, r2 = 0.6491228…
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    // contraction factor ≈ 0.425 per round: 30 rounds ≈ 7e-12 residual
    val ranks = Graph.pagerank(edges, iters = 30, redistributeDangling = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks(1L) - 0.5 / 1.425) < 1e-9)
    assert(math.abs(ranks(2L) - 0.925 / 1.425) < 1e-9)
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9,
      "redistribution must conserve total mass exactly")
    // default mode on the same graph: mass leaks (sum < 1) — the
    // documented scale-down, proving the flag changes the model
    val leaky = Graph.pagerank(edges, iters = 10)
      .agg(sum($"rank")).collect()(0).getDouble(0)
    assert(leaky < 0.99)
  }

  test("pagerank high-iteration run stays flat-lineage via interval checkpoints") {
    // 25 redistribution iterations double plan growth per round; the
    // interval localCheckpoint keeps analysis time bounded — this test
    // is the regression guard (it crawls without checkpoints)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val ranks = Graph.pagerank(cyc, iters = 25, redistributeDangling = true,
      checkpointInterval = 5)
    assert(math.abs(ranks.agg(sum($"rank")).collect()(0).getDouble(0) - 1.0) < 1e-9)
  }

  /** Driver-side PageRank of the same definition: distinct edges, |V|
    * over both endpoints, a uniform start, rank/out-degree messages and,
    * in redistribution mode, the dangling nodes' total spread uniformly. */
  private def reference[K](edges: Seq[(K, K)], iters: Int, d: Double = 0.85,
      redistributeDangling: Boolean = false): Map[K, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.size.toDouble
    val deg = e.groupMapReduce(_._1)(_ => 1)(_ + _)
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val mass = e.groupMapReduce(_._2) { case (s, _) => rank(s) / deg(s) }(_ + _)
      val spread = if (redistributeDangling) nodes.filterNot(deg.contains).map(rank).sum / n else 0.0
      rank = nodes.map(v => v -> ((1.0 - d) / n + d * (mass.getOrElse(v, 0.0) + spread))).toMap
    }
    rank
  }

  /** ~200 seeded nodes: duplicate edges, a self-loop, dangling nodes
    * (180..199 send nothing) and node 200, which only receives. */
  private lazy val seeded: Seq[(Long, Long)] = {
    val r = new scala.util.Random(108)
    val es = (0L until 180L).flatMap(s => Seq.fill(1 + r.nextInt(4))(s -> r.nextInt(200).toLong))
    es ++ es.take(25) ++ Seq(7L -> 7L, 0L -> 200L, 1L -> 200L)
  }

  private def assertMatches[K](got: Map[K, Double], want: Map[K, Double]): Unit = {
    assert(got.keySet == want.keySet)
    val worst = want.map { case (k, v) => math.abs(got(k) - v) }.max
    assert(worst < 1e-12, s"max |pagerank - reference| = $worst")
  }

  test("pagerank equals a driver-side reference in both modes, for Long and String ids") {
    val edges = seeded.toDF("src", "dst")
    for (redistribute <- Seq(false, true)) {
      val got = Graph.pagerank(edges, iters = 10, redistributeDangling = redistribute)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assertMatches(got, reference(seeded, 10, redistributeDangling = redistribute))
    }
    val words = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d", "a" -> "a", "a" -> "b")
    for (redistribute <- Seq(false, true)) {
      val got = Graph.pagerank(words.toDF("src", "dst"), iters = 4,
        redistributeDangling = redistribute)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assertMatches(got, reference(words, 4, redistributeDangling = redistribute))
    }
  }

  test("pagerank runs every round in one job and leaves no cache behind") {
    val edges = seeded.toDF("src", "dst")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // every RDD persisted while a job ran, held so that no GC (and with
    // it the ContextCleaner) releases what the call itself must
    val seen = new ConcurrentLinkedQueue[RDD[_]]()
    val snapshot = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sc.getPersistentRDDs.values.foreach(seen.add)
    }
    sc.addSparkListener(snapshot)
    val (jobs3, jobs9, out) = try {
      val (_, jobs3, _) = observed(Graph.pagerank(edges, iters = 3))
      val (out, jobs9, _) = observed(Graph.pagerank(edges, iters = 9))
      (jobs3.size, jobs9.size, out)
    } finally sc.removeSparkListener(snapshot)
    info(s"Spark jobs: $jobs3 at 3 rounds, $jobs9 at 9 rounds")
    assert(jobs3 == jobs9 && jobs9 <= 6, s"$jobs3 jobs at 3 rounds, $jobs9 at 9")
    // only the results' own lineage-free local checkpoints stay stored
    val kept = seen.asScala.toSeq.distinct.filter(r => !before(r.id) &&
      r.getStorageLevel != StorageLevel.NONE && !r.isCheckpointed)
    assert(seen.asScala.exists(r => !before(r.id)), "no persisted RDD observed")
    assert(kept.isEmpty, s"still cached after the call: ${kept.mkString(", ")}")
    assert(out.count() == seeded.flatMap(e => Seq(e._1, e._2)).distinct.size)
  }

  test("pagerank refuses ids that are not one atomic type") {
    val nested = Seq((Seq(1L), Seq(2L))).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](Graph.pagerank(nested, iters = 1))
    assert(e.getMessage.contains("array<bigint>"))
  }
}
