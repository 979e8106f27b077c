package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.app.Main
import graft.io.{DeltaRead, DeltaWrite, Staging}
import graft.operators.StarSchema
import org.apache.spark.sql.functions.{col, lit, max}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The pipeline's double-run contract: `Main.run` on the same inputs and
  * output directory twice is idempotent — the re-run's gold loads find
  * their SetTransaction mark, build nothing and mint no Delta version,
  * and both reports come out byte-identical. Changed inputs load again
  * under a new mark. Each run gets its own child session, as a new
  * application would: a shared session would answer the star from its
  * memo and hide a rebuild. */
class MainRunSpec extends SparkTestBase {

  private val mapper = new ObjectMapper()
  private def gold(out: String, t: String) = s"$out/gold/$t"

  private def builds(j: Job) = j.site.contains("graft.operators.StarSchema$")
  private def stages(j: Job) = j.site.contains("graft.io.DeltaWrite$.stage(")

  /** The tables whose gold load staged a write in `jobs`. */
  private def staged(jobs: Seq[Job]): Set[String] =
    jobs.filter(stages).flatMap(j =>
      StarSchema.tableNames.filter(t => j.plan.contains(s"/gold/$t/_staging-"))).toSet

  private def commitNode(table: String, v: Long, action: String) =
    Files.readAllLines(Paths.get(table, "_delta_log", f"$v%020d.json")).asScala
      .map(l => mapper.readTree(l)).find(_.has(action)).map(_.get(action))

  test("Main.run twice: no violations, same gold, no new version, identical reports") {
    val out = Staging.tempDir("graft_main")
    def text(p: java.nio.file.Path) = new String(Files.readAllBytes(p), "UTF-8")
    // part files sort by task index; their names carry a per-run uuid
    def report() = {
      val st = Files.list(Paths.get(out, "validation_report"))
      try st.iterator().asScala.toSeq.filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString).map(text).mkString
      finally st.close()
    }
    def state() = (
      StarSchema.tableNames.map(t => t -> DeltaRead.latestVersion(gold(out, t))).toMap,
      StarSchema.tableNames.map(t => t -> DeltaRead.read(spark, gold(out, t)).count()).toMap,
      report(), text(Paths.get(out, "volumetry_report.json")))

    val (bad, freshJobs, _) = observed(Main.run(spark.newSession(), sf, out))
    assert(bad == 0L)
    // the window sees the build and the staging when they happen
    assert(freshJobs.exists(builds) && staged(freshJobs) == StarSchema.tableNames.toSet)
    val fresh = state()
    assert(fresh._2.values.forall(_ > 0), fresh._2)
    assert(fresh._3.contains("check_name"), fresh._3)
    val stamp = StarSchema.Bronze.stamp(sf)
    for (t <- StarSchema.tableNames) {
      assert(DeltaWrite.lastTxnVersion(spark, gold(out, t), s"graft.gold.$t.$stamp")
        .contains(0L), t)
      // operationMetrics come from the staged files alone
      val m = commitNode(gold(out, t), 0L, "commitInfo").get.get("operationMetrics")
      val files = DeltaRead.snapshotAt(spark, gold(out, t), 0L).files
      assert(m.get("numOutputRows").asText.toLong ==
        DeltaRead.readVersion(spark, gold(out, t), 0L).count(), t)
      assert(m.get("numFiles").asText.toLong == files.size, t)
      assert(m.get("numOutputBytes").asText.toLong == files.flatMap(_.size).sum, t)
    }

    val (bad2, rerunJobs, _) = observed(Main.run(spark.newSession(), sf, out))
    assert(bad2 == 0L)
    assert(!rerunJobs.exists(j => builds(j) || stages(j)),
      rerunJobs.filter(j => builds(j) || stages(j)).map(_.site).mkString("\n\n"))
    val rerun = state()
    assert(rerun._1 == fresh._1, "the re-run minted a gold version")
    assert(rerun._2 == fresh._2)
    assert(rerun._3 == fresh._3)
    assert(rerun._4 == fresh._4)
  }

  test("changed inputs load again under a new mark; the same inputs then skip again") {
    val in = Staging.tempDir("graft_main_in")
    val out = Staging.tempDir("graft_main_out")
    val src = Paths.get(sf)
    val st = Files.list(src)
    try st.iterator().asScala.foreach(p => Files.copy(p, Paths.get(in).resolve(p.getFileName)))
    finally st.close()
    assert(Main.run(spark.newSession(), in, out) == 0L)
    val before = StarSchema.tableNames.map(t => t -> DeltaRead.latestVersion(gold(out, t))).toMap
    val stamp0 = StarSchema.Bronze.stamp(in)

    // 25 more orders: copies of existing ones under new keys, on dates
    // and customers already in the dims, so only fact_orders has new rows
    val orders = Tables.orders(spark, sf)
    val top = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    val extra = orders.orderBy(col("o_orderkey")).limit(25)
      .withColumn("o_orderkey", col("o_orderkey") + lit(top + 1))
    val newKeys = extra.select("o_orderkey").collect().map(_.getLong(0)).toSet
    val ordersPath = Paths.get(in, "orders.parquet")
    Files.delete(ordersPath)
    orders.unionByName(extra).write.parquet(ordersPath.toString)
    val stamp1 = StarSchema.Bronze.stamp(in)
    assert(stamp1 != stamp0)

    val fo = gold(out, "fact_orders")
    val n0 = DeltaRead.read(spark, fo).count()
    val (bad, loadJobs, _) = observed(Main.run(spark.newSession(), in, out))
    assert(bad == 0L)
    // every load ran again; only fact_orders had rows to commit
    assert(staged(loadJobs) == StarSchema.tableNames.toSet)
    val after = StarSchema.tableNames.map(t => t -> DeltaRead.latestVersion(gold(out, t))).toMap
    assert(after == before.updated("fact_orders", before("fact_orders") + 1))
    val v = after("fact_orders")
    val added = DeltaRead.readVersion(spark, fo, v).select("o_orderkey")
      .except(DeltaRead.readVersion(spark, fo, v - 1).select("o_orderkey"))
      .collect().map(_.getLong(0)).toSet
    assert(added == newKeys)
    assert(DeltaRead.read(spark, fo).count() == n0 + newKeys.size)
    val txn = commitNode(fo, v, "txn").get
    assert(txn.get("appId").asText == s"graft.gold.fact_orders.$stamp1")
    assert(txn.get("version").asLong == 0L)
    // a batch with nothing new records no mark
    assert(DeltaWrite.lastTxnVersion(spark, gold(out, "dim_part"),
      s"graft.gold.dim_part.$stamp1").isEmpty)

    // the same inputs again: fact_orders skips on its mark; the others,
    // which committed nothing, repeat their empty loads
    val (bad2, againJobs, _) = observed(Main.run(spark.newSession(), in, out))
    assert(bad2 == 0L)
    assert(staged(againJobs) == StarSchema.tableNames.toSet - "fact_orders")
    assert(StarSchema.tableNames.map(t => t -> DeltaRead.latestVersion(gold(out, t))).toMap ==
      after)
  }
}
