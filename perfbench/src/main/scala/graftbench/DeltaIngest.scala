package graftbench

import java.nio.file.{Files => JFiles, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.io.{DeltaRead, DeltaWrite}

/** `delta_ingest`: a seeded sequence of upsert batches generated from
  * the `orders` table into one Delta table through `DeltaWrite.merge`
  * (every fourth batch is insert-only, through `DeltaWrite.append`).
  * After every commit a seeded key-range read goes through `DeltaRead`;
  * every few commits `DeltaWrite.checkpoint`; at the end one
  * `DeltaWrite.compact`. Writes, reads and table maintenance interleave
  * on one table. */
object DeltaIngest extends Workload {
  val batchRows = 400
  val checkpointEvery = 4
  val minBatches = 6
  /** A set-up here creates the base table in about a second, and the
    * JIT still speeds it up over the first three, so five keep the
    * median on the settled ones. */
  override def setups: Int = 5
  /** The update keys of a batch are drawn from one window of this many
    * consecutive keys, placed uniformly at random over the key space.
    * This is a choice, not a model of real traffic: a window of 2000 of
    * the 15k base keys lands in one or two of the 8 range-laid files, so
    * a merge rewrites a few files rather than the whole table. It drives
    * `io.delta.files_rewritten_per_commit`, `io.delta.write_amp` and the
    * merge latency. */
  val updateWindow = 2000

  private type Order = (Long, String, Double, Any, String)
  private var base: Seq[Row] = Nil
  private var table: String = _
  private var schema: org.apache.spark.sql.types.StructType = _

  private def orders(r: Run): DataFrame = r.spark.read.parquet(s"${r.data}/orders.parquet")

  /** Create the table with the base orders, range-laid over 8 files. */
  def prepare(r: Run): Unit = {
    val src = orders(r)
    if (base.isEmpty) { base = src.collect().toSeq; schema = src.schema }
    table = r.work.resolve(s"delta-${r.seed}-${Setup.done + 1}").toString
    Files.deleteTree(table)
    DeltaWrite.append(src.repartitionByRange(8, col("o_orderkey")), table)
  }

  def measure(r: Run): Unit = {
    val model = mutable.LongMap.empty[Order]
    base.foreach(x => model(x.getLong(0)) = (x.getLong(1), x.getString(2), x.getDouble(3),
      x.get(4), x.getString(5)))
    var nextKey = model.keys.max + 1
    val statuses = Array("O", "F", "P")
    val dates = base.map(_.get(4)).toIndexedSeq
    val prios = base.map(_.getString(5)).distinct.sorted.toIndexedSeq
    var sourceRows = 0L
    val t0 = System.nanoTime()
    val loop = new Loop(r.seconds)
    var i = 0
    while (loop.next(i < minBatches)) {
      i += 1
      val rnd = new scala.util.Random(r.seed * 1000003L + i)
      val append = i % 4 == 0
      val nUpd = if (append) 0 else batchRows * 4 / 5
      val lo = rnd.nextLong((nextKey - updateWindow).max(1L))
      val updKeys = rnd.shuffle((lo until lo + updateWindow).toVector).take(nUpd)
      val newKeys = (nextKey until nextKey + (batchRows - nUpd)).toVector
      nextKey += newKeys.size
      val batch: Seq[(Long, Order)] = (updKeys ++ newKeys).map { k =>
        val old = model.get(k)
        k -> (old.map(_._1).getOrElse(rnd.nextLong(1500L) + 1), statuses(rnd.nextInt(3)),
          rnd.nextInt(50000000) / 100.0,
          old.map(_._4).getOrElse(dates(rnd.nextInt(dates.size))), prios(rnd.nextInt(prios.size)))
      }
      val rows = batch.map { case (k, (c, s, p, d, pr)) => Row(k, c, s, p, d, pr) }
      val df = r.spark.createDataFrame(rows.asJava, schema)
      val name = if (append) "DeltaWrite.append" else "DeltaWrite.merge"
      r.op(name, "io.delta") {
        if (append) DeltaWrite.append(df, table)
        else DeltaWrite.merge(r.spark, table, df, Seq("o_orderkey"))
      }.foreach { case (v, secs) =>
        batch.foreach { case (k, o) => model(k) = o }
        sourceRows += batch.size
        if (append) r.sample("append_s", secs)
        else { r.sample("commit_s", secs); r.sample("merge_version", v.toDouble) }
      }
      // seeded range read over ~10% of the key space
      val width = nextKey / 10
      val rlo = rnd.nextLong(nextKey - width)
      val rhi = rlo + width
      r.op("DeltaRead range", "io.delta") {
        val (snap, snapS) = r.call("DeltaRead.snapshot", "io.delta")(DeltaRead.snapshot(r.spark, table))
        r.sample("snapshot_s", snapS)
        r.sample("live_files", snap.files.size.toDouble)
        val (agg, _) = r.call("range aggregate", "spark")(
          DeltaRead.readVersionWhereStats(r.spark, table, snap.version,
            Seq(DeltaRead.StatRange("o_orderkey", Some(rlo), Some(rhi))))
            .where(col("o_orderkey").between(rlo, rhi))
            .agg(count(lit(1)), sum("o_totalprice")).collect().head)
        agg
      }.foreach { case (agg, secs) =>
        r.sample("read_s", secs)
        val in = model.iterator.filter { case (k, _) => k >= rlo && k <= rhi }.map(_._2._3).toSeq
        val got = (agg.getLong(0), if (agg.isNullAt(1)) 0.0 else agg.getDouble(1))
        r.check("range read", got._1 == in.size && math.abs(got._2 - in.sum) <= 1e-6 * (1 + in.sum),
          s"[$rlo,$rhi] got $got want (${in.size},${in.sum})")
      }
      if (i % checkpointEvery == 0)
        r.op("DeltaWrite.checkpoint", "io.delta")(DeltaWrite.checkpoint(r.spark, table))
          .foreach { case (_, s) => r.sample("checkpoint_s", s) }
    }
    r.sample("live_files_before_compact", DeltaRead.snapshot(r.spark, table).files.size.toDouble)
    r.op("DeltaWrite.compact", "io.delta")(DeltaWrite.compact(r.spark, table))
      .foreach { case (_, s) => r.sample("compact_s", s) }
    val wall = (System.nanoTime() - t0) / 1e9
    r.sample("ingest_rows_per_s", sourceRows / wall)
    r.sample("cycle_s", wall / i)
    verify(r, model)
  }

  /** The final snapshot must equal an independent last-write-wins
    * replay of the same batches. */
  private def verify(r: Run, model: mutable.LongMap[Order]): Unit = {
    val snap = DeltaRead.snapshot(r.spark, table)
    val rows = DeltaRead.readVersion(r.spark, table, snap.version).collect()
    val got = rows.map(x => x.getLong(0) -> ((x.getLong(1), x.getString(2), x.getDouble(3),
      x.get(4), x.getString(5)): Order)).toMap
    r.check("final snapshot == replay", rows.length == model.size && got == model.toMap,
      s"rows ${rows.length} vs ${model.size}")
    val live = snap.files.map(_.sizeOrStat(table)).sum.toDouble
    r.sample("storage_amp", Files.treeBytes(Path.of(table)) / live)
    r.sample("log_bytes", Files.treeBytes(Path.of(table, "_delta_log")))
    // per merge commit: files it removed, and rows it wrote per source row
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    r.get("merge_version").map(_.toLong).foreach { v =>
      val acts = JFiles.readAllLines(Path.of(table, "_delta_log", f"$v%020d.json")).asScala
        .map(mapper.readTree)
      r.sample("files_rewritten", acts.count(_.has("remove")).toDouble)
      r.sample("rows_written", acts.filter(_.has("add")).map(a => Option(a.get("add").get("stats"))
        .map(s => mapper.readTree(s.asText()).get("numRecords").asDouble()).getOrElse(0.0)).sum)
    }
  }

  def endToEnd(r: Run): Seq[Metric] = Seq(
    Metric("cycle_s", r.get("cycle_s").head, "s"),
    Metric("commit_p50_s", Stats.median(r.get("commit_s")), "s"),
    Metric("read_p50_s", Stats.median(r.get("read_s")), "s"),
    Metric("ingest_rows_per_s", r.get("ingest_rows_per_s").head, "rows/s"),
    Metric("storage_amp", r.get("storage_amp").head, "ratio"))

  def perLayer(r: Run): Seq[Metric] = {
    val merges = r.opSpans("DeltaWrite.merge")
    val all = r.opSpans("")
    Seq(
      Metric("io.delta.snapshot_s", Stats.median(r.get("snapshot_s")), "s"),
      Metric("io.delta.files_rewritten_per_commit", Stats.median(r.get("files_rewritten")), "count"),
      Metric("io.delta.write_amp", r.get("rows_written").sum / (merges.size * batchRows), "ratio"),
      Metric("io.delta.merge_jobs",
        Stats.median(merges.map(m => Trace.jobsOf(s"op-${m.op}").size.toDouble)), "count"),
      Metric("io.delta.checkpoint_s", Stats.median(r.get("checkpoint_s")), "s"),
      Metric("io.delta.compact_s", r.get("compact_s").head, "s"),
      Metric("io.delta.live_files", r.get("live_files_before_compact").head, "count"),
      Metric("io.delta.log_bytes", r.get("log_bytes").head, "bytes"),
      Metric("io.delta.storage_amp", r.get("storage_amp").head, "ratio")) ++
      Layers.spark(all.map(s => s"op-${s.op}"), all.map(s => (s.end - s.start) / 1e3).sum,
        r.spark.sparkContext.defaultParallelism)
  }
}
