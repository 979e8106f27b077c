package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Plan-level proof that q164's partition filter prunes at the
  * DIRECTORY level: the predicate must appear in the scan node's
  * partitionFilters (eliminating partitions before file listing I/O),
  * and the scan must read only the selected partitions' rows.
  */
class PruningSpec extends SparkTestBase {
  import spark.implicits._

  test("partition filter lands in FileSourceScan partitionFilters") {
    val tmp = graft.io.Staging.tempDir("graft_prunespec_")
    Tables.events(spark, sf)
      .select($"event_id", $"value", $"event_type")
      .write.partitionBy("event_type").mode("overwrite").parquet(tmp)
    val read = spark.read.parquet(tmp).where($"event_type" === "click")
    val scans = read.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec")
    val pf = scans.head.partitionFilters.map(_.sql).mkString(" && ")
    assert(pf.contains("event_type"), s"partitionFilters missing the predicate: [$pf]")
    // pruned scan returns exactly the one partition's rows
    val direct = Tables.events(spark, sf).where($"event_type" === "click").count()
    assert(read.count() == direct)
  }
}
