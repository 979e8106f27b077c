package graft

import graft.app.Main
import graft.io.{DeltaRead, Staging}
import graft.operators.StarSchema
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The pipeline's double-run contract: `Main.run` on the same inputs and
  * output directory twice is idempotent — the re-run's conflict-skip
  * gold loads add nothing and mint no Delta version, and both reports
  * come out byte-identical. */
class MainRunSpec extends SparkTestBase {

  test("Main.run twice: no violations, same gold, no new version, identical reports") {
    val out = Staging.tempDir("graft_main")
    def gold(t: String) = s"$out/gold/$t"
    def text(p: java.nio.file.Path) = new String(Files.readAllBytes(p), "UTF-8")
    // part files sort by task index; their names carry a per-run uuid
    def report() = {
      val st = Files.list(Paths.get(out, "validation_report"))
      try st.iterator().asScala.toSeq.filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString).map(text).mkString
      finally st.close()
    }
    def state() = (
      StarSchema.tableNames.map(t => t -> DeltaRead.latestVersion(gold(t))).toMap,
      StarSchema.tableNames.map(t => t -> DeltaRead.read(spark, gold(t)).count()).toMap,
      report(), text(Paths.get(out, "volumetry_report.json")))

    assert(Main.run(spark, sf, out) == 0L)
    val fresh = state()
    assert(fresh._2.values.forall(_ > 0), fresh._2)
    assert(fresh._3.contains("check_name"), fresh._3)
    assert(Main.run(spark, sf, out) == 0L)
    val rerun = state()
    assert(rerun._1 == fresh._1, "the re-run minted a gold version")
    assert(rerun._2 == fresh._2)
    assert(rerun._3 == fresh._3)
    assert(rerun._4 == fresh._4)
  }
}
