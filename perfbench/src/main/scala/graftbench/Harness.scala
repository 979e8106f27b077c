package graftbench

import java.nio.file.{Files => JFiles, Path, Paths}

import scala.jdk.CollectionConverters._

/** One benchmark workload: set-up work repeated with every Spark
  * application start, an untimed warm-up, the closed-loop measurement,
  * and the metrics it reports. */
trait Workload {
  /** How many set-ups a run makes after the first, which counts from JVM
    * start; `setup_s` is their median. */
  def setups: Int = 2
  def prepare(r: Run): Unit
  def warmup(r: Run): Unit = ()
  def measure(r: Run): Unit
  def endToEnd(r: Run): Seq[Metric]
  def perLayer(r: Run): Seq[Metric]
}

object Files {
  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (JFiles.exists(root))
      JFiles.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(JFiles.delete(_))
  }
  def treeBytes(p: Path): Double =
    JFiles.walk(p).iterator().asScala.filter(JFiles.isRegularFile(_)).map(JFiles.size).sum.toDouble
}

/** Set-up: a Spark application start plus the workload's `prepare`,
  * made 1 + `Workload.setups` times per run. The first one counts from
  * JVM start, so it also holds JVM start-up, class loading and a cold
  * JIT; it is printed on the detail line. Each later one starts once
  * the previous application has stopped, and `setup_s` is their
  * median. */
object Setup {
  val group = "setup"
  var done = 0
}

/** Highest used heap right after a GC. The benchmark collects at fixed
  * points outside any timed call (after set-up and warm-up, after each
  * pipeline iteration, and after the measured rounds) and reads what the
  * collection left, so the figure is the heap the program retains, not
  * where a collection happened to fall. */
object Heap {
  private var peak = 0L
  def sample(spark: org.apache.spark.sql.SparkSession): Unit = {
    // queued listener events hold plans and metrics: deliver them first
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    // a collection can queue dead broadcasts and cached blocks for
    // Spark's cleaner, which frees them before the next one: collect
    // until the used heap stops falling, at most six times
    def collect() = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var used = collect()
    var last = Long.MaxValue
    var n = 1
    while (n < 6 && last - used > (1L << 20)) {
      Thread.sleep(200)
      last = used
      used = collect()
      n += 1
    }
    peak = math.max(peak, used)
  }
  def peakMb: Double = peak / 1048576.0
}

/** Entry point: `graftbench.Harness --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --data <dir> --expected <file>
  * --work <dir> [--spans <file>] [--record]`. Prints a detail line, then the result
  * as one JSON object on the last line of standard output. */
object Harness {
  /** Seconds of a fixed single-thread integer loop (60M dependent
    * multiply-adds) in the harness's own thread, whose cost depends on
    * neither graft's code nor Spark's. The sentinel time is the median of
    * five runs just before the rounds, after three unmeasured ones, and
    * five just after them. The end-to-end metric every workload defines
    * besides `setup_s` and `heap_peak_mb` is `cycle_rel`: the workload's
    * `cycle_s` (the time of one unit of its work) over the sentinel time.
    * The host's speed drifts within minutes, and the ratio cancels part
    * of that drift. A Spark job over `spark.range` made a worse sentinel:
    * its time moved by up to a third within one run, with the JVM's
    * state, and dividing by it widened the spread of `cycle_s` on
    * `pipeline` and `delta_ingest` instead of narrowing it. */
  def sentinelS(): Double = {
    val t0 = System.nanoTime()
    var h = 0L
    var i = 0L
    while (i < 60000000L) { h = h * 6364136223846793005L + i; i += 1 }
    sink ^= h
    (System.nanoTime() - t0) / 1e9
  }
  /** Keeps the sentinel's result live, so the JIT cannot drop the loop. */
  private var sink = 0L

  val workloads: Map[String, Workload] = Map(
    "pipeline" -> Pipeline, "queries" -> Queries, "delta_ingest" -> DeltaIngest)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap ++ args.filter(_ == "--record").map(_.drop(2) -> "1")
    val name = opts("workload")
    val wl = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val traced = opts.getOrElse("trace", "0") == "1"
    if (traced) {
      // both listeners ride configuration, so every session the program
      // creates (Main.run's child sessions too) carries them
      System.setProperty("spark.extraListeners", classOf[TraceSparkListener].getName)
      System.setProperty("spark.sql.queryExecutionListeners", classOf[TraceQeListener].getName)
    }
    val work = Paths.get(opts("work")).toAbsolutePath
    JFiles.createDirectories(work)
    val expected = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(opts("expected")).toFile)
    val r = new Run(opts("seed").toLong, opts("seconds").toInt, traced,
      Paths.get(opts("data")).toAbsolutePath.toString, work, expected, opts.contains("record"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = (1 to 1 + wl.setups).map { k =>
      // stopping the previous application is its teardown, not set-up
      if (r.spark != null) r.spark.stop()
      val t0 = if (k == 1) jvmStart else System.currentTimeMillis()
      r.spark = graft.Sessions.local(cpus)
      r.spark.sparkContext.setJobGroup(Setup.group, "set-up", interruptOnCancel = false)
      // ready once a first job has run on the new application
      r.spark.read.parquet(s"${r.data}/region.parquet").count()
      wl.prepare(r)
      r.spark.sparkContext.clearJobGroup()
      Setup.done = k
      (System.currentTimeMillis() - t0) / 1e3
    }
    val tw = System.nanoTime()
    wl.warmup(r)
    r.sample("warmup_s", (System.nanoTime() - tw) / 1e9)
    Heap.sample(r.spark)
    (1 to 3).foreach(_ => sentinelS())
    (1 to 5).foreach(_ => r.sample("sentinel_s", sentinelS()))
    val tm = System.nanoTime()
    wl.measure(r)
    r.sample("measure_wall_s", (System.nanoTime() - tm) / 1e9)
    Heap.sample(r.spark)
    (1 to 5).foreach(_ => r.sample("sentinel_s", sentinelS()))

    // the workload's named figures go to the detail line
    val named = wl.endToEnd(r)
    val cycle = named.find(_.name == "cycle_s").get.value
    val e2e = Seq(
      Metric("cycle_rel", cycle / Stats.median(r.get("sentinel_s")), "ratio"),
      Metric("setup_s", Stats.median(setups.tail), "s"),
      Metric("heap_peak_mb", Heap.peakMb, "MB"))
    val metrics = if (!traced) e2e else {
      org.apache.spark.graftbench.Bus.drain(r.spark.sparkContext)
      opts.get("spans").foreach(p => Trace.write(Paths.get(p)))
      val cached = r.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
      e2e ++ wl.perLayer(r) :+ Metric("spark.cached_mb_retained", cached, "MB")
    }
    def json(ms: Seq[Metric]) = ms.map(m =>
      s"""${Json.str(m.name)}:{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)}}""")
        .mkString("{", ",", "}")
    val failRatio = Metric("fail_ratio", r.failed.toDouble / r.attempted.max(1L), "ratio")
    println(s"[perfbench] seed=${r.seed} workload=$name metrics ${json(named :+ failRatio)}")
    val samples = r.samples.toSeq.map { case (k, xs) =>
      val tail = Stats.tail(xs.toSeq).map { case (p, v) => s""","$p":${Json.num(v)}""" }.getOrElse("")
      s"""${Json.str(k)}:{"n":${xs.size},"median":${Json.num(Stats.median(xs.toSeq))}$tail}"""
    } :+ s""""setup_s":${setups.map(Json.num).mkString("[", ",", "]")}"""
    println(s"[perfbench] seed=${r.seed} workload=$name samples {${samples.mkString(",")}}")
    println(s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":${json(metrics)}}""")
    r.spark.stop()
  }
}
