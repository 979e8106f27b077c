package graft

import graft.io.{DeltaRead, DeltaWrite}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The snapshot cache inside [[DeltaRead.snapshotAt]]: every case
  * compares what a warm JVM resolves (a cached state, or one advanced
  * by the newer commits) with a cold resolution of the same version
  * from an emptied cache. Also pins the job count of a cold
  * checkpoint read (one collect for all of a checkpoint's actions). */
class DeltaSnapshotCacheSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def newTable(): String =
    Files.createTempDirectory("snapcache").toString

  private def cleanup(t: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))

  private val schemaJson = new org.apache.spark.sql.types.StructType()
    .add("id", "long").add("v", "string").json

  private def metaAction(id: String): String =
    s"""{"metaData":{"id":"$id","schemaString":${mapper.writeValueAsString(schemaJson)},""" +
      """"partitionColumns":[],"configuration":{}}}"""

  private def addAction(path: String): String =
    s"""{"add":{"path":"$path","partitionValues":{},"size":1,"dataChange":true}}"""

  private def removeAction(path: String): String =
    s"""{"remove":{"path":"$path","dataChange":true}}"""

  private def writeCommit(table: String, v: Long, actions: Seq[String]): Unit = {
    val ld = Paths.get(table, "_delta_log")
    Files.createDirectories(ld)
    Files.write(ld.resolve(f"$v%020d.json"), actions.asJava)
  }

  /** The resolution of `table@version` from an emptied cache. */
  private def cold(table: String, version: Long): DeltaRead.DeltaSnapshot = {
    DeltaRead.clearSnapshotCache()
    DeltaRead.snapshotAt(spark, table, version)
  }

  /** Spark jobs `body` starts from this thread (tagged by a local
    * property, so jobs of other threads never count). Listener delivery
    * is asynchronous, so a sentinel job closes the window: once the
    * listener has seen it, it has seen every earlier job. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val tag = "graft.test.window"
    val id = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(tag)).foreach {
          case `id` => seen.incrementAndGet()
          case s if s == s"$id-end" => sentinel.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, id)
      val out = try body finally sc.setLocalProperty(tag, s"$id-end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tag, null)
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, seen.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a table deleted and re-created at the same path with a same-size commit is never served stale") {
    val t = newTable()
    try {
      writeCommit(t, 0, Seq(metaAction("first"), addAction("part-a.parquet")))
      val before = DeltaRead.snapshotAt(spark, t, 0)
      assert(DeltaRead.cachedSnapshotVersion(t).contains(0L))
      val size = Files.size(Paths.get(t, "_delta_log", f"${0L}%020d.json"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
      writeCommit(t, 0, Seq(metaAction("secnd"), addAction("part-b.parquet")))
      assert(Files.size(Paths.get(t, "_delta_log", f"${0L}%020d.json")) == size,
        "the re-created commit must have the same size")
      val after = DeltaRead.snapshotAt(spark, t, 0)
      assert(after.metaId.contains("secnd") && after.files.map(_.path) == Seq("part-b.parquet"),
        s"stale state served: ${after.metaId} ${after.files.map(_.path)} (was ${before.metaId})")
      assert(after == cold(t, 0))
    } finally cleanup(t)
  }

  test("a commit replaced with the same file key, size and mtime is never served stale") {
    // the worst case of a re-creation: the freed inode is reused and the
    // new file lands in the same mtime tick — only the bytes differ
    val t = newTable()
    try {
      writeCommit(t, 0, Seq(metaAction("first"), addAction("part-a.parquet")))
      DeltaRead.snapshotAt(spark, t, 0)
      val p = Paths.get(t, "_delta_log", f"${0L}%020d.json")
      val attrs = () => Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      val was = attrs()
      writeCommit(t, 0, Seq(metaAction("secnd"), addAction("part-b.parquet")))
      Files.setLastModifiedTime(p, was.lastModifiedTime())
      val now = attrs()
      assert(now.fileKey() == was.fileKey() && now.size() == was.size() &&
        now.lastModifiedTime() == was.lastModifiedTime())
      val after = DeltaRead.snapshotAt(spark, t, 0)
      assert(after.metaId.contains("secnd") && after.files.map(_.path) == Seq("part-b.parquet"),
        s"stale state served: ${after.metaId} ${after.files.map(_.path)}")
      assert(after == cold(t, 0))
    } finally cleanup(t)
  }

  test("a hand-written commit after a cached read shows on the next read") {
    val t = newTable()
    try {
      writeCommit(t, 0, Seq(metaAction("t"), addAction("part-a.parquet")))
      writeCommit(t, 1, Seq(addAction("part-b.parquet")))
      assert(DeltaRead.snapshot(spark, t).files.map(_.path) ==
        Seq("part-a.parquet", "part-b.parquet"))
      writeCommit(t, 2, Seq(removeAction("part-a.parquet"), addAction("part-c.parquet")))
      val (warm, jobs) = jobsDuring(DeltaRead.snapshot(spark, t))
      assert(warm.version == 2L && warm.files.map(_.path) ==
        Seq("part-b.parquet", "part-c.parquet"))
      assert(jobs == 0, s"an incremental advance runs no Spark job, ran $jobs")
      assert(DeltaRead.cachedSnapshotVersion(t).contains(2L))
      assert(warm == cold(t, 2))
    } finally cleanup(t)
  }

  test("time travel below the cached version reads cold and keeps the newer entry") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "a")).toDF("id", "v"), t)
      DeltaWrite.append(Seq((2L, "b")).toDF("id", "v"), t)
      DeltaWrite.append(Seq((3L, "c")).toDF("id", "v"), t)
      val head = DeltaRead.snapshot(spark, t)
      assert(head.version == 2L && DeltaRead.cachedSnapshotVersion(t).contains(2L))
      val travelled = DeltaRead.snapshotAt(spark, t, 0)
      assert(travelled.files.size == 1)
      assert(DeltaRead.cachedSnapshotVersion(t).contains(2L),
        "time travel must not replace the head entry")
      assert(DeltaRead.readVersion(spark, t, 1).as[(Long, String)].collect().sorted.toSeq ==
        Seq((1L, "a"), (2L, "b")))
      assert(DeltaRead.snapshotAt(spark, t, 1) == cold(t, 1))
      assert(travelled == cold(t, 0))
      assert(head == cold(t, 2))
    } finally cleanup(t)
  }

  test("a column-mapped table advanced incrementally matches a cold read: logical pv keys and stats") {
    val t = newTable()
    try {
      val df = (0 until 40).map(i => (i.toLong, s"v$i", if (i < 20) "a" else "b"))
        .toDF("id", "txt", "grp")
      DeltaWrite.createColumnMapped(df.repartition(2), t, partitionBy = Seq("grp"))
      DeltaWrite.checkpoint(spark, t)
      val v0 = DeltaRead.snapshot(spark, t).version
      DeltaWrite.append((40 until 50).map(i => (i.toLong, s"v$i", "c")).toDF("id", "txt", "grp"), t)
      val (warm, jobs) = jobsDuring(DeltaRead.snapshot(spark, t))
      assert(warm.version > v0)
      assert(jobs == 0, s"a warm resolution runs no Spark job, ran $jobs")
      assert(warm.files.forall(_.partitionValues.keySet == Set("grp")),
        s"pv keys must be logical: ${warm.files.map(_.partitionValues)}")
      assert(warm.files.flatMap(_.partitionValues.values).toSet == Set("a", "b", "c"))
      assert(warm.files.forall(_.stats.exists(_.contains("\"id\""))),
        "stats keys must be logical")
      val c = cold(t, warm.version)
      assert(warm.files.sortBy(_.path) == c.files.sortBy(_.path))
      assert(warm == c)
      assert(DeltaRead.read(spark, t).count() == 50L)
    } finally cleanup(t)
  }

  test("a new commit declaring an unsupported reader feature still throws") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((1L, "a")).toDF("id", "v"), t)
      assert(DeltaRead.snapshot(spark, t).version == 0L)
      writeCommit(t, 1, Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["futureColumnCipher"],"writerFeatures":["futureColumnCipher"]}}"""))
      val warm = intercept[UnsupportedOperationException](DeltaRead.snapshot(spark, t))
      assert(warm.getMessage.contains("futureColumnCipher"))
      assert(DeltaRead.cachedSnapshotVersion(t).contains(0L),
        "a state that failed its checks must not be cached")
      val coldErr = intercept[UnsupportedOperationException](cold(t, 1))
      assert(coldErr.getMessage == warm.getMessage)
    } finally cleanup(t)
  }

  test("a Dataset-tier table stays uncached") {
    val t = newTable()
    val key = DeltaRead.DatasetThresholdKey
    try {
      (0 until 6).foreach(k => DeltaWrite.append(Seq((k.toLong, s"r$k")).toDF("id", "v"), t))
      DeltaWrite.checkpoint(spark, t) // advertises 6 adds
      assert(DeltaRead.cachedSnapshotVersion(t).contains(5L))
      spark.conf.set(key, "5")
      try {
        val s = DeltaRead.snapshot(spark, t)
        assert(s.index.isInstanceOf[DeltaRead.DatasetIndex],
          "a warm small-tier entry must not mask the Dataset tier")
        DeltaRead.clearSnapshotCache()
        assert(DeltaRead.snapshot(spark, t).index.isInstanceOf[DeltaRead.DatasetIndex])
        assert(DeltaRead.cachedSnapshotVersion(t).isEmpty,
          "a Dataset-tier resolution must not be cached")
        assert(DeltaRead.snapshot(spark, t).index.isInstanceOf[DeltaRead.DatasetIndex])
        assert(s.files.sortBy(_.path) == DeltaRead.snapshot(spark, t).files.sortBy(_.path))
      } finally spark.conf.unset(key)
      assert(DeltaRead.snapshot(spark, t).index.isInstanceOf[DeltaRead.SeqIndex])
      assert(DeltaRead.cachedSnapshotVersion(t).contains(5L))
    } finally cleanup(t)
  }

  test("reading more tables than the bound evicts the least recently used") {
    val n = DeltaRead.snapshotCacheTables + 2
    val ts = (0 until n).map(_ => newTable())
    try {
      DeltaRead.clearSnapshotCache()
      ts.zipWithIndex.foreach { case (t, i) =>
        writeCommit(t, 0, Seq(metaAction(s"t$i"), addAction(s"part-$i.parquet")))
        DeltaRead.snapshotAt(spark, t, 0)
      }
      assert(ts.take(2).forall(DeltaRead.cachedSnapshotVersion(_).isEmpty),
        "the two oldest tables must be evicted")
      assert(ts.drop(2).forall(DeltaRead.cachedSnapshotVersion(_).contains(0L)))
      // the evicted tables still resolve, from cold, to the same state
      ts.zipWithIndex.take(2).foreach { case (t, i) =>
        assert(DeltaRead.snapshotAt(spark, t, 0).metaId.contains(s"t$i"))
      }
      assert(ts.take(2).forall(DeltaRead.cachedSnapshotVersion(_).contains(0L)))
      assert(DeltaRead.cachedSnapshotVersion(ts(2)).isEmpty,
        "re-reading the evicted tables evicts the next oldest")
    } finally ts.foreach(cleanup)
  }

  test("a cold read of a checkpointed table runs at most two Spark jobs") {
    val t = newTable()
    try {
      DeltaWrite.append((1 to 10).map(i => (i.toLong, s"x$i")).toDF("id", "v"), t)
      DeltaWrite.enableRowTracking(spark, t)
      DeltaWrite.setDomainMetadata(spark, t, "app.pipeline", """{"cursor":1}""")
      DeltaWrite.append((11 to 20).map(i => (i.toLong, s"x$i")).toDF("id", "v"), t)
      val cpV = DeltaWrite.checkpoint(spark, t)
      val warm = DeltaRead.snapshotAt(spark, t, cpV)
      DeltaRead.clearSnapshotCache()
      val (c, jobs) = jobsDuring(DeltaRead.snapshotAt(spark, t, cpV))
      assert(jobs <= 2, s"parquet schema + one collect expected, ran $jobs jobs")
      // every action kind the checkpoint carries came through the one collect
      assert(c.liveDomains.contains("app.pipeline") && c.files.nonEmpty &&
        c.files.forall(_.baseRowId.isDefined) && c.schema.isDefined)
      assert(c.files.sortBy(_.path) == warm.files.sortBy(_.path))
      assert(c.copy(index = warm.index) == warm)
      val (_, again) = jobsDuring(DeltaRead.snapshotAt(spark, t, cpV))
      assert(again == 0, s"a cached resolution runs no Spark job, ran $again")
    } finally cleanup(t)
  }
}
