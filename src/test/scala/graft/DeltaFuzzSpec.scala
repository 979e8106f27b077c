package graft

import graft.io.{DeltaRead, DeltaWrite}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Interaction fuzz over the whole Delta write surface: a seeded
  * random sequence of appends, DV deletes, merges, compactions and
  * restores must keep the two system-level invariants that every
  * feature was proven to hold in ISOLATION:
  *
  *  1. folding the change feed from genesis reproduces the live
  *     snapshot exactly (insert/delete completeness across every
  *     operation INTERLEAVING, not just per-op);
  *  2. a mirror tailed one commit at a time converges to the same
  *     state.
  *
  * The seed is fixed, so a failure replays deterministically. */
class DeltaFuzzSpec extends SparkTestBase {
  import spark.implicits._

  private def newTable(): String = Files.createTempDirectory("deltafuzz").toString
  private def cleanup(t: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))

  private def foldEqualsSnapshot(t: String, useCdc: Boolean = true): Unit = {
    val head = DeltaRead.latestVersion(t)
    // the incremental <v>.crc digest must agree with the independently
    // replayed snapshot after ANY op interleaving — the system-level
    // pin on writeVersionChecksum's add/remove arithmetic
    val crc = DeltaWrite.verifyChecksum(spark, t, Some(head))
    assert(crc.forall(_.isEmpty),
      s"version checksum diverged from snapshot at $head: $crc")
    val feed = DeltaRead.changesBetween(spark, t, -1L, head, useCdc = useCdc)
    val folded = feed.groupBy($"id", $"v")
      .agg(sum(when($"_change_type" === "insert", 1).otherwise(-1)).as("net"))
    val weird = folded.where($"net" =!= 0 && $"net" =!= 1).count()
    assert(weird == 0L, s"net counts outside {0,1} at version $head (useCdc=$useCdc)")
    val foldRows = folded.where($"net" === 1)
      .select($"id", $"v").as[(Long, Long)].collect().sorted.toSeq
    val liveRows = DeltaRead.read(spark, t)
      .select($"id", $"v").as[(Long, Long)].collect().sorted.toSeq
    assert(foldRows == liveRows,
      s"feed fold diverged from snapshot at version $head (useCdc=$useCdc)")
  }

  test("seeded op-sequence fuzz: fold == snapshot throughout; mirror converges") {
    val rnd = new scala.util.Random(20260814L)
    val t = newTable(); val m = newTable()
    new java.io.File(m).delete()
    try {
      var nextId = 0L
      def batch(n: Int) = {
        val rows = (0 until n).map(i => (nextId + i, rnd.nextInt(1000).toLong))
        nextId += n
        rows.toDF("id", "v")
      }
      DeltaWrite.append(batch(50).repartition(3), t) // genesis
      (1 to 16).foreach { step =>
        rnd.nextInt(10) match {
          case 0 | 1 | 2 | 3 =>
            DeltaWrite.append(batch(30 + rnd.nextInt(30)).repartition(2), t)
          case 4 | 5 =>
            val k = 3 + rnd.nextInt(5)
            DeltaWrite.deleteWhere(spark, t, $"id" % k === rnd.nextInt(k))
          case 6 | 7 =>
            // merge: update a slice of possibly-existing ids + insert new
            val updates = (0 until 10)
              .map(_ => (rnd.nextLong().abs % math.max(nextId, 1L), 7777L))
              .distinct.toDF("id", "v")
            val src = updates.unionByName(batch(5))
            DeltaWrite.merge(spark, t, src.dropDuplicates("id"), Seq("id"))
          case 8 =>
            DeltaWrite.compact(spark, t, targetBytes = 1L << 22)
          case 9 =>
            val head = DeltaRead.latestVersion(t)
            if (head >= 2) DeltaWrite.restore(spark, t, head - 1 - rnd.nextInt(2))
        }
        if (step % 4 == 0) foldEqualsSnapshot(t)
      }
      foldEqualsSnapshot(t)
      // the tailer mirrors the whole history, one commit per batch
      graft.streaming.DeltaTail.mirror(spark, t, m, Seq("id"))
      val a = DeltaRead.read(spark, t).orderBy($"id", $"v")
        .as[(Long, Long)].collect().toSeq
      val b = DeltaRead.read(spark, m).orderBy($"id", $"v")
        .as[(Long, Long)].collect().toSeq
      assert(a == b, "mirror diverged from the fuzzed source")
    } finally { cleanup(t); cleanup(m) }
  }

  test("seeded fuzz under CHANGE DATA FEED: cdc fold == reconstruction fold == snapshot") {
    val rnd = new scala.util.Random(20260815L)
    val t = newTable()
    try {
      var nextId = 0L
      def batch(n: Int) = {
        val rows = (0 until n).map(i => (nextId + i, rnd.nextInt(1000).toLong))
        nextId += n
        rows.toDF("id", "v")
      }
      DeltaWrite.append(batch(40).repartition(2), t)
      DeltaWrite.setProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true"))
      var sawCdc = false
      (1 to 12).foreach { step =>
        rnd.nextInt(8) match {
          case 0 | 1 | 2 =>
            DeltaWrite.append(batch(20 + rnd.nextInt(20)).repartition(2), t)
          case 3 | 4 =>
            val k = 3 + rnd.nextInt(4)
            DeltaWrite.deleteWhere(spark, t, $"id" % k === rnd.nextInt(k))
          case 5 | 6 =>
            val updates = (0 until 8)
              .map(_ => (rnd.nextLong().abs % math.max(nextId, 1L), 8888L))
              .distinct.toDF("id", "v")
            DeltaWrite.merge(spark, t,
              updates.unionByName(batch(4)).dropDuplicates("id"), Seq("id"))
          case 7 =>
            DeltaWrite.compact(spark, t, targetBytes = 1L << 22)
        }
        if (step % 3 == 0) {
          foldEqualsSnapshot(t, useCdc = true)
          foldEqualsSnapshot(t, useCdc = false)
        }
      }
      val head = DeltaRead.latestVersion(t)
      val r = DeltaWrite.restore(spark, t, head - 2) // restore emits cdc too
      foldEqualsSnapshot(t, useCdc = true)
      foldEqualsSnapshot(t, useCdc = false)
      // prove cdc actions actually landed somewhere in this history
      (1L to r).foreach { v =>
        val p = java.nio.file.Paths.get(t, "_delta_log", f"$v%020d.json")
        if (java.nio.file.Files.readAllLines(p).toString.contains("\"cdc\""))
          sawCdc = true
      }
      assert(sawCdc, "fuzz history never exercised a cdc-writing commit")
    } finally cleanup(t)
  }

  test("seeded fuzz on a row-tracking table: stable ids survive every op interleaving") {
    val rnd = new scala.util.Random(20260817L)
    val t = newTable()
    try {
      var nextKey = 0L
      def batch(n: Int) = {
        val rows = (0 until n).map(i => (nextKey + i, rnd.nextInt(1000).toLong))
        nextKey += n
        rows.toDF("id", "v")
      }
      def idsByKey(): Map[Long, Long] =
        DeltaRead.readWithRowIds(spark, t)
          .select($"id", col(DeltaRead.RowIdCol))
          .as[(Long, Long)].collect().toMap
      DeltaWrite.append(batch(40).repartition(3), t)
      DeltaWrite.enableRowTracking(spark, t)
      var known = idsByKey()
      (1 to 12).foreach { step =>
        rnd.nextInt(8) match {
          case 0 | 1 | 2 => DeltaWrite.append(batch(10 + rnd.nextInt(20)), t)
          case 3 | 4 =>
            val k = 3 + rnd.nextInt(4)
            DeltaWrite.deleteWhere(spark, t, $"id" % k === rnd.nextInt(k))
          case 5 =>
            // upsert: half updates of live keys, half fresh inserts
            val src = batch(8).unionByName(
              (0 until 6).map(_ => (rnd.nextLong(math.max(nextKey, 1)),
                rnd.nextInt(1000).toLong)).toDF("id", "v"))
              .dropDuplicates("id")
            DeltaWrite.merge(spark, t, src, Seq("id"))
          case 6 => DeltaWrite.compact(spark, t, targetBytes = 1L << 22)
          case 7 => DeltaWrite.checkpoint(spark, t)
        }
        val now = idsByKey()
        // 1. no row re-identified: a key live across the step keeps its
        // row id (a key deleted earlier and re-INSERTED later is a new
        // row and legitimately gets a fresh id, so the ledger tracks
        // only continuously-live keys — it resets to `now` below)
        now.foreach { case (k, rid) =>
          known.get(k).foreach(prev => assert(prev == rid,
            s"step $step: key $k re-identified $prev -> $rid"))
        }
        // 2. ids globally distinct
        assert(now.values.toSeq.distinct.size == now.size,
          s"step $step: duplicate row ids")
        // 3. the high-water mark bounds every live id
        val s = DeltaRead.snapshot(spark, t)
        val hwm = """"rowIdHighWaterMark"\s*:\s*(\d+)""".r
          .findFirstMatchIn(s.liveDomains("delta.rowTracking"))
          .map(_.group(1).toLong).getOrElse(fail("no high-water mark domain"))
        assert(now.values.forall(_ <= hwm),
          s"step $step: live id exceeds high-water mark $hwm")
        known = now // continuously-live keys only
      }
    } finally cleanup(t)
  }

  test("seeded fuzz under auto-maintenance properties: view, fold and skipping stay exact") {
    import graft.views.IncrementalView
    val rnd = new scala.util.Random(20260816L)
    val t = newTable()
    val vw = newTable(); new java.io.File(vw).delete()
    try {
      var nextId = 0L
      def batch(n: Int) = {
        val rows = (0 until n).map { i =>
          val id = nextId + i; (id, id % 7, rnd.nextInt(1000).toLong)
        }
        nextId += n
        rows.toDF("id", "g", "v")
      }
      DeltaWrite.append(batch(40).repartition(2), t)                     // v0
      // every maintenance automation ON at once: auto log compaction,
      // auto checkpoints, trimmed stats — the fuzz proves they compose
      DeltaWrite.setProperties(spark, t, Map(
        "graft.logCompaction.interval" -> "4",
        "delta.checkpointInterval" -> "5",
        "delta.dataSkippingNumIndexedCols" -> "2",
        // the r14 automations join the composition: write-side file
        // right-sizing and post-append partition compaction must keep
        // every invariant below (view == full agg, fold == snapshot,
        // skipping sound, crc digests exact) while firing mid-fuzz
        "delta.autoOptimize.optimizeWrite" -> "true",
        "delta.autoOptimize.autoCompact" -> "true",
        "graft.autoCompact.minNumFiles" -> "6"))                         // v1
      val spec = IncrementalView.ViewSpec(Seq("g"),
        sums = Seq("v"), minMaxes = Seq("v"))
      IncrementalView.build(spark, t, vw, spec)
      (1 to 14).foreach { step =>
        rnd.nextInt(8) match {
          case 0 | 1 | 2 =>
            DeltaWrite.append(batch(20 + rnd.nextInt(20)).repartition(2), t)
          case 3 | 4 =>
            val k = 3 + rnd.nextInt(4)
            DeltaWrite.deleteWhere(spark, t, $"id" % k === rnd.nextInt(k))
          case 5 | 6 =>
            val updates = (0 until 8)
              .map(_ => rnd.nextLong().abs % math.max(nextId, 1L))
              .distinct.map(id => (id, id % 7, 8888L)).toDF("id", "g", "v")
            DeltaWrite.merge(spark, t,
              updates.unionByName(batch(4)).dropDuplicates("id"), Seq("id"))
          case 7 =>
            DeltaWrite.compact(spark, t, targetBytes = 1L << 22)
        }
        IncrementalView.refresh(spark, t, vw, spec)
        val got = DeltaRead.read(spark, vw)
          .select($"g", $"cnt", $"sum_v", $"min_v", $"max_v")
          .orderBy($"g").collect().toSeq
        val want = DeltaRead.read(spark, t).groupBy($"g")
          .agg(count(lit(1)).as("cnt"), sum($"v").as("sum_v"),
            min($"v").as("min_v"), max($"v").as("max_v"))
          .orderBy($"g").collect().toSeq
        assert(got == want, s"step $step: incremental view diverged")
        // data skipping stays SOUND under trimmed stats (v is the 3rd
        // column — its per-file stats vanished at v1; id keeps stats)
        val head = DeltaRead.latestVersion(t)
        val lo = rnd.nextInt(500).toLong; val hi = lo + 200
        val pruned = DeltaRead.readVersionWhereStats(spark, t, head,
          Seq(DeltaRead.StatRange("id", Some(lo), Some(hi))))
          .where($"id".between(lo, hi)).count()
        val full = DeltaRead.read(spark, t)
          .where($"id".between(lo, hi)).count()
        assert(pruned == full, s"step $step: skipping dropped matching rows")
      }
      foldEqualsSnapshotIdV(t)
      // auto-maintenance artifacts really appeared
      val ld = java.nio.file.Paths.get(t, "_delta_log")
      val names = Files.list(ld).iterator()
      val listed = new scala.collection.mutable.ArrayBuffer[String]
      while (names.hasNext) listed += names.next().getFileName.toString
      assert(listed.exists(_.endsWith(".compacted.json")),
        "auto log compaction never fired")
      assert(listed.exists(_.contains(".checkpoint.")),
        "auto checkpoint never fired")
    } finally { cleanup(t); cleanup(vw) }
  }

  test("concurrent writers: disjoint-range appends, merges, deletes and maintenance linearize") {
    val t = newTable()
    try {
      DeltaWrite.append(Seq((-1L, 0L)).toDF("id", "v"), t) // genesis
      // auto optimize ON while four writers and a maintenance thread
      // race: the post-append compactions add MORE commit contention
      // (each rides its own CAS) and must never change row content or
      // break linearization
      DeltaWrite.setProperties(spark, t, Map(
        "delta.autoOptimize.optimizeWrite" -> "true",
        "delta.autoOptimize.autoCompact" -> "true",
        "graft.autoCompact.minNumFiles" -> "5"))
      def retry[A](what: String)(op: => A): A = {
        var attempts = 0
        while (true) {
          try return op
          catch {
            case e: IllegalStateException if attempts < 8 &&
                e.getMessage.contains("race") => attempts += 1
            // ONLY broadcast/awaitResult aborts retry — they are load
            // artifacts of the shared test JVM, and the commit CAS
            // makes the op safe to re-run. Anything else propagates:
            // a blanket SparkException retry would mask exactly the
            // intermittent protocol bugs this fuzzer exists to catch.
            case e: org.apache.spark.SparkException if attempts < 8 && {
                def txt(t: Throwable): String =
                  if (t == null) "" else t.toString + txt(t.getCause)
                val m = txt(e)
                m.contains("awaitResult") || m.contains("Broadcast")
              } => attempts += 1; Thread.sleep(100)
          }
        }
        sys.error(s"$what: unreachable")
      }
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val writers = (0 until 4).map { k =>
        new Thread(() => try {
          val base = k * 1000L
          // three exactly-once appends, disjoint id ranges per writer
          (0 until 3).foreach { b =>
            val rows = (0 until 20)
              .map(i => (base + b * 20 + i, (b + 1).toLong)).toDF("id", "v")
            retry(s"w$k append$b")(
              DeltaWrite.appendOnce(rows, t, s"writer-$k", b.toLong))
          }
          // update the first ten own keys, then erase ids 50..59
          val upd = (0 until 10).map(i => (base + i, 100L)).toDF("id", "v")
          retry(s"w$k merge")(DeltaWrite.merge(spark, t, upd, Seq("id")))
          retry(s"w$k delete")(DeltaWrite.deleteWhere(spark, t,
            $"id" >= base + 50 && $"id" <= base + 59))
        } catch { case e: Throwable => failures.add(e) })
      }
      val maintenance = new Thread(() => try {
        (0 until 3).foreach { _ =>
          try DeltaWrite.compact(spark, t, targetBytes = 1L << 22)
          catch { case _: IllegalStateException => () } // lost-race: fine
          try DeltaWrite.checkpoint(spark, t)
          catch { case scala.util.control.NonFatal(_) => () }
          Thread.sleep(30)
        }
      } catch { case e: Throwable => failures.add(e) })
      (writers :+ maintenance).foreach(_.start())
      (writers :+ maintenance).foreach(_.join(120000))
      assert(failures.isEmpty, s"writer died: ${Option(failures.peek())}")
      // the final state is schedule-independent: per writer, keys 0..9
      // carry the merge value, 10..49 their append values, 50..59 gone
      val expected = (Seq((-1L, 0L)) ++ (0 until 4).flatMap { k =>
        val base = k * 1000L
        (0 until 10).map(i => (base + i, 100L)) ++
          (10 until 20).map(i => (base + i, 1L)) ++
          (20 until 40).map(i => (base + i, 2L)) ++
          (40 until 50).map(i => (base + i, 3L))
      }).sorted
      val got = DeltaRead.read(spark, t).select($"id", $"v")
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got == expected, "concurrent history did not linearize")
      // every exactly-once ledger closed at its last batch
      val txns = DeltaRead.snapshot(spark, t).txns
      (0 until 4).foreach(k => assert(txns.get(s"writer-$k").contains(2L)))
      foldEqualsSnapshot(t)
    } finally cleanup(t)
  }

  /** [[foldEqualsSnapshot]] for the 3-column (id, g, v) fuzz table. */
  private def foldEqualsSnapshotIdV(t: String): Unit = {
    val head = DeltaRead.latestVersion(t)
    val feed = DeltaRead.changesBetween(spark, t, -1L, head)
    val folded = feed.groupBy($"id", $"g", $"v")
      .agg(sum(when($"_change_type" === "insert", 1).otherwise(-1)).as("net"))
    val foldRows = folded.where($"net" === 1)
      .select($"id", $"g", $"v").as[(Long, Long, Long)].collect().sorted.toSeq
    val liveRows = DeltaRead.read(spark, t)
      .select($"id", $"g", $"v").as[(Long, Long, Long)].collect().sorted.toSeq
    assert(foldRows == liveRows, s"feed fold diverged at version $head")
  }

  test("seeded fuzz: a shallow clone and a deep copy stay op-for-op identical") {
    val rnd = new scala.util.Random(20260816L)
    val src = newTable()
    val shallow = newTable() + "/s"; val deep = newTable() + "/d"
    try {
      var nextId = 0L
      def batch(n: Int) = {
        val rows = (0 until n).map(i => (nextId + i, rnd.nextInt(1000).toLong))
        nextId += n
        rows.toDF("id", "v")
      }
      (0 until 3).foreach(_ => DeltaWrite.append(batch(40).repartition(2), src))
      // two tables with the SAME logical start: a metadata-only shallow
      // clone and a DEEP CLONE (files materialized) — the same op
      // sequence must keep the two clone flavors op-for-op identical
      DeltaWrite.shallowClone(spark, src, shallow)
      DeltaWrite.deepClone(spark, src, deep)
      def stateOf(t: String) = DeltaRead.read(spark, t)
        .select($"id", $"v").as[(Long, Long)].collect().sorted.toSeq
      // the SAME seeded op sequence hits both; after every op the two
      // tables must read identically — absolute-path entries must be
      // semantically invisible
      (0 until 12).foreach { step =>
        rnd.nextInt(5) match {
          case 0 =>
            val b = batch(15)
            DeltaWrite.append(b, shallow); DeltaWrite.append(b, deep)
          case 1 =>
            val k = rnd.nextInt(nextId.toInt).toLong
            DeltaWrite.deleteWhere(spark, shallow, $"id" % 7 === k % 7)
            DeltaWrite.deleteWhere(spark, deep, $"id" % 7 === k % 7)
          case 2 =>
            val m = batch(10)
            DeltaWrite.merge(spark, shallow, m, Seq("id"))
            DeltaWrite.merge(spark, deep, m, Seq("id"))
          case 3 =>
            val c = rnd.nextInt(1000).toLong
            DeltaWrite.updateWhere(spark, shallow, $"v" < 100, Seq("v" -> lit(c)))
            DeltaWrite.updateWhere(spark, deep, $"v" < 100, Seq("v" -> lit(c)))
          case 4 =>
            DeltaWrite.compact(spark, shallow); DeltaWrite.compact(spark, deep)
        }
        assert(stateOf(shallow) == stateOf(deep),
          s"clone and deep copy diverged after step $step")
      }
      // source untouched by twelve rounds of clone-side mutation
      assert(DeltaRead.read(spark, src).count() == 120)
      // and the clone is progressively localizing, never growing
      // references: every surviving absolute path is one of the
      // SOURCE's ORIGINAL files
      val srcFiles = DeltaRead.snapshot(spark, src).files
        .map(f => DeltaRead.dataPath(src, f.path).toString).toSet
      val danglingOk = DeltaRead.snapshot(spark, shallow).files
        .filter(f => java.nio.file.Paths.get(f.path).isAbsolute)
        .forall(f => srcFiles(f.path))
      assert(danglingOk, "clone must never mint new absolute references")
    } finally {
      cleanup(src)
      cleanup(java.nio.file.Paths.get(shallow).getParent.toString)
      cleanup(java.nio.file.Paths.get(deep).getParent.toString)
    }
  }
}
