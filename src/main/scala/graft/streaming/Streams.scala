package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming extensions (SURVEY §2.9: the reference is
  * batch-only; this is the §7.5 additive module). The transforms are
  * written against plain DataFrames so the SAME code serves batch and
  * streaming — the Spark-native way to keep parity between the two.
  */
object Streams {

  /** Schema of the events table as ingested by the stream reader
    * (legacy generator flavor: ts as epoch-nanos long; see
    * Tables.fixNanoTs). Prefer [[eventIngest]], which sniffs which
    * flavor a directory actually holds. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Nanos→timestamp normalization shared by batch and stream paths. */
  def normalize(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_micros(expr("ts div 1000")))

  /** Stream ingestion recipe for an events directory: a file stream
    * source needs its schema UP FRONT, but the data generator has
    * shipped `ts` as epoch-nanos int64, tz-less `timestamp[us]`
    * (TIMESTAMP_NTZ), and tz'd micros across versions — and reading
    * one flavor under another's schema silently yields 1000×-off
    * timestamps, not an error. So sniff the flavor from one cheap
    * batch footer read of the SAME directory, and return the matching
    * (source schema, normalizer to the canonical TimestampType `ts`)
    * pair. Sessions run in UTC, so the NTZ→LTZ cast is wall-clock
    * identity — the same pin as Tables.normalizeTs. */
  def eventIngest(spark: SparkSession, dir: String): (StructType, DataFrame => DataFrame) = {
    val tsType = spark.read.parquet(dir).schema
      .find(_.name == "ts").map(_.dataType).getOrElse(LongType)
    val schema = StructType(eventSchema.map(f =>
      if (f.name == "ts") StructField("ts", tsType) else f))
    val norm: DataFrame => DataFrame = tsType match {
      case LongType         => normalize         // epoch nanos
      case TimestampNTZType => _.withColumn("ts", col("ts").cast("timestamp"))
      case _                => identity          // already TimestampType
    }
    (schema, norm)
  }

  /** Tumbling-window counts per event type — works on a batch OR
    * streaming DataFrame (watermark applied only when streaming). */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    src.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total_value"))
  }

  /** File-source stream over an events parquet DIRECTORY (the file
    * stream source pins basePath to the source path internally, so a
    * bare .parquet file path is rejected — point this at a directory
    * of event files, the production layout anyway). */
  def readEventStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val (schema, norm) = eventIngest(spark, dir)
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    norm(reader.parquet(dir))
  }

  /** Start the windowed aggregation into an in-memory table (tests /
    * local smoke; swap the sink for kafka/delta in production). */
  def startTumblingToMemory(spark: SparkSession, dir: String,
      queryName: String): StreamingQuery =
    tumblingCounts(readEventStream(spark, dir))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Append-mode variant: only FINALIZED windows (end < watermark) are
    * ever emitted, and rows arriving behind the watermark are dropped
    * before aggregation — the contract the late-data spec pins. */
  def startTumblingAppendToMemory(spark: SparkSession, dir: String,
      queryName: String): StreamingQuery =
    tumblingCounts(readEventStream(spark, dir))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName)
      .start()

  /** Sessionize stream → memory (Update mode: mapGroupsWithState emits
    * refreshed per-user state each micro-batch). */
  def startSessionizeToMemory(spark: SparkSession, dir: String,
      queryName: String): StreamingQuery =
    sessionize(readEventStream(spark, dir))(spark)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming exact dedup — the ingest-time twin of `Dedup.exact`:
    * fingerprint the payload column, then `dropDuplicatesWithinWatermark`
    * so the dedup STATE is bounded by the watermark horizon (an
    * unbounded-state dropDuplicates would OOM a 100 TB/day ingest; two
    * copies arriving more than `wm` apart are both kept — the batch
    * compaction pass sweeps those). On a batch frame the same call
    * degrades to plain dropDuplicates for code-sharing parity; batch
    * keep-policy is arbitrary-first, so equivalence checks compare the
    * kept fingerprint SET, not row identity. */
  def dedupByFingerprint(df: DataFrame, payloadCol: String,
      wm: String = "2 hours"): DataFrame = {
    val fp = df.withColumn("fp",
      graft.functions.TextAnalysis.fingerprint(col(payloadCol)))
    if (fp.isStreaming) fp.withWatermark("ts", wm).dropDuplicatesWithinWatermark("fp")
    else fp.dropDuplicates("fp")
  }

  /** Start the dedup stream into an in-memory table (default trigger —
    * not AvailableNow — so tests can feed multiple micro-batches into a
    * running query and watch the dedup state work across them). */
  def startDedupToMemory(spark: SparkSession, dir: String,
      queryName: String): StreamingQuery =
    dedupByFingerprint(readEventStream(spark, dir), "props")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName)
      .start()

  /** Stream-stream event-time join (click→conversion attribution):
    * per user, pair each trigger event with the follow events landing
    * inside (trigger, trigger + horizon]. On streams BOTH sides are
    * watermarked and the range condition bounds the join state (Spark
    * expires buffered rows once the watermark passes the horizon); the
    * same code on batch frames is a plain range self-join, which is
    * the equivalence oracle. Inner join: matches emit as found, no
    * watermark wait. */
  def attributionJoin(triggers: DataFrame, follows: DataFrame,
      horizon: String = "1 hour", wm: String = "2 hours"): DataFrame = {
    val t0 = triggers.select(col("user_id").as("t_user"), col("ts").as("t_ts"),
      col("event_id").as("t_id"))
    val f0 = follows.select(col("user_id").as("f_user"), col("ts").as("f_ts"),
      col("event_id").as("f_id"), col("value").as("f_value"))
    val t = if (t0.isStreaming) t0.withWatermark("t_ts", wm) else t0
    val f = if (f0.isStreaming) f0.withWatermark("f_ts", wm) else f0
    t.join(f, expr(
        s"t_user = f_user AND f_ts > t_ts AND f_ts <= t_ts + INTERVAL $horizon"))
      .select(col("t_user").as("user_id"), col("t_id"), col("f_id"),
        col("t_ts"), col("f_ts"), col("f_value"))
  }

  /** LEFT OUTER variant of [[attributionJoin]]: triggers that never
    * see a follow-up inside the horizon are still emitted (null follow
    * columns) — but only once the watermark proves no future match can
    * arrive, which is exactly the state-eviction contract that bounds
    * the join buffer at scale. Batch frames degrade to a plain left
    * outer join, so one definition serves both engines of the
    * stream==batch proof. */
  def attributionJoinOuter(triggers: DataFrame, follows: DataFrame,
      horizon: String = "1 hour", wm: String = "2 hours"): DataFrame = {
    val t0 = triggers.select(col("user_id").as("t_user"), col("ts").as("t_ts"),
      col("event_id").as("t_id"))
    val f0 = follows.select(col("user_id").as("f_user"), col("ts").as("f_ts"),
      col("event_id").as("f_id"), col("value").as("f_value"))
    val t = if (t0.isStreaming) t0.withWatermark("t_ts", wm) else t0
    val f = if (f0.isStreaming) f0.withWatermark("f_ts", wm) else f0
    t.join(f, expr(
        s"t_user = f_user AND f_ts > t_ts AND f_ts <= t_ts + INTERVAL $horizon"),
        "left_outer")
      .select(col("t_user").as("user_id"), col("t_id"), col("f_id"),
        col("t_ts"), col("f_ts"), col("f_value"))
  }

  /** Per-user running session state via mapGroupsWithState: counts
    * events and carries the last-seen timestamp per user. */
  case class UserEvent(user_id: Long, event_id: Long, tsMicros: Long)
  case class UserState(user_id: Long, n_events: Long, last_event_id: Long)

  /** Streaming SCD Type-2: per-key attribute run-collapse as a
    * flatMapGroupsWithState state machine. Each trigger's rows are
    * sorted in-group by (ts, event_id) — the iterator order within a
    * micro-batch is not guaranteed — and every attribute CHANGE closes
    * the open interval, which is emitted immediately (Append-safe: a
    * closed interval never changes). The open interval lives only in
    * state, so `scd2Stream` output ≡ the batch `Temporal.scd2` rows
    * with `is_current = false`, PROVIDED event time never regresses
    * across triggers for a key (the file-per-time-slice layout the
    * specs stage; late regressors would need watermark buffering).
    * State per key is O(1): (attr, version, valid_from) — no event
    * history is retained. */
  case class AttrEvent(user_id: Long, attr: String, tsMicros: Long, event_id: Long)
  case class Scd2State(attr: String, version: Int, validFromMicros: Long)
  case class Scd2Closed(user_id: Long, attr: String, valid_from_us: Long,
      valid_to_us: Long, version: Int)

  def scd2Stream(events: DataFrame)(implicit spark: SparkSession)
      : org.apache.spark.sql.Dataset[Scd2Closed] = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_type").as("attr"),
        unix_micros(col("ts")).as("tsMicros"), col("event_id"))
      .as[AttrEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[AttrEvent], state: GroupState[Scd2State]) =>
          val sorted = it.toArray.sortBy(e => (e.tsMicros, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
          var st = state.getOption
          sorted.foreach { e =>
            st match {
              case None =>
                st = Some(Scd2State(e.attr, 1, e.tsMicros))
              case Some(s) if s.attr != e.attr =>
                out += Scd2Closed(uid, s.attr, s.validFromMicros, e.tsMicros, s.version)
                st = Some(Scd2State(e.attr, s.version + 1, e.tsMicros))
              case _ => () // same attr: the run continues
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Start the SCD2 state machine over an events directory into a
    * memory sink, one file per trigger so time-sliced files replay in
    * order (the layout assumption documented on [[scd2Stream]]). */
  def startScd2ToMemory(spark: SparkSession, dir: String,
      queryName: String): StreamingQuery = {
    implicit val s: SparkSession = spark
    // maxFilesPerTrigger is a SOURCE option: one file per micro-batch,
    // so time-sliced files replay as ordered triggers
    val src = readEventStream(spark, dir, maxFilesPerTrigger = Some(1))
    scd2Stream(src).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  case class ValueEvent(user_id: Long, value: Double, tsMicros: Long, event_id: Long)
  case class EwmaOut(user_id: Long, n_events: Long, ewma: Double)

  /** Streaming EWMA (α default 0.3): the recursion s ← αx + (1−α)s
    * folded in event-time order within each micro-batch, state per key
    * O(1): (n, s). When triggers replay in time order the fold order is
    * identical to a batch recursion over the full series, so the final
    * state is BIT-identical to batch — unlike the closed-form weighted
    * sum (q136), which is the same value only up to FP re-association.
    * Emits the running state every trigger (Update mode); the row with
    * the highest n_events per key is the live smoothed value.
    */
  def ewmaStream(events: DataFrame, alpha: Double = 0.3)(implicit spark: SparkSession)
      : org.apache.spark.sql.Dataset[EwmaOut] = {
    import spark.implicits._
    events
      .select(col("user_id"), col("value"),
        unix_micros(col("ts")).as("tsMicros"), col("event_id"))
      .as[ValueEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[ValueEvent], state: GroupState[EwmaOut]) =>
          val sorted = it.toArray.sortBy(e => (e.tsMicros, e.event_id))
          var st = state.getOption.getOrElse(EwmaOut(uid, 0L, 0.0))
          sorted.foreach { e =>
            st =
              if (st.n_events == 0L) EwmaOut(uid, 1L, e.value)
              else EwmaOut(uid, st.n_events + 1,
                alpha * e.value + (1.0 - alpha) * st.ewma)
          }
          state.update(st)
          st
      }
  }

  /** Start the EWMA state machine over an events directory into a
    * memory sink; one file per trigger so time-sliced files replay as
    * ordered micro-batches (the layout [[ewmaStream]] documents). */
  def startEwmaToMemory(spark: SparkSession, dir: String,
      queryName: String): StreamingQuery = {
    implicit val s: SparkSession = spark
    val src = readEventStream(spark, dir, maxFilesPerTrigger = Some(1))
    ewmaStream(src).toDF()
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  def sessionize(events: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(uid, 0L, -1L))
          var n = prev.n_events
          var last = prev.last_event_id
          var lastTs = Long.MinValue
          it.foreach { e =>
            n += 1
            if (e.tsMicros >= lastTs) { lastTs = e.tsMicros; last = e.event_id }
          }
          val next = UserState(uid, n, last)
          state.update(next)
          next
      }
      .toDF()
  }

  /** One banded document on the LSH wire: 8-byte bucket key, doc id,
    * full minhash signature (numHashes longs). */
  case class BandedDoc(band_key: Long, doc_id: Long, sig: Seq[Long])

  /** A streaming near-dup candidate: ids ordered, similarity is the
    * standard minhash estimate (matching signature components /
    * numHashes). `band_key` names the bucket that caught it. */
  case class StreamDupPair(band_key: Long, id_a: Long, id_b: Long, est_sim: Double)

  case class BucketMember(id: Long, sig: Seq[Long])
  case class BucketState(members: Seq[BucketMember], dormant: Boolean)

  /** Scan-side banding shared by the stream and its batch twin:
    * shingle → codegen'd minhash → per-band keys hashed to 8 bytes —
    * exactly `Dedup.lshCandidates`' candidate key, so only the bucket
    * key and the signature ever shuffle, never text. */
  def lshBandRows(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    import graft.operators.Dedup
    docs
      .withColumn("__hs", Dedup.shingleHashes(col(textCol), shingleSize))
      .where(size(col("__hs")) > 0)
      .withColumn("sig", graft.functions.Natives.minhash(col("__hs"), numHashes))
      .select(col(idCol).cast("long").as("doc_id"), col("sig"),
        explode(Dedup.bandKeys(col("sig"), bands, r)).as("__bks"))
      .select(graft.functions.Natives.hash60(col("__bks")).as("band_key"),
        col("doc_id"), col("sig"))
  }

  /** Streaming near-duplicate detection — the INGEST-TIME edition of
    * the batch MinHash-LSH tier: each band bucket is a
    * flatMapGroupsWithState group whose state is the (doc_id,
    * signature) list seen so far; a newly arriving document compares
    * against its bucket's members only (never the corpus) and emits a
    * [[StreamDupPair]] per member whose estimated Jaccard ≥ `tau` —
    * so a near-dup of ANY earlier document is flagged the moment it
    * arrives, across micro-batch boundaries. Within a trigger, rows
    * sort by doc_id (iterator order is not guaranteed); across
    * triggers, arrival order IS the order.
    *
    * State is bounded two ways, because unbounded per-bucket state is
    * the streaming twin of the quadratic hot bucket: `maxBucketSize`
    * sends a flooded bucket DORMANT (stops storing AND comparing —
    * the batch guard's drop semantics, so stream output stays a
    * subset of an uncapped batch run, never a differently-shaped
    * one), and the signature list is the only per-member payload.
    * Emitted pairs are per-bucket candidates: downstream exact
    * verification (`Dedup.jaccard` on the stored texts) and
    * cross-band dedup are batch-side concerns, as in the batch tier. */
  def lshNearDupStream(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3,
      tau: Double = 0.5, maxBucketSize: Int = 64)(
      implicit spark: SparkSession): Dataset[StreamDupPair] = {
    import spark.implicits._
    val nh = numHashes
    lshBandRows(docs, idCol, textCol, numHashes, bands, shingleSize)
      .as[BandedDoc]
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: Long, rows: Iterator[BandedDoc], state: GroupState[BucketState]) => {
          var st = state.getOption.getOrElse(BucketState(Nil, dormant = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[StreamDupPair]
          rows.toSeq.sortBy(_.doc_id).foreach { d =>
            if (!st.dormant && !st.members.exists(_.id == d.doc_id)) {
              if (st.members.size >= maxBucketSize) {
                // flood: go dormant, mirroring the batch guard's
                // whole-bucket drop (subset semantics, not skew)
                st = BucketState(Nil, dormant = true)
              } else {
                st.members.foreach { m =>
                  val eq = m.sig.iterator.zip(d.sig.iterator).count { case (a, b) => a == b }
                  val est = eq.toDouble / nh
                  if (est >= tau)
                    out += StreamDupPair(key, math.min(m.id, d.doc_id),
                      math.max(m.id, d.doc_id), est)
                }
                st = st.copy(members = BucketMember(d.doc_id, d.sig) +: st.members)
              }
            }
          }
          state.update(st)
          out.iterator
        })
  }

  /** Batch twin of [[lshNearDupStream]] for the stream==batch proof:
    * same banding, same estimate, all-arrivals-at-once semantics
    * (every within-bucket pair, smaller id first). */
  def lshNearDupBatch(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3,
      tau: Double = 0.5): DataFrame = {
    val banded = lshBandRows(docs, idCol, textCol, numHashes, bands, shingleSize)
    val a = banded.select(col("band_key"), col("doc_id").as("id_a"), col("sig").as("__sa"))
    val b = banded.select(col("band_key"), col("doc_id").as("id_b"), col("sig").as("__sb"))
    a.join(b, Seq("band_key")).filter(col("id_a") < col("id_b"))
      .withColumn("est_sim",
        aggregate(zip_with(col("__sa"), col("__sb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
      .filter(col("est_sim") >= tau)
      .select(col("band_key"), col("id_a"), col("id_b"), col("est_sim"))
  }

  /** Stream → gold-table maintenance on a DELTA table, with
    * protocol-level exactly-once: foreachBatch commits each micro-batch
    * through [[graft.io.DeltaWrite.appendOnce]] carrying
    * `txn {appId, batchId}` — the SetTransaction mechanism real Delta
    * streaming sinks use. Idempotence needs no key columns: a replayed
    * batch (restart in Structured Streaming's at-least-once window, or
    * a rerun against a lost/blown checkpoint directory) is skipped
    * because the TABLE already records (appId, batchId), so stream-fed
    * gold equals the batch recompute (StarStreamingSpec). Empty batches
    * never mint a version. The resulting table is readable by any Delta
    * client, txn marks survive checkpoint truncation. */
  def startGoldAppendDelta(spark: SparkSession, dir: String, deltaTable: String,
      appId: String): StreamingQuery =
    readEventStream(spark, dir)
      .writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.io.DeltaWrite.appendOnce(batch.toDF(), deltaTable, appId, batchId)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
