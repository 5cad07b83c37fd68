package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types.StructType
import graft.operators.TimeseriesScreens.EwmaFold

/** Structured Streaming façade over the hourly/timeseries operators
  * (SURVEY §2.14): the reference is batch-only, so this is the additive
  * streaming surface — the same windowed aggregations expressed over
  * `readStream`, with watermarked event time and stateful sessionization.
  */
object EventStreams {

  /** Watermarked tumbling-window rollup — the streaming twin of the batch
    * hourly aggregation (lanes q08/q55 in `lanes.TimeseriesLanes`). */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(count: Long, sum: Double, lastTs: Long)
  case class SessionOut(user_id: Long, n_events: Long, sum_value: Double)

  /** Per-user running session state via mapGroupsWithState — the custom-
    * state shape (KeyValueGroupedDataset) the reference's per-entity
    * accumulations would take in streaming form. */
  def sessionize(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("value")).as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionOut](
        GroupStateTimeout.NoTimeout) { (uid, rows, state: GroupState[SessionState]) =>
        val next = accumulate(state.getOption, rows)
        state.update(next)
        SessionOut(uid, next.count, next.sum)
      }
      .toDF()
  }

  /** The running-totals step of [[sessionize]] and
    * [[RunningTotalsProcessor]]: `rows` folded onto the previous state
    * (None for a new user). */
  private def accumulate(prev: Option[SessionState],
                         rows: Iterator[Event]): SessionState =
    rows.foldLeft(prev.getOrElse(SessionState(0L, 0.0, 0L))) { (st, e) =>
      SessionState(st.count + 1, st.sum + e.value,
        math.max(st.lastTs, e.ts.getTime))
    }

  /** Epoch microseconds of `t`. `Timestamp.getTime` is MILLIS; micros
    * matter for the output columns and for the within-batch (ts, id) sort
    * parity with the batch twins, so derive them from the Instant. */
  private def micros(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** [[sessionize]]'s processor re-expressed on `transformWithState` —
    * Spark 4's arbitrary-state API (the successor to mapGroupsWithState):
    * named state variables behind a handle, optional TTL, timers, and a
    * RocksDB-backed store. Same accumulation step as [[sessionize]] (one
    * private `accumulate`); StreamingSpec asserts output parity between
    * the two APIs batch-for-batch. */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, Event, SessionOut] {
    @transient private var state: ValueState[SessionState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("running",
        Encoders.product[SessionState], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[SessionOut] = {
      val next = accumulate(Option.when(state.exists())(state.get()), rows)
      state.update(next)
      Iterator.single(SessionOut(uid, next.count, next.sum))
    }
  }

  /** Per-user running totals via [[RunningTotalsProcessor]]. Requires the
    * RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`) — the only store
    * transformWithState supports. */
  def sessionizeTws(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("value")).as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  case class EwmaEvent(user_id: Long, ts: java.sql.Timestamp,
                       event_id: Long, value: Double)
  case class EwmaState(emicro: Long)
  case class EwmaOut(user_id: Long, ts_us: Long, event_id: Long,
                     value: Double, ewma: Double, deviation: Option[Double],
                     flag_ewma: Boolean)

  /** Streaming twin of [[graft.operators.TimeseriesScreens.ewmaScreen]]:
    * the batch screen's own fold (`TimeseriesScreens.EwmaFold`: the
    * FIXED-POINT micro-unit recursion `E' = (aN·X + (aD−aN)·E + aD/2) DIV
    * aD`, the non-negative check and the alpha check) with its state
    * carried as per-user `ValueState` in a `transformWithState` processor.
    * Because the state is an exact integer and the fold is one
    * definition, a stream fed in timestamp order produces BIT-IDENTICAL
    * ewma/deviation/flag values to the batch screen by construction
    * (StreamingSpec asserts it batch-for-batch); a float state would
    * drift between the batch fold and the incremental store. An alpha
    * outside (0, 1] fails when the processor is built. Within each
    * micro-batch, rows sort by (ts, id) like the batch twin; cross-batch
    * order is the stream's arrival contract (feed event-time-ordered or
    * add a watermark+sort upstream). */
  class EwmaProcessor(threshold: Double, alphaNum: Int, alphaDen: Int)
      extends StatefulProcessor[Long, EwmaEvent, EwmaOut] {
    private val fold = EwmaFold(alphaNum, alphaDen, threshold)
    @transient private var state: ValueState[EwmaState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[EwmaState]("ewma",
        Encoders.product[EwmaState], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[EwmaEvent],
                                 timers: TimerValues): Iterator[EwmaOut] =
      ewmaRun(fold, uid, state, rows.toArray, "EwmaProcessor")
  }

  /** The batch screen's fold ([[EwmaFold]]) over `rows` in (ts, id)
    * order, from and back to the per-user `state`. */
  private def ewmaRun(fold: EwmaFold, uid: Long, state: ValueState[EwmaState],
                      rows: Array[EwmaEvent], who: String): Iterator[EwmaOut] = {
    val (out, last) = fold.scan(
        Option.when(state.exists())(state.get().emicro),
        rows.sortBy(e => (micros(e.ts), e.event_id)))(_.value,
        e => s"$who requires non-negative value, got ${e.value}") {
      (e, ewma, dev, flag) =>
        EwmaOut(uid, micros(e.ts), e.event_id, e.value, ewma, dev, flag)
    }
    if (out.nonEmpty) last.foreach(m => state.update(EwmaState(m)))
    out.iterator
  }

  /** Out-of-order-tolerant streaming EWMA — the THIRD state shape of the
    * Spark 4 arbitrary-state API (after [[EwmaProcessor]]'s ValueState
    * and [[StreamDedupProcessor]]'s MapState): a `ListState` buffer plus
    * EVENT-TIME TIMERS. [[EwmaProcessor]] documents "feed
    * event-time-ordered" as its arrival contract; this processor removes
    * that contract — events buffer in ListState on arrival, an
    * event-time timer fires when the watermark advances, and only then do
    * the ripe events (ts ≤ watermark) flush through the batch screen's
    * fold (`TimeseriesScreens.EwmaFold`) in exact (ts, id) order. As long
    * as the watermark delay bounds the stream's disorder, the fold order —
    * and therefore every output bit — matches the batch screen
    * (StreamingSpec proves it on a stream deliberately shuffled across
    * micro-batches).
    *
    * Scale: buffered state per key is bounded by (watermark delay ×
    * event rate), the same bound every watermarked stateful op carries;
    * a key holds at most one timer, re-registered only while the buffer
    * is non-empty. */
  class OrderedEwmaProcessor(threshold: Double, alphaNum: Int, alphaDen: Int)
      extends StatefulProcessor[Long, EwmaEvent, EwmaOut] {
    private val fold = EwmaFold(alphaNum, alphaDen, threshold)
    @transient private var buf: ListState[EwmaEvent] = _
    @transient private var st: ValueState[EwmaState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[EwmaEvent]("buf",
        Encoders.product[EwmaEvent], TTLConfig.NONE)
      st = getHandle.getValueState[EwmaState]("ewma",
        Encoders.product[EwmaState], TTLConfig.NONE)
    }
    override def handleInputRows(uid: Long, rows: Iterator[EwmaEvent],
                                 timers: TimerValues): Iterator[EwmaOut] = {
      rows.foreach(buf.appendValue)
      // flush as soon as the watermark next advances; a timer the key
      // already holds fires no later than that (in this batch if it is
      // due) and flushes these rows too, so register only when it has none
      if (!getHandle.listTimers().hasNext)
        getHandle.registerTimer(timers.getCurrentWatermarkInMs() + 1)
      Iterator.empty
    }
    override def handleExpiredTimer(uid: Long, timers: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[EwmaOut] = {
      val wmMs = timers.getCurrentWatermarkInMs()
      val all = buf.get().toArray
      // strict < at µs: an event in the watermark millisecond still
      // passes Spark's late filter (ts >= watermark) in a later batch,
      // so it must stay buffered until the watermark strictly passes it
      val (ripe, pending) = all.partition(e => micros(e.ts) < wmMs * 1000L)
      buf.clear()
      if (pending.nonEmpty) {
        buf.appendList(pending)
        // +2 so a same-batch handleInputRows registration (wm + 1)
        // never collides with the re-registration
        getHandle.registerTimer(wmMs + 2)
      }
      ewmaRun(fold, uid, st, ripe, "OrderedEwmaProcessor")
    }
  }

  /** Per-user out-of-order-tolerant EWMA via [[OrderedEwmaProcessor]]:
    * event-time mode with a watermark whose delay must bound the
    * stream's disorder. */
  def ewmaStreamOrdered(spark: SparkSession, events: DataFrame,
                        threshold: Double, watermark: String,
                        alphaNum: Int = 1, alphaDen: Int = 4): DataFrame = {
    import spark.implicits._
    events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value")).as[EwmaEvent]
      .groupByKey(_.user_id)
      .transformWithState(new OrderedEwmaProcessor(threshold, alphaNum, alphaDen),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** Per-user streaming EWMA screen via [[EwmaProcessor]]. */
  def ewmaStream(spark: SparkSession, events: DataFrame, threshold: Double,
                 alphaNum: Int = 1, alphaDen: Int = 4): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"),
        col("value")).as[EwmaEvent]
      .groupByKey(_.user_id)
      .transformWithState(new EwmaProcessor(threshold, alphaNum, alphaDen),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  case class DedupEvent(user_id: Long, ts: java.sql.Timestamp,
                        event_id: Long, fingerprint: Long)
  case class DedupOut(user_id: Long, event_id: Long, fingerprint: Long,
                      first_ts_us: Long)

  /** Streaming incremental dedup on `transformWithState` MAP state — the
    * second state shape of the Spark 4 arbitrary-state API after
    * [[EwmaProcessor]]'s fixed-point ValueState: per user, the
    * fingerprints already emitted live in a `MapState[Long, Long]`
    * (fingerprint → first-seen micros), and a row passes only on its
    * FIRST appearance. With a `ttl`, RocksDB expires map entries
    * per-key, which bounds state exactly like
    * `dropDuplicatesWithinWatermark` bounds its — the right semantics
    * for ingest dedup where a re-emit after the horizon is acceptable
    * (and the batch compaction pass catches it).
    *
    * Within each micro-batch rows sort by (ts, event_id) so the SAME
    * occurrence wins as in the batch twin (exact first-per-fingerprint
    * dedup); cross-batch order is the stream's arrival contract. */
  class StreamDedupProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, DedupEvent, DedupOut] {
    @transient private var seen: MapState[Long, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getMapState[Long, Long]("seen",
        Encoders.scalaLong, Encoders.scalaLong, ttl)
    override def handleInputRows(uid: Long, rows: Iterator[DedupEvent],
                                 timers: TimerValues): Iterator[DedupOut] = {
      // eager: state mutations must happen inside handleInputRows, not
      // during a deferred iterator consumption
      val out = rows.toArray
        .sortBy(e => (micros(e.ts), e.event_id))
        .flatMap { e =>
          if (seen.containsKey(e.fingerprint)) None
          else {
            val m = micros(e.ts)
            seen.updateValue(e.fingerprint, m)
            Some(DedupOut(uid, e.event_id, e.fingerprint, m))
          }
        }
      out.iterator
    }
  }

  /** Per-user first-occurrence dedup via [[StreamDedupProcessor]]. The
    * fingerprint is `xxhash64(event_type, value)` — swap in a content
    * hash upstream for document streams. `ttl` bounds the seen-map
    * (requires processing-time mode); None keeps exact unbounded
    * history. */
  def dedupTws(spark: SparkSession, events: DataFrame,
               ttl: Option[java.time.Duration] = None): DataFrame = {
    import spark.implicits._
    val conf = ttl.map(TTLConfig.apply).getOrElse(TTLConfig.NONE)
    val mode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    events.select(col("user_id"), col("ts"), col("event_id"),
        xxhash64(col("event_type"), col("value")).as("fingerprint"))
      .as[DedupEvent]
      .groupByKey(_.user_id)
      .transformWithState(new StreamDedupProcessor(conf), mode,
        OutputMode.Append())
      .toDF()
  }

  case class OpenSession(startTs: Long, lastTs: Long, count: Long, sum: Double)
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long,
                           sum_value: Double)

  /** Gap-based session windows via flatMapGroupsWithState — the custom-
    * state streaming twin of `WindowOps.sessionize`: per user, events
    * extend the open session while the gap stays under `gapSeconds`; a
    * larger gap EMITS the closed session and opens a new one. The final
    * open session stays in state until more data (or a timeout policy)
    * closes it — standard streaming semantics; the batch twin sees it as
    * one more session, which the parity test accounts for. */
  def sessionWindows(spark: SparkSession, events: DataFrame,
                     gapSeconds: Long): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("value")).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid, rows, state: GroupState[OpenSession]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          val closed = Seq.newBuilder[ClosedSession]
          var cur = state.getOption
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.lastTs <= gapSeconds * 1000L =>
                cur = Some(s.copy(lastTs = t, count = s.count + 1,
                  sum = s.sum + e.value))
              case Some(s) =>
                closed += ClosedSession(uid, new java.sql.Timestamp(s.startTs),
                  new java.sql.Timestamp(s.lastTs), s.count, s.sum)
                cur = Some(OpenSession(t, t, 1L, e.value))
              case None =>
                cur = Some(OpenSession(t, t, 1L, e.value))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
      .toDF()
  }

  /** Streaming exact dedup — the ingest-time twin of the batch fingerprint
    * dedup (NearDup.exactDupGroups): keep the first record per key, with
    * state bounded by the watermark so it doesn't grow forever
    * (`dropDuplicatesWithinWatermark`). At 100 TB-scale ingest this is the
    * first stage of the training-data pipeline: duplicates are dropped
    * before they ever hit storage. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stateless screens applied on a stream: missing/out-of-range flags are
    * pure row-local expressions, so the batch `flagPipeline` runs on a
    * streaming DataFrame unchanged — one definition, two execution modes. */
  def screenStream(events: DataFrame, lo: Double, hi: Double): DataFrame =
    graft.operators.WindowOps.flagPipeline(events, Seq(
      "missing" -> col("value").isNull,
      "oob" -> !col("value").between(lo, hi)))

  /** Streaming MinHash near-dup candidates — ingest-time near-duplicate
    * detection, stage two of the streaming dedup path after
    * [[dedupStream]]'s exact fingerprint drop.
    *
    * Batch MinHash needs a per-doc aggregation over exploded shingles;
    * here the signature is computed PER ROW (fold over the shingle array:
    * `array_min(transform(...))`), so no streaming aggregation state is
    * needed at all. Docs explode to (band, bucket) memberships and
    * candidates meet in a watermarked STREAM-STREAM self-join on the band
    * key with an event-time range bound: state is bounded by
    * watermark × bucket width, exactly the right shape at ingest scale —
    * a new document is compared only against the recent window of docs
    * sharing a band bucket, never the full history.
    *
    * The (band, bucket) structs are `NearDup.bandBuckets`, the banding of
    * the batch passes.
    * Pairs can surface once per shared band (documented; the downstream
    * batch compaction dedupes). Use `NearDup.minhashLshPairs` for the
    * full-corpus batch pass.
    */
  def nearDupCandidates(docs: DataFrame, idCol: String, tsCol: String,
                        textCol: String, shingleN: Int = 3,
                        numHashes: Int = 16, bands: Int = 4,
                        joinWindow: String = "10 minutes",
                        watermark: String = "20 minutes"): DataFrame = {
    val withBases = docs
      .withColumn("__bases",
        transform(graft.plans.WordShingles(col(textCol), shingleN),
          s => graft.functions.PortableHash.base(s)))
      .where(size(col("__bases")) > 0)
    val hCols = (0 until numHashes).map(i =>
      array_min(transform(col("__bases"),
        b => graft.functions.PortableHash.derive(i, b))).as(s"__h$i"))
    val sig = withBases.select(col(idCol) +: col(tsCol) +: hCols: _*)
    val buckets = sig
      .select(col(idCol), col(tsCol), explode(graft.dedup.NearDup.bandBuckets(
        i => col(s"__h$i"), numHashes, bands)).as("bb"))
      .select(col(idCol), col(tsCol),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .withWatermark(tsCol, watermark)
    val left = buckets.select(col(idCol).as("id_a"), col(tsCol).as("ts_a"),
      col("band"), col("bucket"))
    val right = buckets.select(col(idCol).as("id_b"), col(tsCol).as("ts_b"),
      col("band"), col("bucket"))
    left.join(right, Seq("band", "bucket"))
      // the pair order as an equality, not a range comparison between the
      // two sides: Spark reads every range comparison in a stream-stream
      // join condition as a candidate state-watermark bound, and on id_a <
      // id_b that fails and logs a stack trace on every micro-batch plan
      .where(least(col("id_a"), col("id_b")) === col("id_a") &&
        col("id_a") =!= col("id_b") &&
        col("ts_b").between(
          col("ts_a") - expr(s"INTERVAL $joinWindow"),
          col("ts_a") + expr(s"INTERVAL $joinWindow")))
      .select(col("id_a"), col("id_b"), col("ts_a"), col("ts_b"), col("band"))
  }

  /** Drive a streaming query from a static parquet dir through a memory
    * sink, synchronously (for tests / local parity checks). */
  def runToMemory(spark: SparkSession, schema: StructType, srcDir: String,
                  transform: DataFrame => DataFrame, queryName: String,
                  mode: OutputMode = OutputMode.Update()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = transform(stream).writeStream
      .outputMode(mode)
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q
  }
}
