package graft.streaming

import graft.io.Connector
import graft.ops.{Report1, Report1SourceCols, Report1TargetCols}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** One event of the bounded/unbounded `events` stream. */
final case class StreamEvent(event_id: Long, ts: java.sql.Timestamp,
    user_id: Long, event_type: String, value: Double)

/** One emitted session. */
final case class UserSession(user_id: Long, session_start_epoch: Long,
    n_events: Long, sum_value_cents: Long)

/** Structured Streaming forms of the event-time operators (EventOps holds
  * the batch twins the DuckDB oracle checks; the specs assert stream/batch
  * parity). The reference's meta-file mechanism is a *manual batch
  * watermark* (SURVEY.md §2.6 U2/U3) — this is the same semantics expressed
  * with Spark's native machinery: file source + event-time watermark +
  * `Trigger.AvailableNow` gives incremental, replayable, exactly-once-per-
  * window processing without a hand-rolled meta file.
  */
object EventStream {

  /** Nanos-era source schema (ts = epoch nanos as long — the shape a
    * TIMESTAMP(NANOS) parquet surfaces under `nanosAsLong`). Kept for specs
    * that hand-craft nanos fixtures; real files are probed
    * ([[probeEventsSchema]]) because the driver's encoding has changed
    * across rounds (nanos → NTZ micros).
    */
  val eventsNanosSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The physical schema of the events files at `path`, resolved via a
    * batch footer read (a streaming source requires a declared schema; an
    * assumed one silently breaks when the upstream producer re-encodes
    * `ts`, which has happened — nanos → NTZ micros). Cheap: one footer.
    */
  def probeEventsSchema(spark: SparkSession, path: String): StructType = {
    graft.Registry.prepareEventConfs(spark)
    spark.read.parquet(path).schema
  }

  /** Streaming scan of an events parquet path, `ts` normalized to
    * TimestampType by the SAME schema-adaptive rule as the batch path
    * (`Registry.normalizeEventTs`) — stream/batch parity holds whichever
    * way the producer encoded the timestamps.
    */
  def readEvents(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(probeEventsSchema(spark, path))
    val withOpts = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    graft.Registry.normalizeEventTs(withOpts.parquet(path))
  }

  /** Tumbling 1-day windows per event type with a 30-minute watermark —
    * the streaming twin of `EventOps.tumblingDaily`.
    */
  def tumblingDaily(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // the batch family's shared exact-decimal sum (graft.ops.dsum,
        // DECIMAL(30,2)) — one cents-discipline definition for both twins
        graft.ops.dsum(col("value")).as("sum_value"))
      .select(to_date(col("w.start")).as("day"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Run a bounded stream to completion into a memory sink; returns the
    * final table. `AvailableNow` = process everything currently in the
    * source, then stop — the native form of the reference's "catch up to
    * today, then exit" batch loop.
    */
  def runToMemory(spark: SparkSession, agg: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): DataFrame =
    runToMemoryWithWatermark(spark, agg, name, mode)._1

  /** As [[runToMemory]], but also returns the query's final event-time
    * watermark (epoch millis, 0 if none reported) from `lastProgress` —
    * the authoritative "no older row can still arrive" boundary of the
    * LAST executed micro-batch. Tests that assert on watermark-driven
    * emissions (e.g. outer-join null flushes) must derive the expected
    * set from THIS value rather than re-computing the advancement rule
    * (`min over inputs of max event time − delay`): how many batches run
    * after the final advance under `Trigger.AvailableNow` is
    * version-sensitive, the reported value is what the engine applied.
    *
    * The query's state partition count is `spark.sql.shuffle.partitions`
    * as the session holds it when the query first starts.
    */
  def runToMemoryWithWatermark(spark: SparkSession, agg: DataFrame,
      name: String, mode: OutputMode = OutputMode.Complete())
      : (DataFrame, Long) = {
    val q = agg.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wm = Option(q.lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(ts => java.time.Instant.parse(ts).toEpochMilli)
      .getOrElse(0L)
    (spark.table(name), wm)
  }

  /** The incremental report job in native Structured Streaming form: the
    * file source + checkpoint replaces the reference's hand-rolled meta
    * file (SURVEY.md §2.6 U2/U3) — the checkpoint tracks exactly which
    * source files were processed, so re-runs pick up only new arrivals and
    * a crash between write and "commit" replays instead of losing data,
    * with no read-modify-write race. Each `runOnce()` drains everything new
    * (`Trigger.AvailableNow`), applies the full Report1 chain per
    * micro-batch, and appends to the parquet target. Source-side tracking
    * is exactly-once; the plain-parquet *sink* is at-least-once on a crash
    * mid-batch (a replay re-appends) — a transactional/partition-overwrite
    * sink upgrades the end-to-end guarantee without touching the job.
    *
    * A restart re-plans the last committed batch: each `runOnce()` starts
    * a new query, and before its first new batch Spark asks the source for
    * the last committed one again, which lists that batch's files once
    * more (nothing is re-read or re-written). Above 32 files that listing
    * is a Spark job of at most one task per core (GraftSession), so the
    * first run after a large backfill pays for one parallel listing, not
    * one task per backfilled file.
    *
    * Each run's query runs its batches in a clone of the session. The
    * clone shares the executor class loader, and so the codegen cache,
    * with every other session (GraftSession turns session artifact
    * isolation off), so a daily run reuses the classes the runs before it
    * compiled instead of compiling them again and running them cold.
    *
    * Cross-batch lag boundary: `change_prev_*` for the first date of a
    * batch is null — the same boundary the reference handles by re-reading
    * one overlap day (`meta_process.py:77-79`); a deployment wanting
    * seamless lag keeps the prior day's report row per ISIN in state or
    * unions the target's last partition into the batch before transform.
    */
  final class Report1StreamJob(
      spark: SparkSession, sourceGlob: String, targetDir: String,
      checkpointDir: String, schema: StructType,
      src: Report1SourceCols, trg: Report1TargetCols) {

    /** Process all source files not yet in the checkpoint, then stop. */
    def runOnce(): Unit = {
      val bars = spark.readStream
        .schema(schema)
        .options(Connector.CsvDialect)
        .csv(sourceGlob)
      val q = bars.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          if (!batch.isEmpty) {
            Report1.transform(batch.toDF(), src, trg, extractDate = "0000-01-01")
              .write.mode(SaveMode.Append).parquet(targetDir)
          }
          ()
        }
        .start()
      q.awaitTermination()
    }
  }

  /** Streaming exact deduplication by event id — the streaming twin of the
    * batch dedup family: duplicate deliveries (at-least-once sources,
    * replayed files) are dropped across micro-batches, with the watermark
    * bounding how long each key is remembered (state stays O(keys within
    * the watermark window), not O(stream)).
    */
  def dedupById(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stateful sessionization (30-minute inactivity gap) with
    * `flatMapGroupsWithState` — the custom-state form of
    * `EventOps.sessionize`. Values are exact cents (long) so stream/batch
    * parity is bit-exact.
    *
    * Two modes, selected by `flushOpenTails` (no default — the safe value
    * depends on the trigger shape, so the caller must choose):
    *  - `false` (the multi-batch mode): each micro-batch merges the carried
    *    open tail with the batch's events, emits only sessions *closed by
    *    observed data* (a newer event > gap after them exists), and keeps the
    *    still-open tail in state — so a session spanning micro-batch
    *    boundaries is emitted exactly once, never as duplicate fragments.
    *    The tail flushes when a later event closes it; an idle user's final
    *    session stays open (flush it with an event-time timeout in a
    *    deployment that needs bounded emission latency).
    *  - `true`: additionally emits each user's open tail and clears state —
    *    ONLY correct when the source is fully drained in a single trigger
    *    (e.g. `Trigger.AvailableNow` over a static directory processed as
    *    one micro-batch); with multiple batches it would re-emit fragments.
    *
    * Ordering contract (same as [[funnelStages]]): WITHIN a batch,
    * disorder is handled (events are sorted before folding); ACROSS
    * batches, observed-gap emission assumes each user's events arrive in
    * nondecreasing event-time order — an out-of-order event delivered
    * after the session it belongs to was closed by observed data cannot
    * be retrofitted. Sources with cross-batch disorder need
    * [[sessionizeWithTimeout]], whose emissions are watermark-proven
    * instead of observed-gap.
    */
  def sessionize(events: Dataset[StreamEvent],
      flushOpenTails: Boolean): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[StreamEvent], UserSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        sessionFn(flushOpenTails))
  }

  /** The production sessionization mode: every emission is
    * watermark-PROVEN, not observed-gap — a session leaves state only
    * once the watermark passes `last event + gap`, the engine's proof
    * that no event which could extend it can still arrive (anything
    * later would start a new session anyway). Unlike
    * `sessionize(_, false)`, this is correct under cross-batch disorder:
    * an out-of-order event above the watermark arriving in a later
    * micro-batch still merges into its (unproven, still-buffered)
    * session instead of being orphaned. Idle users get the same proof
    * through an event-time timeout armed at the earliest pending
    * session's proof point. Late data beyond the watermark is dropped
    * explicitly (flatMapGroupsWithState does not pre-filter late input
    * the way windowed aggregations do). State per key is the events of
    * the unproven sessions — bounded by the watermark horizon.
    */
  def sessionizeWithTimeout(events: Dataset[StreamEvent],
      watermarkDelay: String = "30 minutes"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[StreamEvent], UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        sessionTimeoutFn)
  }

  private def sessionTimeoutFn(
      userId: Long, it: Iterator[StreamEvent],
      state: GroupState[List[StreamEvent]]): Iterator[UserSession] = {
    // Watermark-gated emission: a session is emitted ONLY once the
    // watermark proves it closed (last event + gap strictly behind the
    // watermark — any event that could still extend it would be at
    // ts ≤ last + gap < watermark, i.e. dropped as late below). An
    // observed in-batch gap is NOT proof: an out-of-order event ABOVE the
    // watermark arriving in a later micro-batch may legally fall inside
    // the gap, so observed-gap emission (what `sessionize(_, false)` does
    // under its per-key ordering contract) would have emitted a wrong
    // boundary. The cost of correctness under cross-batch disorder is
    // state = every event of every unproven session, bounded by the
    // watermark horizon per key — the standard trade of any
    // watermark-correct session operator (it is what `session_window`'s
    // own state store holds too).
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val prev = state.getOption.getOrElse(Nil)
    // fMGWS does NOT pre-filter late input (unlike windowed aggs): enforce
    // the documented contract ourselves — below-watermark stragglers drop
    val fresh = it.filter(e => tsMicros(e) >= wmUs).toList
    val all = (prev ++ fresh).sortBy(e => (tsMicros(e), e.event_id))
    if (all.isEmpty) { state.remove(); return Iterator.empty }
    val sessions = splitByGap(all)
    // sessions are time-ordered and disjoint by > gap, so provenness is a
    // prefix: session i's last precedes session i+1's first
    val (closed, pending) =
      sessions.span(s => tsMicros(s.last) + GapUs < wmUs)
    if (pending.isEmpty) state.remove()
    else {
      state.update(pending.flatten)
      // fire when the watermark passes the EARLIEST pending session's
      // proof point (+1 ms: the API fires at watermark > timestamp and the
      // proof needs strict <); on fire this same function re-partitions
      // with the then-current watermark and re-arms for the rest.
      // Always > current watermark (pending ⇒ last + gap ≥ wm), as the
      // GroupState API requires.
      state.setTimeoutTimestamp(
        tsMicros(pending.head.last) / 1000L + GapMs + 1)
    }
    closed.iterator.map(es => toSession(userId, es))
  }

  /** Per-user funnel progress carried across micro-batches. Timestamps are
    * epoch millis of the FIRST qualifying event per stage (click must
    * strictly follow the first view, purchase the first qualifying click —
    * the same strict sequencing as the batch `funnel_conversion`).
    */
  /** One row of the streaming latest-snapshot view: the user's most
    * recent event (by the (event-time-micros, event_id) total order) plus
    * a delivery counter.
    */
  final case class KeyedLatest(user_id: Long, ts_micros: Long,
      event_id: Long, value_cents: Long, n_seen: Long)

  /** Event time on the microsecond grid — full parquet precision, so the
    * streaming order matches the batch `max(struct(ts, event_id))`
    * exactly (ms-truncated `getTime` would order ties differently).
    */
  private def tsMicros(e: StreamEvent): Long =
    e.ts.toInstant.getEpochSecond * 1000000L + e.ts.getNanos / 1000L

  /** The upsert MERGE rule: the batch's best (ts, event_id) wins only if
    * it beats the stored row; the delivery counter always advances.
    */
  private def mergeLatest(userId: Long, batch: Seq[StreamEvent],
      prev: Option[KeyedLatest]): KeyedLatest = {
    val best = batch.maxBy(e => (tsMicros(e), e.event_id))
    val nSeen = prev.map(_.n_seen).getOrElse(0L) + batch.size
    val keepPrev = prev.exists(p =>
      p.ts_micros > tsMicros(best) ||
        (p.ts_micros == tsMicros(best) && p.event_id >= best.event_id))
    if (keepPrev) prev.get.copy(n_seen = nSeen)
    else KeyedLatest(userId, tsMicros(best), best.event_id,
      cents(best.value), nSeen)
  }

  /** Streaming CDC-upsert materialization — the stateful twin of the MV
    * family's maintenance queries: keep, per user, the LATEST event under
    * the (event-time, event_id) total order, merging each micro-batch
    * like a `MERGE INTO latest_snapshot` would. The monotone merge rule
    * makes the view robust to OUT-OF-ORDER and REPLAYED deliveries: an
    * incoming batch wins only if its best (ts, event_id) beats the stored
    * one, while `n_seen` still counts every delivery (so the spec can
    * assert a replay changed nothing but the counter). State is one small
    * row per key, hash-partitioned by the stream's grouping — the
    * scale-honest upsert shape (no global state, no sort). Values are
    * exact cents; ties are impossible because event_id is unique.
    */
  def latestSnapshot(events: Dataset[StreamEvent]): Dataset[KeyedLatest] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[KeyedLatest, KeyedLatest](
        GroupStateTimeout.NoTimeout()) { (userId, it, state) =>
        val next = mergeLatest(userId, it.toVector, state.getOption)
        state.update(next)
        next
      }
  }

  final case class PriorityEntry(event_id: Long, w_cents: Long,
      priority_key: Long)
  final case class ShardTopK(shard: Long, n_seen: Long,
      entries: Seq[PriorityEntry])

  /** Streaming priority sampling — the Duffield–Lund–Thorup top-k
    * (`SamplingOps.priorityEvents` is the oracle-checked batch twin)
    * maintained as BOUNDED state while events arrive: a weighted sample
    * needs exactly k entries of state per shard, never the stream.
    * Sharded on `event_id mod 8` so no single state partition sees the
    * whole stream; each shard keeps its own top-k (the global winners
    * could all land in one shard, so per-shard k = global k), and the
    * reader unions shards and takes the global top-k — the same
    * local-then-merge shape as every distributed top-k here. The priority
    * arithmetic is NOT reimplemented: the stream projects through the
    * batch queries' own `SamplingOps.withPriorityKey` Column expressions
    * before the stateful operator, so parity holds by construction.
    * Emission is the full per-shard snapshot each batch with a monotone
    * `n_seen`, so the latest emission is identifiable in an Update-mode
    * sink.
    */
  def prioritySampleTws(events: Dataset[StreamEvent],
      k: Int = 200): Dataset[ShardTopK] = {
    import events.sparkSession.implicits._
    // the priority arithmetic is the BATCH queries' Column expressions
    // (SamplingOps.withPriorityKey), projected before the stateful
    // operator — parity by construction; the processor only keeps top-k
    graft.ops.SamplingOps.withPriorityKey(events.toDF(), "event_id", "value")
      .select(col("event_id"), col("w_cents"), col("priority_key"))
      .as[PriorityEntry]
      .groupByKey(_.event_id % 8)
      .transformWithState(new PrioritySampleProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  final class PrioritySampleProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, PriorityEntry, ShardTopK] {
    @transient private var topk:
        org.apache.spark.sql.streaming.ValueState[ShardTopK] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      topk = getHandle.getValueState[ShardTopK]("topk",
        org.apache.spark.sql.Encoders.product[ShardTopK],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(shard: Long, rows: Iterator[PriorityEntry],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ShardTopK] = {
      val prev = if (topk.exists()) topk.get() else ShardTopK(shard, 0L, Nil)
      val incoming = rows.toVector
      val merged = (prev.entries ++ incoming)
        .sortBy(en => (-en.priority_key, en.event_id)).take(k)
      val next = ShardTopK(shard, prev.n_seen + incoming.size, merged)
      topk.update(next)
      Iterator.single(next)
    }
  }

  final case class ShardSketch(shard: Long, n_seen: Long,
      sketch: Array[Byte])

  /** Streaming mergeable Count-Min sketch — the continuous form of
    * `stats_cms_heavyhitters`: each of 8 shards folds its slice of the
    * event stream into ONE fixed-size CMS held in state (the SAME
    * (depth, width, seed) as the batch aggregates — [[graft.functions
    * .CmsDims]] is the single source of those constants), emitting the
    * serialized sketch per micro-batch with a monotone `n_seen`. Because
    * CMS union is exact counter addition (commutative, associative), the
    * final shard sketches merge into bytes IDENTICAL to one batch-built
    * sketch over the same rows, however the stream was micro-batched or
    * sharded — StreamingSpec asserts that byte parity. State per shard is
    * the fixed ~80 KiB counter table regardless of stream length: the
    * always-on frequency monitor a 100 TB/day feed can afford, with the
    * read side free to merge shards and point-query at any moment.
    */
  def cmsSketchTws(events: Dataset[StreamEvent]): Dataset[ShardSketch] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_id % 8)
      .transformWithState(new CmsSketchProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  final class CmsSketchProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, StreamEvent, ShardSketch] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[ShardSketch] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[ShardSketch]("cms",
        org.apache.spark.sql.Encoders.product[ShardSketch],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(shard: Long, rows: Iterator[StreamEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ShardSketch] = {
      import graft.functions.CmsDims
      val prev = if (st.exists()) st.get()
        else ShardSketch(shard, 0L, CmsDims.toBytes(CmsDims.empty()))
      val sk = CmsDims.fromBytes(prev.sketch)
      var n = prev.n_seen
      rows.foreach { e => sk.addString(e.event_type, 1L); n += 1 }
      val next = ShardSketch(shard, n, CmsDims.toBytes(sk))
      st.update(next)
      Iterator.single(next)
    }
  }

  final case class ShardHll(shard: Long, n_seen: Long,
      registers: Array[Byte])

  /** Streaming mergeable HyperLogLog — the DISTINCT-count sibling of
    * [[cmsSketchTws]] and the continuous form of `stats_hll_mergeable`'s
    * pattern: each of 8 shards folds its slice of the user-id stream into
    * one fixed 4 KiB register array held in state
    * ([[graft.functions.HllRegisters]]), emitting the registers per
    * micro-batch with a monotone `n_seen`. Register-wise max union is
    * commutative, associative and IDEMPOTENT, so the final shard
    * registers merge into bytes IDENTICAL to one batch-built array over
    * the same rows — however the stream was micro-batched or sharded,
    * and even under duplicate delivery — which StreamingSpec asserts as
    * byte parity (the law the DataSketches binary form cannot state; see
    * HllRegisters' scaladoc). State per shard is 4 KiB regardless of
    * stream length: the always-on distinct-users monitor for a
    * 100 TB/day feed, with the read side free to merge shards and
    * estimate at any moment.
    */
  def hllSketchTws(events: Dataset[StreamEvent]): Dataset[ShardHll] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_id % 8)
      .transformWithState(new HllSketchProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  final class HllSketchProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, StreamEvent, ShardHll] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[ShardHll] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[ShardHll]("hll",
        org.apache.spark.sql.Encoders.product[ShardHll],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(shard: Long, rows: Iterator[StreamEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ShardHll] = {
      import graft.functions.HllRegisters
      val prev = if (st.exists()) st.get()
        else ShardHll(shard, 0L, HllRegisters.empty())
      val regs = prev.registers.clone()
      var n = prev.n_seen
      rows.foreach { e => HllRegisters.add(regs, e.user_id); n += 1 }
      val next = ShardHll(shard, n, regs)
      st.update(next)
      Iterator.single(next)
    }
  }

  /** Stage timestamps on the MICROSECOND grid ([[tsMicros]]) — the batch
    * `funnel_conversion` sequences stages by full timestamp precision
    * (`e.ts > v_ts`), so an ms-truncated comparison would fail to advance
    * on strictly-sequenced events within the same millisecond.
    */
  final case class FunnelProgress(viewUs: Option[Long], clickUs: Option[Long],
      purchaseUs: Option[Long]) {
    def stage: Int =
      if (purchaseUs.isDefined) 3 else if (clickUs.isDefined) 2
      else if (viewUs.isDefined) 1 else 0
  }

  /** One funnel-state row per user per micro-batch that changed it. */
  final case class UserFunnel(user_id: Long, stage: Int)

  /** Streaming funnel — the stateful twin of the batch
    * `funnel_conversion` query: each user's view→click→purchase progress
    * lives in `mapGroupsWithState` state, advancing monotonically as
    * events arrive (each batch's events are sorted by time before
    * folding, and a stage only advances on an event strictly after the
    * previous stage's timestamp). Emits the user's current stage each
    * batch; in update mode the sink holds each user's latest stage, so
    * stage counts aggregate downstream without recounting history. State
    * is O(users), three optional longs each.
    *
    * Ordering contract: WITHIN a batch, disorder is handled (sorted
    * fold); ACROSS batches the fold assumes per-user event-time order —
    * a qualifying click delivered in a batch *before* the batch carrying
    * its preceding view is not revisited (state keeps only the stage
    * minima, not an event buffer). Sources with cross-batch disorder get
    * the standard remedy: a watermark-buffered sort stage in front (cf.
    * the session operators' watermark contract).
    */
  def funnelStages(events: Dataset[StreamEvent]): Dataset[UserFunnel] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelProgress, UserFunnel](
        GroupStateTimeout.NoTimeout()) { (userId, it, state) =>
        val prev = state.getOption.getOrElse(FunnelProgress(None, None, None))
        val next = advanceFunnel(prev, it)
        state.update(next)
        UserFunnel(userId, next.stage)
      }
  }

  /** The funnel state machine: fold a batch of events (time-sorted) into
    * the carried progress.
    */
  private def advanceFunnel(prev: FunnelProgress,
      events: Iterator[StreamEvent]): FunnelProgress =
    events.toList.sortBy(e => (tsMicros(e), e.event_id))
      .foldLeft(prev) { (st, e) =>
        val t = tsMicros(e)
        e.event_type match {
          case "view" if st.viewUs.isEmpty =>
            st.copy(viewUs = Some(t))
          case "click" if st.clickUs.isEmpty && st.viewUs.exists(_ < t) =>
            st.copy(clickUs = Some(t))
          case "purchase" if st.purchaseUs.isEmpty &&
              st.clickUs.exists(_ < t) =>
            st.copy(purchaseUs = Some(t))
          case _ => st
        }
      }

  /** Decimal-cast cents — the repo's money discipline, matching the batch
    * truth's `round()`. NOT `math.round(v * 100)`: that is
    * `floor(x + 0.5)`, which disagrees with HALF_UP for negative values
    * (math.round(-28.5) = -28 vs HALF_UP -29), and the double product
    * `0.285 * 100 = 28.4999…` truncates where the decimal path
    * (shortest-repr BigDecimal, like Spark's double→decimal cast) gives 29.
    */
  private def cents(v: Double): Long =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  private def toSession(userId: Long, es: List[StreamEvent]): UserSession =
    UserSession(
      user_id = userId,
      session_start_epoch = es.head.ts.getTime / 1000,
      n_events = es.size.toLong,
      sum_value_cents = es.map(e => cents(e.value)).sum)

  /** Strict `>`: `session_window` merges sessions whose windows touch
    * (next.start == prev.end), so an exact-threshold gap stays one
    * session — verified empirically against the batch operator.
    */
  private val GapMs = 30L * 60 * 1000

  /** The gap on the microsecond grid: gap tests and sorts run on
    * [[tsMicros]] (full parquet precision), matching the batch
    * `session_window`, which splits at microsecond precision — an
    * ms-truncated `getTime` comparison would merge a gap of
    * 30:00 plus sub-millisecond that the batch operator splits.
    */
  private val GapUs = GapMs * 1000L

  /** Per-user session builder. State carries the open tail (the events of
    * the most recent, not-yet-closed session) between micro-batches.
    */
  private def sessionFn(flushOpenTails: Boolean)(
      userId: Long, it: Iterator[StreamEvent],
      state: GroupState[List[StreamEvent]]): Iterator[UserSession] = {
    val prev = state.getOption.getOrElse(Nil)
    val all = (prev ++ it.toList).sortBy(e => (tsMicros(e), e.event_id))
    if (all.isEmpty) return Iterator.empty
    val sessions = splitByGap(all)
    val closed =
      if (flushOpenTails) { state.remove(); sessions }
      else { state.update(sessions.last); sessions.init } // tail stays alive
    closed.iterator.map(es => toSession(userId, es))
  }

  /** Split a (tsMicros, event_id)-sorted event list into gap-delimited
    * sessions (strict `>` on the microsecond grid — see [[GapUs]]).
    * Always returns at least one session for nonempty input; the LAST
    * element is the open tail (nothing observed after it yet).
    */
  private def splitByGap(all: List[StreamEvent]): List[List[StreamEvent]] = {
    val sessions = scala.collection.mutable.ListBuffer.empty[List[StreamEvent]]
    var cur = scala.collection.mutable.ListBuffer(all.head)
    for (e <- all.tail) {
      if (tsMicros(e) - tsMicros(cur.last) > GapUs) {
        sessions += cur.toList
        cur = scala.collection.mutable.ListBuffer(e)
      } else cur += e
    }
    sessions += cur.toList
    sessions.toList
  }
}
