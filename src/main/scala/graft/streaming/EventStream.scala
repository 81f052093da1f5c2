package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface over the `events` table (SURVEY §2.7):
  * the batch and streaming paths share ONE transform — streaming is a
  * different scheduler for the same Catalyst plan, which is the whole
  * point of building on DataFrames. StreamingSpec proves the drained
  * stream equals the batch result.
  *
  * At scale this is the ingest topology: `readStream` over an
  * append-only file/queue source, watermarked event-time windows,
  * partial-state aggregation per trigger — no driver-side state.
  */
object EventStream {

  /** events.parquet physical schema (ts is INT64 nanos — see
    * graft.queries.EventOps for the lossless µs rebuild). */
  val RawSchema: StructType = StructType.fromDDL(
    "event_id LONG, ts LONG, user_id LONG, event_type STRING, " +
      "value DOUBLE, props STRING")

  /** The shared transform: nanos→timestamp, watermark, tumbling-window
    * counts + sums per event type. Works on batch AND streaming frames. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", watermark)
      .groupBy(window(col("ets"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Session windows (gap-merged per user) — same single transform for
    * batch and streaming; Spark's native `session_window` merges
    * partial sessions across triggers under the watermark. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", watermark)
      .groupBy(session_window(col("ets"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  // ------------------------------------------------------------------
  // Stateful event-time AS-OF join (KeyValueGroupedDataset.
  // flatMapGroupsWithState — SURVEY §2.7 custom-state checkbox): for
  // every purchase, the latest click by the same user at or before it.
  // The state per user_id is ONE long (last click µs) — constant-size,
  // watermark-safe; within a trigger events are sorted by event time
  // (clicks first on ties, = q63's ASOF >= semantics). Cross-trigger
  // correctness holds when triggers advance in event time (file/queue
  // replay order); the declarative batch form of the same semantics is
  // EventOps q63. StreamingSpec proves this state machine ≡ that window
  // plan both on a drained single-trigger stream AND split across two
  // triggers at the median timestamp (state-carry path).
  // ------------------------------------------------------------------
  case class AsOfEvent(user_id: Long, ts_us: Long, event_type: String,
      event_id: Option[Long])
  case class AsOfOut(event_id: Long, user_id: Long, purchase_us: Long,
      click_us: Option[Long])
  case class AsOfState(lastClickUs: Long)

  private def asofStateFn(userId: Long, rows: Iterator[AsOfEvent],
      state: GroupState[AsOfState]): Iterator[AsOfOut] = {
    val sorted = rows.toIndexedSeq
      .sortBy(e => (e.ts_us, if (e.event_type == "click") 0 else 1))
    var last = state.getOption.map(_.lastClickUs)
    val out = IndexedSeq.newBuilder[AsOfOut]
    sorted.foreach { e =>
      if (e.event_type == "click") last = Some(e.ts_us)
      else e.event_id.foreach(id => out += AsOfOut(id, userId, e.ts_us, last))
    }
    last.foreach(l => state.update(AsOfState(l)))
    out.result().iterator
  }

  /** The as-of join as a stateful operator — works on batch AND
    * streaming frames (batch runs it with empty state, once per key). */
  def asofJoin(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val typed: Dataset[AsOfEvent] = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_type"),
        when(col("event_type") === "purchase", col("event_id")).as("event_id"))
      .as[AsOfEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(asofStateFn)
      .toDF()
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("purchase_us")).as("purchase_ts"),
        timestamp_micros(col("click_us")).as("last_click_ts"))
  }

  // ------------------------------------------------------------------
  // Stream-stream watermarked interval join (SURVEY §2.7 — the last
  // big Structured Streaming operator family): every purchase enriched
  // with the clicks by the same user in the preceding `horizon`. The
  // batch declarative twin with lead()-built intervals is EventOps q68;
  // lead() is not streaming-expressible, so the streaming form uses the
  // canonical fixed-horizon interval condition — an equi key plus an
  // event-time range — which is exactly what Spark's stream-stream join
  // needs to BOUND STATE: with both sides watermarked and the range
  // condition `click_ts ∈ (purchase_ts - horizon, purchase_ts]`, the
  // engine derives a state-retention window and evicts clicks once the
  // global watermark passes click_ts + horizon — no unbounded buffer on
  // either side. Inner join: every emitted pair is final under append
  // mode (no watermark-dependent null emission), so batch and drained-
  // stream answers are set-equal (StreamingSpec proves it, including
  // across a trigger split where purchases arrive after their clicks'
  // trigger).
  // ------------------------------------------------------------------
  /** The shared transform: takes the two event streams RAW (long-nanos
    * ts, same schema as the source) and returns matched
    * (user_id, event_id, purchase_ts, click_id, click_ts) pairs. Works
    * on batch AND streaming frames — watermarks are no-ops in batch.
    *
    * Precision: `ts div 1000` TRUNCATES nanos to micros before the
    * range predicate (Spark timestamps are µs). The q69/q6a DuckDB
    * oracles see the identical truncation — DuckDB's parquet scan maps
    * INT64 TIMESTAMP(NANOS) to its µs TIMESTAMP by integer truncation
    * at read time (verified: .999999999 ns reads as .999999), so both
    * engines evaluate the predicate and emit output at the same µs
    * grain for ANY ns value, aligned or not. (The driver-generated
    * events fixture happens to be µs-aligned anyway; neither engine
    * depends on that.)
    *
    * @param joinType "inner" (q69: every emitted pair final under
    *   append mode) or "left_outer" (q6a: a purchase with NO click in
    *   the horizon is still emitted, with null click columns — in
    *   streaming, the null row is emitted only once the watermark
    *   proves no matching click can still arrive, which is the
    *   watermark-driven completion semantics StreamingSpec exercises
    *   with a watermark-advancing sentinel). */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame,
      horizon: String = "1 hour", watermark: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        timestamp_micros(expr("ts div 1000")).as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases
      .select(col("user_id"), col("event_id"),
        timestamp_micros(expr("ts div 1000")).as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    p.join(c,
      col("user_id") === col("c_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr(s"INTERVAL '$horizon'"),
      joinType)
      .select(col("user_id"), col("event_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  // ------------------------------------------------------------------
  // Streaming SCD2/CDC maintenance — the warehouse workload the batch
  // interval build (EventOps q65) only computes once: each incoming
  // event for a key is a new dimension VERSION that CLOSES the key's
  // open validity interval (valid_to = the new event's time) and OPENS
  // its own [ts, null). State per user is the ONE open interval
  // (constant size, watermark-free like asofJoin). Every emitted row is
  // a CDC upsert record keyed by (user_id, event_id): the OPEN version
  // first, superseded by its CLOSED version once the user's next event
  // arrives — possibly triggers later. Composed with the id-keyed
  // NDJSON upsert sink (updateExisting=true), the drained stream's sink
  // state converges to exactly the lead()-built batch SCD2 table —
  // StreamingSpec proves it through the REAL sink across a trigger
  // split. Within one micro-batch the close row is emitted after its
  // open row by the same group iterator (same partition, narrow tail),
  // so the sink's in-batch last-occurrence-wins rule picks the close —
  // CDC log position IS the iterator order. The batch run of the same
  // transform plus [[scd2Compact]] is the registered, DuckDB-oracled
  // form (q6b). Cross-trigger correctness holds when triggers advance
  // in event time — same contract as asofJoin above.
  // ------------------------------------------------------------------
  case class ScdEvent(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String)
  case class ScdState(validFromUs: Long, eventId: Long, eventType: String)
  case class ScdOut(user_id: Long, event_id: Long, event_type: String,
      valid_from_us: Long, valid_to_us: Option[Long])

  private def scd2StateFn(userId: Long, rows: Iterator[ScdEvent],
      state: GroupState[ScdState]): Iterator[ScdOut] = {
    val sorted = rows.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
    var open = state.getOption
    val out = IndexedSeq.newBuilder[ScdOut]
    sorted.foreach { e =>
      open.foreach { o => // close the running version at the new event's ts
        out += ScdOut(userId, o.eventId, o.eventType, o.validFromUs,
          Some(e.ts_us))
      }
      out += ScdOut(userId, e.event_id, e.event_type, e.ts_us, None)
      open = Some(ScdState(e.ts_us, e.event_id, e.event_type))
    }
    open.foreach(state.update)
    out.result().iterator
  }

  /** The CDC update stream: one OPEN row per event plus one CLOSE row
    * for the version it supersedes. Works on batch AND streaming frames
    * (batch runs each key once with empty state). */
  def scd2Cdc(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val typed: Dataset[ScdEvent] = events
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"), col("event_type")).as[ScdEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(scd2StateFn)
      .toDF()
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("valid_from_us")).as("valid_from"),
        timestamp_micros(col("valid_to_us")).as("valid_to"))
  }

  /** The upsert sink's last-wins rule applied in-frame (for the batch/
    * oracle form): per (user_id, event_id) version, the CLOSE supersedes
    * the OPEN — max(valid_to) ignores the open row's null, and the other
    * columns are identical between the two versions of one event. ONE
    * shuffle. */
  def scd2Compact(updates: DataFrame): DataFrame =
    updates
      .groupBy(col("user_id"), col("event_id"), col("event_type"),
        col("valid_from"))
      .agg(max(col("valid_to")).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)

  // ------------------------------------------------------------------
  // Streaming EXACTLY-ONCE view over an at-least-once source — dedup
  // by event_id within the watermark (dropDuplicatesWithinWatermark):
  // state holds one entry per event_id seen inside the watermark
  // horizon and EVICTS it once the watermark passes — redelivered
  // events (source retries, replayed partitions) collapse without
  // unbounded state, which is the property that makes exactly-once
  // ingest viable on an endless stream. The batch twin is
  // dropDuplicates on the same key (dropDuplicatesWithinWatermark is
  // streaming-only by definition — batch has no watermark clock);
  // under at-least-once redelivery duplicates are EXACT copies, so
  // whichever representative survives is the same row and the drained
  // stream equals the batch answer set — StreamingSpec proves it
  // across a trigger split with a cross-trigger duplicate (the case
  // that actually needs the state).
  // ------------------------------------------------------------------
  /** Works on batch AND streaming frames; the dedup key is event_id. */
  def dedupEvents(events: DataFrame,
      watermark: String = "2 hours"): DataFrame = {
    val typed = events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", watermark)
    val deduped =
      if (events.isStreaming) typed.dropDuplicatesWithinWatermark("event_id")
      else typed.dropDuplicates("event_id")
    deduped.select(col("event_id"), col("user_id"), col("event_type"),
      col("ets"), col("value"))
  }

  // ------------------------------------------------------------------
  // transformWithState (Spark 4 state-v2, the successor API to
  // flatMapGroupsWithState): per-user running sequence number +
  // cumulative cents. Demonstrates the typed state handle
  // (ValueState, TTL-capable — RocksDB-backed in streaming) on the
  // warehouse running-total shape; within a trigger rows are folded
  // in (ts, event_id) order, the same contract as asofJoin/scd2Cdc,
  // so the drained stream equals the declarative window plan the q6d
  // oracle states. Money rides as round(value·100) cents — one IEEE
  // multiply+round per row, identical in both engines — and the
  // running sum is integer, so no float accumulation order exists.
  // ------------------------------------------------------------------
  case class RunEvent(user_id: Long, ts_us: Long, event_id: Long,
      cents: Long)
  case class RunOut(event_id: Long, user_id: Long, seq: Long,
      run_cents: Long)
  case class RunTotals(seq: Long, cents: Long)

  /** `ttl = None` keeps state forever (the q6d batch-parity form);
    * `Some(d)` ages each user's ValueState out after `d` of processing
    * time — the bound that stops per-key state growing without limit
    * under an unbounded key space (requires TimeMode.ProcessingTime;
    * StreamingSpec proves eviction AND retention on RocksDB). */
  class RunningTotalsProcessor(ttl: Option[java.time.Duration] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, RunEvent, RunOut] {
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[RunTotals] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[RunTotals]("totals",
        org.apache.spark.sql.Encoders.product[RunTotals],
        ttl.map(org.apache.spark.sql.streaming.TTLConfig.apply)
          .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE))
    override def handleInputRows(userId: Long, rows: Iterator[RunEvent],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[RunOut] = {
      val sorted = rows.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
      var st = if (totals.exists()) totals.get() else RunTotals(0L, 0L)
      val out = sorted.map { e =>
        st = RunTotals(st.seq + 1, st.cents + e.cents)
        RunOut(e.event_id, userId, st.seq, st.cents)
      }
      totals.update(st)
      out.iterator
    }
  }

  /** The running-totals transform — batch AND streaming frames (batch
    * runs each key once with empty state; streaming carries RunTotals
    * across triggers in the state store). */
  def runningTotals(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    // batch-mode state-v2 execution asks the driver for the
    // StateStoreCoordinator endpoint, which only a STREAMING query
    // normally registers — force the query manager's idempotent lazy
    // coordinator ref (via the package shim) so the batch run finds
    // it. Without this the first batch transformWithState in a session
    // dies with CANNOT_LOAD_STATE_STORE / RpcEndpointNotFoundException.
    org.apache.spark.sql.GraftStateBootstrap.ensureCoordinator(s)
    val typed: Dataset[RunEvent] = events
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .as[RunEvent]
    typed.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  /** TTL-bounded running totals (streaming only): same fold, but each
    * user's state evicts after `ttl` of processing time — a key seen
    * again later restarts at seq 1 instead of resuming, and idle keys
    * stop occupying the store. TimeMode.ProcessingTime is what arms
    * the TTL machinery (TimeMode.None ignores it). */
  def runningTotalsTtl(events: DataFrame,
      ttl: java.time.Duration): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    org.apache.spark.sql.GraftStateBootstrap.ensureCoordinator(s)
    val typed: Dataset[RunEvent] = events
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .as[RunEvent]
    typed.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor(Some(ttl)),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
      .toDF()
  }

  /** Streaming source over a directory of event parquet files. */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    buildStream(spark, dir, maxFilesPerTrigger = None)

  /** Rate-limited source — `maxFilesPerTrigger` is the file source's
    * backpressure knob: each micro-batch admits at most that many files,
    * so ingest bursts (a backfill directory landing at once) are spread
    * across triggers instead of materializing as one giant batch whose
    * state update exceeds executor memory. Same plan as [[readStream]];
    * only admission control differs. */
  def readStreamThrottled(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int): DataFrame =
    buildStream(spark, dir, Some(maxFilesPerTrigger))

  /** One source builder so the throttled and unthrottled forms cannot
    * drift in schema or conf. Streaming file sources need a declared
    * schema up front, so the ts layout is probed from the directory's
    * footers with one batch read, then normalized per-row to the
    * RawSchema contract (same adaptation as [[readBatch]]). */
  private def buildStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDisk = spark.read.parquet(dir).schema
    val reader = spark.readStream.schema(onDisk)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    normalizeTs(reader.parquet(dir))
  }

  /** Batch source with the identical contract (parity testing +
    * backfill): whatever ts layout the files carry, the frame returned
    * matches [[RawSchema]] (ts INT64 nanos). */
  def readBatch(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(dir))
  }

  /** Adapt either events ts layout the driver has shipped to the
    * RawSchema contract (ts = INT64 nanos):
    *  - LONG — INT64 TIMESTAMP(NANOS) read raw under the legacy conf
    *    (pre-r12 testdata); already the contract.
    *  - TIMESTAMP(µs) with or without zone — the r12 regeneration.
    *    NTZ wall times convert via timestampdiff against the NTZ epoch,
    *    which is timezone-INDEPENDENT (a cast to TimestampType would
    *    read the naive time in the session zone — correct only because
    *    graft.Session pins UTC; this form needs no such pin),
    *    matching how the DuckDB oracles read the same files, and are
    *    rebuilt as nanos (µs·1000 — lossless).
    * Downstream event-time code keeps ONE input contract either way. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          expr("timestampdiff(MICROSECOND, " +
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)") * lit(1000L))
      case org.apache.spark.sql.types.TimestampType =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case other => throw new IllegalStateException(
        s"unexpected events.ts type: $other")
    }
}
