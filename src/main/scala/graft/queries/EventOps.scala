package graft.queries

import org.apache.spark.sql.functions._

/** Event-time operators over the `events` table (event_id, ts, user_id,
  * event_type, value, props JSON) — SURVEY §2.7: tumbling, sliding and
  * session windows, batch-mode `window()`/`session_window()` exactly as
  * Structured Streaming would plan them (the same expressions drive a
  * readStream with `withWatermark`; batch is the oracle-checkable form).
  *
  * Scale: all three are single-shuffle grouped aggregations with
  * map-side partial aggregation; the window struct is computed
  * narrow-side. Session windows shuffle by user_id and merge sessions
  * per key — Spark's native implementation, no driver-side state.
  */
object EventOps extends Registry {
  import Tables.table

  /** events read through the layout-adaptive raw source (ts = INT64
    * nanos whichever layout the driver shipped — see
    * EventStream.normalizeTs), timestamp rebuilt with integer division
    * (values are µs-precision, so ns→µs is lossless; `div`, not `/` — a
    * double quotient above 2^53 ns would lose precision). */
  private def events(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.eventsRaw(s, dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))

  def defs: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    QueryDef(
      "q60_tumbling_window",
      (s, dir) => {
        import s.implicits._
        events(s, dir)
          .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
          .agg(count(lit(1)).as("n_events"),
            round(sum($"value"), 2).as("sum_value"),
            // props is a JSON string {"k": <int>} — extracted, not parsed
            // driver-side (S-JSON scan shape)
            sum(get_json_object($"props", "$.k").cast("long")).as("sum_k"))
          .select($"w.start".as("window_start"), $"event_type",
            $"n_events", $"sum_value", $"sum_k")
          .orderBy($"window_start", $"event_type")
      },
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             |  event_type, count(*) AS n_events,
             |  round(sum(value), 2) AS sum_value,
             |  CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
             |FROM events
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "Tumbling 1h event-time window + JSON props extraction"),

    // ------------------------------------------------------------------
    QueryDef(
      "q61_sliding_window",
      (s, dir) => {
        import s.implicits._
        events(s, dir)
          .groupBy(window($"ts", "1 hour", "30 minutes").as("w"), $"event_type")
          .agg(count(lit(1)).as("n_events"))
          .select($"w.start".as("window_start"), $"event_type", $"n_events")
          .orderBy($"window_start", $"event_type")
      },
      // each event lands in exactly 2 overlapping windows: start =
      // 30min-floor minus o×30min for o ∈ {0,1}
      Some("""SELECT time_bucket(INTERVAL '30 minutes', ts)
             |         - o * INTERVAL '30 minutes' AS window_start,
             |  event_type, count(*) AS n_events
             |FROM events CROSS JOIN (VALUES (0), (1)) AS off(o)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "Sliding 1h/30min event-time window"),

    // ------------------------------------------------------------------
    QueryDef(
      "q62_session_window",
      (s, dir) => {
        import s.implicits._
        events(s, dir)
          .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
          .agg(count(lit(1)).as("n_events"),
            round(sum($"value"), 2).as("sum_value"))
          .select($"user_id", $"w.start".as("session_start"),
            $"w.end".as("session_end"), $"n_events", $"sum_value")
          .orderBy($"user_id", $"session_start")
      },
      // gaps-and-islands; Spark closes a session when the gap is >= the
      // timeout (an event at exactly start+gap opens a new session), and
      // session_end = last event + gap
      Some("""WITH x AS (
             |  SELECT user_id, ts, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |y AS (
             |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |    ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM x)
             |SELECT user_id, min(ts) AS session_start,
             |  max(ts) + INTERVAL '30 minutes' AS session_end,
             |  count(*) AS n_events, round(sum(value), 2) AS sum_value
             |FROM y GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin),
      doc = "Session window (30min gap) — native merging, no driver state"),

    // ------------------------------------------------------------------
    // q63: event-time AS-OF join — for every purchase, the latest click
    // by the same user at or before it. Spark lacks a native as-of
    // join; composing existing ops (ladder step (a)): tag and union the
    // two streams, one window per user carries the last click timestamp
    // forward. ONE shuffle on user_id, no per-pair range explosion —
    // the plan a point-in-time-correct feature join needs at any scale.
    // Oracle: DuckDB's native ASOF LEFT JOIN.
    QueryDef(
      "q63_asof_join",
      (s, dir) => {
        import s.implicits._
        val e = events(s, dir).select($"event_id", $"user_id", $"ts",
          $"event_type")
        val tagged = e.filter($"event_type" === "click")
          .select($"user_id", $"ts", lit(1).as("is_click"),
            lit(null).cast("long").as("event_id"))
          .unionByName(e.filter($"event_type" === "purchase")
            .select($"user_id", $"ts", lit(0).as("is_click"), $"event_id"))
        // ties: a click at exactly the purchase timestamp counts as
        // prior (ASOF >= semantics) — clicks sort first at equal ts
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts".asc, $"is_click".desc)
          .rowsBetween(Long.MinValue, 0)
        tagged
          .withColumn("last_click_ts",
            last(when($"is_click" === 1, $"ts"), ignoreNulls = true).over(w))
          .filter($"is_click" === 0)
          .select($"event_id", $"user_id", $"ts".as("purchase_ts"),
            $"last_click_ts")
          .orderBy($"event_id")
      },
      Some("""SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
             |  c.ts AS last_click_ts
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin),
      doc = "Event-time AS-OF join via carry-forward window (vs DuckDB ASOF)"),

    // ------------------------------------------------------------------
    // q64: the SAME as-of semantics as a stateful streaming operator
    // (flatMapGroupsWithState, EventStream.asofJoin) run in batch mode —
    // gated against the identical DuckDB ASOF oracle, so the custom
    // state machine and the declarative window plan (q63) are both
    // independently proven. StreamingSpec drains it as a real stream.
    QueryDef(
      "q64_asof_stateful",
      // asofJoin consumes the RAW long-nanos ts (shared with the
      // streaming source), not the rebuilt timestamp
      (s, dir) => {
        graft.streaming.EventStream.asofJoin(Tables.eventsRaw(s, dir))
          .orderBy(col("event_id"))
      },
      Some("""SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
             |  c.ts AS last_click_ts
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin),
      doc = "AS-OF join as a flatMapGroupsWithState operator (vs DuckDB ASOF)"),

    // ------------------------------------------------------------------
    // q65: SCD2 validity-interval build — the event log rewritten as a
    // slowly-changing-dimension table: each event opens an interval
    // [valid_from, valid_to) closed by the user's next event (null = the
    // current row), plus a point-in-time activity flag for a snapshot
    // timestamp (the membership test a temporal join runs). ONE shuffle
    // on user_id; lead() carries no state beyond the sort — the standard
    // shape for building a point-in-time-correct dimension at any scale.
    // Bounded to user_id < 20 so the registered result stays small.
    QueryDef(
      "q65_scd2_intervals",
      (s, dir) => {
        import s.implicits._
        val snapshot = "2024-01-15 00:00:00"
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
        events(s, dir).filter($"user_id" < 20)
          .select($"user_id", $"event_id", $"event_type", $"ts")
          .withColumn("valid_to", lead($"ts", 1).over(w))
          .select($"user_id", $"event_id", $"event_type",
            $"ts".as("valid_from"), $"valid_to",
            (unix_millis($"valid_to") - unix_millis($"ts")).as("duration_ms"),
            ($"ts" <= lit(snapshot).cast("timestamp") &&
              ($"valid_to".isNull ||
                $"valid_to" > lit(snapshot).cast("timestamp")))
              .as("active_at_snapshot"))
          .orderBy($"user_id", $"valid_from", $"event_id")
      },
      Some("""SELECT user_id, event_id, event_type, ts AS valid_from,
             |  lead(ts) OVER w AS valid_to,
             |  epoch_ms(lead(ts) OVER w) - epoch_ms(ts) AS duration_ms,
             |  ts <= TIMESTAMP '2024-01-15 00:00:00'
             |    AND (lead(ts) OVER w IS NULL
             |         OR lead(ts) OVER w > TIMESTAMP '2024-01-15 00:00:00')
             |    AS active_at_snapshot
             |FROM events WHERE user_id < 20
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY user_id, valid_from, event_id""".stripMargin),
      doc = "SCD2 interval build (lead-closed validity windows + snapshot flag)"),

    // ------------------------------------------------------------------
    // q68: point-in-interval RANGE JOIN — enrich each purchase with the
    // click-context interval that was active when it happened. Spark has
    // no native range-join operator; the scalable expression is an
    // EQUI-join on the entity key with the range predicate as a residual
    // condition: Catalyst extracts user_id as the hash/merge key and
    // evaluates ts∈[valid_from, valid_to) per matched pair — one keyed
    // shuffle, never a BroadcastNestedLoopJoin/cartesian (PlanShapeSpec
    // gates this), never a per-pair time explosion. Intervals are built
    // from the click stream with lead() (q65's SCD2 shape); purchases
    // with no prior click survive via the left join with a null
    // context. Bounded to user_id < 20 like q65.
    QueryDef(
      "q68_interval_join",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir).filter($"user_id" < 20)
        val ivals = ev.filter($"event_type" === "click")
          .select($"user_id".as("c_user"), $"event_id".as("ctx_id"),
            $"ts".as("valid_from"))
          .withColumn("valid_to",
            lead($"valid_from", 1).over(
              org.apache.spark.sql.expressions.Window
                .partitionBy($"c_user")
                .orderBy($"valid_from".asc, $"ctx_id".asc)))
        ev.filter($"event_type" === "purchase")
          .select($"user_id", $"event_id", $"ts".as("purchase_ts"))
          .join(ivals,
            $"user_id" === $"c_user" &&
              $"purchase_ts" >= $"valid_from" &&
              ($"valid_to".isNull || $"purchase_ts" < $"valid_to"),
            "left")
          .select($"user_id", $"event_id", $"purchase_ts",
            $"ctx_id", $"valid_from".as("ctx_from"))
          .orderBy($"user_id", $"event_id")
      },
      Some("""WITH ev AS (SELECT * FROM events WHERE user_id < 20),
             |iv AS (
             |  SELECT user_id AS c_user, event_id AS ctx_id,
             |    ts AS valid_from,
             |    lead(ts) OVER (PARTITION BY user_id
             |                   ORDER BY ts, event_id) AS valid_to
             |  FROM ev WHERE event_type = 'click'),
             |p AS (SELECT user_id, event_id, ts AS purchase_ts FROM ev
             |      WHERE event_type = 'purchase')
             |SELECT p.user_id, p.event_id, p.purchase_ts,
             |  iv.ctx_id, iv.valid_from AS ctx_from
             |FROM p LEFT JOIN iv
             |  ON p.user_id = iv.c_user
             |  AND p.purchase_ts >= iv.valid_from
             |  AND (iv.valid_to IS NULL OR p.purchase_ts < iv.valid_to)
             |ORDER BY p.user_id, p.event_id""".stripMargin),
      doc = "Point-in-interval range join: equi key + range residual, no cartesian"),

    // ------------------------------------------------------------------
    // q69: the STREAM-STREAM form of temporal enrichment — purchases
    // joined to every same-user click in the preceding hour, via
    // EventStream.intervalJoin: ONE transform whose streaming run is a
    // watermarked stream-stream join with engine-bounded click state
    // (evicted at watermark past click_ts + horizon) and whose batch
    // run — registered here — is the oracle-checkable form.
    // StreamingSpec proves the drained two-source stream equals this
    // result, including across a trigger split. Bounded to user_id < 20
    // like q65/q68. Note the deliberate semantic difference vs q68:
    // fixed 1h horizon (streaming-expressible, emits ALL clicks in
    // range) vs lead()-closed intervals (batch-only, emits exactly one).
    QueryDef(
      "q69_stream_interval_join",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.eventsRaw(s, dir).filter($"user_id" < 20)
        graft.streaming.EventStream.intervalJoin(
          ev.filter($"event_type" === "click"),
          ev.filter($"event_type" === "purchase"))
          .orderBy($"user_id", $"event_id", $"click_id")
      },
      Some("""WITH ev AS (SELECT * FROM events WHERE user_id < 20),
             |c AS (SELECT user_id AS c_user, event_id AS click_id,
             |        ts AS click_ts
             |      FROM ev WHERE event_type = 'click'),
             |p AS (SELECT user_id, event_id, ts AS purchase_ts FROM ev
             |      WHERE event_type = 'purchase')
             |SELECT p.user_id, p.event_id, p.purchase_ts,
             |  c.click_id, c.click_ts
             |FROM p JOIN c
             |  ON p.user_id = c.c_user
             |  AND p.purchase_ts >= c.click_ts
             |  AND p.purchase_ts < c.click_ts + INTERVAL '1 hour'
             |ORDER BY p.user_id, p.event_id, c.click_id""".stripMargin),
      doc = "Stream-stream watermarked interval join (batch-parity form; bounded click state)"),

    // ------------------------------------------------------------------
    // q6a: the LEFT OUTER form of q69 — purchases with no click in the
    // preceding hour survive with null click columns. In streaming this
    // is the watermark-COMPLETION semantics: the null row may only be
    // emitted once the watermark proves no in-horizon click can still
    // arrive (StreamingSpec drives that with a watermark-advancing
    // sentinel trigger); in batch — registered here — it is a plain
    // left join the oracle replays. NULLS FIRST is pinned explicitly on
    // both sides: Spark's default asc ordering is nulls-first while
    // DuckDB's is nulls-last, and the driver verifies declared
    // orderings row-for-row.
    QueryDef(
      "q6a_stream_interval_outer",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.eventsRaw(s, dir).filter($"user_id" < 20)
        graft.streaming.EventStream.intervalJoin(
          ev.filter($"event_type" === "click"),
          ev.filter($"event_type" === "purchase"),
          joinType = "left_outer")
          .orderBy($"user_id", $"event_id", $"click_id".asc_nulls_first)
      },
      Some("""WITH ev AS (SELECT * FROM events WHERE user_id < 20),
             |c AS (SELECT user_id AS c_user, event_id AS click_id,
             |        ts AS click_ts
             |      FROM ev WHERE event_type = 'click'),
             |p AS (SELECT user_id, event_id, ts AS purchase_ts FROM ev
             |      WHERE event_type = 'purchase')
             |SELECT p.user_id, p.event_id, p.purchase_ts,
             |  c.click_id, c.click_ts
             |FROM p LEFT JOIN c
             |  ON p.user_id = c.c_user
             |  AND p.purchase_ts >= c.click_ts
             |  AND p.purchase_ts < c.click_ts + INTERVAL '1 hour'
             |ORDER BY p.user_id, p.event_id, c.click_id NULLS FIRST""".stripMargin),
      doc = "Stream-stream interval join, left-outer: watermark-completed null emission"),

    // ------------------------------------------------------------------
    // q6b: streaming SCD2/CDC maintenance, batch-parity form — the CDC
    // state machine (EventStream.scd2Cdc: each event closes its user's
    // open validity interval and opens its own) drained through the
    // upsert last-wins rule (EventStream.scd2Compact). The oracle is
    // the DECLARATIVE lead()-built SCD2 (q65's shape) — a genuinely
    // independent second implementation, so a hash match proves the
    // stateful fold ≡ the window plan. StreamingSpec additionally
    // proves the streaming run of the same transform through the REAL
    // id-keyed NDJSON upsert sink across a trigger split. Raw ts is
    // passed to the state machine (it divides to µs itself); the oracle
    // sees the identical µs truncation via DuckDB's nanos→µs parquet
    // read (q69's documented contract).
    QueryDef(
      "q6b_scd2_cdc",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.eventsRaw(s, dir).filter($"user_id" < 20)
        graft.streaming.EventStream.scd2Compact(
          graft.streaming.EventStream.scd2Cdc(ev))
          .select($"user_id", $"event_id", $"event_type",
            $"valid_from", $"valid_to", $"is_current")
          .orderBy($"user_id", $"valid_from", $"event_id")
      },
      Some("""SELECT user_id, event_id, event_type, ts AS valid_from,
             |  lead(ts) OVER w AS valid_to,
             |  lead(ts) OVER w IS NULL AS is_current
             |FROM events WHERE user_id < 20
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY user_id, valid_from, event_id""".stripMargin),
      doc = "Streaming SCD2/CDC maintenance (batch-parity form): stateful " +
        "close-and-open CDC fold + upsert compaction vs the lead-built oracle"),

    // ------------------------------------------------------------------
    // q6c: streaming EXACTLY-ONCE ingest dedup, batch-parity form — the
    // at-least-once source is simulated by unioning the slice with
    // itself (every event delivered twice), then collapsed by
    // EventStream.dedupEvents: dropDuplicatesWithinWatermark on the
    // stream (bounded state — ids evict when the watermark passes),
    // plain dropDuplicates in this registered batch run. Duplicates are
    // exact copies, so whichever representative survives is the same
    // row and the oracle is simply the original slice. StreamingSpec
    // proves the watermark form on a real stream, including a
    // CROSS-TRIGGER duplicate — the redelivery case the state exists
    // for.
    QueryDef(
      "q6c_stream_dedup",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.eventsRaw(s, dir).filter($"user_id" < 20)
        graft.streaming.EventStream.dedupEvents(ev.unionAll(ev))
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, user_id, event_type, ts AS ets, value
             |FROM events WHERE user_id < 20
             |ORDER BY event_id""".stripMargin),
      doc = "Streaming exactly-once dedup (batch-parity form): " +
        "at-least-once double delivery collapsed by id-keyed " +
        "within-watermark state; oracle is the original slice"),

    // ------------------------------------------------------------------
    // q6d: per-user running totals on Spark 4's transformWithState —
    // the state-v2 successor API to flatMapGroupsWithState (typed
    // ValueState handle, TTL-capable, RocksDB-backed in streaming).
    // Batch-parity form registered; the oracle is the INDEPENDENT
    // declarative window plan (row_number + running integer-cents sum),
    // so a hash match proves the typed state machine ≡ the window.
    // Integer cents ⇒ no float accumulation order anywhere.
    QueryDef(
      "q6d_running_totals",
      (s, dir) => {
        import s.implicits._
        // state-v2 operators execute against the state-store API even
        // in batch mode, and only the RocksDB provider supports the v2
        // column families. The provider is session-global, so the
        // session factory sets it; a query does not switch it.
        require(s.conf.get("spark.sql.streaming.stateStore.providerClass")
          == graft.Session.StateStoreProvider,
          "q6d needs the RocksDB state-store provider; build the session " +
            "with graft.Session")
        val ev = Tables.eventsRaw(s, dir).filter($"user_id" < 20)
        graft.streaming.EventStream.runningTotals(ev)
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, user_id,
             |  row_number() OVER w AS seq,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
             |    AS BIGINT) AS run_cents
             |FROM events WHERE user_id < 20
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY event_id""".stripMargin),
      doc = "Spark 4 transformWithState running totals (typed " +
        "ValueState): per-user seq + cumulative integer cents vs the " +
        "independent window-plan oracle"),

    // ------------------------------------------------------------------
    // q66: ordered behavioral funnel — how many users progress through
    // view → click → purchase IN THAT ORDER. Stage flags are carried
    // per user with strictly-prior window maxima over one (user_id, ts)
    // sort: ONE shuffle, three window passes sharing the same sort order
    // (Spark plans them in a single Window operator chain without
    // re-sorting), then a constant-size conditional aggregate. The
    // standard product-analytics op, point-in-time-correct by
    // construction — no self-joins, no per-pair range explosion.
    QueryDef(
      "q66_funnel",
      (s, dir) => {
        import s.implicits._
        val prior = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
          .rowsBetween(Long.MinValue, -1)
        events(s, dir)
          .select($"user_id", $"event_id", $"ts", $"event_type")
          .withColumn("saw_view",
            coalesce(max(when($"event_type" === "view", 1)).over(prior),
              lit(0)))
          .withColumn("saw_view_click",
            coalesce(max(when($"event_type" === "click" && $"saw_view" === 1,
              1)).over(prior), lit(0)))
          .groupBy($"user_id")
          .agg(
            max(when($"event_type" === "view", 1).otherwise(0)).as("viewed"),
            max(when($"event_type" === "click" && $"saw_view" === 1, 1)
              .otherwise(0)).as("clicked_after_view"),
            max(when($"event_type" === "purchase" && $"saw_view_click" === 1,
              1).otherwise(0)).as("purchased_after_click"))
          .agg(
            count(lit(1)).as("n_users"),
            sum($"viewed").cast("long").as("n_viewed"),
            sum($"clicked_after_view").cast("long").as("n_clicked"),
            sum($"purchased_after_click").cast("long").as("n_purchased"))
      },
      Some("""WITH f AS (
             |  SELECT user_id, event_type, ts, event_id,
             |    coalesce(max(CASE WHEN event_type = 'view' THEN 1 END)
             |      OVER prior, 0) AS saw_view
             |  FROM events
             |  WINDOW prior AS (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |g AS (
             |  SELECT user_id, event_type, saw_view,
             |    coalesce(max(CASE WHEN event_type = 'click' AND saw_view = 1
             |      THEN 1 END) OVER prior, 0) AS saw_view_click
             |  FROM f
             |  WINDOW prior AS (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |u AS (
             |  SELECT user_id,
             |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      AS viewed,
             |    max(CASE WHEN event_type = 'click' AND saw_view = 1
             |        THEN 1 ELSE 0 END) AS clicked_after_view,
             |    max(CASE WHEN event_type = 'purchase' AND saw_view_click = 1
             |        THEN 1 ELSE 0 END) AS purchased_after_click
             |  FROM g GROUP BY user_id)
             |SELECT count(*) AS n_users,
             |  CAST(sum(viewed) AS BIGINT) AS n_viewed,
             |  CAST(sum(clicked_after_view) AS BIGINT) AS n_clicked,
             |  CAST(sum(purchased_after_click) AS BIGINT) AS n_purchased
             |FROM u""".stripMargin),
      doc = "Ordered view→click→purchase funnel (strictly-prior window flags)"),

    // ------------------------------------------------------------------
    // q67: cohort retention matrix — users grouped by first-activity
    // week (cohort), counted in each later week they return. Two
    // aggregates: first-seen per user (one shuffle on user_id), then
    // distinct users per (cohort, week-offset) — the classic product-
    // analytics rollup whose output is |weeks|² regardless of event
    // volume. Weeks are epoch-day/7 buckets (not ISO weeks) so both
    // engines bucket identically with pure integer arithmetic.
    QueryDef(
      "q67_retention_cohorts",
      (s, dir) => {
        import s.implicits._
        val week = (datediff($"ts".cast("date"), lit("1970-01-01").cast("date"))
          / 7).cast("long")
        val ev = events(s, dir).select($"user_id", week.as("w"))
        val cohorts = ev.groupBy($"user_id").agg(min($"w").as("cohort_w"))
        ev.join(cohorts, Seq("user_id"))
          .groupBy($"cohort_w", ($"w" - $"cohort_w").as("week_offset"))
          .agg(countDistinct($"user_id").as("n_active"))
          .orderBy($"cohort_w", $"week_offset")
      },
      Some("""WITH e AS (
             |  SELECT user_id,
             |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
             |         AS BIGINT) AS w
             |  FROM events),
             |c AS (SELECT user_id, min(w) AS cohort_w FROM e GROUP BY user_id)
             |SELECT cohort_w, w - cohort_w AS week_offset,
             |  count(DISTINCT user_id) AS n_active
             |FROM e JOIN c USING (user_id)
             |GROUP BY cohort_w, week_offset
             |ORDER BY cohort_w, week_offset""".stripMargin),
      doc = "Weekly cohort retention matrix (first-seen week × return offset)"),

    // ------------------------------------------------------------------
    // qc4: HEAVY HITTERS FROM BOUNDED STATE (Misra–Gries) — the
    // frequency member of the sketch family: HLL (q93) and KMV (qb8)
    // answer "how many distinct", CMS (q9e) answers "how often is THIS
    // key", and this answers "WHICH keys dominate the stream" from k
    // counters in ONE pass — at 100 TB the exact formulation (group-by
    // count then top-k) shuffles the full distinct-key domain; the
    // mg_sketch aggregate (third native TypedImperativeAggregate)
    // ships ≤ k (item, count) pairs per map partition and merges with
    // the PODS'12 mergeable-summaries rule, preserving the n/(k+1)
    // undercount bound under ANY merge tree. The item stream is the
    // suite's planted-fixture discipline (the corpus has no natural
    // Zipf domain — 31 distinct words, uniform user_ids): a
    // deterministic Zipf map item = 65536 div (1 + md5prefix16(
    // event_id)) gives ~65k possible items where item j carries
    // ~1/(j(j+1)) of the stream — real evictions (k=64 counters vs
    // tens of thousands of distinct items), real heavy hitters
    // (items 1..7 clear the 1/(k+1) threshold), both engines derive
    // it bit-identically. Honesty: the sketch's raw CONTENTS are
    // layout-dependent (inherent to MG — which borderline items
    // survive depends on merge order), so the result emits ONLY the
    // layout-invariant guarantees, each a theorem, each hash-gated:
    // every item with true_cnt·(k+1) > n is present; estimates never
    // overcount; undercount·(k+1) ≤ n; state ≤ k entries. true_cnt
    // comes from an exact arm that exists purely as the gate (the
    // q5b/qb8 discipline — at scale only the sketch pass runs). Plan:
    // the sketch is one partial+final aggregation to a single row
    // (bounded k-state through the shuffle), broadcast-crossed onto
    // the exact arm's heavy rows.
    QueryDef(
      "qc4_heavy_hitters",
      (s, dir) => {
        graft.GraftExtensions.ensureRegistered(s)
        import s.implicits._
        // one events scan: the sketch arm and the exact-truth gate arm
        // both read a localCheckpoint of the item projection (the q5b
        // exact-arm trick — in-suite the md5-per-row derivation would
        // otherwise run twice; at 100 TB only the sketch arm exists,
        // so the checkpoint is a gate-run artifact, not the plan)
        val withItem = mgItems(s, dir).select($"item")
          .localCheckpoint(true)
        val sk = withItem.agg(
          expr(s"mg_sketch(item, $MgK)").as("sk"),
          count(lit(1)).as("n_events"))
        val truth = withItem.groupBy($"item")
          .agg(count(lit(1)).as("true_cnt"))
        truth.crossJoin(broadcast(sk))
          .filter($"true_cnt" * (MgK + 1) > $"n_events")
          .withColumn("est", element_at(map_from_entries($"sk"), $"item"))
          .select($"item", $"true_cnt", $"n_events",
            $"est".isNotNull.as("present"),
            ($"est".isNotNull && $"est" <= $"true_cnt")
              .as("never_overcount"),
            ($"est".isNotNull &&
              ($"true_cnt" - $"est") * (MgK + 1) <= $"n_events")
              .as("within_bound"),
            (size($"sk") <= MgK).as("state_bounded"))
          .orderBy($"item")
      },
      Some(s"""WITH h AS (
             |  SELECT 65536 // (1 + CAST(('0x' ||
             |    substr(md5(CAST(event_id AS VARCHAR)), 1, 4)) AS BIGINT))
             |    AS item
             |  FROM events),
             |n AS (SELECT count(*) AS n_events FROM h),
             |t AS (SELECT item, count(*) AS true_cnt FROM h GROUP BY 1)
             |SELECT item, true_cnt, (SELECT n_events FROM n) AS n_events,
             |  true AS present, true AS never_overcount,
             |  true AS within_bound, true AS state_bounded
             |FROM t WHERE true_cnt * ${MgK + 1} > (SELECT n_events FROM n)
             |ORDER BY item""".stripMargin),
      doc = "Heavy hitters from k bounded counters (Misra-Gries native " +
        "aggregate, mergeable-summaries merge): every guaranteed-heavy " +
        "item present, never-overcount and n/(k+1) undercount bound " +
        "emitted as hash-gated data over a deterministic Zipf stream"),

    // ------------------------------------------------------------------
    // qc5: HEAVY HITTERS MAINTAINED INCREMENTALLY — qc4's lifecycle
    // arm, qb9's stored-state discipline applied to the frequency
    // sketch: the base slice's MG sketch (k counters + base length,
    // ONE stored row) is built once, content-addressed on the source
    // stamp; serve scans ONLY the delta slice (~12.5 % of events),
    // sketches it with the same bounded aggregate, and merges the two
    // sketches DECLARATIVELY with the identical PODS'12 rule the
    // aggregate uses internally: explode both counter arrays, sum per
    // item (≤ 2k rows), subtract the (k+1)-th largest summed count,
    // drop non-positives — the (k+1)-th largest itself found by
    // reusing topk_pairs over the ≤2k-row frame, no window, no
    // driver-side sort. Because the whole merge is the theorem's own
    // construction, the n_total/(k+1) bound and the guaranteed-heavy
    // property hold for the COMBINED stream (any merge tree), and the
    // base is NEVER re-scanned — at 100 TB the nightly cost is the
    // day's delta plus arithmetic on 2k counters. One honest
    // difference from qb9 is documented rather than papered over: KMV
    // merge is lossless so qb9 pins merged≡rebuilt value-for-value;
    // MG merge is NOT content-deterministic (different trees keep
    // different borderline items), so the contract here is the same
    // theorem set qc4 emits — guaranteed-heavy presence,
    // never-overcount, bounded undercount, state ≤ k — evaluated
    // against the full stream's exact arm (gate-only, as q5b), plus
    // the split-totality identity n_base + n_delta = n_total. The
    // invariance gate proves the emitted frame is layout-independent.
    QueryDef(
      "qc5_heavy_hitters_incremental",
      (s, dir) => {
        graft.GraftExtensions.ensureRegistered(s)
        import s.implicits._
        val base = loadOrBuildMgBase(s, dir) // 1 row: sk, n_base
        // one events scan feeds the delta sketch AND the exact-truth
        // gate arm (qc4's localCheckpoint discipline; the base build
        // path keeps its own scan — it runs once per source stamp)
        val items = mgItems(s, dir).localCheckpoint(true)
        val delta = items
          .filter(pmod($"event_id", lit(MgDeltaMod)) === 0)
          .agg(expr(s"mg_sketch(item, $MgK)").as("dsk"),
            count(lit(1)).as("n_delta"))
        val counters = base.select(explode($"sk").as("e"))
          .select($"e.item".as("item"), $"e.est".as("est"))
          .unionByName(delta.select(explode($"dsk").as("e"))
            .select($"e.item".as("item"), $"e.est".as("est")))
          .groupBy($"item").agg(sum($"est").as("est"))
        // (k+1)-th largest summed counter (0 when ≤ k survive): the
        // mergeable-summaries subtraction, over a ≤2k-row frame
        val sub = counters.agg(expr(
          s"topk_pairs(-est, item, ${MgK + 1})").as("t"))
          .select(when(size($"t") >= MgK + 1,
            -element_at($"t", MgK + 1).getField("a"))
            .otherwise(lit(0L)).as("m"))
        val merged = counters.crossJoin(broadcast(sub))
          .select($"item", ($"est" - $"m").as("est"))
          .filter($"est" > 0)
        val mergedState = merged.agg(
          map_from_entries(collect_list(struct($"item", $"est")))
            .as("mg"), count(lit(1)).as("n_counters"))
        val truth = items.groupBy($"item")
          .agg(count(lit(1)).as("true_cnt"))
        // n_total = Σ true_cnt: the exact arm already counted every
        // event, so totals come from its (item, count) frame — no
        // third pass over the fact table
        val totals = truth.agg(sum($"true_cnt").as("n_total"))
          .crossJoin(broadcast(base.select($"n_base")))
          .crossJoin(broadcast(delta.select($"n_delta")))
        truth.crossJoin(broadcast(mergedState))
          .crossJoin(broadcast(totals))
          .filter($"true_cnt" * (MgK + 1) > $"n_total")
          .withColumn("est", element_at($"mg", $"item"))
          .select($"item", $"true_cnt", $"n_total", $"n_base", $"n_delta",
            $"est".isNotNull.as("present"),
            ($"est".isNotNull && $"est" <= $"true_cnt")
              .as("never_overcount"),
            ($"est".isNotNull &&
              ($"true_cnt" - $"est") * (MgK + 1) <= $"n_total")
              .as("within_bound"),
            ($"n_counters" <= MgK).as("state_bounded"),
            ($"n_base" + $"n_delta" === $"n_total").as("split_total_ok"))
          .orderBy($"item")
      },
      Some(s"""WITH h AS (
             |  SELECT event_id, 65536 // (1 + CAST(('0x' ||
             |    substr(md5(CAST(event_id AS VARCHAR)), 1, 4)) AS BIGINT))
             |    AS item
             |  FROM events),
             |n AS (SELECT count(*) AS n_total,
             |    count(*) FILTER (WHERE event_id % $MgDeltaMod != 0)
             |      AS n_base,
             |    count(*) FILTER (WHERE event_id % $MgDeltaMod = 0)
             |      AS n_delta
             |  FROM h),
             |t AS (SELECT item, count(*) AS true_cnt FROM h GROUP BY 1)
             |SELECT item, true_cnt, n.n_total, n.n_base, n.n_delta,
             |  true AS present, true AS never_overcount,
             |  true AS within_bound, true AS state_bounded,
             |  true AS split_total_ok
             |FROM t, n WHERE true_cnt * ${MgK + 1} > n.n_total
             |ORDER BY item""".stripMargin),
      doc = "Incremental heavy hitters: stored base MG sketch merged " +
        "with the delta's sketch by the declarative mergeable-" +
        "summaries rule - base never re-scanned, k-bounded state, " +
        "combined-stream guarantees hash-gated against the exact arm")
  )

  /** qc4: Misra–Gries counter budget. 64 counters against ~65k possible
    * Zipf items forces real evictions at every shipped sf while items
    * 1..7 (share 1/(j(j+1)) > 1/65) stay guaranteed-present; at 100 TB
    * the same k serves — the state is k counters per map task
    * regardless of stream length or key-domain size. */
  val MgK = 64

  /** qc5: base/delta split modulus — event_id % 8 == 0 is the delta
    * (~12.5 %), the rest is the stored-sketch base. */
  val MgDeltaMod = 8

  /** qc4/qc5's deterministic Zipf item stream: item = 65536 div
    * (1 + md5prefix16(event_id)) — item j carries ~1/(j(j+1)) of the
    * stream; ~65k possible items vs 64 counters makes MG evictions
    * real, and both engines derive it bit-identically. event_id rides
    * along for the base/delta split. */
  private[queries] def mgItems(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.eventsRaw(s, dir)
      .select($"event_id", Sampling.md5Prefix16($"event_id").as("h"))
      .select($"event_id",
        expr("CAST(65536 div (1 + h) AS BIGINT)").as("item"))
  }

  /** qc5: the stored base MG sketch (events with
    * event_id % MgDeltaMod != 0), content-addressed on the source
    * stamp + every parameter shaping the sketch — qb9's stored-state
    * discipline applied to the frequency sketch. One row: the
    * k-bounded counter array + the base stream length. */
  private[queries] def loadOrBuildMgBase(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.GraftExtensions.ensureRegistered(s)
    val src = s"$dir/events.parquet"
    val key = s"v1|$src|${Tables.sourceStamp(src)}" +
      s"|mg-base|k=$MgK|base=mod${MgDeltaMod}ne0|zipf65536"
    Tables.contentAddressed(s, "qc5_mg", key) {
      mgItems(s, dir)
        .filter(pmod($"event_id", lit(MgDeltaMod)) =!= 0)
        .agg(expr(s"mg_sketch(item, $MgK)").as("sk"),
          count(lit(1)).as("n_base"))
        .coalesce(1)
    }
  }
}
