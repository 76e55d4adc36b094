package graft
package queries

import graft.operators.Curation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Kit._
import Q._

/** Event analytics over the events table: windows, sessions, funnels,
  * retention, sequences, attribution, as-of joins, CDC/SCD2, time series
  * and experiment readouts. */
private[graft] object EventQueries {

  val all: Seq[Q] = Seq(
    // Event-time tumbling window aggregation (streaming-compatible shape).
    Q("q_events_window", (s, dir) => {
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,4)")).cast("double").as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("w_start"),
          col("event_type"), col("n"), col("sum_value"))
    }, sql(
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS w_start, event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin), bench = true),

    // Sliding windows: every event lands in len/slide = 2 overlapping
    // windows; epoch-aligned starts match DuckDB's date_trunc arithmetic.
    Q("q_events_sliding", (s, dir) =>
      graft.streaming.StreamingPipeline.slidingCounts(
        ev(s, dir), windowLen = "2 hours", slide = "1 hour")
        .select(unix_timestamp(col("w_start")).as("w_start"),
          col("event_type"), col("n")), sql(
      """SELECT w_start, event_type, count(*) AS n FROM (
        |  SELECT event_type,
        |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) - 3600 * unnest([0, 1]) AS w_start
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin), bench = true),

    // Session windows (gaps-and-islands): session starts are compared in
    // exact integer MICROS on both engines — the parquet carries nanos, and
    // a ns-precision gap comparison on one side with a us-precision one on
    // the other could split sessions differently at exact boundaries.
    Q("q_events_sessions", (s, dir) =>
      graft.streaming.StreamingPipeline.sessionCounts(
        ev(s, dir), gap = "30 minutes")
        .select(unix_micros(col("s_start")).as("s_start"),
          col("event_type"), col("n")), sql(
      """WITH u AS (SELECT event_type, epoch_us(ts) AS t_us FROM events),
        |o AS (
        |  SELECT event_type, t_us,
        |    CASE WHEN t_us - lag(t_us) OVER (PARTITION BY event_type ORDER BY t_us) < 1800000000
        |         THEN 0 ELSE 1 END AS new_s
        |  FROM u),
        |i AS (
        |  SELECT event_type, t_us,
        |    SUM(new_s) OVER (PARTITION BY event_type ORDER BY t_us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT min(t_us) AS s_start, event_type, count(*) AS n
        |FROM i GROUP BY event_type, sid""".stripMargin), bench = true),

    // Semi-structured event properties: JSON extraction (from_json with an
    // explicit schema — one parse per row, scan-bound) feeding a keyed agg.
    // Malformed/missing keys become nulls and are excluded from the
    // aggregates but counted, the usual telemetry convention.
    Q("q_events_props", (s, dir) =>
      ev(s, dir)
        .select(col("event_type"),
          from_json(col("props"), lit("k INT")).getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
          sum(col("k")).cast("long").as("sum_k"), max(col("k")).as("max_k")), sql(
      """WITH p AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n, count(k) AS n_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k, max(k) AS max_k
        |FROM p GROUP BY event_type""".stripMargin), bench = true),

    // Ordered funnel per user: earliest view, then click strictly after it,
    // then purchase strictly after that — every stage keyed on user_id so
    // one hash partitioning serves the whole ladder. Epoch-micros output
    // for cross-engine hashing.
    Q("q_funnel", (s, dir) =>
      operators.Funnel.funnelTimes(ev(s, dir), Seq("view", "click", "purchase"))
        .select(col("user_id"), unix_micros(col("t1")).as("t1"),
          unix_micros(col("t2")).as("t2"), unix_micros(col("t3")).as("t3")), sql(
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT s1.user_id, CAST(epoch_us(t1) AS BIGINT) AS t1,
        |       CAST(epoch_us(t2) AS BIGINT) AS t2, CAST(epoch_us(t3) AS BIGINT) AS t3
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin),
      bench = true),

    // ...and the funnel reduced to per-step conversion counts.
    Q("q_funnel_conv", (s, dir) =>
      operators.Funnel.conversion(ev(s, dir), Seq("view", "click", "purchase")), sql(
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |         (SELECT count(*) FROM s1) AS n_users
        |  UNION ALL
        |  SELECT 2, 'click', (SELECT count(*) FROM s2)
        |  UNION ALL
        |  SELECT 3, 'purchase', (SELECT count(*) FROM s3))""".stripMargin), bench = true),

    // The funnel bounded to complete within one hour of the first step —
    // later steps past t1 + 1h no longer count.
    Q("q_funnel_window", (s, dir) =>
      operators.Funnel.funnelTimes(ev(s, dir), Seq("view", "click", "purchase"),
          within = Some("1 hour"))
        .select(col("user_id"), unix_micros(col("t1")).as("t1"),
          unix_micros(col("t2")).as("t2"), unix_micros(col("t3")).as("t3")), sql(
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, s1.t1 AS t1w, MIN(e.ts) AS t2
        |       FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND epoch_us(e.ts) <= epoch_us(s1.t1) + 3600000000
        |       GROUP BY e.user_id, s1.t1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
        |       FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND epoch_us(e.ts) <= epoch_us(s2.t1w) + 3600000000
        |       GROUP BY e.user_id)
        |SELECT s1.user_id, CAST(epoch_us(t1) AS BIGINT) AS t1,
        |       CAST(epoch_us(t2) AS BIGINT) AS t2, CAST(epoch_us(t3) AS BIGINT) AS t3
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin)),

    // Weekly cohort retention: distinct active users per (first-activity
    // week, weeks-since-first) — exact integer date arithmetic.
    Q("q_retention", (s, dir) =>
      operators.Funnel.retention(ev(s, dir), periodDays = 7), sql(
      """WITH f AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id)
        |SELECT
        |  CAST(datediff('day', DATE '1970-01-01', CAST(t0 AS DATE)) // 7 AS BIGINT) AS cohort,
        |  CAST(datediff('day', CAST(t0 AS DATE), CAST(ts AS DATE)) // 7 AS BIGINT) AS period_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin), bench = true),

    // Top user journeys: whole-session event-type paths, counted and
    // top-50'd — the journey-level rollup the pairwise transition matrix
    // can't see. One user shuffle + vocab-sized aggs.
    Q("q_session_paths", (s, dir) =>
      operators.Funnel.sessionPaths(ev(s, dir)), sql(
      """WITH lab AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    CAST(SUM(CASE WHEN gap_new THEN 1 ELSE 0 END)
        |         OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_idx
        |  FROM (SELECT event_id, user_id, ts, event_type,
        |          epoch_us(ts) - LAG(epoch_us(ts))
        |            OVER (PARTITION BY user_id ORDER BY ts) > 1800000000 AS gap_new
        |        FROM events)),
        |p AS (
        |  SELECT user_id, session_idx,
        |    array_to_string((list(event_type ORDER BY ts, event_id))[1:20], '>') AS path
        |  FROM lab GROUP BY 1, 2)
        |SELECT path, count(*) AS n FROM p
        |GROUP BY path ORDER BY n DESC, path ASC LIMIT 50""".stripMargin)),

    // First-order Markov transition matrix over event types: consecutive
    // same-user event pairs in (ts, event_id) order, counts + exact-IEEE
    // transition probabilities. One user-keyed window shuffle.
    Q("q_event_transitions", (s, dir) =>
      operators.Funnel.transitions(ev(s, dir)), sql(
      """WITH o AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM o
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |f AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, n, n_from, n / n_from AS p
        |FROM c JOIN f USING (from_type)""".stripMargin), bench = true),

    // ...bounded to within-session pairs: transitions more than 30 minutes
    // apart don't count (no session labels materialized).
    Q("q_event_transitions_gap", (s, dir) =>
      operators.Funnel.transitions(ev(s, dir), maxGap = Some("30 minutes")), sql(
      """WITH o AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |      - epoch_us(ts) AS gap_us
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM o
        |      WHERE to_type IS NOT NULL AND gap_us <= 1800000000 GROUP BY 1, 2),
        |f AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, n, n_from, n / n_from AS p
        |FROM c JOIN f USING (from_type)""".stripMargin), bench = true),

    // Contiguous length-3 sequential patterns (the n-gram step between
    // the pairwise transition matrix and whole-journey paths): per-user
    // consecutive event-type triples, total occurrences + distinct-user
    // SUPPORT (the sequential-mining ranking measure, robust to one hot
    // user looping), support >= 2. One user-keyed window shuffle, then
    // (pattern, user) partial collapse before the pattern rollup.
    // contiguous event-type triples: occurrences + distinct-user support
    Q("q_seq3", (s, dir) =>
      operators.Funnel.sequencePatterns(ev(s, dir), n = 3, minSupport = 2), sql(
      """WITH g AS (
        |  SELECT user_id, event_type AS t0,
        |    lead(event_type, 1) OVER w AS t1,
        |    lead(event_type, 2) OVER w AS t2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT t0, t1, t2, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS support
        |FROM g WHERE t1 IS NOT NULL AND t2 IS NOT NULL
        |GROUP BY 1, 2, 3
        |HAVING count(DISTINCT user_id) >= 2""".stripMargin), bench = true),

    // Association rules over sessions: directed event-type pairs with
    // exact support counts + one-division confidence/lift doubles —
    // market-basket analytics on the sessionizer's baskets.
    Q("q_assoc_rules", (s, dir) =>
      operators.Funnel.associationRules(ev(s, dir)), sql(
      """WITH s AS (
        |  SELECT *, CAST(user_id AS VARCHAR) || ':' ||
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS sid
        |  FROM (SELECT user_id, ts, event_type,
        |          CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |            (PARTITION BY user_id ORDER BY ts) > 1800000000
        |          THEN 1 ELSE 0 END AS is_new
        |        FROM events)),
        |b AS (SELECT DISTINCT sid, event_type AS item FROM s),
        |ic AS (SELECT item, count(*) AS c_item FROM b GROUP BY item),
        |n AS (SELECT count(DISTINCT sid) AS n_sessions FROM b),
        |p AS (SELECT a.item AS antecedent, c.item AS consequent,
        |        count(*) AS c_both
        |      FROM b a JOIN b c ON a.sid = c.sid AND a.item <> c.item
        |      GROUP BY 1, 2
        |      HAVING count(*) >= 2)
        |SELECT antecedent, consequent, c_both,
        |  ia.c_item AS c_ante, ic2.c_item AS c_cons, n_sessions,
        |  CAST(c_both AS DOUBLE) / ia.c_item AS confidence,
        |  CAST(c_both * n_sessions AS DOUBLE) / (ia.c_item * ic2.c_item)
        |    AS lift
        |FROM p
        |JOIN ic ia ON ia.item = antecedent
        |JOIN ic ic2 ON ic2.item = consequent, n""".stripMargin), bench = true),

    // Per-user exponential time-decay activity score (half-life 1 day,
    // 30-day horizon) in division-free integer form: power-of-two weights,
    // exact BIGINT numerator — one partial-aggregated user-keyed shuffle,
    // no window. Ref instant: 2024-01-31T00:00:00Z (just past the corpus).
    Q("q_decay_score", (s, dir) =>
      operators.EventSignals.decayScore(ev(s, dir),
        refEpochUs = 1706659200000000L), sql(
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN d BETWEEN 0 AND 30
        |    THEN cents * (CAST(1 AS BIGINT) << (30 - d)) ELSE 0 END) AS BIGINT)
        |    AS score_num,
        |  max(ts_us) AS last_ts_us
        |FROM (SELECT user_id, epoch_us(ts) AS ts_us,
        |        CAST(floor((1706659200000000 - epoch_us(ts)) / 86400000000.0)
        |          AS INT) AS d,
        |        CAST(round(value * 100) AS BIGINT) AS cents
        |      FROM events)
        |GROUP BY user_id""".stripMargin), bench = true),

    // Last-touch attribution: every purchase attributed to the user's most
    // recent preceding click (carry-forward last-ignoreNulls over the SAME
    // single user-keyed sort as q_user_features; no-touch conversions kept
    // with null touch_id).
    Q("q_attribution", (s, dir) =>
      operators.EventSignals.attributeLastTouch(ev(s, dir)), sql(
      """SELECT event_id AS conv_id, user_id, epoch_us(ts) AS conv_ts_us,
        |  touch_id, epoch_us(ts) - touch_ts_us AS gap_us, value
        |FROM (SELECT *,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |      IGNORE NULLS) OVER w AS touch_id,
        |    last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
        |      IGNORE NULLS) OVER w AS touch_ts_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING))
        |WHERE event_type = 'purchase'""".stripMargin), bench = true),

    // Multi-touch linear attribution: each purchase's cents split exactly
    // across its window's clicks (div + remainder-to-most-recent — sums
    // reconstruct the original); windowless conversions keep a null row.
    Q("q_attr_linear", (s, dir) =>
      operators.EventSignals.attributeLinear(ev(s, dir), within = "24 hours"), sql(
      """WITH conv AS (
        |  SELECT user_id AS u, event_id AS conv_id, epoch_us(ts) AS cts,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id AS u, event_id AS touch_id, epoch_us(ts) AS tts
        |        FROM events WHERE event_type = 'click'),
        |m AS (SELECT conv.u, conv.conv_id, conv.cts, conv.cents,
        |        tch.touch_id, tch.tts
        |      FROM conv JOIN tch USING (u)
        |      WHERE tts <= cts AND tts >= cts - 86400000000),
        |sh AS (SELECT conv_id, u, cts, touch_id, cents,
        |         count(*) OVER (PARTITION BY conv_id) AS n_touches,
        |         row_number() OVER (PARTITION BY conv_id
        |           ORDER BY tts DESC, touch_id DESC) AS rk
        |       FROM m)
        |SELECT conv_id, u AS user_id, cts AS conv_ts_us, touch_id, n_touches,
        |  cents // n_touches +
        |    (CASE WHEN rk = 1 THEN cents % n_touches ELSE 0 END) AS cents_share
        |FROM sh
        |UNION ALL
        |SELECT conv_id, u, cts, NULL, 0, NULL FROM conv
        |WHERE conv_id NOT IN (SELECT conv_id FROM m)""".stripMargin), bench = true),

    // Per-user modal event type, deterministic smallest-value tiebreak —
    // counts + rank over the (group, value) histogram, never raw rows.
    Q("q_mode", (s, dir) =>
      Curation.modePerGroup(ev(s, dir), "event_type", Seq("user_id")), sql(
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT user_id, event_type AS mode, n FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY n DESC, event_type) AS rn FROM c)
        |WHERE rn = 1""".stripMargin), bench = true),

    // Trailing-24-bucket anomaly flags on hourly per-type counts — the
    // z-score test cross-multiplied into an exact integer inequality (no
    // sqrt/division); events collapse to bucket rows BEFORE the window.
    Q("q_anomaly", (s, dir) =>
      operators.EventSignals.anomalyBuckets(ev(s, dir)), sql(
      """WITH b AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(coalesce(sum(n) OVER win, 0) AS BIGINT) AS s_prev,
        |    CAST(coalesce(sum(n * n) OVER win, 0) AS BIGINT) AS ss_prev,
        |    count(n) OVER win AS w_prev
        |  FROM b
        |  WINDOW win AS (PARTITION BY event_type ORDER BY bucket_us
        |                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, bucket_us, n, s_prev, ss_prev, w_prev,
        |  (w_prev = 24 AND
        |   (24 * n - s_prev) * (24 * n - s_prev) * 23 >
        |     4 * 24 * (24 * ss_prev - s_prev * s_prev)) AS is_anomaly
        |FROM w""".stripMargin), bench = true),

    // Two-sided CUSUM drift detector on hourly per-type counts: the
    // max(0, S+d) recursion in its prefix-sum/running-min closed form —
    // exact integer arithmetic end to end, both cumulative windows share
    // one sort over pre-shrunk bucket rows.
    // cusum: ref=3 slack=1 -> hi deltas n-4, lo deltas 2-n; S_t as prefix
    // sum minus running min (the closed form of max(0, S+d)); thr 20.
    Q("q_cusum", (s, dir) =>
      operators.EventSignals.cusum(ev(s, dir), ref = 3L, threshold = 20L,
        slack = 1L), sql(
      """WITH b AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT *,
        |    CAST(sum(n - 4) OVER win AS BIGINT) AS p_hi,
        |    CAST(sum(2 - n) OVER win AS BIGINT) AS p_lo
        |  FROM b
        |  WINDOW win AS (PARTITION BY event_type ORDER BY bucket_us
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c AS (SELECT event_type, bucket_us, n,
        |    p_hi - least(0, min(p_hi) OVER win) AS cusum_hi,
        |    p_lo - least(0, min(p_lo) OVER win) AS cusum_lo
        |  FROM p
        |  WINDOW win AS (PARTITION BY event_type ORDER BY bucket_us
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, bucket_us, n, cusum_hi, cusum_lo,
        |  (cusum_hi >= 20 OR cusum_lo >= 20) AS is_alarm
        |FROM c""".stripMargin)),

    // SCD Type-2 history of each user's event_type runs: gaps-and-islands
    // under ONE user-keyed exchange (run agg + lead window both reuse the
    // window pass's hash partitioning).
    Q("q_scd2", (s, dir) => operators.History.scd2(ev(s, dir)), sql(
      """WITH r AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |         IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |  FROM events),
        |runs AS (
        |  SELECT user_id, event_type, ts,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM r),
        |g AS (
        |  SELECT user_id, run_id, min(event_type) AS state,
        |    min(epoch_us(ts)) AS valid_from_us, count(*) AS n_events
        |  FROM runs GROUP BY user_id, run_id)
        |SELECT user_id, state, CAST(valid_from_us AS BIGINT) AS valid_from_us,
        |  CAST(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id)
        |    AS BIGINT) AS valid_to_us,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM g""".stripMargin), bench = true),

    // Point-in-time snapshot: every user's state AS OF 2024-01-15 UTC —
    // the temporal read that reproduces a historical training snapshot.
    Q("q_scd2_asof", (s, dir) =>
      operators.History.asOf(ev(s, dir), asOfUs = 1705276800000000L), sql(
      """WITH r AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |         IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |  FROM events),
        |runs AS (
        |  SELECT user_id, event_type, ts,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM r),
        |g AS (
        |  SELECT user_id, run_id, min(event_type) AS state,
        |    min(epoch_us(ts)) AS valid_from_us, count(*) AS n_events
        |  FROM runs GROUP BY user_id, run_id),
        |h AS (
        |  SELECT user_id, state, CAST(valid_from_us AS BIGINT) AS valid_from_us,
        |    lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to_us,
        |    CAST(n_events AS BIGINT) AS n_events
        |  FROM g)
        |SELECT user_id, state, valid_from_us, n_events FROM h
        |WHERE valid_from_us <= 1705276800000000
        |  AND (valid_to_us IS NULL OR valid_to_us > 1705276800000000)""".stripMargin),
      bench = true),

    // CDC-changelog compaction to latest surviving state: deterministic
    // op schedule (event_id % 13 = tombstone), newest row per user wins
    // via a partial-aggregable max_by — one keyed shuffle of one
    // candidate row per (partition x key), no per-key sort.
    Q("q_cdc_latest", (s, dir) => {
      val log = ev(s, dir).select(col("user_id"),
        when(col("event_id") % 13 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("value"), unix_micros(col("ts")).as("ts_us"),
        col("ts"), col("event_id"))
      operators.History.cdcLatest(log, keyCols = Seq("user_id"),
        orderCols = Seq("ts", "event_id"), payloadCols = Seq("value", "ts_us"))
    }, sql(
      """WITH c AS (
        |  SELECT user_id,
        |    CASE WHEN event_id % 13 = 0 THEN 'D' ELSE 'U' END AS op,
        |    value, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_ops
        |  FROM events)
        |SELECT user_id, value, CAST(ts_us AS BIGINT) AS ts_us,
        |  CAST(n_ops AS BIGINT) AS n_ops
        |FROM c WHERE rn = 1 AND op <> 'D'""".stripMargin), bench = true),

    // Per-user activity trend: exact-integer least-squares slope fraction
    // over (day, daily count) points — two partial-agg shuffles, zero
    // windows, bit-exact where regr_slope's float accumulation is not.
    Q("q_trend", (s, dir) => operators.EventSignals.activityTrend(ev(s, dir)), sql(
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT user_id, day - (SELECT min(day) FROM d) AS x, y FROM d)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS slope_num,
        |  CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS slope_den
        |FROM c GROUP BY user_id""".stripMargin), bench = true),

    // OHLC hourly bars: open/close via partial-aggregable min_by/max_by
    // (the exchange carries bars, not events), volume as exact cents.
    Q("q_ohlc", (s, dir) => operators.EventSignals.ohlcBars(ev(s, dir)), sql(
      """WITH e AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us, value,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |                       ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |                       ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT event_type, CAST(bucket_us AS BIGINT) AS bucket_us,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS volume_cents,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM e GROUP BY 1, 2""".stripMargin), bench = true),

    // Holt double-exponential smoothing: per-user daily-count level +
    // trend + 7-day forecast — a fixed-order left fold over exact integer
    // counts with dyadic alpha/beta, so the doubles hash bit-exact.
    // Holt recurrence replayed as a RECURSIVE CTE stepping the day-sorted
    // series (NOT a list_reduce struct lambda: DuckDB 1.0 computes the
    // second accumulator field of a struct_pack fold incorrectly —
    // verified on a 3-element hand series where l folds right and b does
    // not). Same seed (l = y0, b = 0), dyadic literals, one step order.
    Q("q_holt_forecast", (s, dir) =>
      operators.TimeSeries.holtForecast(ev(s, dir)), sql(
      """WITH RECURSIVE daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT user_id, CAST(y AS DOUBLE) AS y,
        |          row_number() OVER (PARTITION BY user_id ORDER BY day) AS i
        |        FROM daily),
        |n AS (SELECT user_id, max(i) AS n_days FROM ser GROUP BY 1),
        |h AS (
        |  SELECT user_id, i, y AS l, 0.0e0 AS b FROM ser WHERE i = 1
        |  UNION ALL
        |  SELECT h.user_id, s.i,
        |    0.5e0 * s.y + 0.5e0 * (h.l + h.b) AS l,
        |    0.25e0 * ((0.5e0 * s.y + 0.5e0 * (h.l + h.b)) - h.l)
        |      + 0.75e0 * h.b AS b
        |  FROM h JOIN ser s ON s.user_id = h.user_id AND s.i = h.i + 1)
        |SELECT h.user_id, CAST(n.n_days AS BIGINT) AS n_days,
        |  h.l AS level, h.b AS trend, h.l + 7.0e0 * h.b AS forecast
        |FROM h JOIN n ON n.user_id = h.user_id AND h.i = n.n_days""".stripMargin), bench = true),

    // Holt–Winters TRIPLE smoothing: weekly (p=7) ADDITIVE seasonality on
    // top of level+trend — first-period seed (mean + residual slots),
    // then the same fixed-order fold updating one seasonal slot per
    // observed day; season/forecast read the slot horizon 3 lands on.
    // Dyadic alpha/beta/gamma keep every double an exact IEEE replay of
    // the recursive-CTE oracle.
    // Holt–Winters replay: the same seed (first-week mean + residual
    // slots) and the same one-slot-per-step list update, recursed in day
    // order; slot(t) = ((t-1) % 7) + 1, prefix/suffix list slices around
    // the written slot (s[1:0] / s[8:7] are empty at the edges)
    Q("q_holt_winters", (s, dir) =>
      operators.TimeSeries.holtWinters(ev(s, dir), period = 7,
        alpha = 0.5, beta = 0.25, gamma = 0.25, horizon = 3), sql(
      """WITH RECURSIVE daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT user_id, CAST(y AS DOUBLE) AS y,
        |          row_number() OVER (PARTITION BY user_id ORDER BY day) AS i
        |        FROM daily),
        |n AS (SELECT user_id, max(i) AS n_days FROM ser GROUP BY 1
        |      HAVING max(i) >= 7),
        |l0 AS (SELECT user_id, sum(y) / 7.0e0 AS l0 FROM ser WHERE i <= 7
        |       GROUP BY 1),
        |s0 AS (SELECT ser.user_id, list(ser.y - l0.l0 ORDER BY ser.i) AS s
        |       FROM ser JOIN l0 USING (user_id) WHERE ser.i <= 7
        |       GROUP BY ser.user_id),
        |h AS (
        |  SELECT n.user_id, 7 AS t, l0.l0 AS l, 0.0e0 AS b, s0.s AS s
        |  FROM n JOIN l0 USING (user_id) JOIN s0 USING (user_id)
        |  UNION ALL
        |  SELECT h.user_id, sr.i,
        |    0.5e0 * (sr.y - h.s[((sr.i - 1) % 7) + 1])
        |      + 0.5e0 * (h.l + h.b) AS l,
        |    0.25e0 * ((0.5e0 * (sr.y - h.s[((sr.i - 1) % 7) + 1])
        |      + 0.5e0 * (h.l + h.b)) - h.l) + 0.75e0 * h.b AS b,
        |    list_concat(list_concat(
        |      h.s[1:((sr.i - 1) % 7)],
        |      [0.25e0 * (sr.y - (0.5e0 * (sr.y - h.s[((sr.i - 1) % 7) + 1])
        |         + 0.5e0 * (h.l + h.b)))
        |       + 0.75e0 * h.s[((sr.i - 1) % 7) + 1]]),
        |      h.s[((sr.i - 1) % 7) + 2:7]) AS s
        |  FROM h JOIN ser sr ON sr.user_id = h.user_id AND sr.i = h.t + 1)
        |SELECT h.user_id, CAST(n.n_days AS BIGINT) AS n_days,
        |  h.l AS level, h.b AS trend,
        |  h.s[((n.n_days + 3 - 1) % 7) + 1] AS season,
        |  h.l + 3.0e0 * h.b + h.s[((n.n_days + 3 - 1) % 7) + 1] AS forecast
        |FROM h JOIN n ON n.user_id = h.user_id AND h.t = n.n_days""".stripMargin), bench = true),

    // Time-series subsequence search: top-10 z-normalized matches of a
    // spike pattern across every user's value series — one keyed window
    // sort, scan-local fold distances, two-level top-k.
    // z-normalization and distance as the identical list folds; the
    // pattern is z-normalized in Scala and embedded as round-trip-exact
    // double literals
    Q("q_ts_pattern", (s, dir) =>
      operators.TimeSeries.patternTopK(ev(s, dir),
        pattern = Array(0.0, 1.0, 3.0, 7.0, 3.0, 1.0), k = 10), sql({
      val pattern = Array(0.0, 1.0, 3.0, 7.0, 3.0, 1.0)
      val w = pattern.length
      val mu0 = pattern.sum / w
      val sd0 = math.sqrt(pattern.map(x => (x - mu0) * (x - mu0)).sum / w)
      val qn = pattern.map(x => (x - mu0) / sd0)
      s"""WITH wnd AS (
         |  SELECT user_id, epoch_us(ts) AS end_ts_us,
         |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                      ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS arr
         |  FROM events),
         |c AS (SELECT user_id, end_ts_us, arr FROM wnd WHERE len(arr) = $w),
         |m AS (SELECT user_id, end_ts_us, arr, list_sum(arr) / $w AS mu FROM c),
         |sdev AS (SELECT user_id, end_ts_us, arr, mu,
         |    sqrt(list_sum(list_transform(arr, x -> (x - mu) * (x - mu))) / $w) AS sd
         |  FROM m),
         |z AS (SELECT user_id, end_ts_us,
         |    CASE WHEN sd = 0 THEN list_transform(arr, x -> 0.0)
         |         ELSE list_transform(arr, x -> (x - mu) / sd) END AS zarr
         |  FROM sdev),
         |d AS (SELECT user_id, end_ts_us,
         |    list_sum(list_transform(
         |      list_zip(zarr, CAST(${sqlDoubles(qn)} AS DOUBLE[])),
         |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
         |  FROM z),
         |pk AS (SELECT user_id, end_ts_us, dist,
         |    row_number() OVER (PARTITION BY user_id ORDER BY dist, end_ts_us) AS rn
         |  FROM d),
         |g AS (SELECT user_id, end_ts_us, dist,
         |    row_number() OVER (ORDER BY dist, user_id, end_ts_us) AS rank
         |  FROM pk WHERE rn <= 10)
         |SELECT user_id, CAST(end_ts_us AS BIGINT) AS end_ts_us, dist,
         |  CAST(rank AS BIGINT) AS rank
         |FROM g WHERE rank <= 10""".stripMargin
    }), bench = true),

    // Funnel time-to-convert distribution: per-user first-view ->
    // first-purchase-after latency (exact integer microseconds) through
    // the exact distributed quantile machinery — the latency dashboard
    // readout composed from funnelTimes + quantileProfile in ONE plan.
    // funnel latency: greedy first-view -> first-purchase-after per user,
    // integer-microsecond latencies through quantile_cont (bit-exact vs
    // the engine's distributed exact-quantile machinery)
    Q("q_funnel_latency", (s, dir) => {
      val lat = operators.Funnel.funnelTimes(ev(s, dir),
          Seq("view", "purchase"))
        .filter(col("t2").isNotNull)
        .select((unix_micros(col("t2")) - unix_micros(col("t1")))
          .as("latency_us"))
      Curation.quantileProfile(lat, Seq("latency_us"),
        Seq(0.25, 0.5, 0.75, 0.9, 0.99))
    }, sql(
      """WITH f AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN f USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > f.t1 GROUP BY 1),
        |l AS (SELECT CAST(epoch_us(p.t2) - epoch_us(f.t1) AS BIGINT) AS latency_us
        |      FROM p JOIN f USING (user_id))
        |SELECT 'latency_us' AS col_name, 0.25 AS prob,
        |  quantile_cont(latency_us, 0.25) AS value FROM l
        |UNION ALL SELECT 'latency_us', 0.5, quantile_cont(latency_us, 0.5) FROM l
        |UNION ALL SELECT 'latency_us', 0.75, quantile_cont(latency_us, 0.75) FROM l
        |UNION ALL SELECT 'latency_us', 0.9, quantile_cont(latency_us, 0.9) FROM l
        |UNION ALL SELECT 'latency_us', 0.99, quantile_cont(latency_us, 0.99) FROM l""".stripMargin),
      bench = true),

    // Sample-ratio-mismatch hygiene gate: chi2 on the variant unit
    // counts vs the 50/50 design — integer cross-multiplied significance,
    // the check that must pass before any lift readout means anything.
    // SRM: distinct-unit variant counts, integer-inequality significance
    Q("q_srm", (s, dir) =>
      operators.EventSignals.srmCheck(ev(s, dir)), sql(
      """WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
        |v AS (SELECT user_id % 2 AS v, CAST(count(*) AS BIGINT) AS n
        |      FROM u GROUP BY 1),
        |t AS (SELECT
        |    CAST(coalesce(sum(CASE WHEN v = 0 THEN n END), 0) AS BIGINT) AS n0,
        |    CAST(coalesce(sum(CASE WHEN v = 1 THEN n END), 0) AS BIGINT) AS n1
        |  FROM v)
        |SELECT n0, n1, n0 - n1 AS d,
        |  CASE WHEN n0 + n1 > 0 THEN
        |    CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
        |  END AS chi2,
        |  CAST(1000000 AS HUGEINT) * (n0 - n1) * (n0 - n1) >
        |    CAST(3841459 AS HUGEINT) * (n0 + n1) AS srm
        |FROM t""".stripMargin), bench = true),

    // Two-variant experiment readout: per-user conversion collapse, 2x2
    // chi-square significance as a DECIMAL(38,0) cross-multiplied integer
    // inequality (alpha = 0.05) — no float in the gate.
    Q("q_ab_lift", (s, dir) =>
      operators.EventSignals.abLift(ev(s, dir)), sql(
      """WITH pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |v AS (SELECT user_id % 2 AS variant, count(*) AS n_users,
        |        CAST(sum(conv) AS BIGINT) AS n_conv
        |      FROM pu GROUP BY 1),
        |t AS (SELECT
        |        CAST(sum(CASE WHEN variant = 0 THEN n_users END) AS BIGINT) AS n0,
        |        CAST(sum(CASE WHEN variant = 0 THEN n_conv END) AS BIGINT) AS c0,
        |        CAST(sum(CASE WHEN variant = 1 THEN n_users END) AS BIGINT) AS n1,
        |        CAST(sum(CASE WHEN variant = 1 THEN n_conv END) AS BIGINT) AS c1
        |      FROM v),
        |f AS (SELECT coalesce(
        |        CAST(1000000 AS HUGEINT) * CAST(n0 + n1 AS HUGEINT) * d * d >
        |        CAST(3841459 AS HUGEINT) * CAST(n0 AS HUGEINT)
        |          * CAST(n1 AS HUGEINT) * CAST(c0 + c1 AS HUGEINT)
        |          * CAST(n0 + n1 - c0 - c1 AS HUGEINT), FALSE) AS significant
        |      FROM (SELECT *,
        |              CAST(c0 AS HUGEINT) * CAST(n1 - c1 AS HUGEINT)
        |                - CAST(c1 AS HUGEINT) * CAST(n0 - c0 AS HUGEINT) AS d
        |            FROM t))
        |SELECT v.variant, v.n_users, v.n_conv, f.significant FROM v, f""".stripMargin),
      bench = true),

    // CUPED variance-reduced A/B: per-user pre/post activity counts
    // split at the integer epoch-us midpoint, theta = cov/var from exact
    // decimal moments, adjusted variant means + rho^2 variance-reduction
    // readout — all fixed-order doubles over exact integers.
    // CUPED: exact decimal moments over per-user integer counts, the
    // midpoint split in pure integer epoch-us, fixed-order double readout
    Q("q_cuped", (s, dir) =>
      operators.EventSignals.cupedLift(ev(s, dir)),
      hashSafe("variant,n_u,sx_v*,sy_v*,mean_x,mean_y,theta,adj_mean,rho2")(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events
        |           WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |sp AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
        |pu AS (SELECT user_id,
        |    CAST(sum(CASE WHEN us * 2 < lo + hi THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN us * 2 < lo + hi THEN 0 ELSE 1 END) AS BIGINT) AS y
        |  FROM e, sp GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
        |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy FROM pu),
        |v AS (SELECT user_id % 2 AS variant, CAST(count(*) AS BIGINT) AS n_u,
        |    sum(CAST(x AS HUGEINT)) AS sx_v, sum(CAST(y AS HUGEINT)) AS sy_v
        |  FROM pu GROUP BY 1),
        |r AS (SELECT variant, n_u,
        |    CAST(sx_v AS DECIMAL(38,0)) AS sx_v, CAST(sy_v AS DECIMAL(38,0)) AS sy_v,
        |    CAST(sx_v AS DOUBLE) / CAST(n_u AS DOUBLE) AS mean_x,
        |    CAST(sy_v AS DOUBLE) / CAST(n_u AS DOUBLE) AS mean_y,
        |    CAST(n AS HUGEINT) * sxx - sx * sx AS vxden,
        |    CAST(n AS HUGEINT) * syy - sy * sy AS vyden,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covnum,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vxd,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vyd,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS gmx
        |  FROM v, g)
        |SELECT variant, n_u, sx_v, sy_v, mean_x, mean_y,
        |  CASE WHEN vxden <> 0 THEN covnum / vxd END AS theta,
        |  CASE WHEN vxden <> 0 THEN mean_y - (covnum / vxd) * (mean_x - gmx)
        |  END AS adj_mean,
        |  CASE WHEN vxden <> 0 AND vyden <> 0
        |    THEN (covnum * covnum) / (vxd * vyd) END AS rho2
        |FROM r""".stripMargin), bench = true),

    // Direct standardization — the Simpson's-paradox guard beside SRM:
    // variant conversion rates re-weighted to the POOLED first-touch
    // stratum mix (adj(v) = sum_s (N_s/N)*(c_vs/n_vs)), per-stratum
    // terms quantized to 1e-12 integers so the per-variant sum is
    // order-free exact.
    // direct standardization: adjusted rate = sum over strata of the
    // 1e-12-quantized (pooled share)x(cell rate) terms; a cell with no
    // users of a variant contributes 0 (no row)
    Q("q_strat_adjust", (s, dir) =>
      operators.EventSignals.standardizedLift(ev(s, dir)), sql(
      """WITH f AS (SELECT user_id, event_type AS stratum FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events WHERE user_id IS NOT NULL) WHERE rn = 1),
        |pu AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |u AS (SELECT pu.user_id, pu.conv, f.stratum, pu.user_id % 2 AS v
        |      FROM pu JOIN f USING (user_id)),
        |cell AS (SELECT v, stratum, CAST(count(*) AS BIGINT) AS n,
        |           CAST(sum(conv) AS BIGINT) AS c
        |         FROM u GROUP BY 1, 2),
        |s AS (SELECT stratum, CAST(sum(n) AS BIGINT) AS ns FROM cell GROUP BY 1),
        |t AS (SELECT CAST(sum(ns) AS BIGINT) AS nt FROM s),
        |tm AS (SELECT v, n, c,
        |        CAST(round((CAST(ns AS DOUBLE) / nt) * (CAST(c AS DOUBLE) / n)
        |          * 1000000000000.0) AS BIGINT) AS tq
        |      FROM cell JOIN s USING (stratum) CROSS JOIN t)
        |SELECT v AS variant, CAST(sum(n) AS BIGINT) AS n_users,
        |  CAST(sum(c) AS BIGINT) AS n_conv,
        |  CAST(sum(tq) AS BIGINT) AS adj_rate_q
        |FROM tm GROUP BY 1""".stripMargin), bench = true),

    // Sample ACF of the daily event-count series at lags 1..7: the
    // seasonality diagnostic — zero-filled integer day spine, n^2-scaled
    // exact integer numerators/denominator, one double division per lag.
    // ACF: zero-filled integer day spine, n^2-scaled exact integer
    // moments per lag, one fixed-order double division each
    Q("q_acf", (s, dir) =>
      operators.TimeSeries.autocorrelation(ev(s, dir)),
      hashSafe("k,n,s*,sxy*,a_k*,b_k*,num*,den*,r")(
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS dd FROM events
        |           WHERE ts IS NOT NULL),
        |dc AS (SELECT dd, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1),
        |sp AS (SELECT min(dd) AS d0, max(dd) AS d1 FROM dc),
        |ser AS (
        |  SELECT g.dd - (SELECT d0 FROM sp) + 1 AS r, COALESCE(dc.c, 0) AS c
        |  FROM (SELECT unnest(generate_series((SELECT d0 FROM sp),
        |                                      (SELECT d1 FROM sp))) AS dd) g
        |  LEFT JOIN dc ON g.dd = dc.dd),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(CAST(c AS HUGEINT)) AS s,
        |        sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sxx FROM ser),
        |l AS (SELECT unnest(range(1, 8)) AS k),
        |p AS (SELECT l.k, t.n, t.s, t.sxx,
        |    sum(CAST(s1.c AS HUGEINT) * COALESCE(CAST(s2.c AS HUGEINT), 0)) AS sxy,
        |    sum(CASE WHEN s1.r <= t.n - l.k THEN CAST(s1.c AS HUGEINT) ELSE 0 END) AS a_k,
        |    sum(CASE WHEN s1.r > l.k THEN CAST(s1.c AS HUGEINT) ELSE 0 END) AS b_k
        |  FROM ser s1 CROSS JOIN l CROSS JOIN t
        |  LEFT JOIN ser s2 ON s1.r + l.k = s2.r
        |  GROUP BY 1, 2, 3, 4)
        |SELECT CAST(k AS BIGINT) AS k, n, CAST(s AS DECIMAL(38,0)) AS s,
        |  CAST(sxy AS DECIMAL(38,0)) AS sxy,
        |  CAST(a_k AS DECIMAL(38,0)) AS a_k, CAST(b_k AS DECIMAL(38,0)) AS b_k,
        |  CAST(n * n * sxy - n * s * (a_k + b_k) + (n - k) * s * s AS DECIMAL(38,0)) AS num,
        |  CAST(n * n * sxx - n * s * s AS DECIMAL(38,0)) AS den,
        |  CAST(n * n * sxy - n * s * (a_k + b_k) + (n - k) * s * s AS DOUBLE) /
        |    CAST(n * n * sxx - n * s * s AS DOUBLE) AS r
        |FROM p""".stripMargin), bench = true),

    // Per-type dispersion (Fano) index of daily counts over the shared
    // zero-filled calendar: burstiness vs Poisson — exact integer
    // moments, one double division per type.
    // dispersion: shared-calendar per-type day series, exact moments
    Q("q_dispersion", (s, dir) =>
      operators.TimeSeries.dispersionIndex(ev(s, dir)), hashSafe("key,n,s*,sxx*,mean,fano")(
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS dd,
        |    CAST(event_type AS VARCHAR) AS key
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |dc AS (SELECT key, dd, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
        |sp AS (SELECT min(dd) AS d0, max(dd) AS d1 FROM dc),
        |spine AS (SELECT k.key, g.dd
        |  FROM (SELECT unnest(generate_series((SELECT d0 FROM sp),
        |                                      (SELECT d1 FROM sp))) AS dd) g
        |  CROSS JOIN (SELECT DISTINCT key FROM dc) k),
        |ser AS (SELECT spine.key, COALESCE(dc.c, 0) AS c
        |  FROM spine LEFT JOIN dc ON spine.key = dc.key AND spine.dd = dc.dd),
        |a AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
        |        sum(CAST(c AS HUGEINT)) AS s,
        |        sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sxx
        |      FROM ser GROUP BY 1)
        |SELECT key, n, CAST(s AS DECIMAL(38,0)) AS s,
        |  CAST(sxx AS DECIMAL(38,0)) AS sxx,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |  CASE WHEN s <> 0 THEN
        |    CAST(CAST(n AS HUGEINT) * sxx - s * s AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
        |  END AS fano
        |FROM a""".stripMargin), bench = true),

    // Empirical-Bayes shrunk per-source "long doc" rates: small domains
    // pull toward the corpus rate with 50 pseudo-trials — the
    // small-domain fix for per-source quality dashboards.
    // EB shrinkage: exact integer counts, fixed-order double rates
    Q("q_eb_shrink", (s, dir) =>
      Curation.ebShrinkRates(t(s, dir, "documents"), "source",
        col("n_chars") > 1000), sql(
      """WITH g AS (SELECT CAST(source AS VARCHAR) AS "group",
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN n_chars > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |        CAST(sum(k) AS BIGINT) AS kk FROM g)
        |SELECT "group", k, n,
        |  CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS raw_rate,
        |  CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE) AS m,
        |  (CAST(k AS DOUBLE) + 50.0 * (CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))) /
        |    (CAST(n AS DOUBLE) + 50.0) AS shrunk_rate
        |FROM g, t""".stripMargin), bench = true),

    // Cross-correlation view-vs-purchase at lags -7..7: the lead-lag
    // diagnostic (a peak at k > 0 = views lead purchases by k days) —
    // shared zero-filled day spine, exact integer moments, one double
    // per lag; r_0 is the plain Pearson correlation of the two series.
    // CCF: shared zero-filled day spine carrying both series, matched-
    // pair integer moments per signed lag, one fixed-order double each
    Q("q_ccf", (s, dir) =>
      operators.TimeSeries.crossCorrelation(ev(s, dir), "view", "purchase"),
      hashSafe("k,n,sa*,sb*,sxy*,a_k*,b_k*,num*,r")(
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS dd, event_type AS c
        |           FROM events WHERE ts IS NOT NULL
        |             AND event_type IN ('view', 'purchase')),
        |dc AS (SELECT dd,
        |    CAST(count(*) FILTER (c = 'view') AS BIGINT) AS a,
        |    CAST(count(*) FILTER (c = 'purchase') AS BIGINT) AS b
        |  FROM d GROUP BY 1),
        |sp AS (SELECT min(dd) AS d0, max(dd) AS d1 FROM dc),
        |ser AS (
        |  SELECT g.dd - (SELECT d0 FROM sp) + 1 AS r,
        |    COALESCE(dc.a, 0) AS a, COALESCE(dc.b, 0) AS b
        |  FROM (SELECT unnest(generate_series((SELECT d0 FROM sp),
        |                                      (SELECT d1 FROM sp))) AS dd) g
        |  LEFT JOIN dc ON g.dd = dc.dd),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        sum(CAST(a AS HUGEINT)) AS sa, sum(CAST(b AS HUGEINT)) AS sb,
        |        sum(CAST(a AS HUGEINT) * CAST(a AS HUGEINT)) AS saa,
        |        sum(CAST(b AS HUGEINT) * CAST(b AS HUGEINT)) AS sbb FROM ser),
        |l AS (SELECT unnest(range(-7, 8)) AS k),
        |p AS (SELECT l.k, t.n, t.sa, t.sb, t.saa, t.sbb,
        |    sum(CAST(s1.a AS HUGEINT) * CAST(s2.b AS HUGEINT)) AS sxy,
        |    sum(CAST(s1.a AS HUGEINT)) AS a_k,
        |    sum(CAST(s2.b AS HUGEINT)) AS b_k
        |  FROM ser s1 CROSS JOIN l CROSS JOIN t
        |  JOIN ser s2 ON s1.r + l.k = s2.r
        |  GROUP BY 1, 2, 3, 4, 5, 6)
        |SELECT CAST(k AS BIGINT) AS k, n,
        |  CAST(sa AS DECIMAL(38,0)) AS sa, CAST(sb AS DECIMAL(38,0)) AS sb,
        |  CAST(sxy AS DECIMAL(38,0)) AS sxy,
        |  CAST(a_k AS DECIMAL(38,0)) AS a_k, CAST(b_k AS DECIMAL(38,0)) AS b_k,
        |  CAST(n * n * sxy - n * sb * a_k - n * sa * b_k + (n - abs(k)) * sa * sb AS DECIMAL(38,0)) AS num,
        |  CASE WHEN (n * n * saa - n * sa * sa) <> 0 AND (n * n * sbb - n * sb * sb) <> 0 THEN
        |    CAST(n * n * sxy - n * sb * a_k - n * sa * b_k + (n - abs(k)) * sa * sb AS DOUBLE) /
        |      sqrt(CAST(n * n * saa - n * sa * sa AS DOUBLE) *
        |           CAST(n * n * sbb - n * sb * sb AS DOUBLE))
        |  END AS r
        |FROM p""".stripMargin), bench = true),

    // Calendar densification: hourly per-type counts on the FULL hour
    // spine (quiet hours = 0) — spine is sequence() over broadcast
    // bounds x the distinct key table, never a raw-event expansion.
    Q("q_resample", (s, dir) =>
      operators.EventSignals.resampleHourly(ev(s, dir)), sql(
      """WITH b AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT min(bucket_us) AS lo, max(bucket_us) AS hi FROM b),
        |spine AS (
        |  SELECT k.event_type, g.bucket_us
        |  FROM (SELECT DISTINCT event_type FROM b) k,
        |       (SELECT unnest(generate_series(lo, hi, 3600000000)) AS bucket_us
        |        FROM bounds) g)
        |SELECT s.event_type, s.bucket_us, CAST(coalesce(n, 0) AS BIGINT) AS n
        |FROM spine s LEFT JOIN b USING (event_type, bucket_us)""".stripMargin), bench = true),

    // User growth curve: first-day per user -> day histogram -> prefix
    // sum — the exact distinct-users-over-time no window can express.
    Q("q_user_growth", (s, dir) =>
      operators.EventSignals.userGrowth(ev(s, dir)), sql(
      """WITH fd AS (SELECT user_id, min(epoch_us(ts) // 86400000000) AS day
        |            FROM events GROUP BY user_id),
        |pd AS (SELECT day, count(*) AS n_new FROM fd GROUP BY day)
        |SELECT day, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_users
        |FROM pd""".stripMargin), bench = true),

    // Rolling 7-day distinct active users: distinct (user, day) collapse,
    // x7 window-day explode of the COLLAPSED table, partial-agg counts —
    // the sliding-distinct shape no window aggregate can express.
    Q("q_rolling_active", (s, dir) =>
      operators.EventSignals.rollingActiveUsers(ev(s, dir)), sql(
      """WITH ud AS (
        |  SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ud),
        |x AS (SELECT u, unnest(generate_series(day, day + 6)) AS d FROM ud),
        |c AS (SELECT d AS day, count(*) AS n_active
        |      FROM (SELECT DISTINCT u, d FROM x) GROUP BY d),
        |spine AS (SELECT unnest(generate_series(lo, hi)) AS day FROM b)
        |SELECT spine.day, CAST(coalesce(n_active, 0) AS BIGINT) AS n_active
        |FROM spine LEFT JOIN c USING (day)""".stripMargin), bench = true),

    // Gap-based batch sessionization: label every event with its user-scoped
    // session ordinal (30-minute inactivity gap) — the labeling counterpart
    // of the streaming session-window aggregate. One keyed shuffle.
    Q("q_sessionize", (s, dir) =>
      operators.Funnel.sessionize(ev(s, dir), gap = "30 minutes")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("session_idx")), sql(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  CAST(SUM(CASE WHEN gap_new THEN 1 ELSE 0 END)
        |       OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_idx
        |FROM (SELECT event_id, user_id, ts,
        |        epoch_us(ts) - LAG(epoch_us(ts))
        |          OVER (PARTITION BY user_id ORDER BY ts) > 1800000000 AS gap_new
        |      FROM events)""".stripMargin), bench = true),

    // Forward as-of: each view picks the user's EARLIEST purchase at or
    // after it (time-to-convert lookups). Same machinery, reversed walk.
    Q("q_asof_fwd", (s, dir) => {
      val e = ev(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("p_value"))
      operators.AsOfJoin.asofJoin(views, purchases, Seq("user_id"), direction = "forward")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("asof_p_value").as("p_value"),
          unix_micros(col("asof_ts")).as("p_ts_us"))
    }, sql(
      """WITH p AS (SELECT user_id, ts, max(value) AS p_value
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |v AS (SELECT event_id, user_id, ts
        |      FROM events WHERE event_type = 'view')
        |SELECT v.event_id, v.user_id, epoch_us(v.ts) AS ts_us,
        |       p.p_value AS p_value, epoch_us(p.ts) AS p_ts_us
        |FROM v ASOF LEFT JOIN p
        |  ON v.user_id = p.user_id AND v.ts <= p.ts""".stripMargin)),

    // As-of join: each purchase picks the user's most recent view at or
    // before it (point-in-time feature lookup). One keyed shuffle via the
    // union+window composition — no range-join explosion. Views are
    // pre-deduped to unique (user, ts) so the latest-match is total-order
    // deterministic on both engines.
    Q("q_asof", (s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = e.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("view_value"))
      operators.AsOfJoin.asofJoin(purchases, views, Seq("user_id"))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("asof_view_value").as("view_value"),
          unix_micros(col("asof_ts")).as("view_ts_us"))
    }, sql(
      """WITH v AS (SELECT user_id, ts, max(value) AS view_value
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
        |       v.view_value AS view_value, epoch_us(v.ts) AS view_ts_us
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin), bench = true),

    // Mann-Kendall monotone-trend verdict on the daily event-count
    // series: S = sum of pair signs over the zero-filled calendar,
    // tie-corrected 18*Var as an exact integer, continuity-corrected z.
    // Mann-Kendall: calendar-bounded pair-sign sum, tie-corrected 18*Var,
    // continuity-corrected z
    Q("q_mann_kendall", (s, dir) =>
      operators.TimeSeries.mannKendall(ev(s, dir)), hashSafe("n,s*,var18*,z")(
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS dd FROM events
        |           WHERE ts IS NOT NULL),
        |dc AS (SELECT dd, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1),
        |sp AS (SELECT min(dd) AS d0, max(dd) AS d1 FROM dc),
        |ser AS (SELECT g.dd - (SELECT d0 FROM sp) + 1 AS r, COALESCE(dc.c, 0) AS c
        |  FROM (SELECT unnest(generate_series((SELECT d0 FROM sp),
        |                                      (SELECT d1 FROM sp))) AS dd) g
        |  LEFT JOIN dc ON g.dd = dc.dd),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ser),
        |sv AS (SELECT CAST(coalesce(sum(CASE WHEN b.c > a.c THEN 1
        |                 WHEN b.c < a.c THEN -1 ELSE 0 END), 0) AS HUGEINT) AS s
        |       FROM ser a JOIN ser b ON b.r > a.r),
        |ties AS (SELECT coalesce(sum(CAST(m AS HUGEINT) * (m - 1) * (2 * m + 5)), 0) AS tsum
        |         FROM (SELECT CAST(count(*) AS BIGINT) AS m FROM ser GROUP BY c))
        |SELECT n, CAST(s AS DECIMAL(38,0)) AS s,
        |  CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tsum AS DECIMAL(38,0)) AS var18,
        |  CASE WHEN (CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tsum) = 0 THEN NULL
        |       WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) /
        |         sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tsum AS DOUBLE) / 18.0)
        |       WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) /
        |         sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tsum AS DOUBLE) / 18.0)
        |       ELSE 0.0 END AS z
        |FROM sv, t, ties""".stripMargin), bench = true),

    // Theil-Sen robust slope beside the MK test: median of all pairwise
    // day slopes, each ONE double division quantized to 1e-6 units so
    // the median runs over integral values (the gate-proven
    // exact-quantile regime). Calendar-bounded pair join, never
    // data-sized past the first agg.
    // Theil-Sen: pairwise day slopes quantized to 1e-6 integers, exact
    // median via quantile_cont (the gate-proven integral regime)
    Q("q_theil_sen", (s, dir) =>
      operators.TimeSeries.theilSen(ev(s, dir)), sql(
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS dd FROM events
        |           WHERE ts IS NOT NULL),
        |dc AS (SELECT dd, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1),
        |sp AS (SELECT min(dd) AS d0, max(dd) AS d1 FROM dc),
        |ser AS (SELECT g.dd - (SELECT d0 FROM sp) + 1 AS r, COALESCE(dc.c, 0) AS c
        |  FROM (SELECT unnest(generate_series((SELECT d0 FROM sp),
        |                                      (SELECT d1 FROM sp))) AS dd) g
        |  LEFT JOIN dc ON g.dd = dc.dd),
        |sl AS (SELECT CAST(round(CAST(b.c - a.c AS DOUBLE) / (b.r - a.r)
        |         * 1000000.0) AS BIGINT) AS sq
        |       FROM ser a JOIN ser b ON b.r > a.r),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM ser)
        |SELECT t.n_days,
        |  CAST(t.n_days * (t.n_days - 1) // 2 AS BIGINT) AS n_pairs,
        |  (SELECT quantile_cont(CAST(sq AS DOUBLE), 0.5) FROM sl)
        |    AS sen_slope_micro
        |FROM t""".stripMargin), bench = true),

    // Single changepoint by binary segmentation: argmax over splits of
    // the two-segment fit gain L^2/s + R^2/(n-s) from exact integer
    // prefix sums; (score desc, split asc) argmax via one max_by.
    // binary-segmentation changepoint: argmax of the two-segment fit
    // gain over exact integer prefix sums; (gain desc, split asc)
    Q("q_changepoint", (s, dir) =>
      operators.TimeSeries.changepoint(ev(s, dir)), sql(
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS dd FROM events
        |           WHERE ts IS NOT NULL),
        |dc AS (SELECT dd, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1),
        |sp AS (SELECT min(dd) AS d0, max(dd) AS d1 FROM dc),
        |ser AS (SELECT g.dd, g.dd - (SELECT d0 FROM sp) + 1 AS r,
        |         COALESCE(dc.c, 0) AS c
        |  FROM (SELECT unnest(generate_series((SELECT d0 FROM sp),
        |                                      (SELECT d1 FROM sp))) AS dd) g
        |  LEFT JOIN dc ON g.dd = dc.dd),
        |pre AS (SELECT dd, r, c, sum(c) OVER (ORDER BY r) AS cum FROM ser),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(c) AS BIGINT) AS tot FROM ser),
        |sc AS (SELECT pre.dd AS split_day, CAST(pre.r AS BIGINT) AS split_r,
        |         t.n AS n_days, CAST(pre.cum AS BIGINT) AS lsum,
        |         CAST(t.tot - pre.cum AS BIGINT) AS rsum,
        |         CAST(pre.cum AS DOUBLE) * CAST(pre.cum AS DOUBLE) / pre.r
        |           + CAST(t.tot - pre.cum AS DOUBLE)
        |             * CAST(t.tot - pre.cum AS DOUBLE) / (t.n - pre.r) AS g,
        |         CAST(pre.cum AS DOUBLE) / pre.r AS mean_left,
        |         CAST(t.tot - pre.cum AS DOUBLE) / (t.n - pre.r) AS mean_right
        |       FROM pre, t WHERE pre.r < t.n)
        |SELECT split_day, split_r, n_days, lsum, rsum, mean_left, mean_right
        |FROM sc ORDER BY g DESC, split_r LIMIT 1""".stripMargin), bench = true),

    // As-of with a staleness tolerance (pandas merge_asof parity): matches
    // further than 1 h behind the purchase are nulled — sound as a
    // post-filter because the as-of match is the closest candidate.
    Q("q_asof_tol", (s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = e.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("view_value"))
      operators.AsOfJoin.asofJoin(purchases, views, Seq("user_id"),
          tolerance = Some(3600L * 1000000L))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("asof_view_value").as("view_value"),
          unix_micros(col("asof_ts")).as("view_ts_us"))
    }, sql(
      """WITH v AS (SELECT user_id, ts, max(value) AS view_value
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts, value
        |      FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT p.event_id, p.user_id, p.ts, p.value,
        |             v.view_value, v.ts AS vts
        |      FROM p ASOF LEFT JOIN v
        |        ON p.user_id = v.user_id AND p.ts >= v.ts)
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
        |  CASE WHEN ts - vts <= INTERVAL 1 HOUR THEN view_value END AS view_value,
        |  CASE WHEN ts - vts <= INTERVAL 1 HOUR THEN epoch_us(vts) END AS view_ts_us
        |FROM a""".stripMargin)),

    // The interval-ized as-of variant (the STREAMING feature-lookup path:
    // snapshots become [ts, next_ts) validity windows, the join hits at
    // most one). Pure DataFrame composition, so the gate drives the exact
    // code a stream runs, against the same DuckDB ASOF oracle as q_asof.
    Q("q_asof_iv", (s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = e.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("view_value"))
      operators.AsOfJoin.asofJoinStreamStatic(purchases, views, Seq("user_id"))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("asof_view_value").as("view_value"),
          unix_micros(col("asof_ts")).as("view_ts_us"))
    }, twin("q_asof"), bench = true),
  )
}
