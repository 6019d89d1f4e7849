package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{AsofJoin, Mutate}

import Fixtures._

/** Event streams in batch form, as-of joins, and the
  * merge/CDC/SCD2 table-maintenance operations. */
object EventGates {

  val gates: Seq[Gate] = Seq(
    // ----- §2.9 event streams (batch form of the streaming op) ---------
    Gate("events_window")((s, dir) =>
      graft.streaming.EventWindows.tumbling(events(s, dir), "1 hour")
        .orderBy("window_start", "event_type")) {
      """SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS window_start,
        |  event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin
    },
    // Sliding windows (1h width / 30m slide): every event must appear
    // in exactly TWO windows; the oracle replays both window starts per
    // event via a two-bucket union.
    Gate("events_sliding")((s, dir) =>
      graft.streaming.EventWindows.sliding(events(s, dir), "1 hour", "30 minutes")
        .orderBy("window_start", "event_type")) {
      """WITH ev AS (
        |  SELECT event_type, value,
        |    epoch(time_bucket(INTERVAL 30 MINUTES, ts)) AS b
        |  FROM events
        |), e2 AS (
        |  SELECT event_type, value, b AS ws FROM ev
        |  UNION ALL
        |  SELECT event_type, value, b - 1800 FROM ev
        |)
        |SELECT CAST(ws AS BIGINT) AS window_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
        |FROM e2 GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin
    },
    // Blocked edit-distance join (SymSpell deletion neighborhoods):
    // salted corpus words vs their planted mid-character deletions at
    // maxDist 1. The oracle brute-forces levenshtein over the same
    // ~2.3k-value sets — exact pair parity, completeness included.
    Gate("fuzzy_join_edit1")((s, dir) => {
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .where(length(col("w")).between(4, 12))
        .select(concat(col("w"), lit("-"), col("doc_id") % 97).as("s"))
        .distinct()
      val probes = base.select(concat(
          expr("substr(s, 1, CAST(length(s)/2 AS INT))"),
          expr("substr(s, CAST(length(s)/2 AS INT) + 2, length(s))")).as("v"))
        .distinct()
      graft.operators.FuzzyJoin.editDistancePairs(base, "s", probes, "v", maxDist = 1)
        .orderBy("left_val", "right_val")
    }) {
      """WITH base AS (
        |  SELECT DISTINCT lower(w) || '-' || (doc_id % 97) AS s
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(trim(text), '\s+')) AS w
        |        FROM documents)
        |  WHERE length(w) BETWEEN 4 AND 12
        |), rhs AS (
        |  SELECT DISTINCT substr(s, 1, (length(s) // 2))
        |    || substr(s, (length(s) // 2) + 2) AS v FROM base
        |)
        |SELECT l.s AS left_val, r.v AS right_val,
        |  CAST(levenshtein(l.s, r.v) AS INTEGER) AS dist
        |FROM base l, rhs r
        |WHERE levenshtein(l.s, r.v) <= 1
        |ORDER BY left_val, right_val""".stripMargin
    },
    // Stream-stream interval join, batch form (the streaming form with
    // watermarks is exercised in StreamingSpec): click → purchase
    // attribution within 10 minutes.
    Gate("events_correlate")((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      graft.streaming.EventWindows
        .correlate(clicks, purchases, "user_id", "ts", withinSeconds = 600)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("user_id")).as("n_users"))
    }) {
      """WITH c AS (
        |  SELECT user_id, ts FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_users
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 600 SECONDS""".stripMargin
    },
    // LEFT OUTER attribution (batch form; streaming emits unmatched
    // lefts at watermark — StreamingSpec): every click survives, so
    // the conversion-rate denominator is exact; unmatched rows carry
    // null purchase timestamps.
    Gate("events_correlate_outer")((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      graft.streaming.EventWindows
        .correlate(clicks, purchases, "user_id", "ts", withinSeconds = 600,
          how = "left_outer")
        .agg(count(lit(1)).as("n_rows"),
          count(col("r_ts")).as("n_matched"),
          sum(when(col("r_ts").isNull, 1L).otherwise(0L)).as("n_unconverted"))
    }) {
      """WITH c AS (
        |  SELECT user_id, ts FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        |), j AS (
        |  SELECT c.user_id, p.ts AS pts
        |  FROM c LEFT JOIN p ON c.user_id = p.user_id
        |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 600 SECONDS
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(pts) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN pts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unconverted
        |FROM j""".stripMargin
    },
    // Ingestion dedup, batch form (streaming form uses the same entry
    // point with dropDuplicatesWithinWatermark — StreamingSpec): a
    // doubled feed collapses back to one row per event id.
    Gate("events_dedup")((s, dir) => {
      val ev = events(s, dir)
      graft.streaming.EventWindows.dedupEvents(ev.unionAll(ev), "event_id")
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("event_id")).as("n_ids"),
          round(sum("value"), 2).as("sum_value"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
        |  CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin
    },
    Gate("events_sessions")((s, dir) =>
      graft.streaming.EventWindows.sessionStats(events(s, dir), gapMinutes = 30)
        .where(col("user_id") < 50)
        .orderBy("user_id", "session_idx")) {
      """WITH lagged AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events WHERE user_id < 50
        |), flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |      OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM lagged
        |), sessions AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM flagged
        |)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(floor(min(epoch(ts))) AS BIGINT) AS start_ts,
        |  CAST(floor(max(epoch(ts))) AS BIGINT) AS end_ts
        |FROM sessions GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin
    },
    // Same sessionization through the flatMapGroupsWithState custom-state
    // operator (batch mode: end-of-data closes trailing sessions). The
    // oracle is the SAME lag-window SQL — proving the stateful fold and
    // the window formulation agree.
    Gate("events_sessions_stateful")((s, dir) =>
      graft.streaming.StatefulSessions.sessionStats(
          events(s, dir).where(col("user_id") < 50), gapMinutes = 30)
        .select("user_id", "start_ts", "end_ts", "n_events")
        .orderBy("user_id", "start_ts")) {
      """WITH lagged AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events WHERE user_id < 50
        |), flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |      OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM lagged
        |), sessions AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM flagged
        |)
        |SELECT user_id,
        |  CAST(floor(min(epoch(ts))) AS BIGINT) AS start_ts,
        |  CAST(floor(max(epoch(ts))) AS BIGINT) AS end_ts,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM sessions GROUP BY user_id, session_idx
        |ORDER BY user_id, start_ts""".stripMargin
    },
    // First-touch windowed funnel view → click → purchase within 24 h:
    // per-user earliest step chain (each step strictly after the
    // previous, all within the first-touch window), then the census.
    // Every shuffle keys on user_id; timestamps compare in exact
    // microseconds, so the conversion-time total is an exact long.
    Gate("events_funnel")((s, dir) => {
      val f = graft.streaming.EventWindows.funnel(events(s, dir),
        Seq("view", "click", "purchase"), withinSeconds = 86400)
      f.agg(
        count(col("t1")).as("n_step1"),
        count(col("t2")).as("n_step2"),
        count(col("t3")).as("n_step3"),
        sum(when(col("t3").isNotNull,
          unix_micros(col("t3")) - unix_micros(col("t1")))).as("conv_us"))
    }) {
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT s1.user_id, s1.t1, min(e.ts) AS t2
        |  FROM s1 LEFT JOIN events e
        |    ON e.user_id = s1.user_id AND e.event_type = 'click'
        |    AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 86400 SECONDS
        |  GROUP BY 1, 2
        |), s3 AS (
        |  SELECT s2.user_id, s2.t1, s2.t2, min(e.ts) AS t3
        |  FROM s2 LEFT JOIN events e
        |    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |    AND e.ts > s2.t2 AND e.ts <= s2.t1 + INTERVAL 86400 SECONDS
        |  GROUP BY 1, 2, 3
        |)
        |SELECT CAST(count(t1) AS BIGINT) AS n_step1,
        |  CAST(count(t2) AS BIGINT) AS n_step2,
        |  CAST(count(t3) AS BIGINT) AS n_step3,
        |  CAST(sum(CASE WHEN t3 IS NOT NULL
        |    THEN epoch_us(t3) - epoch_us(t1) END) AS BIGINT) AS conv_us
        |FROM s3""".stripMargin
    },
    // The SAME funnel through the flatMapGroupsWithState custom-state
    // operator (batch mode: end-of-data finalizes every user). The
    // oracle is the SAME step-join SQL reshaped to the census —
    // proving the stateful fold and the join formulation agree, the
    // events_sessions_stateful precedent applied to funnels.
    Gate("events_funnel_stateful")((s, dir) =>
      graft.streaming.StatefulFunnel.funnelStats(events(s, dir),
          Seq("view", "click", "purchase"), withinSeconds = 86400)
        .groupBy("steps_reached")
        .agg(count(lit(1)).as("n_users"),
          sum(col("t_last_ms") - col("t1_ms")).as("span_ms"))
        .orderBy("steps_reached")) {
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT s1.user_id, s1.t1, min(e.ts) AS t2
        |  FROM s1 LEFT JOIN events e
        |    ON e.user_id = s1.user_id AND e.event_type = 'click'
        |    AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 86400 SECONDS
        |  GROUP BY 1, 2
        |), s3 AS (
        |  SELECT s2.user_id, s2.t1, s2.t2, min(e.ts) AS t3
        |  FROM s2 LEFT JOIN events e
        |    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |    AND e.ts > s2.t2 AND e.ts <= s2.t1 + INTERVAL 86400 SECONDS
        |  GROUP BY 1, 2, 3
        |), depth AS (
        |  SELECT user_id,
        |    CASE WHEN t3 IS NOT NULL THEN 3
        |         WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS steps_reached,
        |    epoch_ms(coalesce(t3, t2, t1)) - epoch_ms(t1) AS span
        |  FROM s3
        |)
        |SELECT steps_reached, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(span) AS BIGINT) AS span_ms
        |FROM depth GROUP BY 1 ORDER BY steps_reached""".stripMargin
    },
    // Cohort retention triangle: day of first event × day offset →
    // distinct active users, exact integers; the activity table
    // (distinct user-days) is the only thing that shuffles.
    Gate("events_retention")((s, dir) =>
      graft.streaming.EventWindows.retention(events(s, dir), maxOffsetDays = 7)
        .select(unix_date(col("cohort_day")).as("cohort_epoch_day"),
          col("offset_days"), col("n_users"))
        .orderBy("cohort_epoch_day", "offset_days")) {
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |), first AS (
        |  SELECT user_id, min(d) AS cohort FROM act GROUP BY 1
        |)
        |SELECT CAST(f.cohort - DATE '1970-01-01' AS BIGINT) AS cohort_epoch_day,
        |  CAST(a.d - f.cohort AS INTEGER) AS offset_days,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM first f JOIN act a ON a.user_id = f.user_id
        |WHERE a.d - f.cohort BETWEEN 0 AND 7
        |GROUP BY 1, 2 ORDER BY cohort_epoch_day, offset_days""".stripMargin
    },

    // ----- §2.5 as-of (temporal) join ----------------------------------
    // For each click, the user's most recent purchase at-or-before it.
    // Single shuffle + window — no range cross-join (see AsofJoin doc).
    Gate("asof_join")((s, dir) => {
      val ev = events(s, dir).where(col("user_id") < 30)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("p_value"))
      AsofJoin.mergeAsof(clicks, purchases, on = "ts", by = "user_id",
          valueCols = Seq("p_value"))
        .select(col("event_id"), col("user_id"),
          col("ts").cast("long").as("ts_sec"),
          round(col("value"), 2).as("value"),
          round(col("p_value"), 2).as("p_value"))
        .orderBy("event_id")
    }) {
      """WITH l AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE user_id < 30 AND event_type = 'click'
        |), r AS (
        |  SELECT user_id, ts, value AS p_value FROM events
        |  WHERE user_id < 30 AND event_type = 'purchase'
        |)
        |SELECT l.event_id, l.user_id,
        |  CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_sec,
        |  CAST(round(l.value, 2) AS DOUBLE) AS value,
        |  CAST(round(r.p_value, 2) AS DOUBLE) AS p_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY event_id""".stripMargin
    },
    // Skew-proof two-level variant — same semantics, same oracle;
    // parallelism = keys × time buckets instead of keys.
    Gate("asof_join_bucketed")((s, dir) => {
      val ev = events(s, dir).where(col("user_id") < 30)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("p_value"))
      AsofJoin.mergeAsofBucketed(clicks, purchases, on = "ts", by = "user_id",
          valueCols = Seq("p_value"), bucketSeconds = 6L * 3600L)
        .select(col("event_id"), col("user_id"),
          col("ts").cast("long").as("ts_sec"),
          round(col("value"), 2).as("value"),
          round(col("p_value"), 2).as("p_value"))
        .orderBy("event_id")
    }) {
      """WITH l AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE user_id < 30 AND event_type = 'click'
        |), r AS (
        |  SELECT user_id, ts, value AS p_value FROM events
        |  WHERE user_id < 30 AND event_type = 'purchase'
        |)
        |SELECT l.event_id, l.user_id,
        |  CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_sec,
        |  CAST(round(l.value, 2) AS DOUBLE) AS value,
        |  CAST(round(r.p_value, 2) AS DOUBLE) AS p_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY event_id""".stripMargin
    },
    // MERGE INTO over orders: source = updates (key%10==3 -> status
    // 'U'), matched deletes (key%20==3), inserts (key+10M for
    // key%50==7). One full-outer key-shuffle join; the source batch
    // broadcasts under AQE when small. Oracle replays the resolution.
    Gate("merge_upsert")((s, dir) => {
      val o = tbl(s, dir, "orders")
      val t = o.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val upd = o.where(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"), col("o_totalprice"))
      val ins = o.where(col("o_orderkey") % 50 === 7)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"), col("o_custkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"))
      Mutate.mergeInto(t, upd.unionByName(ins), Seq("o_orderkey"),
        deleteWhen = Some(col("o_orderkey") % 20 === 3))
        .orderBy("o_orderkey")
    }) {
      """WITH t AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |), src AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
        |    (o_orderkey % 20 = 3) AS del
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice,
        |    ((o_orderkey + 10000000) % 20 = 3)
        |  FROM orders WHERE o_orderkey % 50 = 7
        |)
        |SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice
        |FROM t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
        |WHERE NOT coalesce(s.del, false)
        |ORDER BY o_orderkey""".stripMargin
    },
    // Debezium-style CDC changelog apply: base = orders with key%3!=0;
    // log = U(seq1, %5==1) overridden by U(seq2, %10==1) overridden by
    // D(seq3, %20==1), plus I(seq0, %3==0) inserting the excluded
    // keys. Latest-seq-wins window over the LOG (log-sized shuffle) +
    // one anti join — the base payload never moves except for touched
    // keys. Oracle replays the window + resolution.
    Gate("cdc_apply")((s, dir) => {
      val o = tbl(s, dir, "orders")
      val base = o.where(col("o_orderkey") % 3 =!= 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      def leg(m: Long, r: Long, op: String, seq: Int, status: String) =
        o.where(col("o_orderkey") % m === r)
          .select(col("o_orderkey"), col("o_custkey"),
            lit(status).as("o_orderstatus"), lit(op).as("op"), lit(seq).as("seq"))
      val log = leg(5, 1, "U", 1, "U1")
        .unionByName(leg(10, 1, "U", 2, "U2"))
        .unionByName(leg(20, 1, "D", 3, "D"))
        .unionByName(leg(3, 0, "I", 0, "I0"))
      Mutate.applyChangeLog(base, log, Seq("o_orderkey")).orderBy("o_orderkey")
    }) {
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey % 3 <> 0
        |), log AS (
        |  SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus, 'U' AS op, 1 AS seq
        |  FROM orders WHERE o_orderkey % 5 = 1
        |  UNION ALL SELECT o_orderkey, o_custkey, 'U2', 'U', 2 FROM orders WHERE o_orderkey % 10 = 1
        |  UNION ALL SELECT o_orderkey, o_custkey, 'D', 'D', 3 FROM orders WHERE o_orderkey % 20 = 1
        |  UNION ALL SELECT o_orderkey, o_custkey, 'I0', 'I', 0 FROM orders WHERE o_orderkey % 3 = 0
        |), latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |    FROM log) WHERE rn = 1
        |)
        |SELECT o_orderkey, o_custkey, o_orderstatus FROM base
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus FROM latest WHERE op <> 'D'
        |ORDER BY o_orderkey""".stripMargin
    },
    // SCD type-2 dimension history over customer: a batch at ts=1
    // changes the segment for key%7==2, carries no-op updates for
    // key%7==3 (must NOT open a new version), and inserts key+1M for
    // key%100==11. One full-outer join of the CURRENT slice vs the
    // batch; each joined row emits its 1-2 output versions through a
    // single explode — no second scan of the join. Oracle replays the
    // null-safe attribute compare and both emitted versions.
    Gate("scd2_history")((s, dir) => {
      val c = tbl(s, dir, "customer")
      val hist = c.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"),
        lit(true).as("is_current"))
      val upd = c.where(col("c_custkey") % 7 === 2)
        .select(col("c_custkey"),
          concat(lit("SEG"), (col("c_custkey") % 3).cast("string")).as("c_mktsegment"),
          col("c_acctbal"))
      val noop = c.where(col("c_custkey") % 7 === 3)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val ins = c.where(col("c_custkey") % 100 === 11)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          lit("NEWSEG").as("c_mktsegment"), lit(0.0).as("c_acctbal"))
      Mutate.scd2Apply(hist, upd.unionByName(noop).unionByName(ins),
        "c_custkey", Seq("c_mktsegment", "c_acctbal"), ts = lit(1L))
        .orderBy("c_custkey", "valid_from", "is_current")
    }) {
      """WITH upd AS (
        |  SELECT c_custkey, 'SEG' || CAST(c_custkey % 3 AS VARCHAR) AS c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 7 = 2
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_custkey % 7 = 3
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'NEWSEG', 0.0 FROM customer WHERE c_custkey % 100 = 11
        |), j AS (
        |  SELECT h.c_custkey AS hk, h.c_mktsegment AS hseg, h.c_acctbal AS hbal,
        |    u.c_custkey AS uk, u.c_mktsegment AS useg, u.c_acctbal AS ubal
        |  FROM customer h FULL OUTER JOIN upd u ON h.c_custkey = u.c_custkey
        |)
        |SELECT * FROM (
        |  SELECT hk AS c_custkey, hseg AS c_mktsegment, hbal AS c_acctbal,
        |    CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
        |    true AS is_current
        |  FROM j WHERE hk IS NOT NULL AND (uk IS NULL OR
        |    (hseg IS NOT DISTINCT FROM useg AND hbal IS NOT DISTINCT FROM ubal))
        |  UNION ALL
        |  SELECT hk, hseg, hbal, 0, 1, false FROM j
        |  WHERE hk IS NOT NULL AND uk IS NOT NULL AND
        |    (hseg IS DISTINCT FROM useg OR hbal IS DISTINCT FROM ubal)
        |  UNION ALL
        |  SELECT hk, useg, ubal, 1, NULL, true FROM j
        |  WHERE hk IS NOT NULL AND uk IS NOT NULL AND
        |    (hseg IS DISTINCT FROM useg OR hbal IS DISTINCT FROM ubal)
        |  UNION ALL
        |  SELECT uk, useg, ubal, 1, NULL, true FROM j WHERE hk IS NULL
        |) ORDER BY c_custkey, valid_from, is_current""".stripMargin
    },
  )

}
