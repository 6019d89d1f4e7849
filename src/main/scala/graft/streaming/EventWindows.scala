package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-stream operators: tumbling/sliding window aggregation and
  * lag-based sessionization, written once against a DataFrame so the
  * SAME code runs in batch (finite table) and Structured Streaming
  * (`spark.readStream` source + `withWatermark`) — the Spark-native
  * way to keep batch and streaming semantics identical.
  *
  * Scale notes: windowed aggregation is a hash shuffle on
  * (window, keys) with partial aggregation; streaming state is bounded
  * by the watermark horizon. Sessionization shuffles once on the user
  * key and sorts within partitions — at 100 TB the key shuffle is the
  * cost, identical to any groupBy on user_id.
  */
object EventWindows {

  /** Accept both instant (Timestamp) and wall-clock (TimestampNTZ)
    * event-time columns: NTZ is cast to TimestampType at the entry
    * point — an identity on the instant under the session's UTC zone —
    * so every downstream `unix_millis`/`cast(long)`/encoder sees one
    * canonical type. (Fixture generations have shipped both shapes;
    * see gates.Fixtures.events.) */
  private[streaming] def instantTs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ→Timestamp is only an instant-identity when the session zone
        // is UTC; on a user-built non-UTC session the cast would silently
        // shift every event time, so fail loudly instead.
        val zone = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(zone == "UTC" || zone == "Etc/UTC" || zone == "Z",
          s"TimestampNTZ event-time normalization requires a UTC session " +
            s"time zone (got '$zone'); use GraftSession.builder or set " +
            "spark.sql.session.timeZone=UTC")
        df.withColumn(c, col(c).cast("timestamp"))
      case _ => df
    }

  /** Tumbling-window counts/sums per event type. In streaming mode pass
    * a `readStream` frame with `withWatermark("ts", ...)` applied;
    * late-arriving data beyond the watermark is dropped by Spark. */
  def tumbling(events: DataFrame, width: String = "1 hour"): DataFrame =
    instantTs(events, "ts")
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .select(
        col("window.start").cast("long").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming variant: the identical aggregation with an explicit
    * watermark (required for append-mode state cleanup). */
  def tumblingStream(events: DataFrame, width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    tumbling(events.withWatermark("ts", watermark), width)

  /** SLIDING-window counts/sums: each event lands in width/slide
    * overlapping windows (the moving-average / rate-alert shape).
    * Spark materializes the window copies at the aggregation input, so
    * shuffle volume is width/slide × the tumbling cost — choose the
    * ratio deliberately at scale. Batch and streaming take the same
    * call; streaming adds a watermark upstream like [[tumblingStream]]. */
  def sliding(events: DataFrame, width: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    instantTs(events, "ts")
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .select(
        col("window.start").cast("long").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Lag-based sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapMinutes`. Batch
    * (window-function) formulation; the streaming analog is
    * `flatMapGroupsWithState`, which holds per-user state instead of
    * sorting. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    // millisecond gap test: cast-to-long truncates to whole seconds,
    // which silently merges sessions whose gap exceeds the threshold by
    // under a second
    val gapMs = gapMinutes * 60000L
    instantTs(events, "ts")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs).cast("long"))
      .withColumn("session_idx", sum("new_session").over(byUser))
      .drop("prev_ts", "new_session")
  }

  /** Per-session rollup on top of [[sessionize]]. */
  def sessionStats(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionize(events, gapMinutes)
      .groupBy("user_id", "session_idx")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts").cast("long")).as("start_ts"),
        max(col("ts").cast("long")).as("end_ts"))

  /** Exactly-once ingestion dedup on an id column. Batch frames use the
    * plain hash-shuffle dropDuplicates; streaming frames use
    * `dropDuplicatesWithinWatermark`, so the dedup state store holds
    * only the watermark horizon — the bounded-state form of
    * at-least-once → exactly-once repair at ingest (duplicate delivery
    * beyond the horizon is the upstream system's contract, not ours).
    * A streaming input MUST already carry a watermark (applied with
    * `withWatermark` upstream) — Spark rejects the query otherwise. */
  def dedupEvents(events: DataFrame, idCol: String): DataFrame =
    if (events.isStreaming) events.dropDuplicatesWithinWatermark(idCol)
    else events.dropDuplicates(idCol)

  /** Stream-stream interval join: pair each left event with right
    * events of the same key whose timestamp falls in
    * [left.ts, left.ts + withinSeconds] — e.g. click → conversion
    * attribution. Both sides MUST carry watermarks upstream; the time
    * bound makes the join state droppable once the watermark passes
    * (unbounded stream-stream joins otherwise hold state forever).
    * The same call works on batch frames (where it is a plain range
    * join). Right columns are prefixed to avoid collisions. */
  def correlate(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      withinSeconds: Long,
      rightPrefix: String = "r_",
      how: String = "inner"): DataFrame = {
    // The join condition uses unqualified col() on the prefixed names;
    // a left column that already looks prefixed would make resolution
    // ambiguous and fail analysis with a confusing error — reject it up
    // front (mirrors AsofJoin's collision check).
    val collisions =
      left.columns.toSet.intersect(right.columns.map(rightPrefix + _).toSet)
    require(collisions.isEmpty,
      s"left columns collide with prefixed right columns: $collisions — " +
        "pass a different rightPrefix")
    // LEFT OUTER is the attribution-funnel shape: a click with no
    // conversion inside the window must still come out (conversion
    // rate denominators). In streaming mode Spark emits the unmatched
    // left only once the watermark passes the join horizon — both
    // sides' watermarks plus this time bound are what make that legal
    // with bounded state. Other outer forms are rejected loudly:
    // right/full outer with this one-sided interval would hold right
    // rows forever.
    require(how == "inner" || how == "left_outer" || how == "leftouter" || how == "left",
      s"correlate supports inner and left_outer joins, got '$how'")
    val rNorm = instantTs(right, tsCol)
    val r = rNorm.columns.foldLeft(rNorm)((df, c) =>
      df.withColumnRenamed(c, s"$rightPrefix$c"))
    val l = instantTs(left, tsCol)
    l.join(
      r,
      col(key) === col(s"$rightPrefix$key") &&
        col(s"$rightPrefix$tsCol") >= col(tsCol) &&
        col(s"$rightPrefix$tsCol") <=
          col(tsCol) + expr(s"INTERVAL $withinSeconds SECONDS"),
      how)
  }

  /** Stream-static enrichment: join each event against a (small, slowly
    * changing) dimension table. The static side is broadcast — no
    * stream-side state, no shuffle of the stream; the same call works
    * on a batch frame. `how` is left by default so unmatched events
    * survive (enrichment must never drop data). Join keys are resolved
    * against their own frames, so `eventKey == dimKey` is fine (the
    * duplicate dim key column is dropped from the output). */
  def enrich(
      events: DataFrame,
      dim: DataFrame,
      eventKey: String,
      dimKey: String,
      how: String = "left"): DataFrame = {
    val d = broadcast(dim)
    events.join(d, events.col(eventKey) === d.col(dimKey), how)
      .drop(d.col(dimKey))
  }

  /** First-touch windowed funnel: per user, `t1` = the EARLIEST
    * step-1 event; `tK` = the earliest step-K event strictly after
    * `t(K−1)` and within `withinSeconds` of `t1` (the standard
    * product-analytics funnel — window anchored at first touch,
    * steps strictly ordered). Returns one row per step-1 user with
    * nullable `t1..tN` timestamp columns.
    *
    * Scale shape: one aggregation per step plus one equi-key join per
    * later step — every shuffle keys on the user column, so Spark
    * reuses the exchange partitioning down the ladder; the range
    * bounds ride the joins as residuals (never a cross product).
    * Timestamps compare in exact microseconds — no float anywhere. */
  def funnel(events: DataFrame, steps: Seq[String],
      withinSeconds: Long, userCol: String = "user_id",
      typeCol: String = "event_type", tsCol: String = "ts"): DataFrame = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps, got ${steps.size}")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct, got $steps")
    require(withinSeconds > 0, s"withinSeconds must be positive")
    val ev = instantTs(events, tsCol).select(
      col(userCol).as("__u"), col(typeCol).as("__et"), col(tsCol).as("__t"))
    var acc = ev.where(col("__et") === steps.head)
      .groupBy("__u").agg(min("__t").as("t1"))
    for (k <- 2 to steps.size) {
      val stepEv = ev.where(col("__et") === steps(k - 1))
        .select(col("__u").as("__su"), col("__t").as("__st"))
      val joined = acc.join(stepEv,
        col("__u") === col("__su") &&
          col("__st") > col(s"t${k - 1}") &&
          col("__st") <= col("t1") + expr(s"INTERVAL $withinSeconds SECONDS"),
        "left")
      val carried = ("__u" +: (1 until k).map(i => s"t$i")).map(col)
      acc = joined.groupBy(carried: _*).agg(min("__st").as(s"t$k"))
    }
    acc.withColumnRenamed("__u", userCol)
  }

  /** Cohort retention: cohort = the day of each user's first event;
    * for every day offset 0..`maxOffsetDays`, the number of cohort
    * users active on cohort-day + offset. The classic growth-
    * analytics triangle, as exact integers.
    *
    * Scale shape: one distinct (user, day) aggregation (the activity
    * table — far smaller than the event stream), one user-keyed
    * aggregation for first days, one equi-join between them, one
    * final grouped count. Nothing holds per-event state. */
  def retention(events: DataFrame, maxOffsetDays: Int,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    require(maxOffsetDays >= 0, s"maxOffsetDays must be >= 0")
    val ev = instantTs(events, tsCol)
    val activity = ev.select(col(userCol).as("__u"),
      to_date(col(tsCol)).as("__d")).distinct()
    val first = activity.groupBy("__u").agg(min("__d").as("__cohort"))
    first.join(activity, Seq("__u"))
      .withColumn("offset_days", datediff(col("__d"), col("__cohort")))
      .where(col("offset_days") >= 0 && col("offset_days") <= maxOffsetDays)
      .groupBy(col("__cohort").as("cohort_day"), col("offset_days"))
      .agg(countDistinct("__u").as("n_users"))
  }
}
