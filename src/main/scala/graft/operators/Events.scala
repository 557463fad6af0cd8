package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables._

/** Event-stream analytics (SURVEY.md §2.G) over the `events` table.
  *
  * Timestamp discipline: events.ts is nanosecond parquet; Spark truncates
  * to microseconds on read while DuckDB keeps ns, so every output goes
  * through whole-second epoch (floor) or date_trunc — identical on both
  * engines (SURVEY.md §4).
  */
object Events {

  /** Tumbling 1-hour windows per event type — one shuffle on (hour, type),
    * map-side partial aggs. */
  def windowedAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"), col("value"))
      .groupBy("hour_epoch", "event_type")
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .orderBy("hour_epoch", "event_type")

  /** Exact DISTINCT USERS per sliding window (1-hour window, 30-min hop) —
    * the reach/active-users metric, computed dedup-before-count: project to
    * (window, user), `distinct()`, then a plain count per window. The naive
    * `groupBy(window).agg(countDistinct(user))` shuffles on the WINDOW key
    * alone — at 100 TB that is a parallelism collapse onto #windows
    * reducers, each holding a distinct-set of the whole user base. The
    * two-step shape shuffles on the full (window, user) key space with
    * map-side partial dedup, and the final count is map-side-combinable. */
  def slidingDistinct(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(window(col("ts"), "1 hour", "30 minutes").as("win"), col("user_id"))
      .select(unix_timestamp(col("win.start")).as("win_start"), col("user_id"))
      .distinct()
      .groupBy("win_start")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("win_start")

  /** HOPPING (sliding) windows — 1-hour window, 30-minute hop — via Spark's
    * native sliding `window()`: every event lands in exactly two windows.
    * Window boundaries are whole multiples of 1800s, so Spark's
    * microsecond-precision assignment and the oracle's floor-second
    * arithmetic (unnest of the two starts) agree exactly. */
  def hoppingAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** THE session rule — per-user 30-minute-gap sessions: a lag plus a
    * running sum of the new-session flag, both over one (user_id) window
    * ordered by (ts_sec, event_id), so Catalyst sorts once per user
    * partition. One row per (user_id, session_idx) carrying the caller's
    * `aggs` over `ts_sec` and the events frame's `payload` column, so
    * per-session flags ride the same grouping (no extra shuffle). */
  private[graft] def sessionFrame(ev: DataFrame, payload: String, aggs: Column*): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_sec").asc, col("event_id").asc)
    ev.select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("ts_sec"), col(payload))
      .withColumn("prev_sec", lag(col("ts_sec"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_sec").isNull || col("ts_sec") - col("prev_sec") >= lit(1800L), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("session_idx", sum(col("new_session")).over(byUser))
      .groupBy("user_id", "session_idx")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The standard session frame (the one sessionize reports, ev_concurrency
    * sweeps and ev_survival / ev_overlap_join / the as-of keys read):
    * n_events, start_sec, end_sec, sum_value per session. */
  private[graft] def sessionFrame(spark: SparkSession, dir: String): DataFrame =
    sessionFrame(events(spark, dir), "value",
      count(lit(1)).as("n_events"),
      min(col("ts_sec")).as("start_sec"),
      max(col("ts_sec")).as("end_sec"),
      dsum(col("value")).as("sum_value"))

  def sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionFrame(spark, dir).orderBy("user_id", "session_idx")

  /** PEAK CONCURRENCY (ev_concurrency) — the classic sweep-line occupancy
    * stat (max concurrent sessions, the capacity-planning number every
    * serving team publishes per day): each session contributes +1 at its
    * start and −1 one second after its inclusive end; running
    * concurrency is a TWO-PHASE prefix sum (the q28/ta_seq_pack rule —
    * never one global ORDER BY window): per-day delta totals roll up
    * small, a #days-row cumulative window computes each day's carry-in
    * (sessions still open from earlier days), and the within-day running
    * sum is a day-partitioned window on the unique total order
    * (t, delta, user_id, session_idx) — close-before-open on ties, every
    * key distinct by the 30-minute session-gap construction, so both
    * engines walk the identical sequence. Output per day: sessions
    * started, the peak, and the first second the peak is reached.
    *
    * Scale: the day-partitioned window bounds fan-in at a day's deltas
    * (sub-bucket the partition key by hour at 100 TB and add one more
    * prefix level — same shape); the carry window touches #days rows. */
  def concurrency(spark: SparkSession, dir: String): DataFrame = {
    val s = sessionFrame(spark, dir)
    val d = s.select(col("start_sec").as("t"), lit(1L).as("dl"),
        col("user_id"), col("session_idx"))
      .unionByName(s.select((col("end_sec") + 1L).as("t"), lit(-1L).as("dl"),
        col("user_id"), col("session_idx")))
      .withColumn("day", expr("t div 86400"))
      .localCheckpoint() // day totals + running sum + start counts
    val off = d.groupBy("day").agg(sum(col("dl")).as("tot"))
    val wd = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = off
      .withColumn("carry", coalesce(sum(col("tot")).over(wd), lit(0L)))
      .select("day", "carry")
    val wr = Window.partitionBy("day")
      .orderBy(col("t").asc, col("dl").asc, col("user_id").asc, col("session_idx").asc)
    val run = d.withColumn("rs", sum(col("dl")).over(wr))
      .join(broadcast(carry), Seq("day"))
      .withColumn("conc", col("rs") + col("carry"))
    val peaks = run
      .withColumn("mx", max(col("conc")).over(Window.partitionBy("day")))
      .filter(col("conc") === col("mx"))
      .groupBy("day")
      .agg(max(col("conc")).as("peak_concurrency"), min(col("t")).as("peak_sec"))
    val starts = d.filter(col("dl") === 1L)
      .groupBy("day").agg(count(lit(1)).as("n_sessions_started"))
    peaks.join(starts, Seq("day"), "left_outer")
      .select(col("day"), coalesce(col("n_sessions_started"), lit(0L)).as("n_sessions_started"),
        col("peak_concurrency"), col("peak_sec"))
      .orderBy("day")
  }

  /** SEASONALITY PROFILE (ev_seasonality) — the hour-of-week traffic
    * shape every ops/capacity team reads next to ev_concurrency's peaks:
    * per event type, the peak hour-of-week cell (Monday-00 = 0, derived
    * arithmetically from epoch hours — no engine calendar functions, so
    * both engines bucket identically), its count, and how concentrated
    * the week is (top-8 hour cells' share x10000). A flat profile says
    * batch traffic; a spiked one says human diurnal load.
    *
    * Scale: one map-side-combinable (type, how) count — at most
    * |types| x 168 grouped rows — then windows over that bounded frame. */
  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    val counts = events(spark, dir)
      .select(col("event_type"),
        // epoch hour 0 is Thursday 00:00 UTC = hour 72 of a Monday-origin week
        expr("((unix_timestamp(ts) div 3600) + 72) % 168").as("how"))
      .groupBy("event_type", "how").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy(col("cnt").desc, col("how").asc)
    counts
      .withColumn("rk", row_number().over(w))
      .groupBy("event_type")
      .agg(sum(col("cnt")).as("n_events"),
        max(when(col("rk") === 1, col("how"))).as("peak_how"),
        max(when(col("rk") === 1, col("cnt"))).as("peak_n"),
        sum(when(col("rk") <= 8, col("cnt")).otherwise(lit(0L))).as("top8"))
      .withColumn("top8_share_x10000", expr("top8 * 10000 div n_events"))
      .select("event_type", "n_events", "peak_how", "peak_n", "top8_share_x10000")
      .orderBy("event_type")
  }

  /** JSON property extraction + aggregation (events.props is a JSON blob;
    * get_json_object is codegen'd, no UDF). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Funnel: users who signed up and then purchased strictly after their
    * first signup — conditional min-aggregates then one comparison; a
    * single shuffle on user_id, no self-join. */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("ts_sec"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === lit("signup"), col("ts_sec"))).as("first_signup"),
        min(when(col("event_type") === lit("purchase"), col("ts_sec"))).as("first_purchase"),
        count(lit(1)).as("n_events"))
      .select(
        col("user_id"), col("n_events"),
        col("first_signup").isNotNull.as("did_signup"),
        (col("first_signup").isNotNull && col("first_purchase").isNotNull
          && col("first_purchase") > col("first_signup")).as("converted"))
      .orderBy("user_id")

  /** Weekly cohort retention: users active in week w who return in w+1 —
    * one distinct pass + a self semi-join on (user, next week); both sides
    * shuffle on user so the join co-locates. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val act = events(spark, dir)
      .select(col("user_id"), unix_timestamp(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
      .localCheckpoint() // three uses below
    val nextWeek = act.select(col("user_id"), (col("wk") - lit(604800L)).as("wk"))
    val retained = act.join(nextWeek, Seq("user_id", "wk"), "left_semi")
      .groupBy("wk").agg(count(lit(1)).as("n_retained"))
    act.groupBy("wk").agg(count(lit(1)).as("n_active"))
      .join(retained, Seq("wk"), "left_outer")
      .select(col("wk").as("week_epoch"), col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"))
      .orderBy("week_epoch")
  }

  /** Per-user ordered event path (session path mining): collect the
    * event-type sequence in time order. The collect is bounded per user and
    * deterministic: sort_array over (ts, event_id)-keyed structs, joined to
    * a string. */
  def paths(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        expr("array_join(transform(array_sort(collect_list(struct(sec, event_id, event_type))), s -> s.event_type), '>')")
          .as("path"))
      .select(col("user_id"), col("n_events"),
        expr("substring(path, 1, 100)").as("path_prefix"))
      .orderBy("user_id")

  /** First-order MARKOV transition model over per-user event sequences —
    * the behavioral-model complement of ev_paths (which emits the raw
    * sequences): lag each user's time-ordered stream by one, count
    * (from_type, to_type) transitions, and attach the conditional
    * probability as a scaled integer (n * 10000 div from-total — no
    * float division, both engines agree exactly). Ordering key is
    * (whole-second epoch, event_id) — the sessionize convention, total
    * because event_id is unique.
    *
    * Scale: one shuffle on user_id for the lag window (partition =
    * one user's events, bounded), then the transition count is
    * map-side-combinable; the from-total join touches only the
    * |types|^2-bounded transition table. */
  def markovOn(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("sec").asc, col("event_id").asc)
    val trans = ev
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val totals = trans.groupBy("from_type").agg(sum(col("n_trans")).as("tot"))
    trans.join(totals, Seq("from_type"))
      .withColumn("p_x10000", expr("n_trans * 10000 div tot"))
      .select("from_type", "to_type", "n_trans", "p_x10000")
      .orderBy("from_type", "to_type")
  }

  def markov(spark: SparkSession, dir: String): DataFrame =
    markovOn(events(spark, dir))

  /** Per-type z-score anomaly detection: two-pass — tiny per-type moment
    * table (decimal-exact sums) broadcast back over the stream, flag rows
    * with (v-mean)^2 > 4*var (z > 2 without a sqrt: both sides derive from
    * identical doubles, so the comparison is engine-stable). */
  def anomalies(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_id"), col("event_type"), col("value"))
    val stats = ev.groupBy("event_type").agg(
      dmean(col("value")).as("mean_v"),
      (sum((col("value") * col("value")).cast(org.apache.spark.sql.types.DecimalType(28, 8)))
        .cast("double") / count(lit(1))).as("ex2"),
      count(lit(1)).as("n"))
      .withColumn("var_v", col("ex2") - col("mean_v") * col("mean_v"))
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("dev", col("value") - col("mean_v"))
      .filter(col("dev") * col("dev") > lit(4.0) * col("var_v"))
      .select(col("event_id"), col("event_type"), col("value"),
        r4(col("mean_v")).as("mean_v"))
      .orderBy("event_id")
  }

  /** Per-user trajectory summary — total L1 (Manhattan) displacement over
    * the user's time-ordered event positions, plus hop count and max
    * single hop. Movement mining over the same synthetic geometry the geo
    * suite uses; L1 instead of euclidean keeps every distance an EXACT
    * integer (x100 coords — no sqrt, no float drift, SURVEY §4 rule (b)).
    * One window shuffle on user_id; order within user is (ts, event_id) so
    * same-timestamp events are deterministic on both engines. */
  def trajectory(spark: SparkSession, dir: String): DataFrame = {
    val (a100, b100) = Geo.centredX100(col("event_id"))
    val pts = events(spark, dir).select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"), a100.as("a100"), b100.as("b100"))
    val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
    pts
      .withColumn("pa", lag(col("a100"), 1).over(w))
      .withColumn("pb", lag(col("b100"), 1).over(w))
      .filter(col("pa").isNotNull)
      .withColumn("hop", abs(col("a100") - col("pa")) + abs(col("b100") - col("pb")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_hops"),
        sum(col("hop")).as("l1_total_x100"),
        max(col("hop")).as("max_hop_x100"))
      .orderBy("user_id")
  }

  /** Top-3 event types per hour — the windowed heavy-hitters report every
    * event dashboard runs. Two-level plan: the (hour, type) count is a
    * map-side-combined groupBy (shuffle carries one row per pair, never
    * per event), then the rank window partitions by hour — bounded fan-in
    * (|types| rows per hour-partition), so no skew hotspot at any scale.
    * Rank ties break on event_type for a total deterministic order. */
  def topkPerWindow(spark: SparkSession, dir: String): DataFrame = {
    val counts = events(spark, dir)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .groupBy("hour_epoch", "event_type")
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("hour_epoch")
      .orderBy(col("n_events").desc, col("event_type"))
    counts.withColumn("rk", rank().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .orderBy("hour_epoch", "rk", "event_type")
  }

  /** Nested-JSON ingestion: parse an array-of-structs payload with an
    * explicit schema (from_json — never schema inference, which is a
    * second full scan at 100 TB), explode the array, and project typed
    * fields. The JSON text is SYNTHESIZED from doc_id arithmetic, so the
    * oracle can verify the whole parse+explode path against
    * first-principles integer arithmetic without a JSON engine in the
    * loop — if from_json mis-parsed anything, the hash diverges. */
  def jsonNested(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      // fan out off the one-partition scan before the JSON build + parse
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), expr(
        """concat('{"items":[',
          |  concat_ws(',', transform(sequence(0L, doc_id % 3),
          |    i -> concat('{"id":', CAST(doc_id * 10 + i AS STRING),
          |                ',"v":', CAST((doc_id * 7 + i) % 100 AS STRING), '}'))),
          |']}')""".stripMargin.replace("\n", " ")).as("js"))
      .select(col("doc_id"),
        from_json(col("js"), lit("STRUCT<items: ARRAY<STRUCT<id: BIGINT, v: BIGINT>>>")).as("p"))
      .select(col("doc_id"), explode(col("p.items")).as("item"))
      .select(col("doc_id"), col("item.id").as("item_id"), col("item.v").as("v"))
      .orderBy("doc_id", "item_id")

  /** Time-series gap filling + LOCF — regularize the hourly event series
    * onto a dense (hour x type) spine: hours with no events appear with
    * zero counts and the last observed sum carried forward (the resample/
    * fill step before any windowed model training). The spine bounds are
    * one tiny global aggregate (broadcast); the spine itself is
    * sequence-generated, never collected. The LOCF window partitions by
    * type over the DENSE spine — its size is the time range, not the data
    * volume, so the partition stays bounded at 100 TB (a year is <9k
    * hourly slots; partition further by (type, month) beyond that). */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val counts = events(spark, dir)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"), col("value"))
      .groupBy("hour_epoch", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    val bounds = counts.agg(min("hour_epoch").as("mn"), max("hour_epoch").as("mx"))
    val types = counts.select("event_type").distinct()
    val spine = bounds
      .select(explode(expr("sequence(mn, mx, 3600L)")).as("hour_epoch"))
      .crossJoin(broadcast(types))
    val w = Window.partitionBy("event_type").orderBy("hour_epoch")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(counts, Seq("hour_epoch", "event_type"), "left_outer")
      .select(col("hour_epoch"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        when(col("n").isNull, 1L).otherwise(0L).as("filled"),
        col("sum_value"))
      .withColumn("locf_sum", last(col("sum_value"), ignoreNulls = true).over(w))
      .drop("sum_value")
      .orderBy("hour_epoch", "event_type")
  }

  /** CUSUM CHANGE-POINT DETECTION (ev_changepoint) — the level-shift
    * locator a monitoring pipeline runs after ev_anomaly flags a drift:
    * for each event type's dense hourly count series (the gapFill spine,
    * so empty hours count as zero instead of vanishing), find the hour
    * that maximizes the centered cumulative-sum statistic
    * |H * S_t - (t+1) * S_H| — the classic CUSUM deviation from the
    * uniform-rate null, kept in exact BIGINT by cross-multiplying
    * instead of comparing against the fractional expected line
    * (H <= ~750 hours x S <= corpus count stays far under 2^63).
    * Output per type: the change-point hour, the scaled statistic, and
    * the before/after event counts and per-hour milli-rates.
    *
    * Scale: hourly pre-aggregation is map-side combinable; the cumsum
    * window and the argmax row_number both partition by event_type over
    * the O(hours) aggregate frame — never raw events. Tie-break is
    * (stat desc, hour asc): deterministic on both engines. */
  def changepoint(spark: SparkSession, dir: String): DataFrame =
    changepointOn(events(spark, dir)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type")))

  /** Dense per-type hourly count spine shared by changepointOn /
    * anomalyMadOn — missing hours materialize as zero counts (gapFill
    * keeps its own variant: it additionally carries sum_value/LOCF). */
  private def denseHourlyCountsOn(hours: DataFrame): DataFrame = {
    val counts = hours
      .groupBy("hour_epoch", "event_type")
      .agg(count(lit(1)).as("n"))
    val bounds = counts.agg(min("hour_epoch").as("mn"), max("hour_epoch").as("mx"))
    val types = counts.select("event_type").distinct()
    bounds
      .select(explode(expr("sequence(mn, mx, 3600L)")).as("hour_epoch"))
      .crossJoin(broadcast(types))
      .join(counts, Seq("hour_epoch", "event_type"), "left_outer")
      .select(col("event_type"), col("hour_epoch"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Same operator over any (hour_epoch, event_type) frame — Round14Spec
    * plants a level shift and checks the located hour. */
  def changepointOn(hours: DataFrame): DataFrame = {
    val dense = denseHourlyCountsOn(hours)
    val wCum = Window.partitionBy("event_type").orderBy("hour_epoch")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wType = Window.partitionBy("event_type")
    val scored = dense
      .withColumn("t1", count(lit(1)).over(wCum)) // t+1 (1-based hour index)
      .withColumn("s_t", sum(col("n")).over(wCum))
      .withColumn("hh", count(lit(1)).over(wType)) // H hours
      .withColumn("s_h", sum(col("n")).over(wType))
      .withColumn("stat", abs(col("hh") * col("s_t") - col("t1") * col("s_h")))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy(col("stat").desc, col("hour_epoch"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("hour_epoch").as("cp_hour"), col("stat"),
        col("s_t").as("n_before"), (col("s_h") - col("s_t")).as("n_after"),
        expr("s_t * 1000 div t1").as("rate_before_x1000"),
        when(col("hh") === col("t1"), lit(0L))
          .otherwise(expr("(s_h - s_t) * 1000 div (hh - t1)")).as("rate_after_x1000"))
      .orderBy("event_type")
  }

  /** ROBUST ANOMALY DETECTION (ev_anomaly_mad) — ev_anomaly's robust
    * twin: hours whose count deviates from the per-type MEDIAN by more
    * than 3x the MEDIAN ABSOLUTE DEVIATION. Mean/stddev z-scores (the
    * ev_anomaly gauge) are dragged by the very outliers they hunt; the
    * median/MAD pair has a 50% breakdown point — the standard robust
    * alternative. Every statistic is an exact integer: both medians use
    * the q21 ceil-rank lower-median pick (smallest value whose
    * cumulative count reaches half — an actual data value, never an
    * interpolation), so dev and the 3x threshold compare in pure BIGINT.
    * Runs on the dense hour spine (an empty hour is a zero-count
    * candidate anomaly, not a silently missing row).
    *
    * Scale: hourly counts map-side combine; both median picks run hist +
    * cum-window per type over O(distinct counts) frames; the two stat
    * tables broadcast back onto the O(hours x types) dense frame. */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame =
    anomalyMadOn(events(spark, dir)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type")))

  /** Same operator over any (hour_epoch, event_type) frame — Round14Spec
    * plants a spike over a flat series (the MAD=0 edge) and pins the
    * flagged hour. */
  def anomalyMadOn(hours: DataFrame): DataFrame = {
    val dense = denseHourlyCountsOn(hours)
      .localCheckpoint() // histogram + dev + flagged output
    def lowerMedian(df: DataFrame, valCol: String, out: String): DataFrame = {
      val hist = df.groupBy(col("event_type"), col(valCol).as("v"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy("event_type")
      hist.withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("nn", sum(col("cnt")).over(tot))
        .groupBy("event_type")
        .agg(min(when(col("cum") * 2 >= col("nn"), col("v"))).as(out))
    }
    val dev = dense
      .join(broadcast(lowerMedian(dense, "n", "med")), Seq("event_type"))
      .withColumn("dv", abs(col("n") - col("med")))
      .localCheckpoint() // mad histogram + flag filter
    dev
      .join(broadcast(lowerMedian(dev, "dv", "mad")), Seq("event_type"))
      .filter(col("dv") > lit(3L) * col("mad"))
      .select("event_type", "hour_epoch", "n", "med", "mad")
      .orderBy("event_type", "hour_epoch")
  }

  /** ROLLING ACTIVE USERS (ev_dau) — the DAU/WAU/MAU triple every
    * product dashboard leads with: per calendar day, distinct users
    * active that day / in the trailing 7 days / in the trailing 30.
    * Windowed COUNT DISTINCT does not decompose, so the scale shape is
    * contribution explosion over the DISTINCT (user, day) frame: a
    * user-day contributes to WAU(d) for the 7 days d in [day, day+6]
    * (30 for MAU), and a two-stage distinct count per day finishes the
    * job — the fan-out is 7x/30x on user-days (already deduped), never
    * on raw events. Days past the observed range are clipped.
    *
    * Scale: distinct user-days is one map-side-combinable shuffle; the
    * explode emits bounded rows; countDistinct is Spark's two-stage
    * partial-distinct aggregate; hot days AQE-split. */
  def dau(spark: SparkSession, dir: String): DataFrame = {
    val ud = events(spark, dir)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct()
      .localCheckpoint() // three window consumers + bounds
    val b = ud.agg(min("day").as("d0"), max("day").as("d1")).collect()(0)
    val (d0, d1) = (b.getLong(0), b.getLong(1))
    def rolling(span: Int, name: String): DataFrame =
      ud.select(col("user_id"),
          explode(expr(s"sequence(day, least(day + ${span - 1}, ${d1}L))")).as("d"))
        .groupBy("d").agg(countDistinct(col("user_id")).as(name))
    // DAU needs no contribution fan-out: the user-day frame aggregates
    // per day directly (exactly the oracle's dau CTE)
    val dau1 = ud.groupBy(col("day").as("d")).agg(countDistinct(col("user_id")).as("dau"))
    val spine = spark.range(d0, d1 + 1).select(col("id").as("d"))
    spine
      .join(dau1, Seq("d"), "left_outer")
      .join(rolling(7, "wau"), Seq("d"), "left_outer")
      .join(rolling(30, "mau"), Seq("d"), "left_outer")
      .select(col("d").as("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"),
        coalesce(col("mau"), lit(0L)).as("mau"))
      .orderBy("day")
  }

  /** ACTIVITY STREAKS (ev_streaks) — the gaps-and-islands idiom in its
    * classic row_number-difference form: a user's distinct active DAYS,
    * minus a per-user day-rank, is constant exactly within a run of
    * consecutive days — grouping on that difference materializes the
    * islands with zero self-joins. Output: top-20 users by longest
    * daily streak (longest, n_streaks, n_active_days; ties broken by
    * user_id — a total order).
    *
    * Scale: distinct (user, day) is one map-side-combinable shuffle;
    * the rank window partitions by user over day counts (bounded by
    * calendar days, not events); the rollups reuse the same partition
    * key — one shuffle chain end to end, AQE splits hot users. */
  def streaks(spark: SparkSession, dir: String): DataFrame =
    streaksOn(events(spark, dir)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day")))

  /** Same operator over any (user_id, day) frame — Round14Spec plants
    * broken runs and pins the island arithmetic. */
  def streaksOn(userDays: DataFrame): DataFrame = {
    val days = userDays.distinct()
    val wU = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("grp", col("day") - row_number().over(wU).cast("long"))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max(col("len")).as("longest"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).as("n_active_days"))
      .orderBy(col("longest").desc, col("user_id"))
      .limit(20)
      .orderBy(col("longest").desc, col("user_id"))
  }

  /** LTTB DOWNSAMPLING (ev_lttb) — Steinarsson's largest-triangle
    * three-buckets chart downsampling (the series-to-~60-points reducer
    * every dashboard runs before plotting), in its parallel bucket-anchor
    * variant: split each type's series into ~60 equal-count buckets, keep
    * the two endpoints exactly, and from each interior bucket keep the
    * point with the largest triangle area against the NEIGHBOR BUCKET
    * AVERAGES (true LTTB anchors on the previously-selected point — a
    * sequential chain; anchoring on bucket averages is the standard
    * parallel approximation and is what makes this one Spark job).
    *
    * Determinism: the area comparison never divides by the anchor counts —
    * the 2x-area rational is cross-multiplied into one BIGINT
    * |(sxp - cp*x)*(svn - cn*v) - (sxn - cn*x)*(svp - cp*v)| (epoch
    * offsets cancel in the differences; bounded by bucket_count^2 x
    * time-span x milli-value-range ~ 1e16 at sf1 — switch to
    * DECIMAL(38,0) beyond sf10). Tie-break (area desc, xs, event_id).
    *
    * Scale: one window pass over raw events per type for bucket indexing,
    * then everything runs on the O(buckets) aggregate frame; the argmax
    * is a per-bucket row_number, never a sort of the full series. A
    * monster single series would sub-bucket by day first — same
    * two-phase shape as seqPackOn. */
  def lttb(spark: SparkSession, dir: String): DataFrame =
    lttbOn(events(spark, dir)
      .select(col("event_type"), unix_timestamp(col("ts")).as("xs"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("vm"), col("event_id")))

  /** Same operator over any (event_type, xs, vm, event_id) series frame —
    * Round14Spec plants a spike and checks it survives downsampling. */
  def lttbOn(pts: DataFrame, target: Long = 60L): DataFrame = {
    val wOrd = Window.partitionBy("event_type").orderBy(col("xs"), col("event_id"))
    val wType = Window.partitionBy("event_type")
    val idx = pts
      .withColumn("rn", row_number().over(wOrd).cast("long") - 1L)
      .withColumn("n", count(lit(1)).over(wType))
      .withColumn("bsize", expr(s"(n + ${target - 1}) div $target"))
      .withColumn("bucket", expr("rn div bsize"))
      .localCheckpoint() // consumers: bucket aggregates + point-side join
    val agg = idx.groupBy("event_type", "bucket")
      .agg(sum(col("xs")).as("sx"), sum(col("vm")).as("sv"), count(lit(1)).as("cnt"))
    val wB = Window.partitionBy("event_type").orderBy("bucket")
    val anch = agg
      .withColumn("sxp", lag(col("sx"), 1).over(wB))
      .withColumn("svp", lag(col("sv"), 1).over(wB))
      .withColumn("cp", lag(col("cnt"), 1).over(wB))
      .withColumn("sxn", lead(col("sx"), 1).over(wB))
      .withColumn("svn", lead(col("sv"), 1).over(wB))
      .withColumn("cn", lead(col("cnt"), 1).over(wB))
      .filter(col("sxp").isNotNull && col("sxn").isNotNull)
      .select("event_type", "bucket", "sxp", "svp", "cp", "sxn", "svn", "cn")
    val interior = idx.join(anch, Seq("event_type", "bucket"))
      .withColumn("area2", abs(
        (col("sxp") - col("cp") * col("xs")) * (col("svn") - col("cn") * col("vm"))
          - (col("sxn") - col("cn") * col("xs")) * (col("svp") - col("cp") * col("vm"))))
      .withColumn("rk", row_number().over(Window.partitionBy("event_type", "bucket")
        .orderBy(col("area2").desc, col("xs"), col("event_id"))))
      .filter(col("rk") === 1)
    val ends = idx.filter(col("rn") === 0L || col("rn") === col("n") - 1L)
    interior.select("event_type", "xs", "vm")
      .unionByName(ends.select("event_type", "xs", "vm"))
      .select(col("event_type"), col("xs").as("ts_sec"), col("vm").as("value_milli"))
      .orderBy("event_type", "ts_sec", "value_milli")
  }

  /** CDC changelog → SCD2 dimension: treat each event as an upsert of
    * `value` for key (user_id, event_type) and materialize type-2 history
    * rows with [valid_from, valid_to) intervals; the open row (valid_to
    * NULL) is the current snapshot — the batch form of a MERGE INTO
    * upsert that keeps full history rather than only the latest row.
    *
    * One shuffle: a single window over the key ordered by the unique
    * (ts_sec, event_id) — per-key state at 100 TB is bounded by that key's
    * change count, and AQE skew-split handles hot keys. No self-join, no
    * driver-side state. */
  def cdcScd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_sec").asc, col("event_id").asc)
    events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_sec"), col("event_id"), col("value"))
      .select(
        col("user_id"), col("event_type"),
        row_number().over(w).cast("long").as("version"),
        col("value"),
        col("ts_sec").as("valid_from_sec"),
        lead(col("ts_sec"), 1).over(w).as("valid_to_sec"))
      .withColumn("is_current", col("valid_to_sec").isNull)
      .orderBy("user_id", "event_type", "version")
  }

  /** Arrival-lateness profile — the diagnostic that picks a watermark
    * horizon: treating event_id as arrival order, how far behind the
    * already-seen event-time high-water mark does each event arrive?
    * Computed with the scalable two-phase prefix shape (mm_shard_pack's):
    * arrival chunks of 1000 aggregate their max event time (full-volume
    * pass, map-side combine), a prefix-max window runs over the TINY
    * chunk table only, and the per-event lateness is a map-side join
    * back on the chunk key. Lateness is quantized against the PRIOR
    * chunks' high-water mark — within-chunk reordering is invisible,
    * which is the right granularity: a watermark only needs to cover
    * cross-batch lateness. Never a global row-ordered window (one task
    * owning every row).
    *
    * The event table's ts is almost perfectly ordered by event_id, so the
    * raw arrival order would report everything on time; a deterministic
    * 0..49-position arrival jitter ((id * 7919) % 50 — kept non-negative:
    * Spark div truncates where DuckDB // floors, so a negative arrival
    * position would diverge) simulates the bounded reordering a real
    * ingest shows and populates every lateness bucket. */
  def lateness(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select(
      col("event_type"),
      unix_timestamp(col("ts")).as("ts_sec"),
      expr("(event_id + (event_id * 7919) % 50) div 1000").as("chunk"))
    val chunkMax = e.groupBy("chunk").agg(max("ts_sec").as("mx"))
    val prefix = chunkMax
      .withColumn("hwm", max(col("mx")).over(
        Window.orderBy("chunk").rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("chunk"), col("hwm"))
    // prefix is O(#chunks) = O(rows / chunkSize): tiny here, but it GROWS
    // with volume, so no broadcast hint (AQE broadcasts while it fits; at
    // 100 TB scale the chunk size up so #chunks stays bounded and the
    // single-task prefix window stays trivial)
    e.join(prefix, Seq("chunk"))
      .withColumn("late_sec", greatest(coalesce(col("hwm") - col("ts_sec"), lit(0L)), lit(0L)))
      .withColumn("bucket",
        when(col("late_sec") === 0L, "0_on_time")
          .when(col("late_sec") < 60L, "1_under_1m")
          .when(col("late_sec") < 600L, "2_under_10m")
          .when(col("late_sec") < 3600L, "3_under_1h")
          .otherwise("4_over_1h"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n_events"), max(col("late_sec")).as("max_late_sec"))
      .orderBy("event_type", "bucket")
  }

  /** Absence-pattern timeout of ev_absence, seconds. */
  val AbsenceTimeoutSec = 1800L

  /** CEP absence detection — the "A NOT followed by B within T" pattern
    * (abandoned carts: a click with no purchase inside 30 min): for each
    * click, the first purchase by the same user in (ea, ea + T] — or its
    * absence — rolled up per click hour.
    *
    * Scale: never an unbounded per-user theta join. The purchase side is
    * replicated to its OWN time bucket and the previous one
    * (bucket width = T, so any (ea, ea+T] window spans at most two
    * buckets), and the join is a pure equi-join on (user_id, bucket)
    * with the range check as a post-filter — 2x the small side, bounded
    * fan-out, AQE-skew-splittable on hot users. avg lag stays in whole
    * seconds (integer div, nonneg). */
  def absence(spark: SparkSession, dir: String): DataFrame =
    absenceOn(events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("es")),
      "click", "purchase", AbsenceTimeoutSec)

  /** Same operator over any (user_id, event_type, event_id, es) frame —
    * Round9Spec pins the window-edge and bucket-straddle cases. */
  def absenceOn(ev: DataFrame, aType: String, bType: String, timeout: Long): DataFrame = {
    val a = ev.filter(col("event_type") === aType)
      .select(col("user_id"), col("event_id"), col("es").as("ea"),
        expr(s"es div $timeout").as("bkt"))
    val b = ev.filter(col("event_type") === bType)
      .select(col("user_id"), col("es").as("eb"),
        explode(expr(s"array(es div $timeout, es div $timeout - 1)")).as("bkt"))
    a.join(b, Seq("user_id", "bkt"), "left")
      .withColumn("ok",
        col("eb").isNotNull && col("eb") > col("ea") && col("eb") <= col("ea") + timeout)
      .groupBy(col("user_id"), col("event_id"), col("ea"))
      .agg(min(when(col("ok"), col("eb"))).as("first_b"))
      .withColumn("hour_epoch", expr("(ea div 3600) * 3600"))
      .groupBy("hour_epoch")
      .agg(
        count(lit(1)).as("n_a"),
        sum(when(col("first_b").isNotNull, 1L).otherwise(0L)).as("n_followed"),
        sum(when(col("first_b").isNull, 1L).otherwise(0L)).as("n_absent"),
        expr("CASE WHEN sum(CASE WHEN first_b IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 0L " +
          "ELSE sum(CASE WHEN first_b IS NOT NULL THEN first_b - ea ELSE 0L END) " +
          "div sum(CASE WHEN first_b IS NOT NULL THEN 1 ELSE 0 END) END").as("avg_lag_s"))
      .orderBy("hour_epoch")
  }

  /** Attribution lookback window of ev_attribution, seconds. */
  val AttribWindowSec = 3600L

  /** Multi-touch attribution — the conversion-credit report every
    * funnel pipeline ships: each purchase distributes exactly 10000
    * credit units EQUALLY over the same user's clicks in the preceding
    * hour [ep - W, ep), with the integer remainder going to the earliest
    * clicks (largest-remainder split on a (ea, event_id) total order —
    * deterministic, and per-purchase credit sums to exactly 10000 with
    * no float leakage). Rolled up per click hour: credited click
    * instances and total credit received.
    *
    * Scale: the same bucket-replication as ev_absence, mirrored — the
    * CLICK side replicates to its own + next W-wide bucket so the
    * [ep - W, ep) lookback is an equi-join on (user_id, bucket); the
    * per-purchase split window partitions on the purchase id (bounded by
    * one user's clicks in one window, never a corpus partition). */
  def attribution(spark: SparkSession, dir: String): DataFrame =
    attributionOn(events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("es")),
      "click", "purchase", AttribWindowSec)

  /** Same operator over any (user_id, event_type, event_id, es) frame —
    * Round9Spec pins the remainder split and window edges. */
  def attributionOn(ev: DataFrame, aType: String, bType: String, win: Long): DataFrame = {
    val a = ev.filter(col("event_type") === aType)
      .select(col("user_id"), col("event_id"), col("es").as("ea"),
        explode(expr(s"array(es div $win, es div $win + 1)")).as("bkt"))
    val p = ev.filter(col("event_type") === bType)
      .select(col("user_id"), col("event_id").as("pid"), col("es").as("ep"),
        expr(s"es div $win").as("bkt"))
    val wCnt = Window.partitionBy("pid")
    val wRk = Window.partitionBy("pid").orderBy(col("ea").asc, col("event_id").asc)
    a.join(p, Seq("user_id", "bkt"))
      .filter(col("ea") >= col("ep") - win && col("ea") < col("ep"))
      .withColumn("n", count(lit(1)).over(wCnt))
      .withColumn("rk", row_number().over(wRk))
      .withColumn("credit",
        expr("10000 div n + (CASE WHEN rk <= 10000 % n THEN 1 ELSE 0 END)"))
      .withColumn("hour_epoch", expr("(ea div 3600) * 3600"))
      .groupBy("hour_epoch")
      .agg(count(lit(1)).as("n_clicks"), sum(col("credit")).as("credit_x10000"))
      .orderBy("hour_epoch")
  }

  /** ATTRIBUTION MODEL COMPARISON (ev_attrib_models) — the table a
    * marketing-analytics team reads before picking a credit rule:
    * ev_attribution's join run ONCE, credited under FOUR models at
    * once — first-touch, last-touch, linear (the ev_attribution
    * largest-remainder split), and position-based (40/20/40: first and
    * last touch get 4000 units each, the middles split 2000 by the
    * same largest-remainder rule; n=1 gets all 10000, n=2 splits
    * 5000/5000). Every model distributes EXACTLY 10000 integer units
    * per conversion — the models differ only in WHERE credit lands,
    * so the per-model hourly rollups are directly comparable and the
    * cross-model total is constant (a built-in consistency check).
    *
    * Scale: the single bucket-replicated equi-join and the single
    * per-purchase window of ev_attribution (the melt quadruples only
    * POST-join credited rows); one map-side-combinable rollup on
    * (model, hour). */
  def attribModels(spark: SparkSession, dir: String): DataFrame =
    attribModelsOn(events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("es")),
      "click", "purchase", AttribWindowSec)

  /** Same comparison over any (user_id, event_type, event_id, es) frame —
    * Round20Spec pins all four splits on a hand-worked 4-touch path. */
  def attribModelsOn(ev: DataFrame, aType: String, bType: String, win: Long): DataFrame = {
    val a = ev.filter(col("event_type") === aType)
      .select(col("user_id"), col("event_id"), col("es").as("ea"),
        explode(expr(s"array(es div $win, es div $win + 1)")).as("bkt"))
    val p = ev.filter(col("event_type") === bType)
      .select(col("user_id"), col("event_id").as("pid"), col("es").as("ep"),
        expr(s"es div $win").as("bkt"))
    val wCnt = Window.partitionBy("pid")
    val wRk = Window.partitionBy("pid").orderBy(col("ea").asc, col("event_id").asc)
    a.join(p, Seq("user_id", "bkt"))
      .filter(col("ea") >= col("ep") - win && col("ea") < col("ep"))
      .withColumn("n", count(lit(1)).over(wCnt))
      .withColumn("rk", row_number().over(wRk))
      .withColumn("lin",
        expr("10000 div n + (CASE WHEN rk <= 10000 % n THEN 1 ELSE 0 END)"))
      .withColumn("fst", expr("CAST(CASE WHEN rk = 1 THEN 10000 ELSE 0 END AS BIGINT)"))
      .withColumn("lst", expr("CAST(CASE WHEN rk = n THEN 10000 ELSE 0 END AS BIGINT)"))
      .withColumn("pos", expr(
        """CAST(CASE WHEN n = 1 THEN 10000
          |  WHEN n = 2 THEN 5000
          |  WHEN rk = 1 OR rk = n THEN 4000
          |  ELSE 2000 div (n - 2)
          |    + (CASE WHEN rk - 1 <= 2000 % (n - 2) THEN 1 ELSE 0 END)
          |END AS BIGINT)""".stripMargin.replace("\n", " ")))
      .withColumn("hour_epoch", expr("(ea div 3600) * 3600"))
      .select(col("hour_epoch"), expr(
        "stack(4, 'first', fst, 'last', lst, 'linear', lin, 'position', pos)" +
          " AS (model, credit)"))
      .groupBy("model", "hour_epoch")
      .agg(count(lit(1)).as("n_touches"), sum(col("credit")).as("credit_x10000"))
      .orderBy("model", "hour_epoch")
  }

  /** Per-hop match window of ev_cep, seconds (one day — the driver
    * corpus runs ~2 events per user-day, so tighter windows starve the
    * pattern; at production event densities this is minutes). */
  val CepWindowSec = 86400L

  /** CEP SEQUENCE MATCH (ev_cep) — the ordered three-step pattern
    * `view -> click -> purchase`, each hop within CepWindowSec
    * (MATCH_RECOGNIZE / Flink CEP's skip-till-next-match with FIRST
    * semantics): for each view the matched click is the EARLIEST click
    * in (ea, ea+T]; the matched purchase is the earliest purchase in
    * (fb, fb+T] after THAT click. first = MIN over whole-second epochs
    * (ev_absence's rule — ties at the same second collapse to the same
    * epoch, and only the epoch flows downstream). Daily rollup of the
    * funnel attrition (n_a >= n_ab >= n_abc) + mean full-match lag in
    * integer seconds.
    *
    * Scale: the ev_absence bucket-replication shape CHAINED — each hop's
    * follower side replicates to its own + previous T-wide bucket so the
    * (x, x+T] probe is a pure equi-join on (user, bucket) with a range
    * post-filter, never an unbounded per-user theta join; hop 2's probe
    * key is hop 1's match epoch, so the null-keyed (unmatched) rows ride
    * the left join without fan-out. Two joins, two map-side-combinable
    * groupBys, no windows. */
  def cep(spark: SparkSession, dir: String): DataFrame =
    cepOn(events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("es")),
      "view", "click", "purchase", CepWindowSec)

  /** Same pattern over any (user_id, event_type, event_id, es) frame —
    * Round12Spec pins first-match chaining and the per-hop window edge. */
  def cepOn(ev: DataFrame, aType: String, bType: String, cType: String,
      window: Long): DataFrame = {
    def followers(t: String, alias: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), col("es").as(alias),
        explode(expr(s"array(es div $window, es div $window - 1)")).as("bkt"))
    val a = ev.filter(col("event_type") === aType)
      .select(col("user_id"), col("event_id"), col("es").as("ea"),
        expr(s"es div $window").as("bkt"))
    val ab = a.join(followers(bType, "eb"), Seq("user_id", "bkt"), "left")
      .withColumn("ok",
        col("eb").isNotNull && col("eb") > col("ea") && col("eb") <= col("ea") + window)
      .groupBy(col("user_id"), col("event_id"), col("ea"))
      .agg(min(when(col("ok"), col("eb"))).as("fb"))
      .withColumn("bkt", expr(s"fb div $window")) // null fb -> null key, rides the left join
    ab.join(followers(cType, "ec"), Seq("user_id", "bkt"), "left")
      .withColumn("ok",
        col("ec").isNotNull && col("ec") > col("fb") && col("ec") <= col("fb") + window)
      .groupBy(col("user_id"), col("event_id"), col("ea"), col("fb"))
      .agg(min(when(col("ok"), col("ec"))).as("fc"))
      .withColumn("day_epoch", expr("(ea div 86400) * 86400"))
      .groupBy("day_epoch")
      .agg(
        count(lit(1)).as("n_a"),
        sum(when(col("fb").isNotNull, 1L).otherwise(0L)).as("n_ab"),
        sum(when(col("fc").isNotNull, 1L).otherwise(0L)).as("n_abc"),
        expr("CASE WHEN sum(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 0L " +
          "ELSE sum(CASE WHEN fc IS NOT NULL THEN fc - ea ELSE 0L END) " +
          "div sum(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) END").as("avg_match_lag_s"))
      .orderBy("day_epoch")
  }

  /** Qualifying value of an ev_ab_test conversion (a bare "emitted the
    * type at all" saturates at this event density — every user emits
    * every type — so the goal is a HIGH-VALUE event; ~53% of users
    * qualify per type on the driver corpus, live 2x2 cells at every
    * SF). */
  val AbGoalValue = 140.0

  /** Regularity cut of ev_bot_detect: flag a user iff
    * n*S2 - S1^2 < S1^2 / BotCvCut (coefficient-of-variation^2 below
    * 1/BotCvCut), evaluated as the EXACT integer inequality
    * (n*S2 - S1^2) * BotCvCut < S1^2 in DECIMAL(38,0). */
  val BotCvCut = 100L

  /** BOT / MACHINE-TRAFFIC DETECTION (ev_bot_detect) — the traffic-
    * quality gate a training pipeline runs before trusting behavioral
    * data (machine-generated activity poisons funnels, CEP patterns,
    * and any corpus harvested from it): humans emit events with high
    * inter-arrival variance, schedulers do not, so the flag is a LOW
    * coefficient of variation over a user's whole-second gap sequence.
    * The decision is the exact integer inequality
    * (n·Σg² − (Σg)²)·BotCvCut < (Σg)² with both sides in DECIMAL(38,0)
    * (Σg² sums squared gaps ~10^12 each — the wrap class), so the flag
    * can never float-flip; the displayed regularity ratio is the one
    * shared-shape double division + r4. Users need >= 5 gaps to be
    * judged (tiny histories flag spuriously). Output: per-user totals
    * rolled up + the 10 most-regular users on a (ratio, user) order.
    *
    * Scale: one user-key window shuffle for the lag (the ev_markov
    * shape), map-side-combinable moment sums, a bounded top-10. */
  def botDetect(spark: SparkSession, dir: String): DataFrame =
    botDetectOn(events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("CAST(unix_timestamp(ts) AS BIGINT)").as("es")))

  /** Same operator over any (user_id, event_id, es) frame — Round12Spec
    * plants a metronome bot among jittery humans. */
  def botDetectOn(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
    val gaps = ev
      .withColumn("g", col("es") - lag(col("es"), 1).over(w))
      .filter(col("g").isNotNull)
    val stats = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("g").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(38, 0))).as("s1"),
        sum(expr("CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0))")).as("s2"))
      .filter(col("n") >= 5)
      .withColumn("varn", expr("CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1"))
      .withColumn("flagged", expr(s"varn * $BotCvCut < s1 * s1"))
      .withColumn("cv2", graft.sources.Tables.r4(
        col("varn").cast("double") / (col("s1").cast("double") * col("s1").cast("double"))))
      .localCheckpoint() // rollup + top-10 read it
    val top = stats.orderBy(col("cv2").asc, col("user_id").asc).limit(10)
      .select(col("user_id"), col("n").as("n_gaps"), col("cv2"),
        col("flagged"))
    top.orderBy(col("cv2").asc, col("user_id").asc)
  }

  /** COHORT LTV TRIANGLE (ev_ltv) — the lifetime-value complement of
    * ev_retention's activity triangle: users grouped by their FIRST-seen
    * week (integer epoch-week buckets — date_trunc('week') anchors
    * differently across engines, `es div 604800` does not), each later
    * week's activity and purchase revenue attributed to (cohort_week,
    * age_week). Revenue in exact cents; active users dedup-before-count
    * per (user, week) — map-side partial dedup.
    *
    * Scale: one map-side-combinable min per user for the cohort
    * assignment, joined back CO-PARTITIONED on user_id (never
    * broadcast — the user dimension is corpus-sized at 100 TB), then
    * one rollup over the calendar-bounded (cohort, age) triangle. */
  def ltv(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("CAST(unix_timestamp(ts) AS BIGINT) div 604800").as("wk"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .localCheckpoint() // cohort build + attribution join
    val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cw"))
    ev.join(cohort, Seq("user_id"))
      .withColumn("age_week", col("wk") - col("cw"))
      .groupBy(col("cw").as("cohort_week"), col("age_week"))
      .agg(
        countDistinct(col("user_id")).as("n_active"),
        sum(when(col("event_type") === "purchase", col("cents")).otherwise(0L))
          .as("rev_cents"))
      .orderBy("cohort_week", "age_week")
  }

  /** A/B EXPERIMENT READOUT (ev_ab_test) — the conversion report every
    * experimentation platform ships: users deterministically hash-split
    * into two arms (user_id % 2 — the stand-in for a salted assignment
    * hash), conversion per GOAL event type (the user emitted it with
    * value > AbGoalValue, dedup-before-count; comparing the same stored
    * double to the same literal is deterministic on both engines), and
    * the 2x2 chi-square statistic with
    * every product exact: margins and N in BIGINT, the (ad-bc)^2 and
    * margin products in DECIMAL(38,0) (ad-bc alone reaches ~10^12 at
    * sf100; its square does not fit a long — the zs_idw wrap class),
    * ONE shared-shape double division + r4 at the end. Degenerate
    * margins (every user converts — true for high-frequency goal types
    * here) yield chi2 = 0 by the guarded CASE, not NaN, on both
    * engines.
    *
    * Scale: user dedup is map-side partial; the (type, arm) cells are
    * bounded by goals x 2; the spine crossJoin touches two tiny frames
    * (ev_gap_fill rule). */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val u = events(spark, dir).select(col("user_id")).distinct()
      .withColumn("arm", col("user_id") % 2)
      .localCheckpoint() // arm totals + the conversion join
    val armTot = u.groupBy("arm").agg(count(lit(1)).as("n_users"))
    val convd = events(spark, dir)
      .filter(col("value") > lit(AbGoalValue))
      .select(col("user_id"), col("event_type")).distinct()
      .join(u, Seq("user_id"))
      .groupBy("event_type", "arm").agg(count(lit(1)).as("n_conv"))
    val types = events(spark, dir).select("event_type").distinct()
    types.crossJoin(broadcast(armTot))
      .join(convd, Seq("event_type", "arm"), "left_outer")
      .withColumn("n_conv", coalesce(col("n_conv"), lit(0L)))
      .groupBy("event_type")
      .agg(
        sum(when(col("arm") === 0, col("n_conv")).otherwise(0L)).as("a"),
        sum(when(col("arm") === 0, col("n_users") - col("n_conv")).otherwise(0L)).as("b"),
        sum(when(col("arm") === 1, col("n_conv")).otherwise(0L)).as("c"),
        sum(when(col("arm") === 1, col("n_users") - col("n_conv")).otherwise(0L)).as("d"))
      .withColumn("rate_a_x10000", expr("(10000 * a) div (a + b)"))
      .withColumn("rate_b_x10000", expr("(10000 * c) div (c + d)"))
      .withColumn("chi2", expr(
        "CASE WHEN (a+b) = 0 OR (c+d) = 0 OR (a+c) = 0 OR (b+d) = 0 THEN CAST(0.0 AS DOUBLE) " +
          "ELSE floor(CAST(CAST(a+b+c+d AS DECIMAL(38,0)) * CAST(a*d - b*c AS DECIMAL(38,0)) " +
          "* CAST(a*d - b*c AS DECIMAL(38,0)) AS DOUBLE) " +
          "/ CAST(CAST(a+b AS DECIMAL(38,0)) * CAST(c+d AS DECIMAL(38,0)) " +
          "* CAST(a+c AS DECIMAL(38,0)) * CAST(b+d AS DECIMAL(38,0)) AS DOUBLE) " +
          "* 10000.0 + 0.5) / 10000.0 END"))
      .select(col("event_type"), col("a").as("conv_a"), col("b").as("nonconv_a"),
        col("c").as("conv_b"), col("d").as("nonconv_b"),
        col("rate_a_x10000"), col("rate_b_x10000"), col("chi2"))
      .orderBy("event_type")
  }

  /** SEASONAL-NAIVE FORECAST ERROR (ev_forecast) — the baseline every
    * monitoring/forecasting pipeline must beat before a model earns its
    * keep (the M-competition rule): forecast(hour) = actual(hour - 24h),
    * scored per event type over the DENSE hourly spine (the ev_gap_fill
    * sequence spine — a missing hour is actual 0, not a silently
    * dropped pair, which would bias the error toward busy hours).
    * Exact integer error report: n_hours, total absolute error, MAE
    * x100 by integer division, and the signed bias (over-forecast < 0).
    *
    * Scale: hourly counts are one map-side-combinable shuffle; the
    * spine is time-range x types — bounded by calendar, not data; the
    * lag join is a co-partitioned equi-join on (type, hour - 24h). */
  def forecast(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_type"),
        expr("(CAST(unix_timestamp(ts) AS BIGINT) div 3600) * 3600").as("he"))
    val hourly = ev.groupBy("event_type", "he").agg(count(lit(1)).as("c"))
    val bounds = ev.agg(min(col("he")).as("h0"), max(col("he")).as("h1"))
    val series = bounds
      .select(explode(expr("sequence(h0, h1, 3600)")).as("he"))
      .crossJoin(ev.select("event_type").distinct())
      .join(hourly, Seq("event_type", "he"), "left_outer")
      .withColumn("actual", coalesce(col("c"), lit(0L)))
      .select("event_type", "he", "actual")
      .localCheckpoint() // both sides of the lag join
    series
      .join(series.select(col("event_type"),
          (col("he") + lit(86400L)).as("he"), col("actual").as("fc")),
        Seq("event_type", "he"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(abs(col("actual") - col("fc"))).as("abs_err"),
        sum(col("actual") - col("fc")).as("bias"))
      .withColumn("mae_x100", expr("(abs_err * 100) div n_hours"))
      .select("event_type", "n_hours", "abs_err", "mae_x100", "bias")
      .orderBy("event_type")
  }

  /** Count-min sketch depth / width (ev_heavy_hitters). */
  val CmsRows = 4
  val CmsWidth = 64L

  /** Row-hash bucket of the CMS: deterministic md5 over (row, user).
    * Expects columns `r` and `user_id` in scope. */
  private val CmsBucketSql: String =
    md5Int("concat('cms', r, ':', CAST(user_id AS STRING))", 4) + s" % $CmsWidth"

  /** COUNT-MIN SKETCH heavy hitters (ev_heavy_hitters) — the bounded-state
    * frequency sketch (Cormode & Muthu 2005):
    * d=4 md5 row-hashes map each user into one of w=64 buckets per row;
    * a cell is the sum of counts hashed into it; a user's estimate is the
    * MIN over its d cells — always >= the true count, with the over-count
    * coming from bucket collisions. Deterministic md5 row-hashes make the
    * sketch itself oracle-checkable end-to-end (the q13_sketch HLL/datasketch
    * escape hatch is not needed here): output = top-20 true-count users
    * with true count and CMS estimate side by side, the estimate >= truth
    * structure visible in the checked rows.
    *
    * Scale: the sketch is built from the PRE-AGGREGATED per-user counts
    * (one map-side-combinable shuffle on user), never from raw events ×
    * d rows; the 4·64-cell sketch frame is tiny and the probe join is
    * co-partitioned on (r, bucket). At 1000 executors the cells are the
    * mergeable state each executor ships — 256 longs, not a user set. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersOn(
      events(spark, dir).groupBy("user_id").agg(count(lit(1)).as("true_c")), 20)

  /** Same sketch over any (user_id, true_c) count frame — Round11Spec
    * pins the est >= truth structure and single-key exactness. */
  def heavyHittersOn(tc: DataFrame, topK: Int): DataFrame = {
    val hashed = tc
      .select(col("user_id"), col("true_c"),
        explode(expr(s"sequence(0, ${CmsRows - 1})")).as("r"))
      .withColumn("bucket", expr(CmsBucketSql))
      .localCheckpoint() // consumers: sketch cells + estimate probe
    val cms = hashed.groupBy("r", "bucket").agg(sum(col("true_c")).as("cell"))
    hashed.join(cms, Seq("r", "bucket"))
      .groupBy("user_id", "true_c").agg(min(col("cell")).as("cms_est"))
      .orderBy(col("true_c").desc, col("user_id"))
      .limit(topK)
  }

  /** 4-bit binary expansion of hex digit k of column `src` — CASE text
    * valid in BOTH Spark SQL and DuckDB (shared by ev_hll and its
    * oracle, so the bit arithmetic is one definition). */
  private def hexBitsSql(src: String, k: Int): String =
    (0 until 16).map(v => s"WHEN '${v.toHexString}' THEN " +
        s"'${v.toBinaryString.reverse.padTo(4, '0').reverse}'")
      .mkString(s"(CASE substr($src, $k, 1) ", " ", " END)")

  /** HYPERLOGLOG REGISTER BUILD (ev_hll) — the mergeable distinct-count
    * state (Flajolet et al. 2007): 16 buckets from the first md5 hex digit
    * of the user hash, register = max over bucket members of rho = 1 +
    * leading-zero count of the next 48 hash bits (49 = all-zero suffix
    * sentinel). The harmonic-mean ESTIMATE is float and engine-specific,
    * so the CHECKED output is the integer register table itself (the
    * ann_kmeans exact-integer rule) next to the exact distinct count per
    * (event_type, bucket) — the audit column a register should bound.
    * Registers merge by MAX, which is what a 1000-executor COUNT DISTINCT
    * ships instead of user sets.
    *
    * Scale: dedup-before-hash on (event_type, user) — the
    * ev_sliding_distinct rule (map-side partial dedup, full key-space
    * parallelism); the register agg is map-side-combinable MAX/COUNT;
    * output ≤ |types| × 16 rows. */
  def hll(spark: SparkSession, dir: String): DataFrame =
    hllOn(events(spark, dir).select(col("event_type"), col("user_id")))

  /** Same register build over any (event_type, user_id) frame —
    * Round11Spec pins bucket/rho against independently computed md5
    * expansions. */
  def hllOn(pairs: DataFrame): DataFrame = {
    val bits = (2 to 13).map(k => hexBitsSql("mh", k)).mkString("concat(", ", ", ")")
    pairs.distinct()
      .withColumn("mh", md5(concat(lit("hll:"), col("user_id").cast("string"))))
      .withColumn("bucket", expr("CAST(conv(substr(mh, 1, 1), 16, 10) AS BIGINT)"))
      .withColumn("rho", expr(s"CAST(CASE WHEN position('1' IN $bits) = 0 " +
        s"THEN 49 ELSE position('1' IN $bits) END AS BIGINT)"))
      .groupBy("event_type", "bucket")
      .agg(max(col("rho")).as("register"), count(lit(1)).as("n_users"))
      .orderBy("event_type", "bucket")
  }

  /** Reservoir size of ev_reservoir: events kept per user. */
  val ReservoirK = 2

  /** PER-KEY RESERVOIR SAMPLE (ev_reservoir) — bounded per-user event
    * sample via BOTTOM-K HASHING, the distributed equivalent of a
    * per-key reservoir: rank every event by an md5-derived uniform and
    * keep each user's K lowest. Mergeable by construction (the bottom-K
    * of a union is the bottom-K of the parts' bottom-Ks — the same
    * property HLL registers exploit), deterministic across re-runs and
    * engines (md5-only hashing rule), and uniform per key since the hash
    * is independent of everything but event_id. This is both the debug
    * sample ("show me 2 raw events per user") and the anti-skew data
    * diet (cap any hot key's contribution before a downstream join).
    *
    * Scale: rides the native TopKPerKeyExec — one ClusteredDistribution
    * shuffle, a bounded K-heap per user, NO per-partition sort (the
    * rank-window formulation sorts every user's events in full); the
    * per-user count joins back co-partitioned on the same key. */
  def reservoir(spark: SparkSession, dir: String): DataFrame = {
    val h = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("hv", expr(md5Int("concat('rv:', CAST(event_id AS STRING))", 8)))
      .withColumn("ord", lit(4294967296L) - col("hv"))
    val sampled = graft.plans.TopKPerKeyNative
      .topK(h, "user_id", "ord", "event_id", ReservoirK)
    val counts = events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n_user_events"))
    sampled
      .join(counts, Seq("user_id"))
      .select(col("user_id"), col("topk_rank").as("sample_rank"),
        col("event_id"), col("event_type"), col("n_user_events"))
      .orderBy("user_id", "sample_rank")
  }

  private def reservoirSql: String = {
    val hex8 = (1 to 8).map(k =>
        s"(strpos('0123456789abcdef', substr(mh, $k, 1)) - 1)")
      .reduce((a, b) => s"($a * 16 + $b)")
    s"""WITH h AS (
       |  SELECT user_id, event_id, event_type,
       |    $hex8 AS hv
       |  FROM (SELECT *, md5('rv:' || CAST(event_id AS VARCHAR)) AS mh FROM events)
       |), r AS (
       |  SELECT user_id, event_id, event_type,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY hv ASC, event_id ASC) AS sample_rank,
       |    COUNT(*) OVER (PARTITION BY user_id) AS n_user_events
       |  FROM h
       |)
       |SELECT user_id, CAST(sample_rank AS BIGINT) AS sample_rank, event_id,
       |  event_type, CAST(n_user_events AS BIGINT) AS n_user_events
       |FROM r WHERE sample_rank <= $ReservoirK
       |ORDER BY user_id, sample_rank""".stripMargin
  }

  /** SURVIVAL / LIFE TABLE (ev_survival) — the Kaplan-Meier input table
    * over SESSION DURATIONS with honest right-censoring: a session whose
    * last event is within 1800s of the corpus observation end may still
    * be open (its closing gap has not provably elapsed), so it is
    * CENSORED at its observed length; every other session "dies" at its
    * length. Per duration t (whole minutes): n_risk(t) = sessions with
    * observed duration >= t, d_end(t) = sessions ending at exactly t,
    * c_cens(t) = sessions censored at t, cum_end = running deaths. All
    * integer-exact — the KM product S(t) = prod(1 - d/n) is a chain of
    * data-dependent rationals (not cross-engine exact), so the checked
    * output is the risk table the estimate is computed FROM; Round15Spec
    * pins the S(t) monotonicity + the censoring rule on a planted frame.
    *
    * Scale: one (user_id) shuffle builds sessions, one map-side-
    * combinable groupBy collapses to O(distinct durations) rows (~70 at
    * any SF — durations are gap-bounded), and the two cumulative windows
    * run on that tiny frame (single-partition by design, never on raw
    * rows). */
  def survival(spark: SparkSession, dir: String): DataFrame =
    survivalOn(sessionFrame(spark, dir))

  /** Same operator over any (start_sec, end_sec) session frame. */
  def survivalOn(sess: DataFrame): DataFrame = {
    val s = sess.select(col("start_sec"), col("end_sec"))
      .localCheckpoint() // consumers: obs-end agg + duration table
    val obsEnd = s.agg(max(col("end_sec"))).collect()(0).getLong(0)
    val durs = s.select(
      expr("(end_sec - start_sec) div 60").as("t_min"),
      when(col("end_sec") > lit(obsEnd - 1800L), lit(1L)).otherwise(lit(0L)).as("cens"))
    val tab = durs.groupBy("t_min")
      .agg(sum(lit(1L) - col("cens")).as("d_end"), sum(col("cens")).as("c_cens"))
    // tiny frame (O(distinct minutes)): a global-order window is safe here
    val wPrev = Window.orderBy("t_min").rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy("t_min")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wCum = Window.orderBy("t_min").rowsBetween(Window.unboundedPreceding, 0)
    tab
      .withColumn("n_risk",
        sum(col("d_end") + col("c_cens")).over(wAll)
          - coalesce(sum(col("d_end") + col("c_cens")).over(wPrev), lit(0L)))
      .withColumn("cum_end", sum(col("d_end")).over(wCum))
      .select("t_min", "n_risk", "d_end", "c_cens", "cum_end")
      .orderBy("t_min")
  }

  /** STRATIFIED SURVIVAL / LOG-RANK TABLE (ev_survival_strat) —
    * ev_survival split into the two cohorts a product team actually
    * compares: sessions that CONVERTED (contain >= 1 purchase event) vs
    * sessions that did not, with the log-rank observed-vs-expected
    * contribution per duration in EXACT integers. The classic log-rank
    * term at duration t is O_c(t) - E_c(t) with E_c = d_t * n_c / n_t —
    * a data-dependent rational that cannot hash-match cross-engine, so
    * the published contribution is the n_t-scaled numerator
    * lr_num(t) = d_end_c * n_t - d_t * n_risk_c (same sign, exact
    * BIGINT; the classic term is lr_num / n_t). Censoring rule identical
    * to ev_survival (within 1800s of observation end = censored).
    *
    * Scale: same profile as ev_survival — one (user_id) shuffle builds
    * sessions, one map-side-combinable groupBy collapses to O(distinct
    * minutes) rows, and the cumulative windows run on that tiny frame
    * only (single-partition by design, never on raw rows). */
  def survivalStrat(spark: SparkSession, dir: String): DataFrame =
    survivalStratOn(sessionFrame(events(spark, dir), "event_type",
      min(col("ts_sec")).as("start_sec"), max(col("ts_sec")).as("end_sec"),
      max(when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))).as("conv")))

  /** Same operator over any (start_sec, end_sec, conv) session frame —
    * Round17Spec pins the per-stratum risk split and the lr_num sign on
    * a planted two-cohort frame. */
  private[graft] def survivalStratOn(sess: DataFrame): DataFrame = {
    val s = sess.select(col("start_sec"), col("end_sec"), col("conv"))
      .localCheckpoint() // consumers: obs-end agg + duration table
    val obsEnd = s.agg(max(col("end_sec"))).collect()(0).getLong(0)
    val durs = s.select(
      expr("(end_sec - start_sec) div 60").as("t_min"), col("conv"),
      when(col("end_sec") > lit(obsEnd - 1800L), lit(1L)).otherwise(lit(0L)).as("cens"))
    val tab = durs.groupBy("t_min").agg(
      sum(when(col("conv") === 1L && col("cens") === 0L, 1L).otherwise(0L)).as("d_end_c"),
      sum(when(col("conv") === 1L && col("cens") === 1L, 1L).otherwise(0L)).as("c_cens_c"),
      sum(when(col("conv") === 0L && col("cens") === 0L, 1L).otherwise(0L)).as("d_end_n"),
      sum(when(col("conv") === 0L && col("cens") === 1L, 1L).otherwise(0L)).as("c_cens_n"))
    // tiny frame (O(distinct minutes)): global-order windows are safe here
    val wPrev = Window.orderBy("t_min").rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy("t_min")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tab
      .withColumn("n_risk_c",
        sum(col("d_end_c") + col("c_cens_c")).over(wAll)
          - coalesce(sum(col("d_end_c") + col("c_cens_c")).over(wPrev), lit(0L)))
      .withColumn("n_risk_n",
        sum(col("d_end_n") + col("c_cens_n")).over(wAll)
          - coalesce(sum(col("d_end_n") + col("c_cens_n")).over(wPrev), lit(0L)))
      .withColumn("lr_num",
        col("d_end_c") * (col("n_risk_c") + col("n_risk_n"))
          - (col("d_end_c") + col("d_end_n")) * col("n_risk_c"))
      .select("t_min", "n_risk_c", "d_end_c", "c_cens_c",
        "n_risk_n", "d_end_n", "c_cens_n", "lr_num")
      .orderBy("t_min")
  }

  /** INTERVAL-OVERLAP JOIN (ev_overlap_join) — the missing join primitive
    * between q17's range join (point-in-interval) and the stream-stream
    * interval join spec: which CROSS-USER session pairs were open at the
    * same time, per day. Never an inequality-only join: both sides
    * explode to the hour cells they span (sessions are gap-bounded, so
    * the fan-out is small and bounded by ceil(len/3600)+1), the join is
    * an EQUI-join on the cell, the exact overlap predicate filters inside
    * it, and each qualifying pair is counted ONCE by the responsibility
    * rule — only the cell containing max(start_a, start_b) reports the
    * pair (the standard grid-join dedup, same rule as the zonal cell
    * joins). Overlap pairs are symmetric, kept once as user_a < user_b.
    *
    * Scale: the cell equi-join shuffles on O(#hours) keys with AQE skew
    * split for hot hours; the oracle's direct theta-join (DuckDB IEJoin)
    * is the small-data luxury the Spark plan deliberately avoids. Sum of
    * overlap seconds stays BIGINT (peak pairs x max gap-bounded length
    * ~ 1e10 at sf10 — re-check DECIMAL past sf100). */
  def overlapJoin(spark: SparkSession, dir: String): DataFrame =
    overlapJoinOn(sessionFrame(spark, dir))

  /** Same operator over any (user_id, start_sec, end_sec) session frame —
    * Round15Spec plants touching / nested / disjoint / cross-cell pairs. */
  def overlapJoinOn(sess: DataFrame): DataFrame = {
    val cells = sess
      .select(col("user_id"), col("start_sec"), col("end_sec"),
        explode(expr("sequence(start_sec div 3600, end_sec div 3600)")).as("cell"))
      .localCheckpoint() // both sides of the pair join
    val a = cells.select(col("cell"), col("user_id").as("ua"),
      col("start_sec").as("sa"), col("end_sec").as("ea"))
    val b = cells.select(col("cell"), col("user_id").as("ub"),
      col("start_sec").as("sb"), col("end_sec").as("eb"))
    a.join(b, Seq("cell"))
      .filter(col("ua") < col("ub")
        && col("sa") <= col("eb") && col("sb") <= col("ea")
        && expr("greatest(sa, sb) div 3600") === col("cell"))
      .select(expr("greatest(sa, sb) div 86400").as("day"),
        (least(col("ea"), col("eb")) - greatest(col("sa"), col("sb"))).as("ov"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_pairs"), sum(col("ov")).as("sum_overlap_sec"))
      .orderBy("day")
  }

  /** SLO breach threshold for ev_latency_slo, in milli-units. */
  val SloThresholdMilli = 250000L

  /** LATENCY SLO REPORT (ev_latency_slo) — the SRE percentile panel
    * (p50/p95/p99 + breach share against a fixed objective) computed
    * EXACTLY at any scale: values quantize to milli-units, the
    * percentile is the q21 value-count histogram pick (ceil-rank over
    * the cumulative count — shuffle O(distinct values), never a raw-row
    * global sort), and the breach share is a conditional count published
    * as a x10000 integer share. approx_percentile would be
    * engine-divergent AND run-unstable; the histogram pick is exact,
    * deterministic, and cheaper than a sort at 100 TB.
    *
    * Scale: one map-side-combinable (type, vm) groupBy; the cumulative
    * window runs per type over O(distinct millis) rows. */
  def latencySlo(spark: SparkSession, dir: String): DataFrame = {
    val hist = events(spark, dir)
      .select(col("event_type"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("vm"))
      .groupBy("event_type", "vm")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("vm")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("event_type")
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(tot))
    def pick(pct: Int) = min(when(col("cum") * 100 >= lit(pct) * col("n"), col("vm")))
    cum.groupBy("event_type")
      .agg(max(col("n")).as("n"),
        pick(50).as("p50_milli"), pick(95).as("p95_milli"), pick(99).as("p99_milli"),
        sum(when(col("vm") > lit(SloThresholdMilli), col("cnt")).otherwise(lit(0L)))
          .as("n_over_slo"))
      .withColumn("over_slo_x10000", expr("(n_over_slo * 10000) div n"))
      .orderBy("event_type")
  }

  /** CART ABANDONMENT (ev_cart_abandon) — the commerce funnel's session-
    * level readout: per day, sessions that clicked but never purchased
    * before the gap closed them. Rides the same two-window gap
    * sessionization as ev_sessionize with per-type flags folded in the
    * SAME session aggregate (no extra shuffle), then one tiny day
    * rollup; the rate publishes as a x10000 integer share guarded
    * against zero click-sessions days.
    *
    * Scale: identical to ev_sessionize (one user shuffle, day rollup is
    * map-side-combinable). */
  def cartAbandon(spark: SparkSession, dir: String): DataFrame =
    sessionFrame(events(spark, dir), "event_type", min(col("ts_sec")).as("start_sec"),
        max(when(col("event_type") === "click", lit(1L)).otherwise(lit(0L))).as("has_click"),
        max(when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))).as("has_purchase"))
      .select(expr("start_sec div 86400").as("day"), col("has_click"), col("has_purchase"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("has_click")).as("n_click_sessions"),
        sum(col("has_click") * (lit(1L) - col("has_purchase"))).as("n_abandoned"))
      .withColumn("abandon_x10000", expr(
        "CASE WHEN n_click_sessions = 0 THEN 0L " +
          "ELSE (n_abandoned * 10000) div n_click_sessions END"))
      .orderBy("day")

  /** MULTI-WINDOW BURN-RATE ALERTS (ev_burn_rate) — the Google-SRE
    * error-budget alerting rule: page only when BOTH a fast window (1h)
    * and a slow window (6h) burn the budget — the fast window gives
    * detection speed, the slow one kills flapping on transient spikes.
    * Budget here is error share ≤ 25% (the corpus' five uniform types
    * make 1% degenerate — stated); burn > 1 compares as 4·errors >
    * total in pure integers, never a rate division. Windows ride the
    * DENSE hour spine (missing hours are zero traffic, burn 0 — a gap
    * must not freeze the slow window). Output per hour: both windows'
    * counts + fire flags + the page verdict.
    *
    * Scale: one map-side-combinable hour rollup, a #hours spine, and
    * two trailing-window sums over the O(hours) frame — raw events are
    * touched exactly once. */
  def burnRate(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .select(expr("unix_timestamp(ts) div 3600").as("h"),
        when(col("event_type") === "error", lit(1L)).otherwise(lit(0L)).as("is_err"))
      .groupBy("h")
      .agg(count(lit(1)).as("t1"), sum(col("is_err")).as("e1"))
      .localCheckpoint() // bounds read + spine join
    val b = hourly.agg(min("h").as("h0"), max("h").as("h1")).collect()(0)
    val spine = spark.range(b.getLong(0), b.getLong(1) + 1).select(col("id").as("h"))
    val w6 = Window.orderBy("h").rowsBetween(-5, 0)
    spine.join(hourly, Seq("h"), "left_outer")
      .select(col("h"), coalesce(col("t1"), lit(0L)).as("t1"),
        coalesce(col("e1"), lit(0L)).as("e1"))
      .withColumn("t6", sum(col("t1")).over(w6))
      .withColumn("e6", sum(col("e1")).over(w6))
      .withColumn("fast_fires", (col("e1") * 4 > col("t1")).cast("long"))
      .withColumn("slow_fires", (col("e6") * 4 > col("t6")).cast("long"))
      .withColumn("page", col("fast_fires") * col("slow_fires"))
      .orderBy("h")
  }

  /** Trailing window / budget of ev_rate_limit. */
  val RateLimitWindowSec = 21600L
  val RateLimitN = 3L

  /** SLIDING-WINDOW RATE LIMITING (ev_rate_limit) — the abuse-control
    * primitive every API gateway runs, audited offline: an event
    * VIOLATES when its user's trailing-RateLimitWindowSec event count
    * (inclusive) exceeds RateLimitN. The trailing count is one
    * per-user RANGE window over epoch seconds — tie-safe by RANGE
    * semantics (peer rows share the frame on both engines, no unique
    * key needed). Output is the per-user pressure histogram: for each
    * max-in-window value, how many users hit it and their total
    * violating events — the report that sizes the limit before it is
    * enforced.
    *
    * Scale: one (user_id) shuffle shared by the window and the rollup;
    * the histogram is map-side-combinable and bounded by the max
    * burst, never user count. */
  def rateLimit(spark: SparkSession, dir: String): DataFrame =
    rateLimitOn(events(spark, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("ts_sec")))

  /** Same limiter over any (user_id, ts_sec) frame — Round18Spec plants
    * a burst straddling the window edge and a tie (RANGE peers). */
  def rateLimitOn(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_sec").asc)
      .rangeBetween(-(RateLimitWindowSec - 1), 0)
    ev
      .withColumn("c", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(max(col("c")).as("max_in_window"),
        sum(when(col("c") > RateLimitN, 1L).otherwise(0L)).as("viol"))
      .groupBy("max_in_window")
      .agg(count(lit(1)).as("n_users"), sum(col("viol")).as("sum_violations"))
      .orderBy("max_in_window")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_rate_limit" -> (rateLimit _),
    "ev_burn_rate" -> (burnRate _),
    "ev_cart_abandon" -> (cartAbandon _),
    "ev_latency_slo" -> (latencySlo _),
    "ev_survival" -> (survival _),
    "ev_survival_strat" -> (survivalStrat _),
    "ev_overlap_join" -> (overlapJoin _),
    "ev_reservoir" -> (reservoir _),
    "ev_bot_detect" -> (botDetect _),
    "ev_ltv" -> (ltv _),
    "ev_ab_test" -> (abTest _),
    "ev_forecast" -> (forecast _),
    "ev_cep" -> (cep _),
    "ev_heavy_hitters" -> (heavyHitters _),
    "ev_hll" -> (hll _),
    "ev_attribution" -> (attribution _),
    "ev_attrib_models" -> (attribModels _),
    "ev_absence" -> (absence _),
    "ev_lateness" -> (lateness _),
    "ev_cdc_scd2" -> (cdcScd2 _),
    "ev_changepoint" -> (changepoint _),
    "ev_streaks" -> (streaks _),
    "ev_dau" -> (dau _),
    "ev_anomaly_mad" -> (anomalyMad _),
    "ev_lttb" -> (lttb _),
    "ev_gap_fill" -> (gapFill _),
    "ev_json_nested" -> (jsonNested _),
    "ev_topk_per_window" -> (topkPerWindow _),
    "ev_trajectory" -> (trajectory _),
    "ev_anomaly" -> (anomalies _),
    "ev_paths" -> (paths _),
    "ev_retention" -> (retention _),
    "ev_windowed_agg" -> (windowedAgg _),
    "ev_hopping" -> (hoppingAgg _),
    "ev_sliding_distinct" -> (slidingDistinct _),
    "ev_markov" -> (markov _),
    "ev_sessionize" -> (sessionize _),
    "ev_concurrency" -> (concurrency _),
    "ev_seasonality" -> (seasonality _),
    "ev_json" -> (jsonExtract _),
    "ev_funnel" -> (funnel _))

  /** The gap-sessionization preamble shared by the session-derived
    * oracles (mirror of sessionFrame; same text as ev_sessionize's). */
  private val sessCte: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      |  FROM events
      |), f AS (
      |  SELECT *, LAG(ts_sec, 1) OVER win AS prev_sec
      |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
      |), g AS (
      |  SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec >= 1800 THEN 1 ELSE 0 END AS new_session
      |  FROM f
      |), h AS (
      |  SELECT *, CAST(SUM(new_session) OVER win AS BIGINT) AS session_idx
      |  FROM g WINDOW win AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
      |), s AS (
      |  SELECT user_id, session_idx, MIN(ts_sec) AS st, MAX(ts_sec) AS en
      |  FROM h GROUP BY user_id, session_idx
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "ev_rate_limit" ->
      s"""WITH e AS (
         |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events
         |), counted AS (
         |  SELECT user_id,
         |    COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_sec
         |      RANGE BETWEEN ${RateLimitWindowSec - 1} PRECEDING AND CURRENT ROW) AS c
         |  FROM e
         |), per_user AS (
         |  SELECT user_id, MAX(c) AS max_in_window,
         |    SUM(CASE WHEN c > $RateLimitN THEN 1 ELSE 0 END) AS viol
         |  FROM counted GROUP BY user_id
         |)
         |SELECT CAST(max_in_window AS BIGINT) AS max_in_window,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(viol) AS BIGINT) AS sum_violations
         |FROM per_user GROUP BY max_in_window ORDER BY max_in_window""".stripMargin,
    "ev_burn_rate" ->
      """WITH hr AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS t1,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e1
        |  FROM events GROUP BY 1
        |), b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hr),
        |spine AS (SELECT unnest(range(h0, h1 + 1)) AS h FROM b),
        |j AS (
        |  SELECT spine.h, COALESCE(t1, 0) AS t1, COALESCE(e1, 0) AS e1
        |  FROM spine LEFT JOIN hr ON spine.h = hr.h
        |), wnd AS (
        |  SELECT h, t1, e1,
        |    CAST(SUM(t1) OVER (ORDER BY h
        |      ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS t6,
        |    CAST(SUM(e1) OVER (ORDER BY h
        |      ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS e6
        |  FROM j
        |)
        |SELECT h, t1, e1, t6, e6,
        |  CAST(CASE WHEN e1 * 4 > t1 THEN 1 ELSE 0 END AS BIGINT) AS fast_fires,
        |  CAST(CASE WHEN e6 * 4 > t6 THEN 1 ELSE 0 END AS BIGINT) AS slow_fires,
        |  CAST(CASE WHEN e1 * 4 > t1 AND e6 * 4 > t6 THEN 1 ELSE 0 END AS BIGINT) AS page
        |FROM wnd ORDER BY h""".stripMargin,
    "ev_cart_abandon" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events
        |), f AS (
        |  SELECT *, LAG(ts_sec, 1) OVER win AS prev_sec
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
        |), g AS (
        |  SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec >= 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM f
        |), h AS (
        |  SELECT *, CAST(SUM(new_session) OVER win AS BIGINT) AS session_idx
        |  FROM g WINDOW win AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
        |), s AS (
        |  SELECT user_id, session_idx, MIN(ts_sec) AS start_sec,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
        |  FROM h GROUP BY user_id, session_idx
        |), d AS (
        |  SELECT start_sec // 86400 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |    CAST(SUM(has_click) AS BIGINT) AS n_click_sessions,
        |    CAST(SUM(has_click * (1 - has_purchase)) AS BIGINT) AS n_abandoned
        |  FROM s GROUP BY 1
        |)
        |SELECT day, n_sessions, n_click_sessions, n_abandoned,
        |  CASE WHEN n_click_sessions = 0 THEN 0
        |    ELSE (n_abandoned * 10000) // n_click_sessions END AS abandon_x10000
        |FROM d ORDER BY day""".stripMargin,
    "ev_latency_slo" ->
      s"""WITH h AS (
         |  SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS vm,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2
         |), c AS (
         |  SELECT event_type, vm, cnt,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY vm
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM h
         |)
         |SELECT event_type, MAX(n) AS n,
         |  MIN(CASE WHEN cum * 100 >= 50 * n THEN vm END) AS p50_milli,
         |  MIN(CASE WHEN cum * 100 >= 95 * n THEN vm END) AS p95_milli,
         |  MIN(CASE WHEN cum * 100 >= 99 * n THEN vm END) AS p99_milli,
         |  CAST(SUM(CASE WHEN vm > $SloThresholdMilli THEN cnt ELSE 0 END) AS BIGINT)
         |    AS n_over_slo,
         |  (CAST(SUM(CASE WHEN vm > $SloThresholdMilli THEN cnt ELSE 0 END) AS BIGINT)
         |    * 10000) // MAX(n) AS over_slo_x10000
         |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ev_survival" ->
      s"""$sessCte,
         |b AS (SELECT MAX(en) AS obs FROM s),
         |d AS (
         |  SELECT (en - st) // 60 AS t_min,
         |    CASE WHEN en > (SELECT obs FROM b) - 1800 THEN 1 ELSE 0 END AS cens
         |  FROM s
         |), t AS (
         |  SELECT t_min, CAST(SUM(1 - cens) AS BIGINT) AS d_end,
         |    CAST(SUM(cens) AS BIGINT) AS c_cens
         |  FROM d GROUP BY t_min
         |)
         |SELECT t_min,
         |  CAST(SUM(d_end + c_cens) OVER ()
         |    - COALESCE(SUM(d_end + c_cens) OVER (ORDER BY t_min
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk,
         |  d_end, c_cens,
         |  CAST(SUM(d_end) OVER (ORDER BY t_min
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
         |FROM t ORDER BY t_min""".stripMargin,
    "ev_survival_strat" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, event_type
        |  FROM events
        |), f AS (
        |  SELECT *, LAG(ts_sec, 1) OVER win AS prev_sec
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
        |), g AS (
        |  SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec >= 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM f
        |), h AS (
        |  SELECT *, CAST(SUM(new_session) OVER win AS BIGINT) AS session_idx
        |  FROM g WINDOW win AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
        |), s AS (
        |  SELECT user_id, session_idx, MIN(ts_sec) AS st, MAX(ts_sec) AS en,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM h GROUP BY user_id, session_idx
        |), b AS (SELECT MAX(en) AS obs FROM s),
        |d AS (
        |  SELECT (en - st) // 60 AS t_min, conv,
        |    CASE WHEN en > (SELECT obs FROM b) - 1800 THEN 1 ELSE 0 END AS cens
        |  FROM s
        |), t AS (
        |  SELECT t_min,
        |    CAST(SUM(CASE WHEN conv = 1 AND cens = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d_end_c,
        |    CAST(SUM(CASE WHEN conv = 1 AND cens = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cens_c,
        |    CAST(SUM(CASE WHEN conv = 0 AND cens = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d_end_n,
        |    CAST(SUM(CASE WHEN conv = 0 AND cens = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cens_n
        |  FROM d GROUP BY t_min
        |)
        |SELECT t_min,
        |  n_risk_c, d_end_c, c_cens_c, n_risk_n, d_end_n, c_cens_n,
        |  CAST(d_end_c * (n_risk_c + n_risk_n)
        |    - (d_end_c + d_end_n) * n_risk_c AS BIGINT) AS lr_num
        |FROM (
        |  SELECT *,
        |    CAST(SUM(d_end_c + c_cens_c) OVER ()
        |      - COALESCE(SUM(d_end_c + c_cens_c) OVER (ORDER BY t_min
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk_c,
        |    CAST(SUM(d_end_n + c_cens_n) OVER ()
        |      - COALESCE(SUM(d_end_n + c_cens_n) OVER (ORDER BY t_min
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk_n
        |  FROM t) r
        |ORDER BY t_min""".stripMargin,
    "ev_overlap_join" ->
      s"""$sessCte,
         |p AS (
         |  SELECT greatest(a.st, b.st) // 86400 AS day,
         |    least(a.en, b.en) - greatest(a.st, b.st) AS ov
         |  FROM s a JOIN s b
         |    ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en
         |)
         |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(ov) AS BIGINT) AS sum_overlap_sec
         |FROM p GROUP BY day ORDER BY day""".stripMargin,
    "ev_reservoir" -> reservoirSql,
    "ev_bot_detect" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
         |  FROM events
         |), g AS (
         |  SELECT user_id,
         |    es - LAG(es) OVER (PARTITION BY user_id ORDER BY es, event_id) AS g
         |  FROM ev
         |), s AS (
         |  SELECT user_id, COUNT(*) AS n,
         |    SUM(CAST(g AS DECIMAL(38,0))) AS s1,
         |    SUM(CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0))) AS s2
         |  FROM g WHERE g IS NOT NULL GROUP BY user_id HAVING COUNT(*) >= 5
         |), t AS (
         |  SELECT user_id, n,
         |    CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1 AS varn, s1
         |  FROM s
         |)
         |SELECT user_id, n AS n_gaps,
         |  ${graft.sources.Tables.r4Sql(
             "CAST(varn AS DOUBLE) / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))")} AS cv2,
         |  varn * $BotCvCut < s1 * s1 AS flagged
         |FROM t
         |ORDER BY cv2 ASC, user_id ASC LIMIT 10""".stripMargin,
    "ev_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events
        |), cohort AS (
        |  SELECT user_id, MIN(wk) AS cw FROM ev GROUP BY user_id
        |)
        |SELECT cw AS cohort_week, ev.wk - cw AS age_week,
        |  CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_active,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS BIGINT)
        |    AS rev_cents
        |FROM ev JOIN cohort ON ev.user_id = cohort.user_id
        |GROUP BY 1, 2 ORDER BY cohort_week, age_week""".stripMargin,
    "ev_ab_test" ->
      """WITH u AS (
        |  SELECT DISTINCT user_id FROM events
        |), ua AS (
        |  SELECT user_id, user_id % 2 AS arm FROM u
        |), at AS (
        |  SELECT arm, COUNT(*) AS n_users FROM ua GROUP BY arm
        |), cv AS (
        |  SELECT e.event_type, ua.arm, COUNT(*) AS n_conv
        |  FROM (SELECT DISTINCT user_id, event_type FROM events
        |        WHERE value > 140.0) e
        |  JOIN ua ON e.user_id = ua.user_id
        |  GROUP BY 1, 2
        |), ty AS (SELECT DISTINCT event_type FROM events),
        |cells AS (
        |  SELECT ty.event_type, at.arm, at.n_users, COALESCE(cv.n_conv, 0) AS n_conv
        |  FROM ty CROSS JOIN at
        |  LEFT JOIN cv ON cv.event_type = ty.event_type AND cv.arm = at.arm
        |), t AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN arm = 0 THEN n_conv ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN arm = 0 THEN n_users - n_conv ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN arm = 1 THEN n_conv ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN arm = 1 THEN n_users - n_conv ELSE 0 END) AS BIGINT) AS d
        |  FROM cells GROUP BY event_type
        |)
        |SELECT event_type, a AS conv_a, b AS nonconv_a, c AS conv_b, d AS nonconv_b,
        |  (10000 * a) // (a + b) AS rate_a_x10000,
        |  (10000 * c) // (c + d) AS rate_b_x10000,
        |  CASE WHEN (a+b) = 0 OR (c+d) = 0 OR (a+c) = 0 OR (b+d) = 0 THEN 0.0
        |    ELSE floor(CAST(CAST(a+b+c+d AS DECIMAL(38,0)) * CAST(a*d - b*c AS DECIMAL(38,0))
        |      * CAST(a*d - b*c AS DECIMAL(38,0)) AS DOUBLE)
        |      / CAST(CAST(a+b AS DECIMAL(38,0)) * CAST(c+d AS DECIMAL(38,0))
        |      * CAST(a+c AS DECIMAL(38,0)) * CAST(b+d AS DECIMAL(38,0)) AS DOUBLE)
        |      * 10000.0 + 0.5) / 10000.0 END AS chi2
        |FROM t ORDER BY event_type""".stripMargin,
    "ev_forecast" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS he
        |  FROM events
        |), hourly AS (
        |  SELECT event_type, he, COUNT(*) AS c FROM ev GROUP BY 1, 2
        |), bounds AS (SELECT MIN(he) AS h0, MAX(he) AS h1 FROM ev),
        |spine AS (
        |  SELECT t.event_type, g.he FROM bounds,
        |    UNNEST(range(h0, h1 + 1, 3600)) AS g(he),
        |    (SELECT DISTINCT event_type FROM ev) t
        |), series AS (
        |  SELECT s.event_type, s.he, COALESCE(h.c, 0) AS actual
        |  FROM spine s LEFT JOIN hourly h
        |    ON s.event_type = h.event_type AND s.he = h.he
        |)
        |SELECT a.event_type AS event_type, COUNT(*) AS n_hours,
        |  CAST(SUM(ABS(a.actual - f.actual)) AS BIGINT) AS abs_err,
        |  CAST((SUM(ABS(a.actual - f.actual)) * 100) // COUNT(*) AS BIGINT) AS mae_x100,
        |  CAST(SUM(a.actual - f.actual) AS BIGINT) AS bias
        |FROM series a JOIN series f
        |  ON a.event_type = f.event_type AND a.he = f.he + 86400
        |GROUP BY 1 ORDER BY a.event_type""".stripMargin,
    // semantic (unbucketed) formulation — bucket replication is a plan
    // choice: (x, x+T] spans <= 2 T-wide buckets (the ev_absence rule)
    "ev_cep" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, event_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
         |), a AS (
         |  SELECT user_id, event_id, es AS ea FROM ev WHERE event_type = 'view'
         |), b AS (SELECT user_id, es AS eb FROM ev WHERE event_type = 'click'),
         |c AS (SELECT user_id, es AS ec FROM ev WHERE event_type = 'purchase'),
         |ab AS (
         |  SELECT a.user_id, a.event_id, a.ea, MIN(b.eb) AS fb
         |  FROM a LEFT JOIN b ON a.user_id = b.user_id
         |    AND b.eb > a.ea AND b.eb <= a.ea + $CepWindowSec
         |  GROUP BY 1, 2, 3
         |), abc AS (
         |  SELECT ab.user_id, ab.event_id, ab.ea, ab.fb, MIN(c.ec) AS fc
         |  FROM ab LEFT JOIN c ON ab.user_id = c.user_id
         |    AND c.ec > ab.fb AND c.ec <= ab.fb + $CepWindowSec
         |  GROUP BY 1, 2, 3, 4
         |)
         |SELECT (ea // 86400) * 86400 AS day_epoch, COUNT(*) AS n_a,
         |  CAST(SUM(CASE WHEN fb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ab,
         |  CAST(SUM(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_abc,
         |  CAST(CASE WHEN SUM(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 0
         |    ELSE SUM(CASE WHEN fc IS NOT NULL THEN fc - ea ELSE 0 END)
         |      // SUM(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) END AS BIGINT)
         |    AS avg_match_lag_s
         |FROM abc GROUP BY 1 ORDER BY day_epoch""".stripMargin,
    "ev_heavy_hitters" -> {
      val hex = (k: Int) =>
        s"(strpos('0123456789abcdef', substr(mh, $k, 1)) - 1)"
      s"""WITH tc AS (
         |  SELECT user_id, COUNT(*) AS true_c FROM events GROUP BY user_id
         |), h AS (
         |  SELECT user_id, true_c, r,
         |    (((${hex(1)} * 16 + ${hex(2)}) * 16 + ${hex(3)}) * 16 + ${hex(4)})
         |      % $CmsWidth AS bucket
         |  FROM (
         |    SELECT user_id, true_c, ga AS r,
         |      md5('cms' || CAST(ga AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)) AS mh
         |    FROM tc, range(0, $CmsRows) t(ga)) s
         |), cms AS (
         |  SELECT r, bucket, CAST(SUM(true_c) AS BIGINT) AS cell
         |  FROM h GROUP BY r, bucket
         |)
         |SELECT user_id, true_c, CAST(MIN(cell) AS BIGINT) AS cms_est
         |FROM h JOIN cms USING (r, bucket)
         |GROUP BY user_id, true_c
         |ORDER BY true_c DESC, user_id LIMIT 20""".stripMargin
    },
    "ev_hll" -> {
      val bits = (2 to 13).map(k => hexBitsSql("mh", k))
        .mkString("concat(", ", ", ")")
      s"""WITH du AS (
         |  SELECT DISTINCT event_type, user_id FROM events
         |), h AS (
         |  SELECT event_type,
         |    (strpos('0123456789abcdef', substr(mh, 1, 1)) - 1) AS bucket,
         |    CAST(CASE WHEN position('1' IN $bits) = 0
         |      THEN 49 ELSE position('1' IN $bits) END AS BIGINT) AS rho
         |  FROM (SELECT event_type,
         |          md5('hll:' || CAST(user_id AS VARCHAR)) AS mh FROM du) s
         |)
         |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
         |  CAST(MAX(rho) AS BIGINT) AS register, COUNT(*) AS n_users
         |FROM h GROUP BY event_type, bucket
         |ORDER BY event_type, bucket""".stripMargin
    },
    // semantic (unbucketed) formulation — bucket replication is a plan
    // choice: [ep - W, ep) spans <= 2 W-wide buckets
    "ev_attribution" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, event_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
         |), a AS (
         |  SELECT user_id, event_id, es AS ea FROM e WHERE event_type = 'click'
         |), p AS (
         |  SELECT user_id, event_id AS pid, es AS ep FROM e WHERE event_type = 'purchase'
         |), j AS (
         |  SELECT a.event_id, a.ea, p.pid,
         |    COUNT(*) OVER (PARTITION BY p.pid) AS n,
         |    ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY a.ea, a.event_id) AS rk
         |  FROM a JOIN p ON p.user_id = a.user_id
         |    AND a.ea >= p.ep - $AttribWindowSec AND a.ea < p.ep
         |), c AS (
         |  SELECT *, 10000 // n + (CASE WHEN rk <= 10000 % n THEN 1 ELSE 0 END) AS credit
         |  FROM j
         |)
         |SELECT (ea // 3600) * 3600 AS hour_epoch, COUNT(*) AS n_clicks,
         |  CAST(SUM(credit) AS BIGINT) AS credit_x10000
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_attrib_models" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, event_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
         |), a AS (
         |  SELECT user_id, event_id, es AS ea FROM e WHERE event_type = 'click'
         |), p AS (
         |  SELECT user_id, event_id AS pid, es AS ep FROM e WHERE event_type = 'purchase'
         |), j AS (
         |  SELECT a.event_id, a.ea, p.pid,
         |    COUNT(*) OVER (PARTITION BY p.pid) AS n,
         |    ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY a.ea, a.event_id) AS rk
         |  FROM a JOIN p ON p.user_id = a.user_id
         |    AND a.ea >= p.ep - $AttribWindowSec AND a.ea < p.ep
         |), c AS MATERIALIZED (
         |  SELECT (ea // 3600) * 3600 AS hour_epoch,
         |    10000 // n + (CASE WHEN rk <= 10000 % n THEN 1 ELSE 0 END) AS lin,
         |    CASE WHEN rk = 1 THEN 10000 ELSE 0 END AS fst,
         |    CASE WHEN rk = n THEN 10000 ELSE 0 END AS lst,
         |    CASE WHEN n = 1 THEN 10000
         |      WHEN n = 2 THEN 5000
         |      WHEN rk = 1 OR rk = n THEN 4000
         |      ELSE 2000 // (n - 2)
         |        + (CASE WHEN rk - 1 <= 2000 % (n - 2) THEN 1 ELSE 0 END)
         |    END AS pos
         |  FROM j
         |), m AS (
         |  SELECT hour_epoch, 'first' AS model, fst AS credit FROM c
         |  UNION ALL SELECT hour_epoch, 'last', lst FROM c
         |  UNION ALL SELECT hour_epoch, 'linear', lin FROM c
         |  UNION ALL SELECT hour_epoch, 'position', pos FROM c
         |)
         |SELECT model, hour_epoch, COUNT(*) AS n_touches,
         |  CAST(SUM(credit) AS BIGINT) AS credit_x10000
         |FROM m GROUP BY model, hour_epoch
         |ORDER BY model, hour_epoch""".stripMargin,
    // semantic (unbucketed) formulation — the bucket replication is a
    // plan choice, not a semantics change: (ea, ea+T] spans <= 2 buckets
    "ev_absence" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, event_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
         |), a AS (
         |  SELECT user_id, event_id, es AS ea FROM e WHERE event_type = 'click'
         |), b AS (
         |  SELECT user_id, es AS eb FROM e WHERE event_type = 'purchase'
         |), f AS (
         |  SELECT a.user_id, a.event_id, a.ea, MIN(b.eb) AS first_b
         |  FROM a LEFT JOIN b ON b.user_id = a.user_id
         |    AND b.eb > a.ea AND b.eb <= a.ea + $AbsenceTimeoutSec
         |  GROUP BY 1, 2, 3
         |)
         |SELECT (ea // 3600) * 3600 AS hour_epoch, COUNT(*) AS n_a,
         |  CAST(SUM(CASE WHEN first_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_followed,
         |  CAST(SUM(CASE WHEN first_b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_absent,
         |  CAST(CASE WHEN SUM(CASE WHEN first_b IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 0
         |    ELSE CAST(SUM(CASE WHEN first_b IS NOT NULL THEN first_b - ea ELSE 0 END) AS BIGINT)
         |      // SUM(CASE WHEN first_b IS NOT NULL THEN 1 ELSE 0 END) END AS BIGINT) AS avg_lag_s
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_lateness" ->
      """WITH e AS (
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |    (event_id + (event_id * 7919) % 50) // 1000 AS chunk
        |  FROM events
        |), cm AS (
        |  SELECT chunk, MAX(ts_sec) AS mx FROM e GROUP BY chunk
        |), pf AS (
        |  SELECT chunk, MAX(mx) OVER (ORDER BY chunk
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM cm
        |), l AS (
        |  SELECT event_type,
        |    GREATEST(COALESCE(hwm - ts_sec, 0), 0) AS late_sec
        |  FROM e JOIN pf ON e.chunk = pf.chunk
        |)
        |SELECT event_type,
        |  CASE WHEN late_sec = 0 THEN '0_on_time'
        |       WHEN late_sec < 60 THEN '1_under_1m'
        |       WHEN late_sec < 600 THEN '2_under_10m'
        |       WHEN late_sec < 3600 THEN '3_under_1h'
        |       ELSE '4_over_1h' END AS bucket,
        |  COUNT(*) AS n_events, MAX(late_sec) AS max_late_sec
        |FROM l GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
    "ev_cdc_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |    event_id, value
        |  FROM events
        |)
        |SELECT user_id, event_type,
        |  CAST(ROW_NUMBER() OVER win AS BIGINT) AS version,
        |  value,
        |  ts_sec AS valid_from_sec,
        |  LEAD(ts_sec, 1) OVER win AS valid_to_sec,
        |  LEAD(ts_sec, 1) OVER win IS NULL AS is_current
        |FROM e WINDOW win AS (PARTITION BY user_id, event_type ORDER BY ts_sec, event_id)
        |ORDER BY user_id, event_type, version""".stripMargin,
    "ev_anomaly_mad" ->
      """WITH c AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |    event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |b AS (SELECT MIN(hour_epoch) AS mn, MAX(hour_epoch) AS mx FROM c),
        |s AS (SELECT unnest(range(mn, mx + 1, 3600)) AS hour_epoch FROM b),
        |t AS (SELECT DISTINCT event_type FROM c),
        |d AS (SELECT t.event_type, s.hour_epoch, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |  FROM s CROSS JOIN t
        |  LEFT JOIN c ON s.hour_epoch = c.hour_epoch AND t.event_type = c.event_type),
        |h1 AS (SELECT event_type, n AS v, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
        |c1 AS (SELECT event_type, v,
        |  SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  SUM(cnt) OVER (PARTITION BY event_type) AS nn FROM h1),
        |med AS (SELECT event_type, MIN(CASE WHEN cum * 2 >= nn THEN v END) AS med
        |  FROM c1 GROUP BY event_type),
        |dev AS (SELECT d.event_type, d.hour_epoch, d.n, med.med,
        |  abs(d.n - med.med) AS dv FROM d JOIN med USING (event_type)),
        |h2 AS (SELECT event_type, dv AS v, COUNT(*) AS cnt FROM dev GROUP BY 1, 2),
        |c2 AS (SELECT event_type, v,
        |  SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  SUM(cnt) OVER (PARTITION BY event_type) AS nn FROM h2),
        |mad AS (SELECT event_type, MIN(CASE WHEN cum * 2 >= nn THEN v END) AS mad
        |  FROM c2 GROUP BY event_type)
        |SELECT dev.event_type, dev.hour_epoch, dev.n, dev.med, mad.mad
        |FROM dev JOIN mad USING (event_type)
        |WHERE dev.dv > 3 * mad.mad
        |ORDER BY event_type, hour_epoch""".stripMargin,
    "ev_dau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events
        |),
        |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud),
        |spine AS (SELECT unnest(range(d0, d1 + 1)) AS d FROM b),
        |dau AS (SELECT day AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM ud GROUP BY day),
        |w7 AS (SELECT ud.user_id, ud.day + o.i AS d
        |  FROM ud, range(0, 7) o(i)),
        |wau AS (SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM w7 GROUP BY d),
        |w30 AS (SELECT ud.user_id, ud.day + o.i AS d
        |  FROM ud, range(0, 30) o(i)),
        |mau AS (SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM w30 GROUP BY d)
        |SELECT spine.d AS day,
        |  COALESCE(dau.dau, 0) AS dau, COALESCE(wau.wau, 0) AS wau,
        |  COALESCE(mau.mau, 0) AS mau
        |FROM spine LEFT JOIN dau ON spine.d = dau.d
        |LEFT JOIN wau ON spine.d = wau.d LEFT JOIN mau ON spine.d = mau.d
        |ORDER BY day""".stripMargin,
    "ev_streaks" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events
        |),
        |g AS (SELECT user_id, day,
        |  day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM d),
        |runs AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
        |  FROM g GROUP BY user_id, grp)
        |SELECT user_id, MAX(len) AS longest,
        |  CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |  CAST(SUM(len) AS BIGINT) AS n_active_days
        |FROM runs GROUP BY user_id
        |ORDER BY longest DESC, user_id LIMIT 20""".stripMargin,
    "ev_lttb" ->
      """WITH p AS (
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS xs,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm, event_id
        |  FROM events
        |),
        |i AS (SELECT event_type, xs, vm, event_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY xs, event_id) - 1 AS BIGINT) AS rn,
        |  CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM p),
        |i2 AS (SELECT event_type, xs, vm, event_id, rn, n, (n + 59) // 60 AS bsize FROM i),
        |i3 AS (SELECT event_type, xs, vm, event_id, rn, n,
        |  rn // bsize AS bucket FROM i2),
        |a AS (SELECT event_type, bucket, SUM(xs) AS sx, SUM(vm) AS sv,
        |  CAST(COUNT(*) AS BIGINT) AS cnt FROM i3 GROUP BY 1, 2),
        |an AS (SELECT event_type, bucket,
        |  LAG(sx) OVER (PARTITION BY event_type ORDER BY bucket) AS sxp,
        |  LAG(sv) OVER (PARTITION BY event_type ORDER BY bucket) AS svp,
        |  LAG(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cp,
        |  LEAD(sx) OVER (PARTITION BY event_type ORDER BY bucket) AS sxn,
        |  LEAD(sv) OVER (PARTITION BY event_type ORDER BY bucket) AS svn,
        |  LEAD(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cn
        |  FROM a),
        |x AS (SELECT i3.event_type, i3.xs, i3.vm, i3.event_id, i3.bucket,
        |  abs((sxp - cp * xs) * (svn - cn * vm) - (sxn - cn * xs) * (svp - cp * vm)) AS area2
        |  FROM i3 JOIN an ON i3.event_type = an.event_type AND i3.bucket = an.bucket
        |  WHERE sxp IS NOT NULL AND sxn IS NOT NULL),
        |r AS (SELECT event_type, xs, vm,
        |  ROW_NUMBER() OVER (PARTITION BY event_type, bucket
        |    ORDER BY area2 DESC, xs, event_id) AS rk FROM x),
        |sel AS (SELECT event_type, xs, vm FROM r WHERE rk = 1
        |  UNION ALL
        |  SELECT event_type, xs, vm FROM i3 WHERE rn = 0 OR rn = n - 1)
        |SELECT event_type, xs AS ts_sec, vm AS value_milli FROM sel
        |ORDER BY event_type, ts_sec, value_milli""".stripMargin,
    "ev_changepoint" ->
      """WITH c AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |    event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |),
        |b AS (SELECT MIN(hour_epoch) AS mn, MAX(hour_epoch) AS mx FROM c),
        |s AS (SELECT unnest(range(mn, mx + 1, 3600)) AS hour_epoch FROM b),
        |t AS (SELECT DISTINCT event_type FROM c),
        |g AS (SELECT hour_epoch, event_type FROM s CROSS JOIN t),
        |d AS (SELECT g.event_type, g.hour_epoch, CAST(COALESCE(n, 0) AS BIGINT) AS n
        |  FROM g LEFT JOIN c ON g.hour_epoch = c.hour_epoch AND g.event_type = c.event_type),
        |sc AS (SELECT event_type, hour_epoch, n,
        |  CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY hour_epoch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS t1,
        |  CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY hour_epoch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_t,
        |  CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS hh,
        |  CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS s_h
        |  FROM d),
        |st AS (SELECT event_type, hour_epoch, t1, s_t, hh, s_h,
        |  abs(hh * s_t - t1 * s_h) AS stat FROM sc),
        |rk AS (SELECT event_type, hour_epoch, t1, s_t, hh, s_h, stat,
        |  ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY stat DESC, hour_epoch) AS rk FROM st)
        |SELECT event_type, hour_epoch AS cp_hour, CAST(stat AS BIGINT) AS stat,
        |  s_t AS n_before, s_h - s_t AS n_after,
        |  (s_t * 1000) // t1 AS rate_before_x1000,
        |  CASE WHEN hh = t1 THEN CAST(0 AS BIGINT)
        |    ELSE ((s_h - s_t) * 1000) // (hh - t1) END AS rate_after_x1000
        |FROM rk WHERE rk = 1 ORDER BY event_type""".stripMargin,
    "ev_gap_fill" ->
      """WITH c AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
        |    COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2
        |),
        |b AS (SELECT MIN(hour_epoch) AS mn, MAX(hour_epoch) AS mx FROM c),
        |s AS (SELECT unnest(range(mn, mx + 1, 3600)) AS hour_epoch FROM b),
        |t AS (SELECT DISTINCT event_type FROM c),
        |g AS (SELECT hour_epoch, event_type FROM s CROSS JOIN t)
        |SELECT g.hour_epoch, g.event_type,
        |  CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
        |  CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled,
        |  last_value(sum_value IGNORE NULLS) OVER (PARTITION BY g.event_type
        |    ORDER BY g.hour_epoch ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_sum
        |FROM g LEFT JOIN c ON g.hour_epoch = c.hour_epoch AND g.event_type = c.event_type
        |ORDER BY g.hour_epoch, g.event_type""".stripMargin,
    "ev_json_nested" ->
      // no JSON on the oracle side: the parse+explode must reproduce the
      // same rows the generating arithmetic defines
      """WITH n AS (
        |  SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS i FROM documents
        |)
        |SELECT doc_id, CAST(doc_id * 10 + i AS BIGINT) AS item_id,
        |  CAST((doc_id * 7 + i) % 100 AS BIGINT) AS v
        |FROM n ORDER BY doc_id, item_id""".stripMargin,
    "ev_topk_per_window" ->
      """WITH c AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |    event_type, COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT *, RANK() OVER (PARTITION BY hour_epoch
        |    ORDER BY n_events DESC, event_type) AS rk
        |  FROM c
        |)
        |SELECT hour_epoch, event_type, n_events, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY hour_epoch, rk, event_type""".stripMargin,
    "ev_trajectory" ->
      """WITH p AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(event_id * 7919 % 36000 AS BIGINT) - 18000 AS a100,
        |    CAST(event_id * 104729 % 7000 AS BIGINT) - 3500 AS b100
        |  FROM events
        |),
        |h AS (
        |  SELECT user_id,
        |    LAG(a100) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS pa,
        |    LAG(b100) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS pb,
        |    a100, b100
        |  FROM p
        |)
        |SELECT user_id, COUNT(*) AS n_hops,
        |  CAST(SUM(abs(a100 - pa) + abs(b100 - pb)) AS BIGINT) AS l1_total_x100,
        |  CAST(MAX(abs(a100 - pa) + abs(b100 - pb)) AS BIGINT) AS max_hop_x100
        |FROM h WHERE pa IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ev_hopping" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800 AS s0
        |  FROM events
        |),
        |w AS (
        |  SELECT event_type, value, unnest([s0, s0 - 1800]) AS win_start FROM e
        |)
        |SELECT win_start, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "ev_sliding_distinct" ->
      """WITH e AS (
        |  SELECT user_id,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800 AS s0
        |  FROM events
        |),
        |w AS (
        |  SELECT user_id, unnest([s0, s0 - 1800]) AS win_start FROM e
        |),
        |dw AS (SELECT DISTINCT user_id, win_start FROM w)
        |SELECT win_start, COUNT(*) AS n_users
        |FROM dw GROUP BY win_start ORDER BY win_start""".stripMargin,
    "ev_markov" ->
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    event_id, event_type
        |  FROM events
        |), s AS (
        |  SELECT event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |      AS from_type
        |  FROM e
        |), t AS (
        |  SELECT from_type, event_type AS to_type, COUNT(*) AS n_trans
        |  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2
        |), f AS (
        |  SELECT from_type, SUM(n_trans) AS tot FROM t GROUP BY 1
        |)
        |SELECT from_type, to_type, n_trans,
        |  CAST((n_trans * 10000) // tot AS BIGINT) AS p_x10000
        |FROM t JOIN f USING (from_type) ORDER BY from_type, to_type""".stripMargin,
    "ev_anomaly" ->
      s"""WITH stats AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean_v,
        |    CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*) AS ex2
        |  FROM events GROUP BY event_type
        |)
        |SELECT event_id, e.event_type, value, ${graft.sources.Tables.r4Sql("mean_v")} AS mean_v
        |FROM events e JOIN stats s ON e.event_type = s.event_type
        |WHERE (value - mean_v) * (value - mean_v) > 4.0 * (ex2 - mean_v * mean_v)
        |ORDER BY event_id""".stripMargin,
    "ev_paths" ->
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id, event_type
        |  FROM events
        |)
        |SELECT user_id, COUNT(*) AS n_events,
        |  substr(STRING_AGG(event_type, '>' ORDER BY sec, event_id), 1, 100) AS path_prefix
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ev_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(epoch(date_trunc('week', ts)) AS BIGINT) AS wk
        |  FROM events
        |),
        |retained AS (
        |  SELECT a.wk, COUNT(*) AS n_retained
        |  FROM act a WHERE EXISTS (
        |    SELECT 1 FROM act b WHERE b.user_id = a.user_id AND b.wk = a.wk + 604800)
        |  GROUP BY a.wk
        |)
        |SELECT act.wk AS week_epoch, COUNT(*) AS n_active,
        |  COALESCE(MIN(retained.n_retained), 0) AS n_retained
        |FROM act LEFT JOIN retained ON act.wk = retained.wk
        |GROUP BY act.wk ORDER BY week_epoch""".stripMargin,
    "ev_windowed_agg" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value
        |  FROM events
        |), f AS (
        |  SELECT *, LAG(ts_sec, 1) OVER win AS prev_sec
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
        |), g AS (
        |  SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec >= 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM f
        |), h AS (
        |  SELECT *, CAST(SUM(new_session) OVER win AS BIGINT) AS session_idx
        |  FROM g WINDOW win AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
        |)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        |  MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM h GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,
    "ev_seasonality" ->
      """WITH c AS (
        |  SELECT event_type,
        |    ((CAST(floor(epoch(ts)) AS BIGINT) // 3600) + 72) % 168 AS how,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY cnt DESC, how ASC) AS rk
        |  FROM c
        |)
        |SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_events,
        |  MAX(CASE WHEN rk = 1 THEN how END) AS peak_how,
        |  MAX(CASE WHEN rk = 1 THEN cnt END) AS peak_n,
        |  (CAST(SUM(CASE WHEN rk <= 8 THEN cnt ELSE 0 END) AS BIGINT) * 10000)
        |    // CAST(SUM(cnt) AS BIGINT) AS top8_share_x10000
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ev_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events
        |), f AS (
        |  SELECT *, LAG(ts_sec, 1) OVER win AS prev_sec
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
        |), g AS (
        |  SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec >= 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM f
        |), h AS (
        |  SELECT *, CAST(SUM(new_session) OVER win AS BIGINT) AS session_idx
        |  FROM g WINDOW win AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
        |), s AS (
        |  SELECT user_id, session_idx, MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec
        |  FROM h GROUP BY user_id, session_idx
        |), d AS (
        |  SELECT start_sec AS t, CAST(1 AS BIGINT) AS dl, user_id, session_idx FROM s
        |  UNION ALL
        |  SELECT end_sec + 1, CAST(-1 AS BIGINT), user_id, session_idx FROM s
        |), dd AS (
        |  SELECT *, t // 86400 AS day FROM d
        |), off AS (
        |  SELECT day, CAST(SUM(dl) AS BIGINT) AS tot FROM dd GROUP BY day
        |), carry AS (
        |  SELECT day, CAST(COALESCE(SUM(tot) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS carry
        |  FROM off
        |), run AS (
        |  SELECT dd.day, dd.t,
        |    CAST(SUM(dl) OVER (PARTITION BY dd.day
        |      ORDER BY t ASC, dl ASC, user_id ASC, session_idx ASC) AS BIGINT)
        |      + carry.carry AS conc
        |  FROM dd JOIN carry ON dd.day = carry.day
        |), pk AS (
        |  SELECT day, t, conc, MAX(conc) OVER (PARTITION BY day) AS mx FROM run
        |), peaks AS (
        |  SELECT day, MAX(conc) AS peak_concurrency, MIN(t) AS peak_sec
        |  FROM pk WHERE conc = mx GROUP BY day
        |), starts AS (
        |  SELECT day, COUNT(*) AS n_sessions_started FROM dd WHERE dl = 1 GROUP BY day
        |)
        |SELECT peaks.day, COALESCE(n_sessions_started, 0) AS n_sessions_started,
        |  peak_concurrency, peak_sec
        |FROM peaks LEFT JOIN starts ON peaks.day = starts.day
        |ORDER BY peaks.day""".stripMargin,
    "ev_json" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ev_funnel" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  MIN(CASE WHEN event_type = 'signup' THEN CAST(floor(epoch(ts)) AS BIGINT) END) IS NOT NULL AS did_signup,
        |  COALESCE(MIN(CASE WHEN event_type = 'signup' THEN CAST(floor(epoch(ts)) AS BIGINT) END) IS NOT NULL
        |    AND MIN(CASE WHEN event_type = 'purchase' THEN CAST(floor(epoch(ts)) AS BIGINT) END) IS NOT NULL
        |    AND MIN(CASE WHEN event_type = 'purchase' THEN CAST(floor(epoch(ts)) AS BIGINT) END)
        |      > MIN(CASE WHEN event_type = 'signup' THEN CAST(floor(epoch(ts)) AS BIGINT) END), FALSE) AS converted
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
}
