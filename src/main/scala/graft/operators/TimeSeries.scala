package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming/time-series semantics in batch form (SURVEY.md §2.8,
  * q56–q59). Event time is the canonical `ts_us` column — µs since epoch
  * regardless of the parquet physical encoding (Tables.events); all
  * bucketing is pure int64 arithmetic.
  *
  * These four queries prove tumbling/sliding/session/dedup semantics
  * against the DuckDB oracle; the SAME semantics run on the real
  * Structured Streaming engine (MemoryStream + watermark) in
  * StreamingSuite — a streaming DataFrame can't be returned through
  * Verify's batch writer.
  *
  * Scale notes: tumbling/sliding aggs are groupBys keyed on
  * (bucket, type) — map-side combined, shuffle bounded by bucket
  * cardinality; sessionization is one window shuffle on user_id. The
  * sliding window explodes each event into exactly windows/slide = 4
  * rows BEFORE the partial agg, which is the standard overlap plan.
  */
object TimeSeries {
  import Tables.dec

  private val usPerHour   = 3600000000L
  private val usPer15Min  = 900000000L
  private val usPerMinute = 60000000L

  /** q56: tumbling 1-hour window — count + DECIMAL sum per (hour, type). */
  private def q56(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .withColumn("hour_bucket", expr(s"ts_us DIV $usPerHour"))
      .groupBy("hour_bucket", "event_type")
      .agg(count(lit(1)).as("cnt"),
        // DECIMAL sum internally, r6 DOUBLE on the wire (see Joins.q05)
        Tables.r6(sum(dec(col("value"))).cast("double")).as("sum_value"))
      .orderBy("hour_bucket", "event_type")
  }

  /** q57: sliding window 1 h / 15 min — each event lands in 4 windows
    * (explode(sequence) = the Generator path), then a tumbling-style agg
    * on the window index. */
  private def q57(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .withColumn("w15", expr(s"ts_us DIV $usPer15Min"))
      .withColumn("i", explode(sequence(lit(0), lit(3))))
      .withColumn("win_id", col("w15") - col("i"))
      .groupBy("win_id")
      .agg(count(lit(1)).as("cnt"),
        Tables.r6(sum(dec(col("value"))).cast("double")).as("sum_value"))
      .orderBy("win_id")
  }

  /** q58: sessionization — a new session starts when the gap to the
    * previous event of the same user exceeds 30 min; session_id is the
    * running count of session starts (lag + cumulative sum, one shuffle). */
  private def q58(spark: SparkSession, sfDir: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(wOrd))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > usPer15Min * 2, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_sess")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .select("user_id", "event_id", "ts_us", "session_id")
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** q59: stateful-dedup shape — latest event per (user, minute bucket);
    * what `withWatermark().dropDuplicates` computes within the watermark,
    * expressed as a row_number window in batch. */
  private def q59(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "minute_bucket")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    Tables.events(spark, sfDir)
      .withColumn("minute_bucket", expr(s"ts_us DIV $usPerMinute"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "minute_bucket", "event_id", "ts_us")
      .orderBy("user_id", "minute_bucket")
  }

  /** q94: NATIVE session windows in batch — Spark's `session_window`
    * operator (the same merging machinery Structured Streaming uses)
    * aggregating count + value per (user, session) with a 30-minute gap.
    * Complements q58, which derives sessions from lag/running-sum
    * windows: here the engine's own session operator runs in the plan.
    * Session bounds are emitted as µs bigints (portable across engines —
    * parquet timestamp annotations are not, §2.9): start = first event,
    * end = last event + gap, new session when gap ≥ 30 min (Spark's
    * half-open [start, end) merge rule, mirrored in the oracle). */
  private def q94(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .withColumn("t", expr("timestamp_micros(ts_us)"))
      .groupBy(session_window(col("t"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        Tables.r6(sum(dec(col("value"))).cast("double")).as("sum_value"))
      .select(col("user_id"),
        expr("unix_micros(w.start)").as("sess_start_us"),
        expr("unix_micros(w.end)").as("sess_end_us"),
        col("cnt"), col("sum_value"))
      .orderBy("user_id", "sess_start_us")
  }

  /** q86: funnel analysis — per user, the strict click→view→purchase
    * sequence: first click, first view after that click, first purchase
    * after that view (µs). Every stage joins and aggregates on user_id,
    * so at scale the whole funnel is ONE shuffle key — co-partitioned
    * joins with no re-shuffle between stages; partial funnels kept via
    * left joins. */
  private def q86(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_us"))
    val c = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min(col("ts_us")).as("t_click"))
    val v = ev.filter(col("event_type") === "view")
      .join(c, "user_id").filter(col("ts_us") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts_us")).as("t_view"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(v, "user_id").filter(col("ts_us") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts_us")).as("t_purchase"))
    c.join(v, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .orderBy("user_id")
  }

  private val usPerDay = 86400000000L

  /** q87: time-series gap-filling + forward fill — per user, a dense
    * daily-bucket grid over that user's own [first, last] activity span:
    * missing days get cnt=0 and carry the last seen daily total forward.
    * The grid explodes bounded rows (#users × span-days), the fill is one
    * window over the user-partitioned grid — the standard distributed
    * gap-fill plan (no driver-side calendar, no cross join against a
    * global date dimension). */
  private def q87(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = Tables.events(spark, sfDir)
      .withColumn("db", expr(s"ts_us DIV $usPerDay"))
      .groupBy("user_id", "db")
      .agg(count(lit(1)).as("cnt"),
        Tables.r6(sum(dec(col("value"))).cast("double")).as("day_value"))
    val grid = agg.groupBy("user_id")
      .agg(min(col("db")).as("h0"), max(col("db")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("db"))
    val wFill = Window.partitionBy("user_id").orderBy("db")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(agg, Seq("user_id", "db"), "left")
      .select(col("user_id"), col("db"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        last(col("day_value"), ignoreNulls = true).over(wFill).as("filled_value"))
      .orderBy("user_id", "db")
  }

  /** q99: SCD2 interval building — collapse each user's event stream into
    * type-change validity intervals [valid_from, valid_to): keep only
    * rows where the event type differs from the previous row, then the
    * next change's timestamp closes the interval (NULL = still current).
    * The slowly-changing-dimension historization every warehouse load
    * needs; two windows over the same user_id key = ONE shuffle, AQE
    * handles per-user skew. */
  private def q99(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val changes = Tables.events(spark, sfDir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    changes
      .withColumn("valid_to", lead(col("ts_us"), 1).over(w))
      .select(col("user_id"), col("event_id").as("change_id"), col("event_type"),
        col("ts_us").as("valid_from"), col("valid_to"))
      .orderBy("user_id", "valid_from", "change_id")
  }

  private val usPer10Min = 600000000L

  /** q107: cross-key time-range join via time-bucket equi-join — for each
    * purchase, count + sum the clicks from ANY user in the preceding
    * 10 minutes. Unlike q09/q103 there is NO equi key (user) to shuffle
    * on, and a naive range join is a nested-loop cross product. The
    * scalable plan: quantize time into buckets the width of the range;
    * each purchase's lookback interval (p−W, p] spans exactly two
    * buckets, so the purchase side explodes ×2, the click side maps to
    * its single bucket, and the pair space collapses to a shuffled
    * EQUI-join on the bucket id + a residual range filter. A click's one
    * bucket meets each purchase once, so no dedup is needed. Candidate
    * volume is bounded by events-per-bucket (tunable via W), not n². */
  /** The generic bucketized trailing-range join behind q107, exposed as
    * [[graft.Graft.trailingRangeJoin]]: all (probe, point) pairs where
    * the point's `p_ts`… — `probes` needs (p_id, p_ts), `points` needs
    * (c_ts, payload…); pairs satisfy c_ts ∈ (p_ts − windowUs, p_ts].
    * Equi-join on the range-width time bucket — never a nested loop. */
  private[graft] def trailingRangeJoin(probes: DataFrame, points: DataFrame,
      windowUs: Long): DataFrame = {
    // facade contract (Graft.scala): graft_-prefixed working columns are
    // reserved — an input that already carries one would be silently
    // clobbered and then dropped from the output
    require(!probes.columns.contains("graft_bkt") && !points.columns.contains("graft_bkt"),
      "graft_bkt is reserved by trailingRangeJoin")
    val pts = points.withColumn("graft_bkt", expr(s"c_ts DIV $windowUs"))
    val pB = probes.withColumn("graft_bkt",
      explode(array(expr(s"p_ts DIV $windowUs - 1"), expr(s"p_ts DIV $windowUs"))))
    pB.join(pts, "graft_bkt")
      .filter(col("c_ts") > col("p_ts") - windowUs && col("c_ts") <= col("p_ts"))
      .drop("graft_bkt")
  }

  private def q107(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"),
        col("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts_us").as("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("value"), col("ts_us").as("c_ts"))
    val hits = trailingRangeJoin(purchases, clicks, usPer10Min)
      .groupBy("p_id")
      .agg(count(lit(1)).as("n_clicks"),
        Tables.r6(sum(dec(col("value"))).cast("double")).as("click_value"))
    purchases.join(hits, Seq("p_id"), "left")
      .select(col("p_id"), coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("click_value"), lit(0.0)).as("click_value"))
      .orderBy("p_id")
  }

  /** q250: per-user conversion pairing — every (click, purchase) pair by
    * the SAME user where the click lands in the hour strictly before the
    * purchase. This is the BATCH face of the stream–stream interval join:
    * the identical predicate (user equi-key + `click_ts ∈ [purchase_ts −
    * 1 h, purchase_ts)`) runs on the real Structured Streaming engine in
    * [[graft.streaming.StreamOps.clickPurchaseAttribution]] (two
    * watermarked streams, append mode), and StreamingSuite proves
    * batch≡stream parity by driving BOTH over the same events. Distinct
    * from q107 (keyless bucketized aggregate) and q145 (last-touch winner
    * only): q250 emits EVERY qualifying pair — the exact row set the
    * streaming state store must be able to produce.
    *
    * Scale: a shuffled equi-join on user_id with a residual time-band
    * filter — per-user event streams are human-bounded, so the per-key
    * pair space never explodes the way a keyless range join would; this
    * is exactly why Spark's stream–stream join keys its state store the
    * same way. No driver collect, no nested loop. */
  private[graft] def conversionPairsOf(ev: DataFrame, windowUs: Long): DataFrame = {
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_us").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("p_ts"))
    clicks.join(purchases, Seq("user_id"))
      .filter(col("c_ts") >= col("p_ts") - windowUs &&
        col("c_ts") < col("p_ts"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("p_ts") - col("c_ts")).as("lag_us"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  private def q250(spark: SparkSession, sfDir: String): DataFrame =
    conversionPairsOf(
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts_us")),
      usPerHour)

  /** q262: conversion abandonment — the ANTI side of q250: per user,
    * how many clicks were followed by NO same-user purchase within the
    * next hour (cart abandonment, the metric the conversion pairs alone
    * can't give because absence never appears in a join's output). A
    * click "converts" if ≥ 1 purchase lands in (c_ts, c_ts + 1 h]; the
    * left-semi band join marks converting clicks, and the per-user
    * rollup reports clicks / converted / abandoned / abandonment rate.
    *
    * Scale: the same user-keyed equi-join + residual band as q250, but
    * LEFT SEMI — Spark stops probing a click at its first matching
    * purchase and emits no pair fan-out at all, so this is strictly
    * cheaper than the pairing; per-user rollup is map-side combined. */
  private def q262(spark: SparkSession, sfDir: String): DataFrame =
    abandonmentOf(
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us")),
      usPerHour)

  /** The generic core behind q262 — `ev` is any (event_id, user_id,
    * event_type, ts_us) frame; StreamingSuite proves the incremental
    * left-outer stream-stream join computes the same per-user rollup. */
  private[graft] def abandonmentOf(ev: DataFrame, windowUs: Long): DataFrame = {
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_us").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_us").as("p_ts"))
    val converted = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") > col("c_ts") && col("p_ts") <= col("c_ts") + windowUs,
      "left_semi")
    val perUser = clicks.groupBy("user_id").agg(count(lit(1)).as("n_clicks"))
    val convUser = converted.groupBy("user_id")
      .agg(count(lit(1)).as("n_converted"))
    perUser.join(convUser, Seq("user_id"), "left")
      .select(col("user_id"), col("n_clicks"),
        coalesce(col("n_converted"), lit(0L)).as("n_converted"),
        (col("n_clicks") - coalesce(col("n_converted"), lit(0L)))
          .as("n_abandoned"),
        Tables.r6((col("n_clicks") - coalesce(col("n_converted"), lit(0L)))
          .cast("double") / col("n_clicks")).as("abandon_frac"))
      .orderBy("user_id")
  }

  /** q260: retention-policy sweep audit — per-event-type time-to-live
    * applied against a fixed `now` (2024-01-31T00:00Z, just past the
    * driver corpus): clicks/views expire after 7 days, purchases/signups
    * after 14, errors keep 30 — the compliance/ops sweep that pairs with
    * q258's subject-level erasure: q258 deletes WHO asked, q260 deletes
    * WHAT aged out. Output = per-type rows, expired, retained, the
    * policy TTL, and the expired fraction — the audit a retention job
    * logs before the physical delete.
    *
    * Scale: one scan, per-row integer age arithmetic + a literal-map
    * policy lookup (codegen'd), one type-keyed map-side-combined agg.
    * On a date-partitioned layout the expired set is partition-aligned,
    * so the delete itself is directory drops, not row rewrites. */
  private val retentionNowUs = 1706659200000000L // 2024-01-31T00:00:00Z
  private val retentionDays: Seq[(String, Int)] = Seq(
    "click" -> 7, "view" -> 7, "purchase" -> 14, "signup" -> 14, "error" -> 30)

  private def q260(spark: SparkSession, sfDir: String): DataFrame = {
    val policy = map(retentionDays.flatMap {
      case (t, d) => Seq(lit(t), lit(d)) }: _*)
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr(s"($retentionNowUs - ts_us) DIV $usPerDay").as("age_days"))
      .withColumn("ttl_days", element_at(policy, col("event_type")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("age_days") >= col("ttl_days"), 1L).otherwise(0L))
          .as("n_expired"),
        first(col("ttl_days")).as("retention_days"))
      .select(col("event_type"), col("n_rows"), col("n_expired"),
        (col("n_rows") - col("n_expired")).as("n_retained"),
        col("retention_days").cast("long").as("retention_days"),
        Tables.r6(col("n_expired").cast("double") / col("n_rows"))
          .as("expired_frac"))
      .orderBy("event_type")
  }

  /** q108: sliding-window distinct counting — distinct active users per
    * 10-minute window over the trailing hour (6 buckets). Window
    * functions can't COUNT(DISTINCT); the scalable formulation is
    * contribute-then-count: dedup to (user, bucket) pairs, explode each
    * pair into the 6 windows it contributes to, count distinct per
    * window. Both shuffles are keyed (pair-distinct, then window) with
    * partial aggregation; the explode factor is the window/slide ratio —
    * the q57 overlap plan applied to DISTINCT aggregation. */
  /** The generic sliding-distinct primitive behind q108, exposed as
    * [[graft.Graft.slidingDistinct]]: `df` needs (key, bkt: bigint);
    * returns (wb, active) = distinct keys over the trailing
    * `windowBuckets` buckets ending at each wb. */
  private[graft] def slidingDistinctOf(df: DataFrame, windowBuckets: Int): DataFrame =
    df.select(col("key"), col("bkt"))
      .distinct()
      .select(col("key"), explode(expr(s"sequence(bkt, bkt + ${windowBuckets - 1})")).as("wb"))
      .groupBy("wb")
      .agg(countDistinct(col("key")).as("active"))

  private def q108(spark: SparkSession, sfDir: String): DataFrame = {
    slidingDistinctOf(
      Tables.events(spark, sfDir)
        .select(col("user_id").as("key"), expr(s"ts_us DIV $usPer10Min").as("bkt")),
      windowBuckets = 6)
      .select(col("wb"), col("active").as("active_users"))
      .orderBy("wb")
  }

  /** q119: OHLC bar downsampling — the time-series resampling primitive
    * (open/high/low/close/volume per hour bucket per event_type), the
    * finance/telemetry analog of q56's plain tumbling agg. Open/close are
    * navigation over a deterministic (ts, event_id) order: first_value /
    * last_value over the full partition frame, constant within the
    * bucket, then collapsed by the groupBy (max = the constant). One
    * shuffle — the window and the agg share the (type, bucket) key, so
    * the agg reuses the window's partitioning (no second exchange).
    * high/low/open/close are untouched doubles (exact, hash-safe); only
    * the summed volume goes through DECIMAL + r6. */
  private def q119(spark: SparkSession, sfDir: String): DataFrame = {
    val wf = Window.partitionBy("event_type", "hour_bucket")
      .orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, sfDir)
      .withColumn("hour_bucket", expr(s"ts_us DIV $usPerHour"))
      .withColumn("open", first(col("value")).over(wf))
      .withColumn("close", last(col("value")).over(wf))
      .groupBy("event_type", "hour_bucket")
      .agg(
        max(col("open")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(col("close")).as("close"),
        count(lit(1)).as("n_events"),
        Tables.r6(sum(dec(col("value"))).cast("double")).as("volume"))
      .orderBy("event_type", "hour_bucket")
  }

  /** q122: time-weighted average — the irregular-sampling mean every
    * telemetry/finance pipeline needs (a plain avg over-weights bursts):
    * each observation holds until the next one, so per user
    * twa = Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_N − t₁) over the (ts, event_id) order;
    * the last observation of a user carries no weight (zero-order hold,
    * closed-open span). Weights are exact integer µs; the v·Δt products
    * go through DECIMAL sums (value is DECIMAL(18,4)-cast, µs is bigint
    * → exact decimal product), so partition merge order can't move a
    * bit. One shuffle on user_id shared by the window and the agg. */
  private def q122(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(spark, sfDir)
      .withColumn("dt_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_obs"),
        (max(col("ts_us")) - min(col("ts_us"))).as("span_us"),
        sum(dec(col("value")) * col("dt_us")).as("wsum"))
      // span>0 (⇒ n≥2) BEFORE the division — a user whose events all
      // collapse to one µs would otherwise divide by zero
      .filter(col("span_us") > 0)
      .select(col("user_id"), col("n_obs"),
        Tables.r6(col("wsum").cast("double") / col("span_us")).as("twa"))
      .orderBy("user_id")
  }

  /** q126: consecutive event-pattern detection — the MATCH_RECOGNIZE-
    * style "A immediately followed by B then C" question (strictly
    * consecutive per user, unlike q86's funnel which allows gaps):
    * matches = rows where (type, lead(type,1), lead(type,2)) =
    * (click, view, purchase) over the (ts, event_id) order. One window
    * shuffle on user_id; the pattern evaluates as two lead columns and
    * a filter — no self-joins, no state machine. Longer patterns
    * compose as more leads; gap-tolerant patterns are q86's shape. */
  private def q126(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"),
        lead(col("event_type"), 1).over(w).as("t1"),
        lead(col("event_type"), 2).over(w).as("t2"),
        lead(col("ts_us"), 2).over(w).as("end_us"))
      .filter(col("event_type") === "click" && col("t1") === "view" && col("t2") === "purchase")
      .select(col("user_id"), col("event_id").as("start_event"),
        col("ts_us").as("start_us"), col("end_us"),
        (col("end_us") - col("ts_us")).as("span_us"))
      .orderBy("user_id", "start_us", "start_event")
  }

  /** q135: cohort retention — the product-analytics staple: users
    * grouped by first-seen week (their cohort), then for each
    * (cohort, week-offset) the count of cohort members still active
    * that week. Shape: per-user first week (one agg), distinct
    * (user, week) activity (one dedup), one join on user, one grid agg
    * — everything keyed on user or the bounded (cohort, offset) grid;
    * retention never touches raw-event cardinality after the dedup. */
  private def q135(spark: SparkSession, sfDir: String): DataFrame = {
    val weeks = Tables.events(spark, sfDir)
      .select(col("user_id"), expr(s"ts_us DIV ${usPerDay * 7}").as("week"))
      .distinct()
    val cohorts = weeks.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    weeks.join(cohorts, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("offset_weeks"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy("cohort_week", "offset_weeks")
  }

  /** q138: rolling z-score anomaly detection — each hourly bucket's
    * event count scored against the trailing-24-bucket mean/std of the
    * same event type (the telemetry "is this hour weird" primitive;
    * |z| > 2 flags). Rolling mean/std come from windowed COUNT/Σ/Σ² over
    * exact integers (counts) — closed-form variance, no engine stddev
    * accumulator, order-free. Requires ≥ 12 trailing buckets before
    * scoring (cold-start rows emit NULL z). Two shuffles total: the
    * bucket agg and the type-keyed window (bucket-cardinality bounded).
    *
    * Baseline semantics: the trailing window is ROWS-based over the
    * hours that HAVE events — deliberate. A zero-event hour produces no
    * bucket row, so the 24-row baseline then spans more than 24
    * wall-clock hours and mixes non-adjacent periods. For the
    * "observed-activity baseline" this query defines that is the wanted
    * behavior (and the oracle is ROWS-based too — no parity risk); a
    * calendar-time baseline instead densifies the hourly grid first
    * (q87's gap-fill pattern) so empty hours contribute zero counts. */
  private def q138(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .withColumn("hb", expr(s"ts_us DIV $usPerHour"))
      .groupBy("event_type", "hb")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("hb").rowsBetween(-24, -1)
    val n = count(lit(1)).over(w)
    val s1 = sum(col("cnt")).over(w)
    val s2 = sum(col("cnt") * col("cnt")).over(w)
    hourly
      .withColumn("n_trail", n)
      .withColumn("mean_t", Tables.r6(s1.cast("double") / n))
      .withColumn("var_t", Tables.r6(
        (s2.cast("double") - s1.cast("double") * s1.cast("double") / n) / n))
      .select(col("event_type"), col("hb"), col("cnt"), col("n_trail"),
        col("mean_t"),
        when(col("n_trail") >= 12 && col("var_t") > 0,
          Tables.r6((col("cnt") - col("mean_t")) / sqrt(col("var_t")))).as("z"))
      .withColumn("anomalous", coalesce(abs(col("z")) > 2.0, lit(false)))
      .orderBy("event_type", "hb")
  }

  /** q144: LOCF backfill (last observation carried forward) — per user,
    * ordered by event time, fill each row's value with the most recent
    * non-null observation: the imputation primitive for sparse sensor/
    * metric streams (here: 'view' events carry no value semantics and
    * are treated as the gaps). `last(_, ignoreNulls)` over a running
    * ROWS frame is Spark's native LOCF — one key-partitioned window,
    * no self-join, no gap scan; DuckDB's `LAST_VALUE(... IGNORE
    * NULLS)` is the identical frame. Leading rows before any
    * observation stay NULL (nullable double output; the final ORDER BY
    * rides the non-null unique event_id — §2.9 R4 unaffected). */
  private def q144(spark: SparkSession, sfDir: String): DataFrame = {
    // delegates to the facade primitive (q120→pageRank convention): ONE
    // copy of the running-frame semantics, oracle-verified through here
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("event_type") =!= "view", col("value")).as("v_sparse"))
    graft.Graft.locfBackfill(ev, col("user_id"), col("ts_us"), col("event_id"),
        col("v_sparse"), "v")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        Tables.r6(col("v_filled")).as("v_filled"))
      .orderBy("event_id")
  }

  /** q145: last-touch attribution — each purchase attributed to the
    * user's most recent click within a 1-hour lookback (the
    * marketing-attribution primitive; the unattributed remainder is the
    * "organic" bucket). Same LOCF machinery as q144: two
    * `last(_, ignoreNulls)` columns (click id + click time) over ONE
    * user-ordered running frame — no purchases×clicks self-join, no
    * per-user collect; the window's two measures share the single key
    * exchange. Both engines pick the identical click because the frame
    * order (ts, event_id) is total (§2.9 R5). */
  private def q145(spark: SparkSession, sfDir: String): DataFrame = {
    // delegates to the facade primitive (q120→pageRank convention): ONE
    // copy of the lookback-gated LOCF pick, oracle-verified through here
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    graft.Graft.lastTouchAttribution(ev, col("user_id"), col("ts_us"), col("event_id"),
        touch = col("event_type") === "click",
        conversion = col("event_type") === "purchase",
        lookback = 3600000000L /* 1 h in µs */)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("attributed_id").as("attributed_click"),
        col("gap").as("gap_us"),
        Tables.r6(col("value")).as("revenue"))
      .orderBy("event_id")
  }

  /** q146: user-journey mining — the frequency table of each user's
    * first-5-step event-type path (the product-analytics "top journeys"
    * report). Scale shape: rank-limit FIRST (row_number ≤ 5 inside the
    * user window — Spark's WindowGroupLimit prunes per partition before
    * the full sort materializes), so the collect_list that builds the
    * path holds ≤ 5 elements per user — never a whole heavy user's
    * history. Path order is total ((ts, event_id) tiebreak, §2.9 R5);
    * the final ordering ties broken by the journey string itself. */
  private def q146(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"),
        col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy("user_id")
      .agg(expr(
        "transform(sort_array(collect_list(struct(rn, event_type))), x -> x.event_type)")
        .as("steps"))
      .select(concat_ws(">", col("steps")).as("journey"))
      .groupBy("journey")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("journey"))
  }

  /** q171: sequential-pattern support mining — the support count of
    * every consecutive event-type transition a→b across user sequences
    * (the 2-step PrefixSpan/SPADE core): n_users = distinct users whose
    * stream contains the transition (the support measure), n_occ = total
    * occurrences. Distinct from q126 (ONE fixed 3-step pattern) and q146
    * (whole-path frequency): q171 mines ALL transitions with their
    * support.
    *
    * Scale: one per-user LEAD window (state = 1 row), one
    * (a,b)-cardinality-bounded aggregation; support ≥ 2 prunes the
    * long tail before the output sort. */
  private def q171(spark: SparkSession, sfDir: String): DataFrame =
    transitionSupportOf(Tables.events(spark, sfDir), col("user_id"), col("ts_us"),
        col("event_id"), col("event_type"), minSupport = 2)
      .withColumnRenamed("n_keys", "n_users")
      .orderBy(col("n_users").desc, col("step_a"), col("step_b"))

  /** The transition mining behind q171 AND
    * [[graft.Graft.transitionSupport]]. */
  private[graft] def transitionSupportOf(df: DataFrame, key: Column, time: Column,
      tiebreak: Column, step: Column, minSupport: Long): DataFrame = {
    val w = Window.partitionBy(key).orderBy(time, tiebreak)
    df.select(key.as("graft_k"), step.as("step_a"), lead(step, 1).over(w).as("step_b"))
      .filter(col("step_b").isNotNull)
      .groupBy("step_a", "step_b")
      .agg(countDistinct("graft_k").as("n_keys"), count(lit(1)).as("n_occ"))
      .filter(col("n_keys") >= minSupport)
  }

  /** q176: linear multi-touch attribution — each purchase splits credit
    * equally (1/k) across the user's clicks in the trailing 1-hour
    * window [t−1h, t] (closed on BOTH ends: Spark's RANGE PRECEDING is
    * inclusive, and so is DuckDB's — a click exactly 1 h before the
    * purchase counts); zero touches ⇒ organic. Completes the
    * attribution family: q145 last-touch picks ONE winner, q176 linear
    * spreads the credit (the two standard marketing models).
    *
    * Scale: one user-keyed RANGE-frame window (state bounded by the 1 h
    * span) — no purchases×clicks self-join; the frame count is the only
    * aggregation. */
  private def q176(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-usPerHour, 0)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"),
        count(when(col("event_type") === "click", 1)).over(w).as("n_touches"))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("n_touches"),
        when(col("n_touches") > 0,
          Tables.r6(lit(1.0) / col("n_touches"))).as("credit_each"),
        (col("n_touches") === 0).as("organic"))
      .orderBy("event_id")
  }

  /** q177: funnel time-to-convert — the latency distribution between
    * funnel stages (q86 counts WHO converts; q177 measures HOW FAST):
    * per step pair (click→view, view→purchase, click→purchase), the
    * completing-user count plus exact median and p90 gap via the bounded
    * two-pass quantile fold — never the builtin unbounded `percentile`.
    *
    * Scale: the per-user funnel frame (q86's three keyed min-joins) is
    * users-sized — far below event cardinality — and is checkpointed
    * once for the three step projections; the quantile passes run over
    * the bounded (step, gap) frame. */
  private def q177(spark: SparkSession, sfDir: String): DataFrame = {
    // r17 optimization (guide §2.3 "aggregate before you shuffle"): the
    // old shape built t_click/t_view/t_purchase as THREE user-keyed aggs
    // chained through two joins (each stage its own exchange + join).
    // One user-keyed aggregation now collects each user's view/purchase
    // events (the q146/q248 canonical per-user collect — bounded by
    // events/user) plus the first click, and the two conditional minima
    // derive in-row: t_view = min view ts > t_click, t_purchase = min
    // purchase ts > t_view — exactly the old join-filter-min semantics
    // (users without a click drop, as the old inner base did).
    val per = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_us"))
      .filter(col("event_type").isin("click", "view", "purchase"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "click", col("ts_us"))).as("t_click"),
        collect_list(when(col("event_type") =!= "click",
          struct(col("ts_us"), col("event_type")))).as("evs"))
      .filter(col("t_click").isNotNull)
    val funnel = per
      .withColumn("t_view", expr(
        "array_min(transform(filter(evs, " +
          "e -> e.event_type = 'view' AND e.ts_us > t_click), e -> e.ts_us))"))
      .withColumn("t_purchase", expr(
        "array_min(transform(filter(evs, " +
          "e -> e.event_type = 'purchase' AND e.ts_us > t_view), e -> e.ts_us))"))
      .select("user_id", "t_click", "t_view", "t_purchase")
      .transform(graft.plans.CorpusPin.pin) // users-sized; three step projections read it
    val gaps = Seq(
      ("click->view", col("t_view") - col("t_click")),
      ("view->purchase", col("t_purchase") - col("t_view")),
      ("click->purchase", col("t_purchase") - col("t_click")))
      .map { case (name, gap) =>
        funnel.filter(gap.isNotNull)
          .select(lit(name).as("step"), gap.cast("double").as("gap_us"))
      }.reduce(_ unionByName _)
    val qs = graft.plans.BoundedQuantiles.groupQuantiles(gaps, Seq("step"),
      col("gap_us"), Seq(0.5, 0.9), Seq("m", "p9"), pin = false)
    gaps.groupBy("step").agg(count(lit(1)).as("n_users"))
      .join(qs, "step")
      .select(col("step"), col("n_users"),
        Tables.r6(col("m")).as("median_us"), Tables.r6(col("p9")).as("p90_us"))
      .orderBy("step")
  }

  /** q189: Kaplan–Meier survival over time-to-conversion (Kaplan &
    * Meier, JASA 1958) — the right-censoring-aware answer to "how long
    * until a clicker purchases", which q177's naive gap quantiles get
    * WRONG whenever users haven't converted yet: dropping them biases
    * fast, counting them as converted biases slow; KM keeps them in the
    * risk set until their last observed day. Cohort = users with a
    * click; event = first purchase strictly after the first click;
    * censor time = the user's last observed event day. Emits the
    * classic risk table per duration day t — at-risk n, events d,
    * censored c — plus the log survival curve ln S(t) = Σ ln((n−d)/n),
    * NULL from the day the risk set dies out (S = 0, ln = −∞).
    *
    * Determinism: each factor ln((n−d)/n) is an int/int double division
    * through ln (q143's verified-parity recipe), r6-quantized, DECIMAL-
    * summed in day order (§2.9 R1); the d=n row and everything after is
    * masked via an integer running-max flag, identically on both
    * engines. Scale: the corpus collapses in THREE user-keyed aggs
    * (first click, first qualifying purchase, last event) joined
    * user-keyed; everything after lives on the calendar-bounded
    * duration frame (≤ #days rows — its global windows are the q23
    * bounded-frame exception). */
  private def q189(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_us"))
      .transform(graft.plans.CorpusPin.pin) // three cohort aggs ride one read
    val ck = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts_us").as("t_click"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(ck, "user_id").filter(col("ts_us") > col("t_click"))
      .groupBy("user_id").agg(min("ts_us").as("t_pur"))
    val la = ev.join(ck.select("user_id"), "user_id")
      .groupBy("user_id").agg(max("ts_us").as("t_last"))
    val dur = ck.join(pu, Seq("user_id"), "left").join(la, "user_id")
      .select(col("user_id"),
        when(col("t_pur").isNotNull, 1L).otherwise(0L).as("ev"),
        when(col("t_pur").isNotNull,
          expr(s"t_pur DIV $usPerDay - t_click DIV $usPerDay"))
          .otherwise(expr(s"t_last DIV $usPerDay - t_click DIV $usPerDay")).as("t"))
    kaplanMeierOf(dur)
  }

  /** The generic KM risk-table primitive behind q189, exposed as
    * [[graft.Graft.kaplanMeier]]: `dur` is one row per subject with
    * `ev` (1 = event observed, 0 = right-censored) and an integer
    * duration `t`. The duration frame is assumed bounded (time buckets,
    * not raw timestamps) — its global windows run on ≤ #buckets rows. */
  private[graft] def kaplanMeierOf(dur: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tbl = dur.groupBy("t")
      .agg(sum("ev").as("d"), sum(lit(1L) - col("ev")).as("c_cens"),
        count(lit(1)).as("leaving"))
    val wTail = Window.orderBy("t")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fac = tbl.withColumn("n_risk", sum("leaving").over(wTail))
      .withColumn("f", when(col("d") < col("n_risk"),
        Tables.r6(log((col("n_risk") - col("d")) / col("n_risk")))
          .cast(DecimalType(18, 6))))
      .withColumn("dead",
        max(when(col("d") === col("n_risk"), 1L).otherwise(0L)).over(wCum))
    fac.select(col("t"), col("n_risk"), col("d").as("d_events"),
        col("c_cens").as("c_censored"),
        when(col("dead") === 1L, lit(null).cast("double"))
          .otherwise(Tables.r6(sum("f").over(wCum).cast("double"))).as("ln_surv"))
      .orderBy("t")
  }

  /** q217: event-lateness audit — the measurement that SIZES a
    * watermark before anyone deploys one (q56–q59 APPLY watermarks;
    * q217 tells you what delay to pick): treating `event_id` as arrival
    * order, each event's lateness is how far it sits behind the maximum
    * event time already seen for its user (0 for in-order arrivals).
    * Per user: counts, max/p95-ish lateness (exact rank pick on the
    * bounded per-user frame via the same sweep as q206), and how many
    * rows a 10-minute watermark would have dropped.
    *
    * Scale: ONE user-keyed window over arrival order (running max —
    * constant state), then a keyed aggregation; the p95 pick reuses the
    * integer running-count sweep, never a percentile buffer (R7). */
  private def q217(spark: SparkSession, sfDir: String): DataFrame = {
    val usMin10 = 600000000L
    val arrival = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("hwm", max("ts_us").over(arrival))
      .select(col("user_id"), col("event_id"),
        greatest(coalesce(col("hwm") - col("ts_us"), lit(0L)), lit(0L)).as("late_us"))
    // exact p95 per user via the q206 integer sweep on the per-user frame
    val ord = Window.partitionBy("user_id").orderBy(col("late_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val part = Window.partitionBy("user_id")
    val p95 = late
      .withColumn("rnk", count(lit(1)).over(ord))
      .withColumn("n", count(lit(1)).over(part))
      .filter(col("rnk") * 100L >= col("n") * 95L)
      .groupBy("user_id")
      .agg(min(struct(col("late_us"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.late_us").as("p95_late_us"))
    late.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0L, 1L).otherwise(0L)).as("n_late"),
        max("late_us").as("max_late_us"),
        sum(when(col("late_us") > usMin10, 1L).otherwise(0L)).as("n_dropped_10m"))
      .join(p95, "user_id")
      .select(col("user_id"), col("n_events"), col("n_late"),
        col("max_late_us"), col("p95_late_us"), col("n_dropped_10m"))
      .orderBy("user_id")
  }

  /** q227: activity streaks — the gaps-and-islands idiom: per user, the
    * distinct active DAYS collapse into maximal consecutive runs via
    * the classic `day − row_number()` constant-per-island key, then per
    * user: active days, streak count, longest streak, and its start
    * day (earliest on ties). The retention/engagement "longest streak"
    * metric — a different axis than q94's µs-gap sessions (calendar
    * days, not event gaps) and q144's value backfill.
    *
    * Scale: one distinct (user, day) projection (map-side combinable),
    * a user-keyed row_number, two keyed aggs. The island key is pure
    * integer arithmetic — no window re-scan. */
  private def q227(spark: SparkSession, sfDir: String): DataFrame = {
    val usPerDay = 86400000000L
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"), expr(s"ts_us DIV $usPerDay").as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val islands = days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), min("day").as("start_day"))
    islands.groupBy("user_id")
      .agg(sum("len").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(struct(col("len"), (-col("start_day")).as("neg_start"))).as("m"))
      .select(col("user_id"), col("n_active_days"), col("n_streaks"),
        col("m.len").as("longest_streak"),
        (-col("m.neg_start")).as("longest_start_day"))
      .orderBy("user_id")
  }

  /** q241: trailing 7-day rolling DISTINCT users per day — the DAU/WAU
    * engagement curve. Distinct-over-a-sliding-window is the one rolling
    * metric the window-frame family (q23/q138/q155) cannot express:
    * COUNT(DISTINCT) OVER (RANGE ...) is unsupported on both engines,
    * and per-day distincts don't add across days. The distributed
    * formulation: collapse to DISTINCT (day, user) once (corpus →
    * active-pairs, the bounded frame), CONTRIBUTE each pair to the 7
    * window positions it covers (constant fan-out 7 on the bounded
    * frame, not the corpus), dedup (user may appear on several source
    * days inside one window), and count per target day. Emitted days
    * are restricted to days that exist in the data (semi-join against
    * the distinct day frame) so windows never extend past the series.
    *
    * Scale: the corpus collapses ONCE; everything after runs on
    * |active-pairs| ≤ users × days. At 100 TB the same shape holds —
    * and when even active-pairs is too big, the q111 HLL path replaces
    * exactness: daily sketches materialize once and ANY window is a
    * union of 7 sketches (the mergeability argument; SketchSuite's
    * merge identity). Both paths exist in the library; this query is
    * the exact one, hence oracle-checkable. */
  private def q241(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.events(spark, sfDir)
      .select(expr("ts_us DIV 86400000000").as("day"), col("user_id"))
      .distinct()
      .transform(graft.plans.CorpusPin.pin) // bounded active-pairs frame; both uses below
    val realDays = pairs.select("day").distinct()
    val daily = pairs.groupBy("day").agg(count(lit(1)).as("n_users_1d"))
    pairs
      .select(explode(sequence(lit(0L), lit(6L))).as("off"), col("day"), col("user_id"))
      .select((col("day") + col("off")).as("day"), col("user_id"))
      .distinct()
      .join(realDays, "day") // drop window positions past the series end
      .groupBy("day").agg(count(lit(1)).as("n_users_7d"))
      .join(daily, "day")
      .select("day", "n_users_1d", "n_users_7d")
      .orderBy("day")
  }

  /** Journey length cap and head size for q248. */
  private val JourneySteps = 5
  private val JourneyTop = 20

  /** q248: top user journeys — the most frequent session-opening
    * event-type paths (first 5 steps, '>'-joined) with session counts
    * and share of all sessions. The product-analytics "common paths"
    * view the funnel (q86) inverts: q86 checks ONE prescribed sequence,
    * q248 DISCOVERS which sequences actually happen. Sessions are the
    * q94/q227 convention — per user, a >30-minute µs gap opens a new
    * session (gaps-and-islands running flag-sum, constant window
    * state).
    *
    * Determinism: in-session order is the total (ts_us, event_id);
    * paths assemble via sort_array(collect_list(struct(...))) — the
    * repo's canonical order-insensitive collect (collect_list order is
    * undefined; the sort makes it irrelevant). Scale: everything keys
    * on user_id (ONE shuffle for sessionization + path build), the
    * path-count agg is vocabulary-bounded (≤ |types|^5 distinct paths),
    * and the head is a TakeOrdered. */
  private def q248(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val sessions = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("new_sess",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) > 1800000000L, 1L)
          .otherwise(lit(0L)))
      .withColumn("sess",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val paths = sessions
      .groupBy("user_id", "sess")
      .agg(expr("transform(sort_array(collect_list(" +
        "struct(ts_us, event_id, event_type))), s -> s.event_type)").as("steps"))
      .select(concat_ws(">", slice(col("steps"), 1, JourneySteps)).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .localCheckpoint(true) // path-vocabulary-bounded; head + total read it
    val total = paths.agg(sum(col("n_sessions")).as("t"))
    paths.crossJoin(broadcast(total))
      .select(col("path"), col("n_sessions"),
        Tables.r6(col("n_sessions").cast("double") / col("t").cast("double"))
          .as("share"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(JourneyTop)
  }

  val entries: Seq[Q] = Seq(
    Q("q248_journey_paths", q248 _, Some(
      "WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type " +
        "FROM events), " +
        "flagged AS (SELECT user_id, ts_us, event_id, event_type, " +
        "CASE WHEN ts_us - LAG(ts_us) OVER " +
        "(PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_sess FROM ev), " +
        "sess AS (SELECT user_id, ts_us, event_id, event_type, " +
        "SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM flagged), " +
        "paths AS (SELECT array_to_string(" +
        s"(list(event_type ORDER BY ts_us, event_id))[1:$JourneySteps], '>') AS path " +
        "FROM sess GROUP BY user_id, sess), " +
        "pc AS (SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path), " +
        "t AS (SELECT SUM(n_sessions) AS t FROM pc) " +
        "SELECT path, n_sessions, " +
        Tables.r6sql("CAST(n_sessions AS DOUBLE) / CAST(t AS DOUBLE)") + " AS share " +
        "FROM pc CROSS JOIN t " +
        s"ORDER BY n_sessions DESC, path LIMIT $JourneyTop")),
    Q("q260_retention_policy", q260 _, Some {
      val ttl = "CASE event_type " + retentionDays.map {
        case (t, d) => s"WHEN '$t' THEN $d" }.mkString(" ") + " END"
      s"WITH e AS (SELECT event_type, " +
        s"($retentionNowUs - epoch_us(ts)) // $usPerDay AS age_days, " +
        s"$ttl AS ttl_days FROM events), " +
        "a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(SUM(CASE WHEN age_days >= ttl_days THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_expired, CAST(MIN(ttl_days) AS BIGINT) AS retention_days " +
        "FROM e GROUP BY event_type) " +
        "SELECT event_type, n_rows, n_expired, " +
        "n_rows - n_expired AS n_retained, retention_days, " +
        Tables.r6sql("CAST(n_expired AS DOUBLE) / n_rows") + " AS expired_frac " +
        "FROM a ORDER BY event_type"
    }),
    Q("q250_join_stream_stream", q250 _, Some(
      "WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us " +
        "FROM events), " +
        "c AS (SELECT user_id, event_id AS click_id, ts_us AS c_ts FROM ev " +
        "WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, event_id AS purchase_id, ts_us AS p_ts FROM ev " +
        "WHERE event_type = 'purchase') " +
        "SELECT c.user_id, c.click_id, p.purchase_id, p.p_ts - c.c_ts AS lag_us " +
        s"FROM c JOIN p ON c.user_id = p.user_id AND c.c_ts >= p.p_ts - $usPerHour " +
        "AND c.c_ts < p.p_ts " +
        "ORDER BY c.user_id, click_id, purchase_id")),
    Q("q262_conversion_abandonment", q262 _, Some(
      "WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us " +
        "FROM events), " +
        "c AS (SELECT user_id, event_id AS click_id, ts_us AS c_ts FROM ev " +
        "WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, ts_us AS p_ts FROM ev " +
        "WHERE event_type = 'purchase'), " +
        "conv AS (SELECT DISTINCT c.user_id, c.click_id FROM c JOIN p " +
        "ON c.user_id = p.user_id AND p.p_ts > c.c_ts " +
        s"AND p.p_ts <= c.c_ts + $usPerHour), " +
        "pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_clicks " +
        "FROM c GROUP BY user_id), " +
        "cu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_converted " +
        "FROM conv GROUP BY user_id) " +
        "SELECT pu.user_id, n_clicks, " +
        "COALESCE(n_converted, 0) AS n_converted, " +
        "n_clicks - COALESCE(n_converted, 0) AS n_abandoned, " +
        Tables.r6sql("CAST(n_clicks - COALESCE(n_converted, 0) AS DOUBLE) / n_clicks") +
        " AS abandon_frac " +
        "FROM pu LEFT JOIN cu ON pu.user_id = cu.user_id ORDER BY pu.user_id")),
    Q("q241_rolling_distinct", q241 _, Some(
      "WITH pairs AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, " +
        "user_id FROM events), " +
        "rd AS (SELECT DISTINCT day FROM pairs), " +
        "daily AS (SELECT day, COUNT(*) AS n_users_1d FROM pairs GROUP BY day), " +
        "win AS (SELECT DISTINCT day + off AS day, user_id FROM pairs " +
        "CROSS JOIN (SELECT unnest(range(0, 7)) AS off)), " +
        "w7 AS (SELECT w.day, COUNT(*) AS n_users_7d FROM win w " +
        "JOIN rd ON w.day = rd.day GROUP BY w.day) " +
        "SELECT day, n_users_1d, n_users_7d FROM w7 JOIN daily USING (day) " +
        "ORDER BY day")),
    Q("q227_user_streaks", q227 _, Some(
      "WITH days AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day " +
        "FROM events), " +
        "isl AS (SELECT user_id, day - ROW_NUMBER() OVER " +
        "(PARTITION BY user_id ORDER BY day) AS grp, day FROM days), " +
        "runs AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len, " +
        "MIN(day) AS start_day FROM isl GROUP BY 1, 2), " +
        "r AS (SELECT user_id, runs.len, start_day, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY len DESC, start_day) AS rn, " +
        "SUM(len) OVER (PARTITION BY user_id) AS n_active_days, " +
        "COUNT(*) OVER (PARTITION BY user_id) AS n_streaks FROM runs) " +
        "SELECT user_id, CAST(n_active_days AS BIGINT) AS n_active_days, " +
        "CAST(n_streaks AS BIGINT) AS n_streaks, len AS longest_streak, " +
        "start_day AS longest_start_day " +
        "FROM r WHERE rn = 1 ORDER BY user_id")),
    Q("q217_lateness_audit", q217 _, Some(
      "WITH late AS (SELECT user_id, event_id, " +
        "GREATEST(COALESCE(MAX(epoch_us(ts)) OVER " +
        "(PARTITION BY user_id ORDER BY event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - epoch_us(ts), 0), 0) " +
        "AS late_us FROM events), " +
        "r AS (SELECT user_id, event_id, late_us, " +
        "COUNT(*) OVER (PARTITION BY user_id ORDER BY late_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rnk, " +
        "COUNT(*) OVER (PARTITION BY user_id) AS n FROM late), " +
        "p95 AS (SELECT user_id, MIN(late_us) AS p95_late_us FROM " +
        "(SELECT user_id, late_us, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY late_us, event_id) AS rn " +
        "FROM r WHERE rnk * 100 >= n * 95) WHERE rn = 1 GROUP BY user_id) " +
        "SELECT l.user_id, CAST(COUNT(*) AS BIGINT) AS n_events, " +
        "CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late, " +
        "CAST(MAX(late_us) AS BIGINT) AS max_late_us, " +
        "CAST(MAX(p95_late_us) AS BIGINT) AS p95_late_us, " +
        "CAST(SUM(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_dropped_10m " +
        "FROM late l JOIN p95 USING (user_id) " +
        "GROUP BY l.user_id ORDER BY l.user_id")),
    Q("q189_survival_km", q189 _, Some(
      "WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events), " +
        "ck AS (SELECT user_id, MIN(ts_us) AS t_click FROM ev WHERE event_type = 'click' GROUP BY user_id), " +
        "pu AS (SELECT ev.user_id, MIN(ts_us) AS t_pur FROM ev JOIN ck ON ev.user_id = ck.user_id " +
        "WHERE event_type = 'purchase' AND ts_us > t_click GROUP BY ev.user_id), " +
        "la AS (SELECT ev.user_id, MAX(ts_us) AS t_last FROM ev JOIN ck ON ev.user_id = ck.user_id " +
        "GROUP BY ev.user_id), " +
        "dur AS (SELECT ck.user_id, CASE WHEN t_pur IS NOT NULL THEN 1 ELSE 0 END AS ev, " +
        s"CASE WHEN t_pur IS NOT NULL THEN t_pur // $usPerDay - t_click // $usPerDay " +
        s"ELSE t_last // $usPerDay - t_click // $usPerDay END AS t " +
        "FROM ck LEFT JOIN pu ON ck.user_id = pu.user_id JOIN la ON ck.user_id = la.user_id), " +
        "tbl AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d, CAST(SUM(1 - ev) AS BIGINT) AS c_cens, " +
        "COUNT(*) AS leaving FROM dur GROUP BY t), " +
        "risk AS (SELECT t, d, c_cens, CAST(SUM(leaving) OVER " +
        "(ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk FROM tbl), " +
        "fac AS (SELECT t, d, c_cens, n_risk, " +
        "CASE WHEN d < n_risk THEN CAST(" + Tables.r6sql("ln((n_risk - d) / n_risk)") +
        " AS DECIMAL(18,6)) END AS f, " +
        "MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER " +
        "(ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead FROM risk) " +
        "SELECT t, n_risk, d AS d_events, c_cens AS c_censored, " +
        "CASE WHEN dead = 1 THEN NULL ELSE " +
        Tables.r6sql("CAST(SUM(f) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)") +
        " END AS ln_surv FROM fac ORDER BY t")),
    Q("q56_stream_tumbling", q56 _, Some(
      s"SELECT epoch_us(ts) // $usPerHour AS hour_bucket, event_type, COUNT(*) AS cnt, " +
        Tables.r6sql("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)") + " AS sum_value " +
        "FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type")),
    Q("q57_stream_sliding", q57 _, Some(
      s"SELECT (epoch_us(ts) // $usPer15Min) - i AS win_id, COUNT(*) AS cnt, " +
        Tables.r6sql("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)") + " AS sum_value " +
        "FROM events CROSS JOIN range(0, 4) r(i) GROUP BY 1 ORDER BY win_id")),
    Q("q58_stream_session", q58 _, Some(
      "SELECT user_id, event_id, ts_us, CAST(SUM(new_sess) OVER (PARTITION BY user_id " +
        "ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS session_id FROM (" +
        "SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "CASE WHEN LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL " +
        s"OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > ${usPer15Min * 2} " +
        "THEN 1 ELSE 0 END AS new_sess FROM events) " +
        "ORDER BY user_id, ts_us, event_id")),
    Q("q59_stream_dedup_late", q59 _, Some(
      s"SELECT user_id, minute_bucket, event_id, ts_us FROM (" +
        s"SELECT user_id, epoch_us(ts) // $usPerMinute AS minute_bucket, event_id, " +
        "epoch_us(ts) AS ts_us, ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts) // " +
        s"$usPerMinute ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events) " +
        "WHERE rn = 1 ORDER BY user_id, minute_bucket")),
    Q("q99_scd2_intervals", q99 _, Some(
      "WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events), " +
        "c AS (SELECT user_id, event_id, event_type, ts_us FROM (" +
        "SELECT user_id, event_id, event_type, ts_us, " +
        "LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type FROM e) " +
        "WHERE prev_type IS NULL OR prev_type <> event_type) " +
        "SELECT user_id, event_id AS change_id, event_type, ts_us AS valid_from, " +
        "LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to " +
        "FROM c ORDER BY user_id, valid_from, change_id")),
    Q("q94_session_window", q94 _, Some(
      "WITH e AS (SELECT user_id, epoch_us(ts) AS t, value FROM events), " +
        "s AS (SELECT user_id, t, value, CASE WHEN LAG(t) OVER w IS NULL " +
        s"OR t - LAG(t) OVER w >= ${usPer15Min * 2} THEN 1 ELSE 0 END AS ns " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)), " +
        "g AS (SELECT user_id, t, value, SUM(ns) OVER (PARTITION BY user_id ORDER BY t " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM s) " +
        s"SELECT user_id, MIN(t) AS sess_start_us, MAX(t) + ${usPer15Min * 2} AS sess_end_us, " +
        "COUNT(*) AS cnt, " +
        Tables.r6sql("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)") + " AS sum_value " +
        "FROM g GROUP BY user_id, sid ORDER BY user_id, sess_start_us")),
    Q("q86_funnel", q86 _, Some(
      "WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events), " +
        "c AS (SELECT user_id, MIN(ts_us) AS t_click FROM ev WHERE event_type = 'click' GROUP BY user_id), " +
        "v AS (SELECT ev.user_id, MIN(ts_us) AS t_view FROM ev JOIN c ON ev.user_id = c.user_id " +
        "WHERE event_type = 'view' AND ts_us > t_click GROUP BY ev.user_id), " +
        "p AS (SELECT ev.user_id, MIN(ts_us) AS t_purchase FROM ev JOIN v ON ev.user_id = v.user_id " +
        "WHERE event_type = 'purchase' AND ts_us > t_view GROUP BY ev.user_id) " +
        "SELECT c.user_id, t_click, t_view, t_purchase FROM c " +
        "LEFT JOIN v ON c.user_id = v.user_id LEFT JOIN p ON c.user_id = p.user_id " +
        "ORDER BY c.user_id")),
    Q("q87_gapfill", q87 _, Some(
      s"WITH agg AS (SELECT user_id, epoch_us(ts) // $usPerDay AS db, COUNT(*) AS cnt, " +
        Tables.r6sql("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)") + " AS day_value " +
        "FROM events GROUP BY 1, 2), " +
        "span AS (SELECT user_id, MIN(db) AS h0, MAX(db) AS h1 FROM agg GROUP BY user_id), " +
        "grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS db FROM span) " +
        "SELECT g.user_id, g.db, COALESCE(a.cnt, 0) AS cnt, " +
        "last_value(a.day_value IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.db " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value " +
        "FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.db = a.db " +
        "ORDER BY g.user_id, g.db")),
    Q("q107_join_time_bucket", q107 _, Some(
      "WITH ev AS (SELECT event_id, event_type, value, epoch_us(ts) AS ts_us FROM events), " +
        "p AS (SELECT event_id AS p_id, ts_us AS p_ts FROM ev WHERE event_type = 'purchase'), " +
        "c AS (SELECT value, ts_us AS c_ts FROM ev WHERE event_type = 'click'), " +
        "h AS (SELECT p_id, COUNT(*) AS n_clicks, " +
        Tables.r6sql("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)") + " AS click_value " +
        s"FROM p JOIN c ON c.c_ts > p.p_ts - $usPer10Min AND c.c_ts <= p.p_ts GROUP BY p_id) " +
        "SELECT p.p_id, CAST(COALESCE(h.n_clicks, 0) AS BIGINT) AS n_clicks, " +
        "COALESCE(h.click_value, 0.0) AS click_value " +
        "FROM p LEFT JOIN h USING (p_id) ORDER BY p_id")),
    Q("q108_win_sliding_distinct", q108 _, Some(
      s"WITH ub AS (SELECT DISTINCT user_id, epoch_us(ts) // $usPer10Min AS bkt FROM events), " +
        "w AS (SELECT user_id, unnest(range(bkt, bkt + 6)) AS wb FROM ub) " +
        "SELECT wb, COUNT(DISTINCT user_id) AS active_users FROM w GROUP BY wb ORDER BY wb")),
    Q("q119_ts_ohlc", q119 _, Some(
      s"WITH e AS (SELECT event_type, event_id, value, epoch_us(ts) AS ts_us, " +
        s"epoch_us(ts) // $usPerHour AS hour_bucket FROM events), " +
        "w AS (SELECT event_type, hour_bucket, value, " +
        "FIRST_VALUE(value) OVER wf AS open, LAST_VALUE(value) OVER wf AS close FROM e " +
        "WINDOW wf AS (PARTITION BY event_type, hour_bucket ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) " +
        "SELECT event_type, hour_bucket, MAX(open) AS open, MAX(value) AS high, " +
        "MIN(value) AS low, MAX(close) AS close, COUNT(*) AS n_events, " +
        Tables.r6sql("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)") + " AS volume " +
        "FROM w GROUP BY 1, 2 ORDER BY event_type, hour_bucket")),
    Q("q122_time_weighted_avg", q122 _, Some(
      "WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events), " +
        "d AS (SELECT user_id, value, " +
        "LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us AS dt_us, " +
        "ts_us FROM e), " +
        "g AS (SELECT user_id, COUNT(*) AS n_obs, MAX(ts_us) - MIN(ts_us) AS span_us, " +
        "SUM(CAST(value AS DECIMAL(18,4)) * dt_us) AS wsum FROM d GROUP BY user_id) " +
        "SELECT user_id, n_obs, " +
        Tables.r6sql("CAST(wsum AS DOUBLE) / span_us") + " AS twa " +
        "FROM g WHERE span_us > 0 ORDER BY user_id")),
    Q("q138_ts_anomaly", q138 _, Some {
      val meanT = Tables.r6sql("CAST(s1 AS DOUBLE) / n_trail")
      val varT = Tables.r6sql(
        "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_trail) / n_trail")
      s"WITH hourly AS (SELECT event_type, epoch_us(ts) // $usPerHour AS hb, COUNT(*) AS cnt " +
        "FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, hb, cnt, " +
        "COUNT(*) OVER w AS n_trail, SUM(cnt) OVER w AS s1, SUM(cnt * cnt) OVER w AS s2 " +
        "FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hb " +
        "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)), " +
        "scored AS (SELECT event_type, hb, cnt, n_trail, " +
        s"$meanT AS mean_t, " +
        s"CASE WHEN n_trail >= 12 AND $varT > 0 THEN " +
        Tables.r6sql(s"(cnt - $meanT) / SQRT($varT)") + " END AS z " +
        "FROM t) " +
        "SELECT event_type, hb, cnt, n_trail, mean_t, z, " +
        "COALESCE(ABS(z) > 2.0, false) AS anomalous " +
        "FROM scored ORDER BY event_type, hb"
    }),
    Q("q135_cohort_retention", q135 _, Some(
      s"WITH weeks AS (SELECT DISTINCT user_id, epoch_us(ts) // ${usPerDay * 7} AS week FROM events), " +
        "cohorts AS (SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY user_id) " +
        "SELECT cohort_week, week - cohort_week AS offset_weeks, " +
        "COUNT(DISTINCT w.user_id) AS active_users " +
        "FROM weeks w JOIN cohorts c ON w.user_id = c.user_id " +
        "GROUP BY 1, 2 ORDER BY cohort_week, offset_weeks")),
    Q("q126_event_pattern", q126 _, Some(
      "SELECT user_id, start_event, start_us, end_us, end_us - start_us AS span_us FROM (" +
        "SELECT user_id, event_id AS start_event, epoch_us(ts) AS start_us, event_type, " +
        "LEAD(event_type, 1) OVER w AS t1, LEAD(event_type, 2) OVER w AS t2, " +
        "LEAD(epoch_us(ts), 2) OVER w AS end_us " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) " +
        "WHERE event_type = 'click' AND t1 = 'view' AND t2 = 'purchase' " +
        "ORDER BY user_id, start_us, start_event")),
    Q("q144_ts_backfill", q144 _, Some(
      "SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        Tables.r6sql("LAST_VALUE(CASE WHEN event_type <> 'view' THEN value END IGNORE NULLS) " +
          "OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)") + " AS v_filled " +
        "FROM events ORDER BY event_id")),
    Q("q145_attribution_last_touch", q145 _, Some(
      "SELECT event_id, user_id, ts_us, " +
        "CASE WHEN ts_us - click_us <= 3600000000 THEN click_id END AS attributed_click, " +
        "CASE WHEN ts_us - click_us <= 3600000000 THEN ts_us - click_us END AS gap_us, " +
        Tables.r6sql("value") + " AS revenue FROM (" +
        "SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value, " +
        "LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS) OVER w AS click_id, " +
        "LAST_VALUE(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS) OVER w AS click_us " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "WHERE event_type = 'purchase' ORDER BY event_id")),
    Q("q146_user_journeys", q146 _, Some(
      "WITH ranked AS (SELECT user_id, event_type, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn " +
        "FROM events), " +
        "j AS (SELECT user_id, array_to_string(list(event_type ORDER BY rn), '>') AS journey " +
        "FROM ranked WHERE rn <= 5 GROUP BY user_id) " +
        "SELECT journey, COUNT(*) AS n_users FROM j GROUP BY journey " +
        "ORDER BY n_users DESC, journey")),
    Q("q171_seq_mining", q171 _, Some(
      "SELECT step_a, step_b, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_occ " +
        "FROM (SELECT user_id, event_type AS step_a, " +
        "LEAD(event_type, 1) OVER (PARTITION BY user_id " +
        "ORDER BY epoch_us(ts), event_id) AS step_b FROM events) " +
        "WHERE step_b IS NOT NULL GROUP BY step_a, step_b " +
        "HAVING COUNT(DISTINCT user_id) >= 2 " +
        "ORDER BY n_users DESC, step_a, step_b")),
    Q("q176_attribution_linear", q176 _, Some(
      "SELECT event_id, user_id, ts_us, n_touches, " +
        "CASE WHEN n_touches > 0 THEN " +
        Tables.r6sql("1.0 / n_touches") + " END AS credit_each, " +
        "n_touches = 0 AS organic FROM (" +
        "SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, " +
        "CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER (" +
        "PARTITION BY user_id ORDER BY epoch_us(ts) " +
        "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_touches " +
        "FROM events) WHERE event_type = 'purchase' ORDER BY event_id")),
    Q("q177_funnel_time", q177 _, Some(
      "WITH c AS MATERIALIZED (SELECT user_id, MIN(epoch_us(ts)) AS t_click " +
        "FROM events WHERE event_type = 'click' GROUP BY user_id), " +
        "v AS MATERIALIZED (SELECT e.user_id, MIN(epoch_us(ts)) AS t_view " +
        "FROM events e JOIN c ON e.user_id = c.user_id " +
        "WHERE event_type = 'view' AND epoch_us(ts) > t_click GROUP BY e.user_id), " +
        "p AS MATERIALIZED (SELECT e.user_id, MIN(epoch_us(ts)) AS t_purchase " +
        "FROM events e JOIN v ON e.user_id = v.user_id " +
        "WHERE event_type = 'purchase' AND epoch_us(ts) > t_view GROUP BY e.user_id), " +
        "funnel AS MATERIALIZED (SELECT c.user_id, t_click, t_view, t_purchase " +
        "FROM c LEFT JOIN v ON c.user_id = v.user_id " +
        "LEFT JOIN p ON c.user_id = p.user_id), " +
        "gaps AS (SELECT 'click->view' AS step, CAST(t_view - t_click AS DOUBLE) AS gap_us " +
        "FROM funnel WHERE t_view IS NOT NULL " +
        "UNION ALL SELECT 'view->purchase', CAST(t_purchase - t_view AS DOUBLE) " +
        "FROM funnel WHERE t_purchase IS NOT NULL " +
        "UNION ALL SELECT 'click->purchase', CAST(t_purchase - t_click AS DOUBLE) " +
        "FROM funnel WHERE t_purchase IS NOT NULL AND t_click IS NOT NULL) " +
        "SELECT step, COUNT(*) AS n_users, " +
        Tables.r6sql("quantile_cont(gap_us, 0.5)") + " AS median_us, " +
        Tables.r6sql("quantile_cont(gap_us, 0.9)") + " AS p90_us " +
        "FROM gaps GROUP BY step ORDER BY step")),
  )
}
