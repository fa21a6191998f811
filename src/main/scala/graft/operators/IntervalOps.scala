package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval analytics (SURVEY.md §2.8b continuation): concurrency
  * histograms, interval-union coverage, and nearest-event temporal
  * matching — the sweep-line family that sits between the point-bucket
  * windows (q56–q58) and the validity-window join (q194). These answer
  * "how many things were active at once", "how much wall-clock was
  * covered", and "what is the closest neighbouring event", none of which
  * a tumbling/session window expresses.
  *
  * All time math is integer µs on `Tables.events.ts_us` (§1.2 ⚠ /
  * §2.9 R3); every ORDER BY carries a unique tiebreak (R5).
  */
object IntervalOps {

  private val UsPerHour = 3600000000L
  private val UsPerDay = 86400000000L

  /** q199: hourly concurrency histogram — how many per-(user, day)
    * activity intervals overlap each hour of the month. The sweep-line
    * question behind capacity planning ("peak concurrent sessions"),
    * answered scale-safely: each interval explodes to its covered hour
    * buckets, which is BOUNDED fan-out (≤24 per user-day by
    * construction), then one hour-keyed count. Never an interval×hour
    * range join.
    *
    * Scale: one (user, day) aggregation collapses the corpus; the
    * explode emits ≤24 rows per interval; the final count is a bounded
    * calendar-keyed shuffle with map-side combine. */
  private def q199(spark: SparkSession, sfDir: String): DataFrame = {
    val iv = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), expr(s"ts_us DIV $UsPerDay").as("day"))
      .agg(min("ts_us").as("s_us"), max("ts_us").as("e_us"))
    iv.select(explode(expr(s"sequence(s_us DIV $UsPerHour, e_us DIV $UsPerHour)"))
        .as("hour_bucket"))
      .groupBy("hour_bucket").agg(count(lit(1)).as("n_active"))
      .orderBy("hour_bucket")
  }

  /** q200: interval union / covered time per user — the ≤5 per-(user,
    * event_type) activity intervals merged into maximal disjoint blocks
    * (classic cummax sweep: a block starts where the start exceeds the
    * running max of all earlier ends), reporting block count and total
    * covered µs. The uptime/SLA primitive: overlapping sources must not
    * double-count covered time.
    *
    * Scale: one (user, type) aggregation collapses the corpus to ≤5
    * rows per user; the sweep windows are user-keyed (no global sort);
    * everything downstream is keyed aggregation on that bounded frame. */
  private def q200(spark: SparkSession, sfDir: String): DataFrame =
    intervalUnionOf(Tables.events(spark, sfDir)
        .groupBy(col("user_id").as("key"), col("event_type").as("tie"))
        .agg(min("ts_us").as("s"), max("ts_us").as("e")))
      .select(col("key").as("user_id"), col("n_blocks"), col("covered").as("covered_us"))
      .orderBy("user_id")

  /** The interval-union sweep behind q200 AND
    * [[graft.Graft.intervalUnion]]. */
  private[graft] def intervalUnionOf(iv: DataFrame): DataFrame = {
    val ord = Window.partitionBy("key").orderBy(col("s"), col("tie"))
    val prevMaxE = max("e").over(ord.rowsBetween(Window.unboundedPreceding, -1))
    iv.withColumn("graft_new",
        when(prevMaxE.isNull || col("s") > prevMaxE, 1L).otherwise(0L))
      .withColumn("graft_blk", sum("graft_new")
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("key", "graft_blk")
      .agg(min("s").as("graft_bs"), max("e").as("graft_be"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("graft_be") - col("graft_bs")).as("covered"))
  }

  /** q202: nearest-event temporal match — for every `error` event, the
    * nearest `purchase` by the SAME user within ±1 hour (tie → the
    * earlier purchase), or NULL when none is in tolerance. The
    * bidirectional completion of q10's backward as-of: root-cause
    * triage wants the closest neighbour in either direction, and a
    * coverage gap must stay unmatched (q194's no-fabrication rule).
    *
    * Plan: ONE user-keyed window shuffle — the last preceding and first
    * following purchase (ts, id) carry via IGNORE NULLS last_value /
    * first_value over the same sort, then a per-row pick of the nearer
    * side. No self-join, no range join. */
  private def q202(spark: SparkSession, sfDir: String): DataFrame = {
    val tagged = Tables.events(spark, sfDir)
      .select(col("user_id").as("key"), col("ts_us").as("t"), col("event_id").as("id"),
        when(col("event_type") === "error", 1L)
          .when(col("event_type") === "purchase", 0L).as("graft_probe"))
    // same-time rows order by event id, as the oracle's (ts, event_id) sort
    nearestMatchOf(tagged, Seq(col("id")), UsPerHour)
      .select(col("key").as("user_id"), col("id").as("event_id"), col("t").as("ts_us"),
        col("match_id"), col("gap").as("gap_us"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** The nearest-candidate match behind q202 AND
    * [[graft.Graft.nearestMatch]]. `tagged` carries (key, t, id,
    * graft_probe): 1 marks a probe, 0 a candidate, NULL a row that is
    * neither. Within a key, rows sort by t and then `tieOrder`; the last
    * preceding and first following candidate (t, id) carry via IGNORE
    * NULLS last/first over that sort, and each probe takes the nearer
    * side within ±`tolerance` (equal distance → the preceding one), else
    * NULL. Returns (key, id, t, match_id, gap) per probe. */
  private[graft] def nearestMatchOf(tagged: DataFrame, tieOrder: Seq[Column],
      tolerance: Long): DataFrame = {
    require(tolerance >= 0, s"nearestMatch: tolerance $tolerance must be non-negative")
    val ord = Window.partitionBy("key").orderBy(col("t") +: tieOrder: _*)
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val isC = col("graft_probe") === 0L
    val withN = tagged
      .withColumn("graft_pts", last(when(isC, col("t")), ignoreNulls = true).over(back))
      .withColumn("graft_pid", last(when(isC, col("id")), ignoreNulls = true).over(back))
      .withColumn("graft_nts", first(when(isC, col("t")), ignoreNulls = true).over(fwd))
      .withColumn("graft_nid", first(when(isC, col("id")), ignoreNulls = true).over(fwd))
      .filter(col("graft_probe") === 1L)
    val dPrev = when(col("graft_pts").isNotNull, col("t") - col("graft_pts"))
    val dNext = when(col("graft_nts").isNotNull, col("graft_nts") - col("t"))
    val inPrev = dPrev.isNotNull && dPrev <= tolerance
    val inNext = dNext.isNotNull && dNext <= tolerance
    val takePrev = inPrev && (!inNext || dPrev <= dNext)
    withN.select(col("key"), col("id"), col("t"),
      when(takePrev, col("graft_pid")).otherwise(when(inNext, col("graft_nid")))
        .as("match_id"),
      when(takePrev, -dPrev).otherwise(when(inNext, dNext)).as("gap"))
  }

  /** q207: interval-overlap JOIN — every (user, day) activity interval
    * paired with every overlapping (user, event_type) interval of the
    * same user, with the overlap length. The two-sided completion of the
    * family: q199 counts intervals against a fixed grid, q200 merges one
    * set, q207 joins two sets — the shape of "which maintenance windows
    * intersected which user sessions".
    *
    * Scale: the classic bucketed interval join — NO inequality/range
    * join ever reaches the planner. The day-bounded side (A ⊆ one day by
    * construction) keys directly by (user, day); the spanning side
    * explodes to its covered day buckets (bounded ≤31 in the events
    * month, and generally by span/bucket); overlap then implies sharing
    * A's day bucket, so an EQUI-join on (user, day) finds exactly the
    * candidate pairs and a per-row filter keeps true overlaps. A is
    * unique per (user, day) and B's explode emits distinct days, so no
    * dedup pass is needed. */
  private def q207(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val a = ev.groupBy(col("user_id"), expr(s"ts_us DIV $UsPerDay").as("day"))
      .agg(min("ts_us").as("a_s"), max("ts_us").as("a_e"))
    val b = ev.groupBy(col("user_id").as("ub"), col("event_type"))
      .agg(min("ts_us").as("b_s"), max("ts_us").as("b_e"))
      .select(col("ub"), col("event_type"), col("b_s"), col("b_e"),
        explode(expr(s"sequence(b_s DIV $UsPerDay, b_e DIV $UsPerDay)")).as("day"))
    a.join(b, col("user_id") === col("ub") && a("day") === b("day"))
      .filter(col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
      .select(col("user_id"), a("day").as("day"), col("event_type"),
        (least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
          .as("overlap_us"))
      .orderBy("user_id", "day", "event_type")
  }

  val entries: Seq[Q] = Seq(
    Q("q199_interval_coverage", q199 _, Some(
      s"WITH iv AS (SELECT user_id, epoch_us(ts) // $UsPerDay AS day, " +
        "MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us " +
        "FROM events GROUP BY 1, 2) " +
        s"SELECT hour_bucket, CAST(COUNT(*) AS BIGINT) AS n_active FROM " +
        s"(SELECT UNNEST(generate_series(s_us // $UsPerHour, e_us // $UsPerHour)) " +
        "AS hour_bucket FROM iv) GROUP BY 1 ORDER BY hour_bucket")),
    Q("q200_interval_union", q200 _, Some(
      "WITH iv AS (SELECT user_id, event_type, MIN(epoch_us(ts)) AS s_us, " +
        "MAX(epoch_us(ts)) AS e_us FROM events GROUP BY 1, 2), " +
        "swept AS (SELECT user_id, event_type, s_us, e_us, " +
        "CASE WHEN MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_type " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL " +
        "OR s_us > MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_type " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1 ELSE 0 END AS new_blk " +
        "FROM iv), " +
        "blk AS (SELECT user_id, s_us, e_us, " +
        "SUM(new_blk) OVER (PARTITION BY user_id ORDER BY s_us, event_type " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS blk FROM swept), " +
        "merged AS (SELECT user_id, blk, MIN(s_us) AS bs, MAX(e_us) AS be " +
        "FROM blk GROUP BY 1, 2) " +
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_blocks, " +
        "CAST(SUM(be - bs) AS BIGINT) AS covered_us " +
        "FROM merged GROUP BY user_id ORDER BY user_id")),
    Q("q207_join_interval_overlap", q207 _, Some(
      // the oracle states the SEMANTICS directly as an inequality join;
      // the Spark plan reaches the same pairs via the bucketed equi-join
      s"WITH a AS (SELECT user_id, epoch_us(ts) // $UsPerDay AS day, " +
        "MIN(epoch_us(ts)) AS a_s, MAX(epoch_us(ts)) AS a_e " +
        "FROM events GROUP BY 1, 2), " +
        "b AS (SELECT user_id, event_type, MIN(epoch_us(ts)) AS b_s, " +
        "MAX(epoch_us(ts)) AS b_e FROM events GROUP BY 1, 2) " +
        "SELECT a.user_id, a.day, b.event_type, " +
        "LEAST(a_e, b_e) - GREATEST(a_s, b_s) AS overlap_us " +
        "FROM a JOIN b ON a.user_id = b.user_id " +
        "WHERE a_s <= b_e AND b_s <= a_e " +
        "ORDER BY a.user_id, a.day, b.event_type")),
    Q("q202_join_nearest", q202 _, Some(
      "WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type " +
        "FROM events), " +
        "n AS (SELECT user_id, event_id, ts_us, event_type, " +
        "LAST_VALUE(CASE WHEN event_type = 'purchase' THEN ts_us END IGNORE NULLS) " +
        "OVER wb AS p_ts, " +
        "LAST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS) " +
        "OVER wb AS p_id, " +
        "FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN ts_us END IGNORE NULLS) " +
        "OVER wf AS n_ts, " +
        "FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS) " +
        "OVER wf AS n_id " +
        "FROM ev WINDOW " +
        "wb AS (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wf AS (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "SELECT user_id, event_id, ts_us, " +
        "CASE WHEN p_ts IS NOT NULL AND ts_us - p_ts <= 3600000000 " +
        "AND (n_ts IS NULL OR n_ts - ts_us > 3600000000 OR ts_us - p_ts <= n_ts - ts_us) " +
        "THEN p_id WHEN n_ts IS NOT NULL AND n_ts - ts_us <= 3600000000 THEN n_id END " +
        "AS match_id, " +
        "CASE WHEN p_ts IS NOT NULL AND ts_us - p_ts <= 3600000000 " +
        "AND (n_ts IS NULL OR n_ts - ts_us > 3600000000 OR ts_us - p_ts <= n_ts - ts_us) " +
        "THEN -(ts_us - p_ts) WHEN n_ts IS NOT NULL AND n_ts - ts_us <= 3600000000 " +
        "THEN n_ts - ts_us END AS gap_us " +
        "FROM n WHERE event_type = 'error' ORDER BY user_id, ts_us, event_id")))
}
