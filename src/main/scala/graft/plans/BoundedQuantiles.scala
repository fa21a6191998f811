package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded-state exact quantiles — the two-pass bucketed-selection plan
  * that replaces `percentile(...)` wherever the group is unbounded
  * (global or near-global folds over high-distinct numeric columns).
  *
  * Why: Spark's exact `percentile` is a TypedImperativeAggregate that
  * buffers a counts-map of EVERY distinct value in the group. Over a
  * double-typed money column distincts ≈ rows, so a single-group
  * percentile is an executor OOM at 100× data — the one aggregation
  * shape in the suite that did not survive scale review (VERDICT r4 §1).
  *
  * Plan (all bounded state, all ordinary hash aggregates):
  *   locate  per-group (count, min, max), histogram over `buckets`
  *           equi-width bins (≤ groups×buckets rows), and a
  *           ≤`buckets`-row running sum per group that locates the bin
  *           holding each target order statistic — ONE job whose pinned
  *           result (`located`) is groups×|ps|×2 rows and carries the
  *           group range stats along as columns
  *   select  re-scan restricted to the target bins (a `1/buckets`
  *           fraction of rows), exact rank selection among the bin's
  *           distinct values
  * The widest aggregate state anywhere is one histogram / one bin's
  * distinct-value counts — bounded by `buckets` and the bin occupancy,
  * never by group cardinality. The input is scanned three times (range
  * stats, histogram, selection): callers with an expensive upstream
  * checkpoint it first (q136/q137/q139 do), while q19 relies on
  * ReuseExchange to materialize its join shuffles once — the
  * scan-count-for-bounded-memory trade is exactly what a 100 TB
  * deployment wants, since a re-scan is cheap and an OOM is not.
  *
  * Barrier budget (r8, VERDICT r7 item 2; reworked r18): the r7 layout
  * eagerly checkpointed `stats`, `hist`, and the result — three blocking
  * driver round-trips per call, ≈13 s of fixed overhead across the
  * family's 8 consumers at sf0.1. r8 cut that to one eager `located`
  * checkpoint feeding THREE separate broadcast builds (group stats,
  * target-bin list, rank targets) — 6-7 driver jobs per call. r18 cuts
  * pass 2 to ONE broadcast of `located` itself (guide §1.2-1/§2.4):
  * `located` carries (mn, mx) so every probe row can recompute its bin
  * in-row against its group's ≤2|ps| rank-target rows and keep only
  * target-bin matches — the three broadcast joins collapse into one,
  * and the selection aggregation+window share one exchange (repartition
  * by (group, pi, side), both downstream distributions satisfied). With
  * a single consumer the checkpoint goes LAZY (localCheckpoint(false)
  * — still a LogicalRDD leaf, so the self-join-dedup guard below
  * holds): the locate work materializes inside the one broadcast build
  * instead of its own blocking job. 3-4 driver jobs per call, same 3
  * input scans, bit-identical output. (The r8 measurement that
  * fully-lazy PERSIST variants lose — plan-tree duplication recomputing
  * the corpus scan across concurrent cold-cache stages — doesn't apply:
  * a lazy local checkpoint still truncates the plan to one shared RDD,
  * and the single broadcast is the only consumer that can race.)
  *
  * Exactness: the final interpolation replicates Spark's
  * `Percentile.getPercentile` IEEE-op-for-IEEE-op — position =
  * (n−1)·p, lower/higher keys at ranks ⌊pos⌋+1/⌈pos⌉+1, special cases
  * for integral position and equal keys, then
  * (higher−pos)·vlo + (pos−lower)·vhi — so results are bit-identical to
  * the builtin (PropertySuite checks exact equality on random corpora)
  * and the established percentile/quantile_cont oracle parity carries
  * over unchanged.
  */
object BoundedQuantiles {

  /** Exact `percentile(value, ps)` per group of `groupCols` (empty ⇒ one
    * global group), emitted as double columns named `outNames`. Groups
    * with no non-null value are absent from the output (the four
    * production call sites never produce one). `value` must be numeric;
    * longs beyond ±2^53 would lose order under the double cast.
    *
    * PRECONDITION: if `df`'s plan contains a self-join, checkpoint it
    * first. The passes here re-join `df` against aggregates derived from
    * its own plan; Spark's self-join attribute dedup can then remap the
    * inner self-join's two relation instances onto one attribute set in
    * the derived copy (q267 hit this as d2−day → day−day = 0 under ANSI).
    * A localCheckpoint truncates the shared lineage and removes the
    * ambiguity — and is what the 3-scan design wants anyway when the
    * upstream is a join. */
  def groupQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      ps: Seq[Double],
      outNames: Seq[String],
      buckets: Int = 4096,
      pin: Boolean = true): DataFrame = {
    require(ps.length == outNames.length, "one output name per percentile")
    val parts = build(df, groupCols, value, ps, buckets)
    val gc = parts.g.map(col)

    // pass 2 (r18 single-broadcast form): every probe row joins its
    // group's ≤2|ps| rank-target rows (the ONE broadcast — `located`
    // carries mn/mx), recomputes its bin with the identical expression
    // the locate pass used, and survives only when it lands in that
    // target's bin. Ties then group by value BEFORE the window so the
    // in-bin sort state is distinct-values-per-target, not rows-per-bin
    // (money columns are tie-heavy); the explicit repartition by
    // (group, pi, side) serves BOTH the value-count aggregation (its
    // keys are a superset) and the cumulative window — one exchange.
    val selRows = parts.base.join(broadcast(parts.located), parts.g)
      .filter(binCol(buckets) === col("graft_b"))
    val wv = Window.partitionBy(
      (gc :+ col("graft_pi") :+ col("graft_side")): _*).orderBy("graft_v")
    val vcum = selRows
      .repartition((gc :+ col("graft_pi") :+ col("graft_side")): _*)
      .groupBy((gc :+ col("graft_pi") :+ col("graft_side")
        :+ col("graft_pos") :+ col("graft_k") :+ col("graft_v")): _*)
      .agg(count(lit(1)).as("graft_vc"))
      .withColumn("graft_vend", sum("graft_vc").over(wv))
      .withColumn("graft_vstart", col("graft_vend") - col("graft_vc"))

    // one fused conditional aggregate replaces r7's groupBy(g, pi) →
    // groupBy(g) pair: each percentile i contributes three slots (pos,
    // vlo, vhi); the interpolation arithmetic then runs per-slot in the
    // projection below. max() over the when()-gated slots is exact: every
    // matching row carries the same pos, and vlo/vhi are single-valued
    // per (group, pi, side) by construction.
    val sel = vcum
      .filter(col("graft_k") > col("graft_vstart") && col("graft_k") <= col("graft_vend"))
    def slot(i: Int, side: Int): Column =
      max(when(col("graft_pi") === i && col("graft_side") === side, col("graft_v")))
    val slotAggs = outNames.indices.flatMap { i =>
      Seq(max(when(col("graft_pi") === i, col("graft_pos"))).as(s"graft_pos$i"),
        slot(i, 0).as(s"graft_vlo$i"),
        slot(i, 1).as(s"graft_vhi$i"))
    }
    val folded = sel.groupBy(gc: _*).agg(slotAggs.head, slotAggs.tail: _*)

    // Spark's Percentile.getPercentile, as Column arithmetic: the two
    // short-circuit cases return the lower key directly (the interpolated
    // form is NOT bit-equal to it — (h−pos)+(pos−l) need not be 1.0).
    def qOf(i: Int): Column = {
      val pos = col(s"graft_pos$i")
      val vlo = col(s"graft_vlo$i"); val vhi = col(s"graft_vhi$i")
      when(ceil(pos) === floor(pos), vlo)
        .when(vhi === vlo, vlo)
        .otherwise(
          (ceil(pos).cast("double") - pos) * vlo +
            (pos - floor(pos).cast("double")) * vhi)
    }
    // the result is #groups × |ps| — bounded. Checkpointed (pin=true, the
    // default) so callers that fan the cuts into a downstream corpus pass
    // (q142 binning, q174 fences, q175 deciles, q137 scoring) read a
    // pinned RDD instead of replanning the whole two-pass dag inside
    // their own plan. Callers that consume the result EXACTLY ONCE
    // (q19's direct output, q139/q177's single broadcast join, q136's
    // single 1-row broadcast) pass pin=false and skip the second
    // blocking barrier — the r9 measurement: ~0.2–0.3 s of fixed driver
    // round-trip per call, with no replanning risk at one reference.
    val out = folded
      .select((gc ++ outNames.zipWithIndex.map { case (nm, i) => qOf(i).as(nm) }): _*)
    val pinned = if (pin) out.localCheckpoint(true) else out
    if (groupCols.nonEmpty) pinned else pinned.drop("graft_g")
  }

  /** Boundedness instrumentation for tests: (max histogram bins held by
    * any group, pass 2's probe-row × rank-target matches). The first is
    * the widest aggregate/window state the locate pass can see; the
    * second bounds pass 2's selection output — both must stay ≪ group
    * cardinality on a high-distinct corpus (ScalePathSuite asserts it). */
  private[graft] def stateFootprint(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      ps: Seq[Double],
      buckets: Int = 4096): (Long, Long) = {
    val parts = build(df, groupCols, value, ps, buckets)
    val maxBins = parts.hist.groupBy(parts.g.map(col): _*)
      .agg(count(lit(1)).as("graft_nb"))
      .agg(max("graft_nb")).collect()(0).getLong(0)
    // pass-2 match count: probe-row × rank-target matches (a probe row
    // in a bin holding k targets counts k times; each target's bin holds
    // ≤ a 1/buckets-ish fraction of its group)
    val pass2Rows = parts.base.join(broadcast(parts.located), parts.g)
      .filter(binCol(buckets) === col("graft_b")).count()
    (maxBins, pass2Rows)
  }

  /** The shared locate pass: the null-filtered probe frame, the
    * histogram (test instrumentation), and the lazily-pinned rank
    * targets — (group, mn, mx, bin, pi, pos, side, k), ≤ groups×|ps|×2
    * rows — pass 2's one broadcast. */
  private final case class Parts(
      g: Seq[String],
      base: DataFrame,
      hist: DataFrame,
      located: DataFrame)

  /** Equi-width bin of `graft_v` over [graft_mn, graft_mx] — monotone in
    * v (so bin-cumulative counts compose with in-bin ranks into global
    * order statistics); clamped against FP edge effects at the range
    * ends, degenerate range ⇒ bin 0. A pure expression over whatever
    * frame carries those three columns: the locate pass evaluates it
    * against the stats broadcast, pass 2 against the located broadcast —
    * same doubles in, same bin out. */
  private def binCol(buckets: Int): Column =
    when(col("graft_mx") === col("graft_mn"), lit(0L))
      .otherwise(least(greatest(floor(
        (col("graft_v") - col("graft_mn")) /
          ((col("graft_mx") - col("graft_mn")) / lit(buckets.toDouble))),
        lit(0L)), lit((buckets - 1).toLong)))

  private def build(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      ps: Seq[Double],
      buckets: Int): Parts = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "percentiles must lie in [0, 1]")
    require(buckets >= 2, "need at least 2 buckets")
    require(groupCols.forall(c => !c.startsWith("graft_")),
      "group columns must not carry the reserved graft_ prefix")
    val g = if (groupCols.nonEmpty) groupCols else Seq("graft_g")
    val gc = g.map(col)
    val base0 = df
      .select(groupCols.map(col) :+ value.cast("double").as("graft_v"): _*)
      .filter(col("graft_v").isNotNull)
    val base = if (groupCols.nonEmpty) base0 else base0.withColumn("graft_g", lit(0))

    // per-group stats (tiny). NOT individually checkpointed (r8): both of
    // its consumers — the bin expression's broadcast and the rank-target
    // explode — live inside the ONE locate plan below, where ReuseExchange
    // dedupes the stats shuffle, so the map-side corpus scan runs once.
    // Pass 2 never touches this plan again: the range stats ride along as
    // columns on the pinned `located` frame.
    val stats = base.groupBy(gc: _*)
      .agg(count(lit(1)).as("graft_n"),
        min("graft_v").as("graft_mn"), max("graft_v").as("graft_mx"))
    val hist = base.join(broadcast(stats), g)
      .withColumn("graft_b", binCol(buckets))
      .groupBy((gc :+ col("graft_b")): _*)
      .agg(count(lit(1)).as("graft_bc"))
    val wb = Window.partitionBy(gc: _*).orderBy("graft_b")
    val cum = hist
      .withColumn("graft_cend", sum("graft_bc").over(wb))
      .withColumn("graft_cstart", col("graft_cend") - col("graft_bc"))

    // the 0-based order statistics each p needs: ranks ⌊pos⌋+1 and ⌈pos⌉+1
    val pstructs = ps.zipWithIndex.map { case (p, i) =>
      struct(lit(i).as("graft_pi"),
        ((col("graft_n") - lit(1L)).cast("double") * lit(p)).as("graft_pos"))
    }
    val statCols = Seq(col("graft_mn"), col("graft_mx"))
    val ranks = stats
      .select((gc ++ statCols :+ explode(array(pstructs: _*)).as("graft_s")): _*)
      .select((gc ++ statCols :+ col("graft_s.graft_pi").as("graft_pi")
        :+ col("graft_s.graft_pos").as("graft_pos")): _*)
      .select((gc ++ statCols :+ col("graft_pi") :+ col("graft_pos") :+ explode(array(
        struct(lit(0).as("graft_side"), (floor(col("graft_pos")) + lit(1L)).as("graft_rank")),
        struct(lit(1).as("graft_side"), (ceil(col("graft_pos")) + lit(1L)).as("graft_rank"))))
        .as("graft_t")): _*)
      .select((gc ++ statCols :+ col("graft_pi") :+ col("graft_pos")
        :+ col("graft_t.graft_side").as("graft_side")
        :+ col("graft_t.graft_rank").as("graft_rank")): _*)

    // locate the bin holding each rank; residual rank inside the bin.
    // groups×|ps|×2 rows, carrying (mn, mx) so pass 2 can rebuild the
    // bin expression without replanning (or re-running) anything
    // upstream. LAZY local checkpoint (r18): the plan is truncated to a
    // LogicalRDD leaf immediately — the self-join attribute-dedup guard
    // pass 2 relies on — but the locate work itself materializes inside
    // its single consumer, the pass-2 broadcast build, instead of a
    // separate blocking driver job.
    val located = ranks.join(cum, g)
      .filter(col("graft_rank") > col("graft_cstart") &&
        col("graft_rank") <= col("graft_cend"))
      .withColumn("graft_k", col("graft_rank") - col("graft_cstart"))
      .select((gc ++ statCols :+ col("graft_b") :+ col("graft_pi")
        :+ col("graft_pos") :+ col("graft_side") :+ col("graft_k")): _*)
      .localCheckpoint(false)
    Parts(g, base, hist, located)
  }
}
