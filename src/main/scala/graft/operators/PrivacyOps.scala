package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Privacy-engineering depth beyond the q35–q48 transform family
  * (SURVEY.md §2.7/§2.8b): the generalization-LATTICE search that picks
  * the q140 pipeline's levels (Samarati, PODS 1998 / Sweeney 2002 —
  * the core algorithm of the anonymization-ETL domain), user-level
  * differential privacy with contribution bounding (Dwork et al. 2006;
  * the histogram mechanism real systems deploy when one user has
  * unbounded activity), and the linkage-attack re-identification audit
  * (Sweeney's Weld re-identification — the attack model k-anonymity
  * exists to defeat).
  *
  * Scale notes: the lattice search pre-aggregates the corpus ONCE to
  * finest-granularity cells (QI-cardinality bounded), then evaluates
  * every lattice node by rolling up the bounded cell frame — the 100 TB
  * table never rescans per node. The DP histogram shuffles one distinct
  * projection; the linkage audit is an explode-≤2× equi-join, never a
  * range join over the corpus.
  */
object PrivacyOps {

  /** Generalization hierarchies over the customer QIs (FIXTURES.md §
    * anonymization-fixture roles):
    *   nation:  0 = nationkey, 1 = region name, 2 = '*'   (3 levels)
    *   acctbal: 0 = width-500 bin, 1 = width-2000 bin, 2 = '*' (3 levels)
    *   segment: 0 = mktsegment, 1 = '*'                   (2 levels)
    * Levels nest (2000 = 4·500; nested floor-div is exact for negatives
    * too), so every node of the 3×3×2 lattice is a rollup of the finest
    * cells. */
  private val LatticeK = 5

  /** q151: Samarati full-domain generalization lattice search — for every
    * node of the QI generalization lattice, the equivalence-class profile
    * (cell count, min cell size) and whether k=5 anonymity holds; the
    * minimal-height satisfying node(s) are flagged `optimal`. This is the
    * search that DECIDES the generalization levels q140 publishes with —
    * the reference domain's central algorithm, not just its transforms.
    *
    * Plan shape (the 100 TB point): ONE corpus shuffle builds the finest
    * cell frame (bounded by QI-domain cardinality, ~10³ rows — it
    * broadcasts from then on); all 18 lattice nodes roll up from those
    * cells via an 18× explode of bounded metadata. A naive implementation
    * rescans the table per node; this one's table-side cost is constant
    * in lattice size. The final optimal-height comparison is a 1-row
    * aggregate over 18 node rows. */
  private def q151(spark: SparkSession, sfDir: String): DataFrame = {
    val natReg = Tables(spark, sfDir, "nation")
      .join(Tables(spark, sfDir, "region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("r_name"))
    // finest cells: the only pass over the (at scale, huge) fact table
    val cells = Tables(spark, sfDir, "customer")
      .join(broadcast(natReg), col("c_nationkey") === col("n_nationkey"))
      .groupBy(
        col("c_nationkey").as("natk"), col("r_name"),
        (floor(col("c_acctbal") / 500) * 500).as("bin500"),
        col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"))
    val nodes = cells.select(col("natk"), col("r_name"), col("bin500"), col("seg"), col("n"),
        explode(expr(
          "flatten(transform(sequence(0, 2), i -> " +
            "flatten(transform(sequence(0, 2), j -> " +
            "transform(sequence(0, 1), k -> struct(cast(i as int) as i, cast(j as int) as j, cast(k as int) as k))))))"
        )).as("lv"))
      .select(col("lv.i").as("i"), col("lv.j").as("j"), col("lv.k").as("k"),
        when(col("lv.i") === 0, col("natk").cast("string"))
          .when(col("lv.i") === 1, col("r_name")).otherwise(lit("*")).as("g_nat"),
        when(col("lv.j") === 0, col("bin500").cast("string"))
          .when(col("lv.j") === 1, (floor(col("bin500") / 2000) * 2000).cast("string"))
          .otherwise(lit("*")).as("g_bal"),
        when(col("lv.k") === 0, col("seg")).otherwise(lit("*")).as("g_seg"),
        col("n"))
    val classes = nodes.groupBy("i", "j", "k", "g_nat", "g_bal", "g_seg")
      .agg(sum("n").as("cn"))
    val agg = classes.groupBy("i", "j", "k")
      .agg(count(lit(1)).as("n_cells"), min("cn").as("min_cell"))
      // 18 rows; checkpointed so the best-height branch and the final
      // projection share ONE corpus scan (without it the physical plan
      // re-scans customer for the subquery branch — verified in
      // PlanShapeSuite)
      .localCheckpoint(true)
    // minimal satisfying height: a 1-row aggregate over the 18 node rows
    val best = agg.filter(col("min_cell") >= LatticeK)
      .agg(min(col("i") + col("j") + col("k")).as("best_h"))
    agg.crossJoin(broadcast(best))
      .select(
        col("i").as("lvl_nation"), col("j").as("lvl_bal"), col("k").as("lvl_seg"),
        (col("i") + col("j") + col("k")).as("height"),
        col("n_cells"), col("min_cell"),
        (col("min_cell") >= LatticeK).as("meets_k"),
        (col("min_cell") >= LatticeK &&
          (col("i") + col("j") + col("k")) === col("best_h")).as("optimal"))
      .orderBy("height", "lvl_nation", "lvl_bal", "lvl_seg")
  }

  /** q152: user-level differentially-private histogram with contribution
    * bounding — the release mechanism for "how many users did X" when one
    * user can have unbounded activity. Per user, activity collapses to
    * DISTINCT event types, then is CLAMPED to the C=2 types with smallest
    * md5(user:type) (a deterministic uniform choice — the standard
    * contribution-bounding step that caps user-level L1 sensitivity at
    * C); Laplace(b = C/ε), ε=0.5 ⇒ b=4, is added via the q116/q127
    * deterministic grid (u ∈ (0,1) by construction, reproducible
    * fixed-seed DP so the oracle evaluates the identical closed form —
    * swap u for a CSPRNG per production release).
    *
    * Scale: one distinct projection (user,type), one per-user window over
    * ≤5 rows, one type-cardinality-bounded count — the privacy layer adds
    * zero distributed work beyond the distinct. */
  private def q152(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables(spark, sfDir, "events")
      .select(col("user_id"), col("event_type")).distinct()
    val wu = Window.partitionBy("user_id")
      .orderBy(md5(concat(col("user_id").cast("string"), lit(":"), col("event_type"))),
        col("event_type"))
    val clamped = pairs.withColumn("rn", row_number().over(wu)).filter(col("rn") <= 2)
    val key = ascii(substring(col("event_type"), 1, 1))
    val u = (((key * lit(2654435761L)) % lit(1000003L)) + lit(1L))
      .cast("double") / lit(1000004.0)
    val v = u - lit(0.5)
    val s = when(v >= 0, lit(1.0)).otherwise(lit(-1.0))
    val noise = lit(-4.0) * s * log(lit(1.0) - lit(2.0) * abs(v))
    clamped.groupBy("event_type").agg(count(lit(1)).as("true_n"))
      .select(col("event_type"),
        Tables.r6(col("true_n").cast("double") + noise).as("noisy_users"))
      .orderBy("event_type")
  }

  /** q159: linkage-attack re-identification audit — simulate the Sweeney
    * attack against the published (pseudonymized + generalized, NOT
    * suppressed) customer table: an attacker holding an external
    * directory with exact region/segment and account balance known to
    * ±500 links each directory record to the published rows whose
    * width-1000 balance bin overlaps the ±500 window (≤2 bins) and whose
    * region+segment match. A candidate set of size 1 IS a
    * re-identification. Reports, per region: records, re-identified
    * count, at-risk (<5 candidates) count, and mean linkage risk
    * Σ(1/|candidates|)/n — the prosecutor-model risk metric the
    * anonymization literature publishes next to every k-audit. Risk is
    * quantized to exact integer ppm (1000000 div n_cand) before the mean:
    * integer division is bit-identical cross-engine, where a
    * double→DECIMAL cast would hit half-up-vs-half-even divergence at
    * quantization boundaries (1/32 at 4 dp).
    *
    * Scale: attacker side explodes to its ≤2 overlapping bins (bounded
    * fan-out), then ONE hash equi-join on (region, segment, bin) — the
    * range predicate never reaches the join, so no range-join/cartesian;
    * AQE splits hot demographic cells. */
  private def q159(spark: SparkSession, sfDir: String): DataFrame = {
    val natReg = Tables(spark, sfDir, "nation")
      .join(Tables(spark, sfDir, "region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("r_name"))
    val cust = Tables(spark, sfDir, "customer")
      .join(broadcast(natReg), col("c_nationkey") === col("n_nationkey"))
    val published = cust.select(
      sha2(concat(col("c_name"), lit("salt42")), 256).as("pseudonym"),
      col("r_name").as("p_region"), col("c_mktsegment").as("p_seg"),
      (floor(col("c_acctbal") / 1000) * 1000).as("p_bin"))
    val attacker = cust.select(
      col("c_custkey"), col("r_name").as("a_region"),
      col("c_mktsegment").as("a_seg"), col("c_acctbal"),
      explode(sequence(
        floor((col("c_acctbal") - 500) / 1000) * 1000,
        floor((col("c_acctbal") + 500) / 1000) * 1000,
        lit(1000L))).as("a_bin"))
    val cand = attacker.join(published,
        col("a_region") === col("p_region") && col("a_seg") === col("p_seg") &&
          col("a_bin") === col("p_bin"))
      .groupBy("c_custkey", "a_region").agg(count(lit(1)).as("n_cand"))
    cand.groupBy(col("a_region").as("region"))
      .agg(count(lit(1)).as("n_records"),
        sum(when(col("n_cand") === 1, 1L).otherwise(0L)).as("n_reidentified"),
        sum(when(col("n_cand") < 5, 1L).otherwise(0L)).as("n_at_risk"),
        Tables.r6(sum(expr("1000000 div n_cand")).cast("double") /
          (count(lit(1)) * lit(1000000.0))).as("avg_risk"))
      .orderBy("region")
  }

  /** q161: Anatomy-style l-diverse bucketization (Xiao & Tao, VLDB 2006)
    * — instead of generalizing QIs, publish QI and sensitive tables
    * linked only by a group id, where each group holds AT MOST ONE
    * record per sensitive value (here: market segment). Groups form by
    * round-robin over the per-segment hash rank: group g = the g-th
    * member (by salted-md5 order) of every segment that still has one.
    * By construction l(group) = |group|; tail groups where fewer
    * segments survive fall below l=3 and are flagged for suppression.
    * The report: per group, size, l, QI spread (distinct nations), and
    * the l≥3 verdict.
    *
    * Scale: the per-segment rank does NOT window over a raw segment
    * partition (one task per segment = the q48 scale bug); it rides
    * DistributedRank's two-phase global rank on the composite
    * (segment|md5|key) key — ascending order is contiguous per segment,
    * so per-segment rank = global token − the segment's min token + 1,
    * a 5-row broadcast offset join. */
  private def q161(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        concat(col("c_mktsegment"), lit("|"),
          md5(concat(lit("anat:"), col("c_custkey").cast("string"))), lit("|"),
          lpad(col("c_custkey").cast("string"), 12, "0")).as("rk"))
    val ranked = keyed
      .join(graft.plans.DistributedRank.denseTokens(keyed, "rk"), "rk")
    val offsets = ranked.groupBy(col("c_mktsegment").as("seg"))
      .agg(min("token").as("off")) // 5 rows — broadcasts
    val grouped = ranked
      .join(broadcast(offsets), col("c_mktsegment") === col("seg"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        (col("token") - col("off") + 1L).as("group_id"))
    grouped.groupBy("group_id")
      .agg(count(lit(1)).as("n_records"),
        countDistinct("c_mktsegment").as("l_div"),
        countDistinct("c_nationkey").as("n_nations"))
      .select(col("group_id"), col("n_records"), col("l_div"),
        col("n_nations"), (col("l_div") >= 3).as("meets_l3"))
      .orderBy("group_id")
  }

  /** q188: kᵐ-anonymity audit for SET-VALUED data (Terrovitis et al.,
    * VLDB 2008) — the q41 k-anonymity question asked of transaction
    * data, where the quasi-identifier is not a fixed column tuple but
    * ANY subset of a user's item set an adversary may know. With
    * adversary knowledge bounded at m = 2 items, kᵐ-anonymity requires
    * every itemset of size ≤ 2 to be shared by ≥ k users; the audit
    * enumerates every size-1 and size-2 itemset actually present in the
    * per-user distinct event-type sets with its supporting-user count
    * and flags the violators (support < k = 5, the file's k).
    *
    * Scale: the corpus collapses ONCE to the distinct (user, item)
    * frame; singles are a map-side-combined count on it; pairs come
    * from the user-keyed self-join whose per-user fan-out is C(d,2)
    * with d = that user's distinct-item count — bounded by the item
    * DOMAIN (5 event types ⇒ ≤ 10 pairs/user), never by event volume.
    * For wide item domains the q61 df-cap recipe applies upstream;
    * here the domain is catalog-bounded. */
  private def q188(spark: SparkSession, sfDir: String): DataFrame =
    kmAnonymityAuditOf(Tables.events(spark, sfDir), col("user_id"), col("event_type"),
        LatticeK)
      .orderBy("m", "itemset")

  /** The kᵐ (m ≤ 2) audit behind q188 AND
    * [[graft.Graft.kmAnonymityAudit]]. */
  private[graft] def kmAnonymityAuditOf(df: DataFrame, user: Column, item: Column,
      k: Int): DataFrame = {
    val ut = df.select(user.as("graft_u"), item.as("graft_i")).distinct()
      .transform(graft.plans.CorpusPin.pin) // read by singles AND both pair-join sides
    val singles = ut.groupBy(col("graft_i").cast("string").as("itemset"))
      .agg(count(lit(1)).as("support")).withColumn("m", lit(1L))
    val pairs = ut.toDF("graft_u", "graft_a")
      .join(ut.toDF("graft_u", "graft_b"), "graft_u")
      .filter(col("graft_a") < col("graft_b"))
      .select(concat_ws("|", col("graft_a"), col("graft_b")).as("itemset"))
      .groupBy("itemset").agg(count(lit(1)).as("support")).withColumn("m", lit(2L))
    singles.unionByName(pairs)
      .select(col("itemset"), col("m"), col("support"), (col("support") < k).as("risky"))
  }

  /** q192: differentially-private MEDIAN via the exponential mechanism
    * (McSherry & Talwar, FOCS 2007) — the SELECTION mechanism the DP
    * family still lacked: q116/q152 perturb COUNTS with Laplace noise,
    * but a median is an argmax over candidates, where additive noise on
    * the value itself is meaningless. Candidates = width-1000 balance
    * bins; utility u(b) = −|cumrank(b) − n/2| (sensitivity 1); the
    * draw uses the Gumbel-max trick — argmax(ε·u/2 + Gumbel) is
    * EXACTLY exponential-mechanism sampling — with the q116/q127
    * Knuth-hash grid uniform per bin standing in for the CSPRNG draw
    * (swap in production; u ∈ (0,1) by construction so neither ln can
    * see 0). Reports the chosen bin vs the true-argmax bin and the
    * utility sacrificed (the accuracy-for-privacy trade, ε = 1).
    *
    * Determinism: counts are exact; util is |int − int/2.0| double;
    * Gumbel is the verified-parity ln chain (q44/q116); the argmax
    * orders by r6'd doubles with the bin as tiebreak. Scale: ONE
    * value-domain-bounded bin shuffle; the window, both TakeOrdered
    * argmaxes, and the final 1×1 join live on the ≤ #bins frame (its
    * global window is the q23 bounded-frame exception). */
  /** The generic mechanism behind q192, exposed as
    * [[graft.Graft.dpMedian]]: `value` is any numeric column of `df`;
    * candidates are width-`binWidth` bins of it. */
  private[graft] def dpMedianOf(df: DataFrame, value: Column, binWidth: Double,
      epsilon: Double): DataFrame = {
    require(binWidth > 0, s"dpMedian: binWidth $binWidth must be positive")
    require(epsilon > 0, s"dpMedian: epsilon $epsilon must be positive")
    val bins = df
      .groupBy(floor(value / lit(binWidth)).cast("bigint").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val n = df.agg(count(lit(1)).as("n"))
    val wCum = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val key = (((col("bin") * lit(2654435761L)) % lit(1000003L)) +
      lit(1000003L)) % lit(1000003L)
    val u = (key + lit(1L)).cast("double") / lit(1000004.0)
    val gumbel = -log(-log(u))
    val scored = bins
      .withColumn("cum", sum("cnt").over(wCum))
      .crossJoin(broadcast(n))
      .select(col("bin"), col("n"),
        (-abs(col("cum").cast("double") - col("n") / lit(2.0))).as("util"))
      .withColumn("noisy", Tables.r6(col("util") * lit(epsilon / 2.0) + gumbel))
    val sel = scored.orderBy(col("noisy").desc, col("bin")).limit(1)
      .select(col("bin").as("selected_bin"), Tables.r6(col("util")).as("sel_util"),
        col("n"))
    val best = scored.orderBy(col("util").desc, col("bin")).limit(1)
      .select(col("bin").as("true_bin"), Tables.r6(col("util")).as("true_util"))
    sel.crossJoin(broadcast(best))
      .select(col("selected_bin"), col("true_bin"), col("n"),
        Tables.r6(col("true_util") - col("sel_util")).as("utility_gap"))
  }

  private def q192(spark: SparkSession, sfDir: String): DataFrame =
    dpMedianOf(Tables(spark, sfDir, "customer"), col("c_acctbal"),
      binWidth = 1000.0, epsilon = 1.0)

  /** q254: LOCAL differential privacy via randomized response (Warner
    * 1965; the RAPPOR/Apple-style collection model) — each customer
    * reports their market segment truthfully on a coin, else a category
    * drawn from a lie distribution; the aggregator DEBIASES the observed
    * histogram. Unlike the central-DP family (q116/q152/q192: trusted
    * aggregator adds noise AFTER aggregation), here the privacy boundary
    * is the individual row — the aggregator never sees true values,
    * which is the model for telemetry collection from devices the
    * pipeline doesn't trust. The true histogram rides along as the audit
    * column the estimator is judged against.
    *
    * Estimator honesty: the md5 coins are NOT perfectly uniform (a byte
    * mod 100 and a hex digit mod k both carry modulo bias), so the naive
    * (obs − (1−p)·N/k)/p debiaser would be systematically biased. The
    * implementation therefore computes the EXACT design probabilities of
    * its own mechanism — p = #{v ∈ [0,256) : v mod 100 < truthPct}/256
    * and q_c = #{d ∈ [0,16) : d mod k = idx_c}/16 — and inverts those:
    * est_c = (obs_c − (1−p)·q_c·N) / p, which is exactly unbiased for
    * the mechanism as built (and Σ est = N algebraically since Σq = 1).
    * Per-report ε = max_c ln(1 + p/((1−p)·q_c)). Determinism (§2.9):
    * both coins are md5 hex-digit arithmetic (the q79 split pattern), so
    * the oracle reproduces mechanism AND estimator bit-for-bit.
    *
    * Scale: one scan; per-row hashing is codegen'd; two k-row map-side
    * aggregates outer-joined onto the literal category domain (so a
    * category with zero true holders or zero reports still appears —
    * dropping it would break the Σ est = N identity). */
  private val rrSegments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** The generic randomized-response mechanism + debiaser behind q254,
    * exposed as [[graft.Graft.randomizedResponse]]. `truthPct` ∈ (0,100]
    * is the nominal truth-coin percentage (the ACTUAL probability used
    * by the debiaser accounts for modulo bias, see q254 scaladoc);
    * `categories` must cover every value of `value` (unlisted values
    * only ever report truthfully, which would bias the estimator). */
  private[graft] def randomizedResponseOf(df: DataFrame, key: Column,
      value: Column, categories: Seq[String], truthPct: Int): DataFrame = {
    require(truthPct > 0 && truthPct <= 100,
      s"randomizedResponse: truthPct $truthPct outside (0, 100]")
    require(categories.nonEmpty && categories.size <= 16,
      s"randomizedResponse: ${categories.size} categories outside [1, 16]")
    val k = categories.size
    // exact design probabilities of the md5 mechanism (not the nominal
    // truthPct/100 and 1/k — the modulo maps are measurably non-uniform)
    val p = (0 until 256).count(_ % 100 < truthPct) / 256.0
    val qs = categories.indices.map(i => (0 until 16).count(_ % k == i) / 16.0)
    val base = df.select(key.cast("string").as("graft_key"), value.as("graft_v"))
      .withColumn("h", expr("md5(concat('rr:', graft_key))"))
      .withColumn("coin", expr(
        "((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(h, 2, 1)) - 1)) % 100"))
      .withColumn("lie", expr(
        s"(instr('0123456789abcdef', substring(h, 3, 1)) - 1) % $k"))
      .withColumn("reported",
        when(col("coin") < truthPct, col("graft_v"))
          .otherwise(element_at(array(categories.map(lit): _*),
            col("lie").cast("int") + 1)))
      .transform(graft.plans.CorpusPin.pin) // corpus-sized frame; two k-row consumers
    val spark = df.sparkSession
    import spark.implicits._
    val domain = categories.zip(qs).toDF("segment", "graft_q")
    val truth = base.groupBy(col("graft_v").as("segment"))
      .agg(count(lit(1)).as("n_true"))
    val observed = base.groupBy(col("reported").as("segment"))
      .agg(count(lit(1)).as("n_reported"))
    val n = base.agg(count(lit(1)).as("n_total"))
    domain.join(truth, Seq("segment"), "left")
      .join(observed, Seq("segment"), "left")
      .crossJoin(broadcast(n))
      .select(col("segment"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_reported"), lit(0L)).as("n_reported"),
        Tables.r6((coalesce(col("n_reported"), lit(0L)).cast("double") -
          lit(1.0 - p) * col("graft_q") * col("n_total").cast("double")) /
          lit(p)).as("n_est"))
      .orderBy("segment")
  }

  private def q254(spark: SparkSession, sfDir: String): DataFrame =
    randomizedResponseOf(Tables(spark, sfDir, "customer"),
      col("c_custkey"), col("c_mktsegment"), rrSegments, truthPct = 75)

  /** q261: kᵐ-anonymity item SUPPRESSION (Terrovitis VLDB'08) — the
    * TRANSFORM completing q188's audit: over order×brand baskets, any
    * itemset of size ≤ 2 with support < k lets an adversary who knows
    * those items isolate < k transactions, so the mechanism globally
    * suppresses (a) every risky single and (b) the LOWER-support member
    * of every risky pair (ties → lexicographic). One round provably
    * clears all m ≤ 2 risk: every risky pair loses a member by
    * construction, and surviving supports are unchanged so no new risk
    * appears. Output = the per-brand support/suppression report plus
    * the before/after risky-itemset counts — n_risky_after is computed,
    * not assumed. k = max(1, n_orders/50), scale-relative so the audit
    * is meaningful at every SF.
    *
    * Scale: the basket frame is (order, brand) DISTINCT — dimension-
    * bounded fan-out; the pair join keys on the order with C(brands-per-
    * order, 2) fan-out; every other frame is ≤ |brands|² and broadcast.
    * Same inverted shape as q188, plus the bounded suppression set
    * anti-joined back (broadcast). */
  /** The generic kᵐ (m ≤ 2) global-suppression mechanism behind q261,
    * exposed as [[graft.Graft.kmSuppress]]: `baskets` needs (o, b) —
    * transaction id × item — and k = max(1, n_transactions / kDivisor).
    * Returns the per-item report (brand, support, suppressed, k,
    * n_risky_before, n_risky_after — `brand` is the item column name,
    * q261's contract); n_risky_after = 0 is PROVEN by the
    * one-round argument in the q261 scaladoc and property-tested on
    * random baskets in PropertySuite. */
  private[graft] def kmSuppressOf(baskets: DataFrame, kDivisor: Int): DataFrame = {
    require(kDivisor >= 1, s"kmSuppress: kDivisor $kDivisor must be >= 1")
    // r17 optimization (guide §2.3 "aggregate before you shuffle", §2.4):
    // the previous shape pinned the DISTINCT (o, b) frame and paid one
    // exchange per consumer — countDistinct(o), the singles agg, and BOTH
    // sides of a pairSupports self-join on o (4 corpus-scale exchanges).
    // Collapsing each transaction to its sorted distinct item set FIRST
    // (one exchange, map-side combined) makes every consumer an
    // in-partition explode: k = one count of the grouped frame, singles =
    // explode + tiny keyed agg, pair supports = in-row pair expansion of
    // the sorted set (b1 < b2 by construction — identical to the old
    // self-join filter). Result-identical: support counts are per-item /
    // per-unordered-pair transaction counts either way. At 100 TB the
    // basket grouping is exactly the q212 basket-bounded shape (itemsets
    // per transaction are domain-bounded; |set| ≤ |items|).
    val obSets = baskets.select(col("o"), col("b")).groupBy("o")
      .agg(sort_array(collect_set(col("b"))).as("bs"))
      .transform(graft.plans.CorpusPin.pin) // read by k, singles, pair explode
    val kF = obSets.agg(count(lit(1)).as("no"))
      .select(greatest(lit(1L), expr(s"no DIV $kDivisor")).as("k"))
    val singles = obSets.select(explode(col("bs")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("support"))
      .localCheckpoint(true) // |brands| rows
    def pairSupports(df: DataFrame): DataFrame =
      df.select(explode(expr(
          "flatten(transform(bs, (x, i) -> " +
            "transform(slice(bs, i + 2, size(bs)), " +
            "y -> struct(x AS b1, y AS b2))))")).as("pr"))
        .select(col("pr.b1").as("b1"), col("pr.b2").as("b2"))
        .groupBy("b1", "b2").agg(count(lit(1)).as("psup"))
    val riskySingles = singles.crossJoin(broadcast(kF))
      .filter(col("support") < col("k")).select(col("b"))
    val pairs = pairSupports(obSets).localCheckpoint(true) // ≤ |brands|² rows
    val riskyPairs = pairs.crossJoin(broadcast(kF))
      .filter(col("psup") < col("k")).localCheckpoint(true)
    val pairVictims = riskyPairs
      .join(broadcast(singles.toDF("b1", "sup1")), "b1")
      .join(broadcast(singles.toDF("b2", "sup2")), "b2")
      .select(when(col("sup1") < col("sup2"), col("b1"))
        .when(col("sup2") < col("sup1"), col("b2"))
        .otherwise(least(col("b1"), col("b2"))).as("b"))
    val suppressed = riskySingles.unionByName(pairVictims).distinct()
      .localCheckpoint(true) // ≤ |brands| rows
    val nBefore = riskySingles.agg(count(lit(1)).as("nrs"))
      .crossJoin(riskyPairs.agg(count(lit(1)).as("nrp")))
      .select((col("nrs") + col("nrp")).as("n_risky_before"))
    // the after-audit needs NO second basket pass: global suppression
    // only REMOVES itemsets — a surviving single/pair has the identical
    // support it had before — so surviving risk is the first-pass frames
    // anti-joined against the suppression set (brand-bounded, broadcast)
    val nAfter = singles.join(broadcast(suppressed), Seq("b"), "left_anti")
      .crossJoin(broadcast(kF)).filter(col("support") < col("k"))
      .agg(count(lit(1)).as("nrs2"))
      .crossJoin(riskyPairs
        .join(broadcast(suppressed.toDF("b1")), Seq("b1"), "left_anti")
        .join(broadcast(suppressed.toDF("b2")), Seq("b2"), "left_anti")
        .agg(count(lit(1)).as("nrp2")))
      .select((col("nrs2") + col("nrp2")).as("n_risky_after"))
    singles
      .join(broadcast(suppressed.withColumn("sflag", lit(true))), Seq("b"), "left")
      .crossJoin(broadcast(kF)).crossJoin(broadcast(nBefore))
      .crossJoin(broadcast(nAfter))
      .select(col("b").as("brand"), col("support"),
        coalesce(col("sflag"), lit(false)).as("suppressed"),
        col("k"), col("n_risky_before"), col("n_risky_after"))
      .orderBy("brand")
  }

  private def q261(spark: SparkSession, sfDir: String): DataFrame =
    kmSuppressOf(
      Tables(spark, sfDir, "lineitem")
        .join(broadcast(Tables(spark, sfDir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"), col("p_brand").as("b")),
      kDivisor = 50)

  val entries: Seq[Q] = Seq(
    Q("q261_anon_km_suppress", q261 _, Some(
      "WITH ob AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey), " +
        "kf AS (SELECT GREATEST(1, COUNT(DISTINCT o) // 50) AS k FROM ob), " +
        "s AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS support FROM ob GROUP BY b), " +
        "p AS (SELECT a.b AS b1, c.b AS b2, COUNT(*) AS psup FROM ob a " +
        "JOIN ob c ON a.o = c.o AND a.b < c.b GROUP BY 1, 2), " +
        "rs AS (SELECT b FROM s CROSS JOIN kf WHERE support < k), " +
        "rp AS (SELECT b1, b2 FROM p CROSS JOIN kf WHERE psup < k), " +
        "supp AS (SELECT DISTINCT b FROM (SELECT b FROM rs UNION ALL " +
        "SELECT CASE WHEN s1.support < s2.support THEN rp.b1 " +
        "WHEN s2.support < s1.support THEN rp.b2 " +
        "ELSE LEAST(rp.b1, rp.b2) END AS b FROM rp " +
        "JOIN s s1 ON s1.b = rp.b1 JOIN s s2 ON s2.b = rp.b2)), " +
        "nb AS (SELECT (SELECT COUNT(*) FROM rs) + (SELECT COUNT(*) FROM rp) " +
        "AS n_risky_before), " +
        "na AS (SELECT (SELECT COUNT(*) FROM s CROSS JOIN kf " +
        "WHERE support < k AND b NOT IN (SELECT b FROM supp)) + " +
        "(SELECT COUNT(*) FROM rp " +
        "WHERE b1 NOT IN (SELECT b FROM supp) " +
        "AND b2 NOT IN (SELECT b FROM supp)) AS n_risky_after) " +
        "SELECT s.b AS brand, s.support, (s.b IN (SELECT b FROM supp)) " +
        "AS suppressed, (SELECT k FROM kf) AS k, " +
        "CAST(n_risky_before AS BIGINT) AS n_risky_before, " +
        "CAST(n_risky_after AS BIGINT) AS n_risky_after " +
        "FROM s CROSS JOIN nb CROSS JOIN na ORDER BY brand")),
    Q("q254_dp_randomized_response", q254 _, Some {
      val coin = "((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + " +
        "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 100"
      val lie = "(strpos('0123456789abcdef', substr(h, 3, 1)) - 1) % 5"
      val segList = "['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']"
      // EXACT design probabilities of the md5 mechanism — same derivation
      // as randomizedResponseOf (modulo-bias-corrected; see scaladoc)
      val p = (0 until 256).count(_ % 100 < 75) / 256.0
      val qCase = "CASE dom.segment " + rrSegments.zipWithIndex.map { case (s, i) =>
        s"WHEN '$s' THEN ${(0 until 16).count(_ % 5 == i) / 16.0}"
      }.mkString(" ") + " END"
      "WITH base AS (SELECT c_mktsegment, " +
        s"CASE WHEN $coin < 75 THEN c_mktsegment " +
        s"ELSE $segList[CAST($lie AS INT) + 1] END AS reported FROM (" +
        "SELECT c_custkey, c_mktsegment, " +
        "md5(concat('rr:', CAST(c_custkey AS VARCHAR))) AS h FROM customer)), " +
        s"dom AS (SELECT UNNEST($segList) AS segment), " +
        "truth AS (SELECT c_mktsegment AS segment, COUNT(*) AS n_true " +
        "FROM base GROUP BY 1), " +
        "obs AS (SELECT reported AS segment, COUNT(*) AS n_reported " +
        "FROM base GROUP BY 1), " +
        "tot AS (SELECT COUNT(*) AS n_total FROM base) " +
        "SELECT dom.segment, " +
        "CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true, " +
        "CAST(COALESCE(n_reported, 0) AS BIGINT) AS n_reported, " +
        Tables.r6sql("(CAST(COALESCE(n_reported, 0) AS DOUBLE) - " +
          s"${1.0 - p} * ($qCase) * CAST(n_total AS DOUBLE)) / $p") + " AS n_est " +
        "FROM dom LEFT JOIN truth ON dom.segment = truth.segment " +
        "LEFT JOIN obs ON dom.segment = obs.segment CROSS JOIN tot " +
        "ORDER BY dom.segment"
    }),
    Q("q192_dp_median_expmech", q192 _, Some {
      val key = "(((bin * 2654435761) % 1000003 + 1000003) % 1000003)"
      val gumbel = s"-ln(-ln(CAST($key + 1 AS DOUBLE) / 1000004))"
      val util = "-ABS(CAST(SUM(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS DOUBLE) - CAST(n AS DOUBLE) / 2)"
      "WITH bins AS (SELECT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bin, " +
        "COUNT(*) AS cnt FROM customer GROUP BY 1), " +
        "tot AS (SELECT COUNT(*) AS n FROM customer), " +
        s"scored AS (SELECT bin, n, $util AS util, " +
        Tables.r6sql(s"($util) * 0.5 + $gumbel") + " AS noisy FROM bins, tot), " +
        "sel AS (SELECT bin AS selected_bin, " + Tables.r6sql("util") + " AS sel_util, n " +
        "FROM scored ORDER BY noisy DESC, bin LIMIT 1), " +
        "best AS (SELECT bin AS true_bin, " + Tables.r6sql("util") + " AS true_util " +
        "FROM scored ORDER BY util DESC, bin LIMIT 1) " +
        "SELECT selected_bin, true_bin, n, " +
        Tables.r6sql("true_util - sel_util") + " AS utility_gap FROM sel, best"
    }),
    Q("q188_anon_km_audit", q188 _, Some(
      "WITH ut AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "singles AS (SELECT event_type AS itemset, CAST(1 AS BIGINT) AS m, " +
        "COUNT(*) AS support FROM ut GROUP BY 1), " +
        "pairs AS (SELECT a.event_type || '|' || b.event_type AS itemset, " +
        "CAST(2 AS BIGINT) AS m, COUNT(*) AS support FROM ut a " +
        "JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type GROUP BY 1) " +
        s"SELECT itemset, m, support, support < $LatticeK AS risky FROM " +
        "(SELECT * FROM singles UNION ALL SELECT * FROM pairs) ORDER BY m, itemset")),
    Q("q151_anon_lattice", q151 _, Some(
      "WITH cells AS (SELECT c_nationkey AS natk, r_name, " +
        "CAST(FLOOR(c_acctbal / 500) AS BIGINT) * 500 AS bin500, " +
        "c_mktsegment AS seg, COUNT(*) AS n " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2, 3, 4), " +
        "lattice AS (SELECT CAST(a.i AS INT) AS i, CAST(b.j AS INT) AS j, CAST(c.k AS INT) AS k " +
        "FROM range(0, 3) a(i), range(0, 3) b(j), range(0, 2) c(k)), " +
        "classes AS (SELECT i, j, k, " +
        "CASE WHEN i = 0 THEN CAST(natk AS VARCHAR) WHEN i = 1 THEN r_name ELSE '*' END AS g_nat, " +
        "CASE WHEN j = 0 THEN CAST(bin500 AS VARCHAR) " +
        "WHEN j = 1 THEN CAST(CAST(FLOOR(CAST(bin500 AS DOUBLE) / 2000) AS BIGINT) * 2000 AS VARCHAR) " +
        "ELSE '*' END AS g_bal, " +
        "CASE WHEN k = 0 THEN seg ELSE '*' END AS g_seg, CAST(SUM(n) AS BIGINT) AS cn " +
        "FROM cells CROSS JOIN lattice GROUP BY 1, 2, 3, 4, 5, 6), " +
        "agg AS (SELECT i, j, k, COUNT(*) AS n_cells, MIN(cn) AS min_cell " +
        "FROM classes GROUP BY 1, 2, 3), " +
        "best AS (SELECT MIN(i + j + k) AS best_h FROM agg WHERE min_cell >= 5) " +
        "SELECT i AS lvl_nation, j AS lvl_bal, k AS lvl_seg, i + j + k AS height, " +
        "n_cells, min_cell, min_cell >= 5 AS meets_k, " +
        "(min_cell >= 5 AND i + j + k = (SELECT best_h FROM best)) AS optimal " +
        "FROM agg ORDER BY height, lvl_nation, lvl_bal, lvl_seg")),
    Q("q152_dp_user_histogram", q152 _, Some(
      "WITH pairs AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "clamped AS (SELECT user_id, event_type FROM (SELECT user_id, event_type, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY md5(CAST(user_id AS VARCHAR) || ':' || event_type), event_type) AS rn " +
        "FROM pairs) WHERE rn <= 2), " +
        "hist AS (SELECT event_type, COUNT(*) AS true_n FROM clamped GROUP BY event_type) " +
        "SELECT event_type, " +
        Tables.r6sql(
          "CAST(true_n AS DOUBLE) + (-4.0) * " +
            "(CASE WHEN u - 0.5 >= 0 THEN 1.0 ELSE -1.0 END) * " +
            "LN(1.0 - 2.0 * ABS(u - 0.5))") + " AS noisy_users " +
        "FROM (SELECT event_type, true_n, " +
        "CAST((ascii(substring(event_type, 1, 1)) * 2654435761) % 1000003 + 1 AS DOUBLE) / 1000004.0 AS u " +
        "FROM hist) ORDER BY event_type")),
    Q("q159_linkage_attack", q159 _, Some(
      "WITH cust AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment, r_name " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey), " +
        "published AS (SELECT r_name AS p_region, c_mktsegment AS p_seg, " +
        "CAST(FLOOR(c_acctbal / 1000) AS BIGINT) * 1000 AS p_bin FROM cust), " +
        "attacker AS (SELECT c_custkey, r_name AS a_region, c_mktsegment AS a_seg, " +
        "unnest(range(CAST(FLOOR((c_acctbal - 500) / 1000) AS BIGINT) * 1000, " +
        "CAST(FLOOR((c_acctbal + 500) / 1000) AS BIGINT) * 1000 + 1, 1000)) AS a_bin FROM cust), " +
        "cand AS (SELECT c_custkey, a_region, COUNT(*) AS n_cand FROM attacker " +
        "JOIN published ON a_region = p_region AND a_seg = p_seg AND a_bin = p_bin " +
        "GROUP BY 1, 2) " +
        "SELECT a_region AS region, COUNT(*) AS n_records, " +
        "CAST(SUM(CASE WHEN n_cand = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_reidentified, " +
        "CAST(SUM(CASE WHEN n_cand < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_risk, " +
        Tables.r6sql("CAST(SUM(1000000 // n_cand) AS DOUBLE) / (COUNT(*) * 1000000.0)") + " AS avg_risk " +
        "FROM cand GROUP BY a_region ORDER BY region")),
    Q("q161_anon_anatomy", q161 _, Some(
      "WITH ranked AS (SELECT c_nationkey, c_mktsegment, " +
        "ROW_NUMBER() OVER (PARTITION BY c_mktsegment " +
        "ORDER BY md5('anat:' || CAST(c_custkey AS VARCHAR)), c_custkey) AS group_id " +
        "FROM customer) " +
        "SELECT group_id, COUNT(*) AS n_records, " +
        "COUNT(DISTINCT c_mktsegment) AS l_div, " +
        "COUNT(DISTINCT c_nationkey) AS n_nations, " +
        "COUNT(DISTINCT c_mktsegment) >= 3 AS meets_l3 " +
        "FROM ranked GROUP BY group_id ORDER BY group_id")),
    Q("q205_anon_delta_presence", q205 _, Some(
      "WITH sample AS (SELECT DISTINCT o_custkey FROM orders), " +
        "marked AS (SELECT c_nationkey, c_mktsegment, " +
        "CASE WHEN s.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS in_sample " +
        "FROM customer c LEFT JOIN sample s ON c.c_custkey = s.o_custkey) " +
        "SELECT c_nationkey AS nationkey, c_mktsegment AS segment, " +
        "CAST(COUNT(*) AS BIGINT) AS n_public, " +
        "CAST(SUM(in_sample) AS BIGINT) AS n_sample, " +
        Tables.r6sql("CAST(SUM(in_sample) AS DOUBLE) / COUNT(*)") + " AS delta, " +
        "CAST(SUM(in_sample) AS DOUBLE) / COUNT(*) BETWEEN 0.1 AND 0.9 " +
        "AS within_bounds " +
        "FROM marked GROUP BY 1, 2 ORDER BY nationkey, segment")),
  )

  /** q205: δ-presence audit (Nergiz, Atzori & Clifton, SIGMOD 2007) —
    * the disclosure model k-anonymity misses: even a well-generalized
    * release leaks MEMBERSHIP if, within a QI group, (almost) everyone
    * from the public table is in the published research sample. For
    * each (nation, segment) QI group over the public `customer` table,
    * δ = |sample ∩ group| / |group| where the sample is the customers
    * with ≥1 order (a deterministic stand-in for "records in the
    * release"); groups outside [δmin=0.1, δmax=0.9] are flagged —
    * δ ≈ 1 discloses presence, δ ≈ 0 discloses ABSENCE (Nergiz's
    * symmetric case), both of which an adversary who knows the QIs can
    * exploit.
    *
    * Scale: the sample key set is one distinct projection of orders;
    * the membership mark is an equi-join on the customer key (broadcast
    * at benchmark scale, shuffled hash at 100 TB — no hint, stats
    * decide); then ONE aggregation to the ≤125-row QI-domain frame.
    * Boundary semantics live in exact integer/boolean space (the δ
    * double only feeds a BETWEEN on round values, computed identically
    * on both engines from exact integer counts). */
  private def q205(spark: SparkSession, sfDir: String): DataFrame = {
    val sample = Tables(spark, sfDir, "orders")
      .select(col("o_custkey")).distinct()
    Tables(spark, sfDir, "customer")
      .join(sample, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"),
        when(col("o_custkey").isNotNull, 1L).otherwise(0L).as("in_sample"))
      .groupBy(col("c_nationkey").as("nationkey"), col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_public"), sum("in_sample").as("n_sample"))
      .select(col("nationkey"), col("segment"), col("n_public"), col("n_sample"),
        Tables.r6(col("n_sample").cast("double") / col("n_public")).as("delta"),
        (col("n_sample").cast("double") / col("n_public")).between(0.1, 0.9)
          .as("within_bounds"))
      .orderBy("nationkey", "segment")
  }
}
