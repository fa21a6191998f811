package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Anonymization suite (SURVEY.md §2.7, q35–q48) — the reference's own
  * operator family (k-anonymity, l-diversity, generalization, masking,
  * pseudonymization, microaggregation; Sweeney 2002, Machanavajjhala 2007,
  * Domingo-Ferrer 2002).
  *
  * Everything is expressed as deterministic column transforms / window
  * functions so Catalyst can push scans down beneath them; no per-row
  * driver logic. k-anonymity-style audits are global groupBys — the one
  * correct distributed formulation (the guarantee is a global property,
  * SURVEY.md §7.5) — and shuffle only QI-cardinality-bounded aggregates.
  * The suppression/microaggregation transforms (q42/q45) are windows over
  * the QI partition key: one shuffle, linear scaling, AQE skew-split
  * handles hot QI groups.
  */
object Anonymize {
  import Tables.dec

  /** The quasi-identifier bin used throughout: acctbal in width-1000 bins
    * (floor division — DuckDB 1.0.0 lacks width_bucket). */
  private val acctBin = graft.Graft.generalizeNumeric(col("c_acctbal"), 1000)
  private val acctBinSql = "CAST(FLOOR(c_acctbal / 1000) AS BIGINT) * 1000"

  /** q35: identifier suppression — project away the direct identifier. */
  private def q35(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "customer")
      .drop("c_name")
      .orderBy("c_custkey")
  }

  /** q36: salted-hash pseudonymization — replace the direct identifier with
    * a keyed surrogate (sha2 parity with DuckDB verified, FIXTURES.md). */
  private def q36(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "customer")
      .select(
        col("c_custkey"),
        graft.Graft.pseudonym(col("c_name"), "salt42").as("pseudonym"))
      .orderBy("c_custkey")
  }

  /** q37: partial masking — keep a prefix, star the rest; digits → '#'. */
  private def q37(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "customer")
      .select(col("c_custkey"),
        graft.Graft.maskKeepPrefix(col("c_name"), 4).as("masked_name"),
        graft.Graft.maskDigits(col("c_name")).as("digit_masked"))
      .orderBy("c_custkey")
  }

  /** q38: numeric generalization — width-1000 binning of the sensitive
    * account balance. */
  private def q38(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), acctBin.as("acct_bin"))
      .orderBy("c_custkey")
  }

  /** q39: temporal generalization — order date → month (DATE both sides,
    * §2.9 R3). */
  private def q39(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        graft.Graft.generalizeDate(col("o_orderdate")).as("order_month"))
      .orderBy("o_orderkey")
  }

  /** q40: categorical generalization via hierarchy — nation rolls up to
    * region through the dim-table join (VGH as broadcast lookup). */
  private def q40(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "customer")
      .join(broadcast(Tables(spark, sfDir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables(spark, sfDir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name").as("generalized_nation"))
      .orderBy("c_custkey")
  }

  /** q41: k-anonymity audit — group sizes over the QI and a k=5 violation
    * flag; the global groupBy is the correct distributed formulation. */
  private def q41(spark: SparkSession, sfDir: String): DataFrame = {
    graft.Graft.kAnonymityAudit(
      Tables(spark, sfDir, "customer").withColumn("acct_bin", acctBin),
      Seq("c_nationkey", "c_mktsegment", "acct_bin"), k = 5)
      .orderBy("c_nationkey", "c_mktsegment", "acct_bin")
  }

  /** q42: cell suppression to reach k — null out QI cells in groups whose
    * size < k, via a window count (one shuffle on the QI): the facade's
    * [[graft.Graft.suppressBelowK]] on the generalized customer frame. */
  private def q42(spark: SparkSession, sfDir: String): DataFrame =
    graft.Graft.suppressBelowK(
      Tables(spark, sfDir, "customer").withColumn("acct_bin", acctBin),
      Seq("c_nationkey", "c_mktsegment", "acct_bin"), k = 5)
      .select(col("c_custkey"), col("c_nationkey_k").as("nationkey_k"),
        col("c_mktsegment_k").as("mktsegment_k"), col("acct_bin_k"))
      .orderBy("c_custkey")

  /** q43: l-diversity audit — distinct sensitive values per QI group,
    * flag l < 2. */
  private def q43(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "customer")
      .withColumn("acct_bin", acctBin)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(countDistinct(col("acct_bin")).as("l"),
        count(lit(1)).as("group_size"))
      .withColumn("violates_l2", col("l") < 2)
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** q44: entropy l-diversity — Shannon entropy (log2) of the sensitive
    * distribution per QI group via the custom typed Aggregator
    * (graft.functions.EntropyLog2), DuckDB oracle: built-in entropy(). */
  private def q44(spark: SparkSession, sfDir: String): DataFrame = {
    spark.udf.register("entropy_log2", udaf(graft.functions.EntropyLog2))
    Tables(spark, sfDir, "customer")
      .withColumn("sens", acctBin.cast("string"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(Tables.r6(expr("entropy_log2(sens)")).as("entropy"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** q45: microaggregation — replace the sensitive value by its QI-group
    * DECIMAL mean (Domingo-Ferrer 2002's aggregation step, fixed groups). */
  private def q45(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey", "c_mktsegment")
    Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        Tables.meanD(sum(dec(col("c_acctbal"))).over(w), count(lit(1)).over(w)).as("acctbal_micro"))
      .orderBy("c_custkey")
  }

  /** q46: deterministic keyed perturbation — Knuth-hash pseudo-noise in
    * [−0.4995, 0.4995], pure int64 arithmetic, implemented as a Scala UDF
    * deliberately to exercise the UDF path (SURVEY.md §2 UDF surface).
    * NOT crypto-grade; documented disclosure-control noise. */
  private def q46(spark: SparkSession, sfDir: String): DataFrame = {
    val noise = udf { (id: Long, v: Double) =>
      v + ((id * 2654435761L) % 1000L) / 1000.0 - 0.4995
    }
    Tables(spark, sfDir, "events")
      .select(col("event_id"),
        Tables.r6(noise(col("event_id"), col("value"))).as("value_noised"))
      .orderBy("event_id")
  }

  /** q47: rank swapping — within nation, swap acctbal between rank i and
    * rank n+1−i (two row_numbers + an equi-self-join on the mirrored rank —
    * shuffles only on (nation, rank), no row explosion). */
  private def q47(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val ranked = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("c_nationkey")))
    val donor = ranked.select(
      col("c_nationkey").as("d_nat"), col("rn").as("d_rn"),
      col("c_acctbal").as("acctbal_swapped"))
    ranked
      .join(donor, col("c_nationkey") === col("d_nat") &&
        (col("n") + 1 - col("rn")) === col("d_rn"))
      .select("c_custkey", "c_nationkey", "acctbal_swapped")
      .orderBy("c_custkey")
  }

  /** q48: surrogate tokens — dense rank over the distinct-name order gives
    * a stable int token per identity, computed by the two-phase
    * DISTRIBUTED rank in [[graft.plans.DistributedRank.denseTokens]]. No
    * single-partition Exchange or global Sort anywhere on the identity
    * domain — the round-2 `dense_rank().over(Window.orderBy(...))`
    * serialized ALL distinct identities through one task, which dies when
    * identities grow with the data (PlanShapeSuite asserts the
    * single-partition exchange is gone; PropertySuite checks the rank
    * semantics on random key sets). */
  private def q48(spark: SparkSession, sfDir: String): DataFrame = {
    val tokens = graft.plans.DistributedRank.denseTokens(
      Tables(spark, sfDir, "customer").select("c_name"), "c_name")
    Tables(spark, sfDir, "customer")
      .join(tokens, "c_name")
      .select("c_custkey", "token")
      .orderBy("c_custkey")
  }

  /** q80: t-closeness audit (Li, Li, Venkatasubramanian, ICDE 2007) —
    * Earth Mover's Distance between each QI group's sensitive-value
    * distribution and the global distribution, over the ORDERED acctbal
    * bins: EMD = Σ|running Σ (p−q)| / (B−1). The running sum is a window
    * in bin order (deterministic sequential adds on both engines); the
    * final per-group sum goes through exact decimals. One shuffle per
    * aggregation — QI-cardinality bounded, like the other audits. */
  private def q80(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables(spark, sfDir, "customer").withColumn("bin", acctBin)
    // total row count as a broadcast 1-row aggregate, not a driver-side
    // .count(): no extra action job, no driver sync point inside the query
    val n = cust.agg(count(lit(1)).cast("double").as("n_total"))
    val global = cust.groupBy("bin").agg(count(lit(1)).as("gcnt"))
    val groups = cust.groupBy("c_nationkey", "c_mktsegment").agg(count(lit(1)).as("ng"))
    val gb = cust.groupBy("c_nationkey", "c_mktsegment", "bin").agg(count(lit(1)).as("cnt"))
    // explicit broadcast (bin-cardinality-bounded — small forever), not
    // left to AQE's runtime demotion, matching the sibling joins' hints
    val grid = groups.crossJoin(broadcast(global.select("bin", "gcnt")))
      .join(gb, Seq("c_nationkey", "c_mktsegment", "bin"), "left")
      .crossJoin(broadcast(n))
      .select(col("c_nationkey"), col("c_mktsegment"), col("bin"),
        (col("gcnt") / col("n_total")).as("p"),
        (coalesce(col("cnt"), lit(0L)) / col("ng")).as("q"))
    val wRun = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("bin")
    val wAll = Window.partitionBy("c_nationkey", "c_mktsegment")
    grid
      .withColumn("run", sum(col("p") - col("q")).over(wRun))
      .withColumn("b", count(lit(1)).over(wAll))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(Tables.r6(
        sum(abs(col("run")).cast(DecimalType(18, 9))).cast("double") /
          (max(col("b")) - lit(1))).as("emd"))
      .withColumn("violates_t02", col("emd") > 0.2)
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** q115: Mondrian-style multidimensional generalization (LeFevre,
    * DeWitt, Ramakrishnan, ICDE 2006) — recursive median splits over the
    * QI space, alternating dimensions, relaxed to a fixed depth of 2 so
    * the recursion unrolls into two window passes: split 1 halves each
    * nation stratum at the acctbal median (`ntile(2)`); split 2 halves
    * each half at the mktsegment median (categorical dims are ordered
    * lexically, the standard Mondrian treatment). Output is one row per
    * resulting cell with its generalized ranges ([lo,hi] per dim), size
    * and a k=10 audit flag.
    *
    * Scale: both windows are partitioned by the stratum key (nation,
    * then nation×half) — no global sort, no single-partition exchange;
    * each split redistributes only within its parent cell, which is how
    * Mondrian parallelizes on a cluster (one task per cell per level).
    * Depth is a constant, so the whole operator is 2 window shuffles +
    * 1 aggregation regardless of data size. */
  private def q115(spark: SparkSession, sfDir: String): DataFrame = {
    val w1 = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    val w2 = Window.partitionBy("c_nationkey", "h1").orderBy("c_mktsegment", "c_custkey")
    Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("h1", ntile(2).over(w1))
      .withColumn("h2", ntile(2).over(w2))
      .groupBy("c_nationkey", "h1", "h2")
      .agg(
        min(col("c_acctbal")).as("acct_lo"),
        max(col("c_acctbal")).as("acct_hi"),
        min(col("c_mktsegment")).as("seg_lo"),
        max(col("c_mktsegment")).as("seg_hi"),
        count(lit(1)).as("cell_n"))
      .withColumn("violates_k10", col("cell_n") < 10)
      .orderBy("c_nationkey", "h1", "h2")
  }

  /** q116: differentially-private release of group counts via the Laplace
    * mechanism (Dwork et al., TCC 2006): count + Lap(Δf/ε) with Δf=1
    * (unit L1 sensitivity of a count), ε=0.5 ⇒ scale b=2. The noise draw
    * uses inverse-CDF sampling `-b·sign(v)·ln(1−2|v|)`, v=u−½, from a
    * deterministic per-group uniform u — a Knuth multiplicative hash of
    * the group key mapped into (0,1) — so the release is reproducible
    * (fixed-seed DP, the standard audit/testing mode) and the oracle can
    * evaluate the identical closed form. All arithmetic is plain IEEE
    * double (mul/ln/abs/case), bit-identical across engines; see
    * Tables.r6 for why that matters. Swap `u` for a real CSPRNG draw per
    * release in production — the mechanism is otherwise unchanged.
    *
    * Scale: one count shuffle (QI-cardinality bounded) and a scalar
    * transform — the privacy layer adds zero distributed work. */
  private def q116(spark: SparkSession, sfDir: String): DataFrame = {
    val grouped = Tables(spark, sfDir, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("true_n"))
    val key = col("c_nationkey") * lit(256L) + ascii(substring(col("c_mktsegment"), 1, 1))
    // the q127 grid form ((key·H) mod m + 1)/(m+1): u ∈ [1/(m+1), m/(m+1)]
    // BY CONSTRUCTION, so 1−2|u−0.5| ≥ 2/(m+1) > 0 and the Laplace
    // inverse-CDF ln can never see 0 — for ANY key domain, not just the
    // current one (whose min numerator happens to clear the old form)
    val u = (((key * lit(2654435761L)) % lit(1000003L)) + lit(1L))
      .cast("double") / lit(1000004.0)
    val v = u - lit(0.5)
    val s = when(v >= 0, lit(1.0)).otherwise(lit(-1.0))
    val noise = lit(-2.0) * s * log(lit(1.0) - lit(2.0) * abs(v))
    grouped
      .select(col("c_nationkey"), col("c_mktsegment"),
        Tables.r6(col("true_n").cast("double") + noise).as("noisy_n"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** q362: differentially-private histogram via the GAUSSIAN mechanism
    * (Dwork & Roth 2014 §A; the (ε,δ) workhorse of every deployed DP
    * system) — the member that completes the DP family: q116 is Laplace
    * (pure ε), q192 exponential-mechanism selection, q254 local
    * randomized response; Gaussian is what composition-heavy releases
    * use because its privacy loss composes tightly (zCDP). σ is the
    * classical calibration Δ₂·√(2·ln(1.25/δ))/ε with Δ₂ = 1 (one user
    * moves one histogram cell by 1), ε = 1, δ = 1e-6 ⇒ σ ≈ 5.31. The
    * noise draw is the Irwin–Hall 12-uniform sum (Σ₁²U − 6 — the
    * classical deterministic Gaussian approximation: exact mean 0,
    * variance 1, no Box–Muller cos/sin whose cross-engine rounding is
    * uncontracted), each uniform a 16-bit md5 digest slice keyed by
    * (cell, i) — md5, NOT the q127 linear grid, because twelve grid
    * uniforms at consecutive i form an arithmetic progression mod m
    * whose sum is low-discrepancy (measured max|z| ≈ 1.2 — grossly
    * under-dispersed "Gaussians" that would overstate the privacy of a
    * release).
    *
    * AUDIT MODE — NOT a privacy guarantee as emitted: the noise is a
    * deterministic md5 function of the PUBLISHED cell key, so any
    * consumer can recompute z and invert noisy_n exactly; the release
    * carries zero (ε,δ) protection by construction. That is the point
    * of this mode (cross-engine verifiable calibration of the
    * mechanism), and the schema says so on every row: an explicit
    * `mode = 'audit-deterministic'` column rides the output so no
    * downstream consumer can mistake it for a calibrated release, and
    * true_n rides along as the audit column (q254's convention). The
    * production path EXISTS: [[graft.Graft.dpGaussianRelease]] /
    * [[dpGaussianReleaseOf]] — CSPRNG noise, no true_n/mode, same σ
    * calibration, ε ∈ (0,1) enforced. A production release MUST
    * (a) swap the md5 uniforms for a CSPRNG
    * draw (java.security.SecureRandom per partition, seed never
    * derived from data), (b) DROP true_n and mode, and (c) keep σ
    * exactly as computed here — the calibration is the part audit mode
    * verifies.
    *
    * Scale: one QI-bounded count shuffle + a narrow scalar transform —
    * the privacy layer adds zero distributed work (q116's shape). */
  private def q362(spark: SparkSession, sfDir: String): DataFrame = {
    val grouped = Tables(spark, sfDir, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("true_n"))
    def u(i: Int) = {
      val h = s"md5(concat('gauss:', cast(c_nationkey as string), ':', " +
        s"c_mktsegment, ':', '$i'))"
      val hex = (1 to 4).map { p =>
        val w = math.pow(16, 4 - p).toInt
        s"(instr('0123456789abcdef', substring($h, $p, 1)) - 1) * $w"
      }.mkString(" + ")
      expr(hex).cast("double") / lit(65536.0)
    }
    val z = (1 to 12).map(u).reduce(_ + _) - lit(6.0)
    val sigma = sqrt(lit(2.0) * log(lit(1250000.0)))
    grouped
      .select(col("c_nationkey"), col("c_mktsegment"), col("true_n"),
        Tables.r6(sigma).as("sigma"),
        Tables.r6(col("true_n").cast("double") + sigma * z).as("noisy_n"),
        lit("audit-deterministic").as("mode"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** Per-JVM CSPRNG for [[dpGaussianReleaseOf]] — an `object` field so
    * executors each build their own (nothing serialized, no shared seed
    * to leak); SecureRandom.nextGaussian() is thread-safe. */
  private lazy val secureRng = new java.security.SecureRandom()
  private[graft] def secureGaussian(): Double = secureRng.nextGaussian()

  /** The PRODUCTION counterpart of q362's audit mode (ADVICE r14): a
    * (ε,δ)-DP histogram release over `groupCols` with REAL Gaussian
    * noise from a per-executor CSPRNG (java.security.SecureRandom —
    * never seeded from data), σ = Δ₂·√(2·ln(1.25/δ))/ε with Δ₂ = 1
    * (one user moves one cell by 1). Exactly what q362's scaladoc
    * contract demands of a production path: the CSPRNG replaces the
    * md5 uniforms, true_n and mode are DROPPED — only (groupCols,
    * epsilon, delta, sigma, noisy_n) leave the engine — and σ is the
    * identical calibration the audit mode cross-engine-verifies.
    *
    * Non-goals, on purpose: this emits ONE release; (ε,δ) composition
    * accounting across releases is the caller's ledger. noisy_n is the
    * raw real-valued release (standard for counting queries; round or
    * clamp post-hoc if the consumer needs integers — both are
    * post-processing and cost no privacy).
    *
    * The noise draw is a nondeterministic scalar UDF — the ONE place a
    * UDF beats an expression, because secure randomness is impure by
    * definition and a codegen'd deterministic expression is exactly
    * what a DP release must not use. Cost is nil: the UDF runs on the
    * QI-bounded aggregate, not the corpus.
    *
    * Scale: one QI-bounded count shuffle + a narrow scalar transform
    * (q116/q362's shape) — the privacy layer adds zero distributed
    * work at any corpus size. */
  private[graft] def dpGaussianReleaseOf(df: DataFrame, groupCols: Seq[String],
      eps: Double, delta: Double): DataFrame = {
    // eps < 1 is a THEOREM precondition, not hygiene: the classical
    // sigma = Delta·sqrt(2·ln(1.25/delta))/eps calibration (Dwork & Roth
    // Thm A.1) is only proven for eps in (0,1) — at eps >= 1 it
    // under-noises and the advertised (eps,delta) guarantee is false.
    // Callers needing eps >= 1 must use the analytic Gaussian mechanism
    // (Balle & Wang, ICML 2018), which is out of this facade's scope.
    require(eps > 0 && eps < 1 && delta > 0 && delta < 1,
      "dpGaussianRelease: classical Gaussian calibration requires 0 < eps < 1 " +
        "and 0 < delta < 1 (use the analytic Gaussian mechanism for eps >= 1)")
    val sigma = math.sqrt(2.0 * math.log(1.25 / delta)) / eps
    val z = udf(() => secureGaussian()).asNondeterministic()
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("graft_true_n"))
      .select(groupCols.map(col) ++ Seq(
        lit(eps).as("epsilon"), lit(delta).as("delta"),
        lit(sigma).as("sigma"),
        (col("graft_true_n").cast("double") + lit(sigma) * z()).as("noisy_n")): _*)
      // ONE draw per facade call, enforced: without a barrier every
      // action on the returned frame re-runs the nondeterministic UDF —
      // show() then write() would publish two DIFFERENT releases whose
      // average leaks beyond (eps,delta) (k draws shrink effective noise
      // by sqrt(k)). The QI-bounded frame is exactly the bounded-frame
      // checkpoint case; losing it on executor failure is SAFER than
      // re-drawing, which is the one place non-recomputable state is
      // the correct choice.
      .localCheckpoint(true)
  }

  /** q140: the end-to-end anonymization ETL — the reference project's
    * whole purpose as ONE publishable-table query: direct identifiers
    * pseudonymized (salted sha2), QIs generalized (nation → region,
    * acctbal → width-1000 bin), then cell suppression nulls the QIs of
    * every row whose generalized cell still holds < k=5 members. The
    * output IS the k-5-safe publish table (audited by construction: a
    * non-null QI triple implies cell size ≥ 5, which q41's audit and the
    * suite assert). Plan: one broadcast dim join, one window over the
    * generalized-cell key, narrow scalar transforms — the same
    * one-shuffle shape as q42 at any scale. */
  private def q140(spark: SparkSession, sfDir: String): DataFrame = {
    val regionOf = Tables(spark, sfDir, "nation")
      .join(Tables(spark, sfDir, "region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("r_name"))
    val w = Window.partitionBy("r_name", "c_mktsegment", "acct_bin")
    Tables(spark, sfDir, "customer")
      .join(broadcast(regionOf), col("c_nationkey") === col("n_nationkey"))
      .withColumn("acct_bin", acctBin)
      .withColumn("cell_n", count(lit(1)).over(w))
      .select(
        graft.Graft.pseudonym(col("c_name"), "pub42").as("pseudonym"),
        when(col("cell_n") >= 5, col("r_name")).as("region_k"),
        when(col("cell_n") >= 5, col("c_mktsegment")).as("segment_k"),
        when(col("cell_n") >= 5, col("acct_bin")).as("acct_bin_k"))
      .orderBy("pseudonym")
  }

  /** q141: anonymization utility report — the information-loss metrics
    * the k-anonymity literature pairs with every privacy audit (you
    * can't judge a generalization without them): per generalized cell
    * strategy (the q140 scheme), the suppression fraction, average
    * surviving cell size, and the discernibility metric
    * DM = Σ_kept |cell|² + n·(suppressed rows) (Bayardo & Agrawal,
    * ICDE 2005). All from cell-size counts — one bounded groupBy, exact
    * integer arithmetic. */
  private def q141(spark: SparkSession, sfDir: String): DataFrame = {
    val regionOf = Tables(spark, sfDir, "nation")
      .join(Tables(spark, sfDir, "region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("r_name"))
    val cells = Tables(spark, sfDir, "customer")
      .join(broadcast(regionOf), col("c_nationkey") === col("n_nationkey"))
      .withColumn("acct_bin", acctBin)
      .groupBy("r_name", "c_mktsegment", "acct_bin")
      .agg(count(lit(1)).as("cell_n"))
    cells.agg(
      sum(col("cell_n")).cast("bigint").as("n_rows"),
      count(lit(1)).as("n_cells"),
      sum(when(col("cell_n") < 5, col("cell_n")).otherwise(0L)).cast("bigint")
        .as("suppressed_rows"),
      sum(when(col("cell_n") >= 5, lit(1L)).otherwise(0L)).cast("bigint")
        .as("kept_cells"),
      sum(when(col("cell_n") >= 5, col("cell_n") * col("cell_n")).otherwise(0L))
        .cast("bigint").as("dm_kept"))
      .select(col("n_rows"), col("n_cells"), col("suppressed_rows"), col("kept_cells"),
        Tables.r6(col("suppressed_rows").cast("double") / col("n_rows"))
          .as("suppression_frac"),
        // NULLIF: a tiny stratum can suppress EVERYTHING (kept_cells=0 at
        // sf0.001) — emit NULL, not an ANSI divide-by-zero
        Tables.meanD((col("n_rows") - col("suppressed_rows")).cast(DecimalType(18, 4)),
          nullif(col("kept_cells"), lit(0L))).as("avg_kept_cell"),
        (col("dm_kept") + col("n_rows") * col("suppressed_rows")).as("discernibility"))
  }

  /** q258: GDPR right-to-erasure cascade audit (Art. 17) — the request
    * set (here: negative-balance customers as the deterministic stand-in
    * for "customers who filed erasure requests") propagates through the
    * foreign-key chain customer → orders → lineitem, and the output is
    * the per-table purge audit: total rows, rows that must go, fraction.
    * This is the ROW-subject side of the anonymization ETL the column
    * operators (q35–q48) don't cover: deletion must cascade through
    * every table that references the subject, and the audit is what a
    * DPO signs off on before the physical delete runs.
    *
    * Scale: both FK hops are semi-joins with NO broadcast hint — the
    * request set is usually small, but a mass-erasure event (a class
    * action, a jurisdiction exit) can make it a double-digit fraction of
    * the dimension (it is 8.9% of customers in this synthetic data), and
    * a forced broadcast would OOM exactly then; AQE picks broadcast when
    * the set is actually small. Three 1-row count aggregates union to
    * the 3-row report. No table scans twice, nothing shuffles raw rows. */
  private def q258(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Tables(spark, sfDir, "customer")
    val orders = Tables(spark, sfDir, "orders")
    val lineitem = Tables(spark, sfDir, "lineitem")
    val subjects = customer.filter(col("c_acctbal") < 0).select(col("c_custkey"))
    val oDel = orders.join(subjects,
      col("o_custkey") === col("c_custkey"), "left_semi")
    val lDel = lineitem.join(oDel.select(col("o_orderkey").as("graft_k")),
      col("l_orderkey") === col("graft_k"), "left_semi")
    def audit(name: String, total: DataFrame, purged: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("n_rows"))
        .crossJoin(purged.agg(count(lit(1)).as("n_purged")))
        .select(lit(name).as("table_name"), col("n_rows"), col("n_purged"),
          Tables.r6(col("n_purged").cast("double") / col("n_rows")).as("purge_frac"))
    audit("customer", customer, subjects)
      .unionByName(audit("orders", orders, oDel))
      .unionByName(audit("lineitem", lineitem, lDel))
      .orderBy("table_name")
  }

  /** q259: referential-integrity-preserving pseudonymization audit —
    * q36 tokenizes ONE table; a real anonymized EXPORT tokenizes the
    * subject key in EVERY table with the same keyed hash so joins still
    * work after the identifiers are gone. Because the token is a
    * STATELESS salted hash (not a lookup table), cross-table consistency
    * is free — no token-map join, no shared state — which is exactly
    * what this audit proves: distinct tokens = distinct customers (no
    * collision collapsed two subjects) and every order's token resolves
    * into the customer dimension (the FK survived tokenization).
    *
    * Scale: per-row codegen'd sha2 on both tables; the resolution check
    * is a token-keyed semi-join bounded by the dimension domain; output
    * is one audit row. */
  private def q259(spark: SparkSession, sfDir: String): DataFrame = {
    val salt = "fk42"
    val cTok = Tables(spark, sfDir, "customer")
      .select(graft.Graft.pseudonym(col("c_custkey").cast("string"), salt).as("tok"))
    val oTok = Tables(spark, sfDir, "orders")
      .select(graft.Graft.pseudonym(col("o_custkey").cast("string"), salt).as("tok"))
    // no distinct() on the semi join's right side: a semi join's output
    // is identical either way, and the dedup would add a corpus-sized
    // aggregate + exchange for nothing
    val linked = oTok.join(cTok, Seq("tok"), "left_semi")
    cTok.agg(count(lit(1)).as("n_customers"),
        countDistinct(col("tok")).as("n_tokens"))
      .crossJoin(oTok.agg(count(lit(1)).as("n_orders")))
      .crossJoin(linked.agg(count(lit(1)).as("n_orders_linked")))
      .select(col("n_customers"), col("n_tokens"), col("n_orders"),
        col("n_orders_linked"),
        (col("n_tokens") === col("n_customers") &&
          col("n_orders_linked") === col("n_orders")).as("fk_preserved"))
  }

  val entries: Seq[Q] = Seq(
    Q("q258_gdpr_erasure_audit", q258 _, Some(
      "WITH s AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0), " +
        "od AS (SELECT o_orderkey FROM orders " +
        "WHERE o_custkey IN (SELECT c_custkey FROM s)), " +
        "ld AS (SELECT l_orderkey FROM lineitem " +
        "WHERE l_orderkey IN (SELECT o_orderkey FROM od)) " +
        "SELECT table_name, n_rows, n_purged, " +
        Tables.r6sql("CAST(n_purged AS DOUBLE) / n_rows") + " AS purge_frac FROM (" +
        "SELECT 'customer' AS table_name, " +
        "CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_rows, " +
        "CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_purged " +
        "UNION ALL SELECT 'orders', " +
        "CAST((SELECT COUNT(*) FROM orders) AS BIGINT), " +
        "CAST((SELECT COUNT(*) FROM od) AS BIGINT) " +
        "UNION ALL SELECT 'lineitem', " +
        "CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT), " +
        "CAST((SELECT COUNT(*) FROM ld) AS BIGINT)) " +
        "ORDER BY table_name")),
    Q("q259_anon_ref_integrity", q259 _, Some(
      "WITH c AS (SELECT sha256('fk42' || CAST(c_custkey AS VARCHAR)) AS tok " +
        "FROM customer), " +
        "o AS (SELECT sha256('fk42' || CAST(o_custkey AS VARCHAR)) AS tok " +
        "FROM orders), " +
        "l AS (SELECT tok FROM o WHERE tok IN (SELECT DISTINCT tok FROM c)) " +
        "SELECT CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_customers, " +
        "CAST((SELECT COUNT(DISTINCT tok) FROM c) AS BIGINT) AS n_tokens, " +
        "CAST((SELECT COUNT(*) FROM o) AS BIGINT) AS n_orders, " +
        "CAST((SELECT COUNT(*) FROM l) AS BIGINT) AS n_orders_linked, " +
        "((SELECT COUNT(DISTINCT tok) FROM c) = (SELECT COUNT(*) FROM c) AND " +
        "(SELECT COUNT(*) FROM l) = (SELECT COUNT(*) FROM o)) AS fk_preserved")),
    Q("q35_anon_drop_identifiers", q35 _, Some(
      "SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment " +
        "FROM customer ORDER BY c_custkey")),
    Q("q36_anon_pseudonymize", q36 _, Some(
      "SELECT c_custkey, sha256('salt42' || c_name) AS pseudonym " +
        "FROM customer ORDER BY c_custkey")),
    Q("q37_anon_mask", q37 _, Some(
      "SELECT c_custkey, SUBSTRING(c_name, 1, 4) || '***' AS masked_name, " +
        "REGEXP_REPLACE(c_name, '[0-9]', '#', 'g') AS digit_masked " +
        "FROM customer ORDER BY c_custkey")),
    Q("q38_anon_generalize_num", q38 _, Some(
      s"SELECT c_custkey, $acctBinSql AS acct_bin FROM customer ORDER BY c_custkey")),
    Q("q39_anon_generalize_date", q39 _, Some(
      "SELECT o_orderkey, CAST(DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS DATE) " +
        "AS order_month FROM orders ORDER BY o_orderkey")),
    Q("q40_anon_generalize_cat", q40 _, Some(
      "SELECT c_custkey, r_name AS generalized_nation FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "ORDER BY c_custkey")),
    Q("q41_anon_kanon_audit", q41 _, Some(
      s"SELECT c_nationkey, c_mktsegment, $acctBinSql AS acct_bin, " +
        "COUNT(*) AS group_size, COUNT(*) < 5 AS violates_k5 " +
        "FROM customer GROUP BY 1, 2, 3 ORDER BY c_nationkey, c_mktsegment, acct_bin")),
    Q("q42_anon_suppress_k", q42 _, Some(
      "SELECT c_custkey, CASE WHEN gs >= 5 THEN c_nationkey END AS nationkey_k, " +
        "CASE WHEN gs >= 5 THEN c_mktsegment END AS mktsegment_k, " +
        "CASE WHEN gs >= 5 THEN acct_bin END AS acct_bin_k FROM (" +
        s"SELECT c_custkey, c_nationkey, c_mktsegment, $acctBinSql AS acct_bin, " +
        s"COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment, $acctBinSql) AS gs " +
        "FROM customer) ORDER BY c_custkey")),
    Q("q43_anon_ldiversity", q43 _, Some(
      s"SELECT c_nationkey, c_mktsegment, COUNT(DISTINCT $acctBinSql) AS l, " +
        "COUNT(*) AS group_size, COUNT(DISTINCT " + acctBinSql + ") < 2 AS violates_l2 " +
        "FROM customer GROUP BY 1, 2 ORDER BY c_nationkey, c_mktsegment")),
    Q("q44_anon_entropy_ldiv", q44 _, Some(
      s"SELECT c_nationkey, c_mktsegment, " + Tables.r6sql(s"entropy(CAST($acctBinSql AS VARCHAR))") + " " +
        "AS entropy FROM customer GROUP BY 1, 2 ORDER BY c_nationkey, c_mktsegment")),
    Q("q45_anon_microagg", q45 _, Some(
      "SELECT c_custkey, c_nationkey, c_mktsegment, " +
        Tables.meanDSql("SUM(CAST(c_acctbal AS DECIMAL(18,4))) OVER w", "COUNT(*) OVER w") +
        " AS acctbal_micro FROM customer " +
        "WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment) ORDER BY c_custkey")),
    Q("q46_anon_perturb", q46 _, Some(
      "SELECT event_id, " + Tables.r6sql("value + ((event_id * 2654435761) % 1000) / 1000.0 - 0.4995") + " " +
        "AS value_noised FROM events ORDER BY event_id")),
    Q("q47_anon_swap", q47 _, Some(
      "SELECT a.c_custkey, a.c_nationkey, b.c_acctbal AS acctbal_swapped FROM (" +
        "SELECT c_custkey, c_nationkey, c_acctbal, " +
        "ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS rn, " +
        "COUNT(*) OVER (PARTITION BY c_nationkey) AS n FROM customer) a JOIN (" +
        "SELECT c_nationkey, c_acctbal, " +
        "ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS rn " +
        "FROM customer) b ON a.c_nationkey = b.c_nationkey AND a.n + 1 - a.rn = b.rn " +
        "ORDER BY a.c_custkey")),
    Q("q80_anon_tcloseness", q80 _, Some(
      s"WITH cust AS (SELECT c_nationkey, c_mktsegment, $acctBinSql AS bin FROM customer), " +
        "n AS (SELECT COUNT(*) AS n FROM cust), " +
        "global AS (SELECT bin, COUNT(*) AS gcnt FROM cust GROUP BY bin), " +
        "groups AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS ng FROM cust GROUP BY 1, 2), " +
        "gb AS (SELECT c_nationkey, c_mktsegment, bin, COUNT(*) AS cnt FROM cust GROUP BY 1, 2, 3), " +
        "grid AS (SELECT g.c_nationkey, g.c_mktsegment, gl.bin, " +
        "gl.gcnt / CAST(n.n AS DOUBLE) AS p, COALESCE(gb.cnt, 0) / CAST(g.ng AS DOUBLE) AS q " +
        "FROM groups g CROSS JOIN global gl CROSS JOIN n " +
        "LEFT JOIN gb ON gb.c_nationkey = g.c_nationkey AND gb.c_mktsegment = g.c_mktsegment AND gb.bin = gl.bin), " +
        "runs AS (SELECT c_nationkey, c_mktsegment, " +
        "SUM(p - q) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY bin " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run, " +
        "COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS b " +
        "FROM grid) " +
        "SELECT c_nationkey, c_mktsegment, emd, emd > 0.2 AS violates_t02 FROM (" +
        "SELECT c_nationkey, c_mktsegment, " +
        Tables.r6sql("CAST(SUM(CAST(ABS(run) AS DECIMAL(18,9))) AS DOUBLE) / (MAX(b) - 1)") +
        " AS emd FROM runs GROUP BY 1, 2) ORDER BY c_nationkey, c_mktsegment")),
    Q("q48_anon_tokenize", q48 _, Some(
      "SELECT c_custkey, token FROM customer JOIN (" +
        "SELECT c_name, DENSE_RANK() OVER (ORDER BY c_name) AS token FROM (" +
        "SELECT DISTINCT c_name FROM customer)) USING (c_name) ORDER BY c_custkey")),
    Q("q115_anon_mondrian", q115 _, Some(
      // CAST on h1/h2: DuckDB's NTILE returns BIGINT, Spark's ntile()
      // IntegerType (q151 precedent: align the oracle's type to Spark's)
      "SELECT c_nationkey, CAST(h1 AS INTEGER) AS h1, CAST(h2 AS INTEGER) AS h2, " +
        "MIN(c_acctbal) AS acct_lo, MAX(c_acctbal) AS acct_hi, " +
        "MIN(c_mktsegment) AS seg_lo, MAX(c_mktsegment) AS seg_hi, " +
        "COUNT(*) AS cell_n, COUNT(*) < 10 AS violates_k10 FROM (" +
        "SELECT c_nationkey, c_mktsegment, c_acctbal, h1, " +
        "NTILE(2) OVER (PARTITION BY c_nationkey, h1 ORDER BY c_mktsegment, c_custkey) AS h2 " +
        "FROM (SELECT *, NTILE(2) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS h1 " +
        "FROM customer)) GROUP BY 1, 2, 3 ORDER BY c_nationkey, h1, h2")),
    Q("q140_anon_pipeline", q140 _, Some(
      "SELECT sha256('pub42' || c_name) AS pseudonym, " +
        "CASE WHEN cell_n >= 5 THEN r_name END AS region_k, " +
        "CASE WHEN cell_n >= 5 THEN c_mktsegment END AS segment_k, " +
        "CASE WHEN cell_n >= 5 THEN acct_bin END AS acct_bin_k FROM (" +
        s"SELECT c_name, r_name, c_mktsegment, $acctBinSql AS acct_bin, " +
        s"COUNT(*) OVER (PARTITION BY r_name, c_mktsegment, $acctBinSql) AS cell_n " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey) ORDER BY pseudonym")),
    Q("q141_anon_utility", q141 _, Some(
      s"WITH cells AS (SELECT r_name, c_mktsegment, $acctBinSql AS acct_bin, COUNT(*) AS cell_n " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2, 3), " +
        "m AS (SELECT CAST(SUM(cell_n) AS BIGINT) AS n_rows, COUNT(*) AS n_cells, " +
        "CAST(SUM(CASE WHEN cell_n < 5 THEN cell_n ELSE 0 END) AS BIGINT) AS suppressed_rows, " +
        "CAST(SUM(CASE WHEN cell_n >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS kept_cells, " +
        "CAST(SUM(CASE WHEN cell_n >= 5 THEN cell_n * cell_n ELSE 0 END) AS BIGINT) AS dm_kept " +
        "FROM cells) " +
        "SELECT n_rows, n_cells, suppressed_rows, kept_cells, " +
        Tables.r6sql("CAST(suppressed_rows AS DOUBLE) / n_rows") + " AS suppression_frac, " +
        Tables.meanDSql("CAST(n_rows - suppressed_rows AS DECIMAL(18,4))", "NULLIF(kept_cells, 0)") +
        " AS avg_kept_cell, " +
        "dm_kept + n_rows * suppressed_rows AS discernibility FROM m")),
    Q("q362_anon_dp_gaussian", q362 _, Some {
      val us = (1 to 12).map { i =>
        val h = s"md5(CONCAT('gauss:', CAST(c_nationkey AS VARCHAR), ':', " +
          s"c_mktsegment, ':', '$i'))"
        val hex = (1 to 4).map { p =>
          val w = math.pow(16, 4 - p).toInt
          s"(strpos('0123456789abcdef', substr($h, $p, 1)) - 1) * $w"
        }.mkString(" + ")
        s"(CAST($hex AS DOUBLE) / 65536.0)"
      }.mkString(" + ")
      val sigma = "sqrt(2.0 * LN(1250000.0))"
      "SELECT c_nationkey, c_mktsegment, true_n, " +
        Tables.r6sql(sigma) + " AS sigma, " +
        Tables.r6sql(s"CAST(true_n AS DOUBLE) + $sigma * (($us) - 6.0)") +
        " AS noisy_n, 'audit-deterministic' AS mode FROM (" +
        "SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS true_n " +
        "FROM customer GROUP BY 1, 2) ORDER BY c_nationkey, c_mktsegment"
    }),
    Q("q116_anon_dp_noise", q116 _, Some(
      "SELECT c_nationkey, c_mktsegment, " +
        Tables.r6sql("CAST(true_n AS DOUBLE) + " +
          "-2.0 * (CASE WHEN u - 0.5 >= 0 THEN 1.0 ELSE -1.0 END) * LN(1.0 - 2.0 * ABS(u - 0.5))") +
        " AS noisy_n FROM (" +
        "SELECT c_nationkey, c_mktsegment, COUNT(*) AS true_n, " +
        "CAST((((c_nationkey * 256 + ASCII(SUBSTRING(c_mktsegment, 1, 1))) * 2654435761) % 1000003) + 1 AS DOUBLE) " +
        "/ 1000004.0 AS u " +
        "FROM customer GROUP BY 1, 2) ORDER BY c_nationkey, c_mktsegment")),
  )
}
