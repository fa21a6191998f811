package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline staples (q77–q79): TF-IDF term weighting,
  * embedding quantization, and deterministic dataset splitting.
  *
  * Scale: TF-IDF is two groupBys (term-frequency per doc, doc-frequency
  * per token) + a broadcast-sized token-stats join — shuffle bounded by
  * vocabulary and doc count; quantization and splitting are pure per-row
  * expressions.
  */
object PipelineOps {
  import Tables.dec

  /** q77: TF-IDF — tf·ln(N/df), top-3 terms per doc (rank on the
    * 6-dp-rounded score, token tiebreak — deterministic cross-engine). */
  private def q77(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df_ = toks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    // corpus size as a broadcast 1-row aggregate, not a driver-side
    // .count(): no extra action job, no driver sync point inside the query
    val n = docs.agg(count(lit(1)).cast("double").as("n_total"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
    tf.join(df_, "token")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        Tables.r6(col("tf") * log(col("n_total") / col("df"))).as("tfidf"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 3)
      .orderBy("doc_id", "rank")
  }

  /** q78: int8 min-max quantization of embeddings — per-vector range,
    * quantize/dequantize round trip, mean absolute reconstruction error.
    * All arithmetic is per-row IEEE doubles in fixed element order. */
  private def q78(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        expr("CAST(array_min(embedding) AS DOUBLE)").as("mn"),
        expr("CAST(array_max(embedding) AS DOUBLE)").as("mx"),
        col("embedding"))
      .withColumn("scale", (col("mx") - col("mn")) / 255.0)
      .select(col("vec_id"),
        Tables.r6(col("mn")).as("qmin"),
        Tables.r6(col("mx")).as("qmax"),
        Tables.r6(expr(
          // err per element: |x − (mn + floor((x−mn)/scale + 0.5)·scale)|
          "aggregate(transform(embedding, x -> " +
            "abs(CAST(x AS DOUBLE) - (mn + FLOOR((CAST(x AS DOUBLE) - mn) / scale + 0.5) * scale))), " +
            "CAST(0.0 AS DOUBLE), (a, e) -> a + e) / 64")).as("mean_abs_err"))
      .orderBy("vec_id")
  }

  /** q79: deterministic train/val/test split — md5-prefix bucket of the
    * row key (portable across engines, stable across runs/partitionings;
    * the hash-based split every reproducible pipeline needs). */
  private def q79(spark: SparkSession, sfDir: String): DataFrame = {
    // row key folded to one int64 (linenumber < 10), two hex chars of its
    // md5 → 0..255 via instr math (cheaper than radix conv, same result
    // in both engines)
    Tables(spark, sfDir, "lineitem")
      .withColumn("h", expr("md5(cast(l_orderkey * 10 + l_linenumber AS STRING))"))
      .withColumn("bucket", expr(
        "((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(h, 2, 1)) - 1)) % 100"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("cnt"),
        // DECIMAL sum internally, r6 DOUBLE on the wire (see Joins.q05)
        Tables.r6(sum(dec(col("l_extendedprice"))).cast("double")).as("sum_price"))
      .orderBy("split")
  }

  /** PII pattern shared by the Spark and oracle sides of q81: emails,
    * long digit runs (phone/ID-shaped), plus a name-like surrogate term —
    * kept alternation-unambiguous so java.util.regex and RE2 agree. */
  private val piiPat =
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}|[0-9]{7,}|customer"

  /** q81: PII redaction — match count + globally-redacted text per doc.
    * Pure per-row regexp expressions; at scale a narrow map stage with no
    * shuffle (the orderBy exists only for the deterministic compare). */
  private def q81(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$piiPat', 0)")).cast("bigint").as("n_hits"),
        substring(regexp_replace(col("text"), piiPat, "<PII>"), 1, 60).as("redacted_prefix"))
      .orderBy("doc_id")
  }

  /** q303: PII density by source — the compliance heat map q81's per-doc
    * rows don't aggregate to: per source, docs scanned, docs with ≥1 PII
    * hit, total hits, and hits per 1,000 characters — the number a
    * data-protection review reads to decide which sources need the
    * redaction pass (or exclusion) first.
    *
    * Scale: one narrow per-row regexp count (same `piiPat` as q81, no
    * text shuffled) into a map-side-combined groupBy(source); output
    * ≤ #sources rows at any corpus size. */
  private def q303(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("source"),
        size(expr(s"regexp_extract_all(text, '$piiPat', 0)")).cast("bigint").as("hits"),
        length(col("text")).cast("bigint").as("chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("docs_with_pii"),
        sum("hits").as("n_hits"),
        Tables.r6(lit(1000.0) * sum("hits") / sum("chars")).as("hits_per_kchar"))
      .orderBy("source")

  /** q82: bigram repetition ratio (Gopher-style quality signal) —
    * 1 − distinct/total word bigrams per doc. One explode + one groupBy,
    * shuffle bounded by doc count. */
  private def q82(spark: SparkSession, sfDir: String): DataFrame = {
    // r17 optimization (guide §2.4 "remove shuffles outright"): both
    // per-doc statistics are in-row array facts — n_bigrams = size−1,
    // n_distinct = size(array_distinct(bigrams)) (the form q313's rep
    // signal already uses) — so the bigram explode + doc-keyed
    // countDistinct exchange (the whole bigram stream) is replaced by a
    // pure narrow map stage. Values identical: count(exploded) ≡
    // size(ts)−1, countDistinct(bg) ≡ size(array_distinct(...)).
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"),
        (size(col("ts")) - 1).cast("bigint").as("n_bigrams"),
        size(expr(
          "array_distinct(transform(sequence(0, size(ts) - 2), " +
            "i -> concat_ws(' ', ts[i], ts[i+1])))")).cast("bigint").as("n_distinct"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        Tables.r6(lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams"))
          .as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** q84: doc-length histogram per language, bucketed by decimal digit
    * count (an integer-exact log10 bucket — FLOOR(LOG2/LOG10(x)) is a
    * float-boundary trap at exact powers on either engine). */
  private def q84(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "documents")
      .groupBy(col("lang"),
        length(col("n_chars").cast("string")).cast("bigint").as("len_digits"))
      .agg(count(lit(1)).as("n_docs"),
        Tables.meanD(sum(col("n_chars")), count(lit(1))).as("avg_chars"))
      .orderBy("lang", "len_digits")
  }

  /** q85: deterministic stratified sampling — per-language rates (en 50%,
    * others 20%) over the q79 md5-bucket of the row key: reproducible
    * across runs, partitionings, and engines; the training-data sampling
    * primitive. Narrow filter, no shuffle. */
  private def q85(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "documents")
      .withColumn("h", expr("md5(cast(doc_id AS STRING))"))
      .withColumn("bucket", expr(
        "cast(((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substring(h, 2, 1)) - 1)) % 100 as bigint)"))
      .filter(col("bucket") < when(col("lang") === "en", 50).otherwise(20))
      .select("doc_id", "lang", "source", "bucket")
      .orderBy("doc_id")
  }

  /** q91: document chunking — fixed-size token windows (30 tokens, stride
    * 20 ⇒ 10-token overlap) per document: the standard pre-training
    * chunker shape. Pure per-row array ops (stepped `sequence` + `slice`);
    * ~n_tokens/stride rows per doc with NO shuffle — the orderBy exists
    * only for the deterministic compare. */
  private def q91(spark: SparkSession, sfDir: String): DataFrame =
    graft.Graft.chunkDocuments(Tables(spark, sfDir, "documents"),
      chunkTokens = 30, stride = 20)
      .orderBy("doc_id", "chunk_id")

  /** q92: deterministic corpus shuffle — epoch-seeded hash ordering
    * (md5 of "seed:doc_id"): every engine, run, and partitioning produces
    * the same permutation, which is how a reproducible training pipeline
    * shuffles 100 TB (a global sort by the hash key — range exchange,
    * no single-partition stage; changing the seed re-deals the epoch). */
  private def q92(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        md5(concat(lit("epoch42:"), col("doc_id").cast("string"))).as("shuffle_key"),
        col("lang"))
      .orderBy("shuffle_key", "doc_id")
  }

  /** q98: upsert / MERGE — updates take precedence over the base table
    * on the key, executed as the standard distributed merge plan:
    * `base ANTI-JOIN updates` ∪ `updates` (one equi-join on the key —
    * broadcast when the delta is small, which is the usual shape). The
    * update set here is derived deterministically from the base (every
    * 10th customer gets +1000 balance and a segment change) so the
    * oracle can state the post-merge table as a CASE expression. */
  private def q98(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables(spark, sfDir, "customer")
      .select("c_custkey", "c_acctbal", "c_mktsegment")
    val updates = base.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"),
        (col("c_acctbal") + 1000.0).as("c_acctbal"),
        lit("UPDATED").as("c_mktsegment"))
    base.join(broadcast(updates.select("c_custkey")), Seq("c_custkey"), "left_anti")
      .unionByName(updates)
      .orderBy("c_custkey")
  }

  /** q99 lives in TimeSeries (SCD2 interval building over event time). */

  /** q100: data-quality audit — the constraint-check report an ETL gate
    * runs before publishing a load: row count, null check on the key
    * column, range-violation count (all three from ONE fused scan of
    * customer via conditional counts + `stack`), primary-key duplicate
    * count (one keyed aggregation), and FK orphan count (one keyed
    * anti-join). Three passes over customer total — the row-level checks
    * never re-scan per metric. */
  private def q100(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
    val o = Tables(spark, sfDir, "orders")
    def metric(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("metric"), col("value"))
    val rowChecks = c.agg(
      count(lit(1)).as("n_rows"),
      count(when(col("c_name").isNull, 1)).as("n_null"),
      count(when(col("c_acctbal") < -1000 || col("c_acctbal") > 10000, 1)).as("n_range"))
      .selectExpr("stack(3, 'customer_rows', n_rows, " +
        "'customer_null_names', n_null, " +
        "'customer_acctbal_out_of_range', n_range) AS (metric, value)")
    val dups = metric("customer_dup_keys",
      c.groupBy("c_custkey").agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .agg(count(lit(1)).as("value")))
    val orphans = metric("orders_fk_orphans",
      o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("value")))
    rowChecks.unionByName(dups).unionByName(orphans)
      .orderBy("metric")
  }

  /** q121: CDC snapshot diff — classify every key across two table
    * versions as added / removed / changed via one full-outer join on the
    * key. The change-detection primitive behind incremental loads and
    * audit trails; v2 is derived from v1 by a deterministic transform
    * (delete keys ≡0 mod 97, bump acctbal on keys ≡0 mod 7, insert
    * negated-key clones for keys ≡0 mod 101 — negative ids can never
    * collide with genuine positive custkeys at ANY scale factor, where a
    * fixed +offset would) so the diff is verifiable
    * end-to-end without side files. At scale the value compare should be
    * a single fingerprint column (xxhash64 of all value columns) computed
    * under the scan so the join carries 8-byte digests instead of whole
    * rows; here the value set is 1 column wide so it's compared directly
    * (DuckDB 1.0 has no xxhash64 for cross-engine parity anyway). One
    * shuffle on the key (both sides), bounded output. */
  private def q121(spark: SparkSession, sfDir: String): DataFrame = {
    val v1 = Tables(spark, sfDir, "customer").select("c_custkey", "c_acctbal")
    val kept = v1.filter(col("c_custkey") % 97 =!= 0)
    val inserted = v1.filter(col("c_custkey") % 101 === 0)
      .select((-col("c_custkey")).as("c_custkey"), col("c_acctbal"))
    val v2 = kept.unionByName(inserted)
    v1.select(col("c_custkey").as("k1"), col("c_acctbal").as("bal1"))
      .join(v2.select(col("c_custkey").as("k2"), col("c_acctbal").as("bal2")),
        col("k1") === col("k2"), "full_outer")
      .select(
        coalesce(col("k1"), col("k2")).as("key"),
        when(col("k1").isNull, lit("added"))
          .when(col("k2").isNull, lit("removed"))
          .when(col("bal1") =!= col("bal2"), lit("changed"))
          .otherwise(lit("unchanged")).as("change_type"),
        col("bal1").as("old_val"), col("bal2").as("new_val"))
      .filter(col("change_type") =!= "unchanged")
      .orderBy("key")
  }

  /** q136: A/B experiment readout — a deterministic 50/50 user split
    * (parity of user_id; production swaps a salted-hash bucket), per-arm
    * conversion to 'purchase', and the two-proportion pooled z statistic
    * — the experimentation primitive behind every launch decision. All
    * inputs to the z formula are exact integer counts, so the double
    * arithmetic is order-free and bit-identical cross-engine (r6 on the
    * outputs). Scale: one distinct over (user, converted?) then a 2-group
    * agg folded to one row — nothing beyond user cardinality shuffles. */
  private def q136(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    // conversion = purchase total above the global per-user median (the
    // synthetic corpus is dense — EVERY user has every event type, so a
    // has-event conversion is degenerately p=1 and the z variance is 0)
    // totals feeds both the median aggregate and the join — materialize
    // once (q120 barrier precedent) instead of re-scanning events twice
    val totals = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(dec(col("value"))).cast("double").as("ptotal"))
      .transform(graft.plans.CorpusPin.pin)
    // bounded-state exact median (the builtin percentile would buffer
    // every distinct per-user total in ONE global aggregation buffer);
    // bit-identical values, so the quantile_cont oracle is untouched.
    // Attached via a constant-key LEFT join, not crossJoin: on a slice
    // with zero purchases BoundedQuantiles returns an EMPTY frame
    // (where the builtin returned one NULL row) and a crossJoin would
    // annihilate every user — the left join yields NULL med, so
    // `ptotal > med` is NULL ⇒ converted = 0, matching the oracle's
    // quantile_cont-over-empty ⇒ NULL ⇒ CASE ⇒ 0 path.
    val med = graft.plans.BoundedQuantiles.groupQuantiles(
      totals, Nil, col("ptotal"), Seq(0.5), Seq("med"), pin = false)
      .withColumn("graft_jk", lit(0))
    val users = ev.select("user_id").distinct()
      .join(totals, Seq("user_id"), "left")
      .na.fill(0.0, Seq("ptotal"))
      .withColumn("graft_jk", lit(0))
      .join(broadcast(med), Seq("graft_jk"), "left")
      .drop("graft_jk")
      .select(col("user_id"),
        when(col("ptotal") > col("med"), 1L).otherwise(0L).as("converted"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    val d = (c: Column) => c.cast("double")
    users.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0, col("converted")).otherwise(0L)).as("conv_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1, col("converted")).otherwise(0L)).as("conv_b"))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        // every denominator NULLIF-guarded: an empty arm (all-one-parity
        // slice) or a degenerate p∈{0,1} emits NULL, not an ANSI
        // divide-by-zero — and DuckDB's non-erroring double division
        // would otherwise diverge from Spark here
        Tables.r6(d(col("conv_a")) / nullif(col("n_a"), lit(0L))).as("rate_a"),
        Tables.r6(d(col("conv_b")) / nullif(col("n_b"), lit(0L))).as("rate_b"),
        Tables.r6(
          (d(col("conv_b")) / nullif(col("n_b"), lit(0L)) -
            d(col("conv_a")) / nullif(col("n_a"), lit(0L))) /
            nullif(sqrt((d(col("conv_a") + col("conv_b")) / d(col("n_a") + col("n_b"))) *
              (lit(1.0) - d(col("conv_a") + col("conv_b")) / d(col("n_a") + col("n_b"))) *
              (lit(1.0) / nullif(col("n_a"), lit(0L)) +
                lit(1.0) / nullif(col("n_b"), lit(0L)))), lit(0.0))).as("z_stat"))
  }

  /** q351: experiment health audit — sample-ratio mismatch + covariate
    * balance, the two guardrails every experimentation platform runs
    * BEFORE reading q136's outcome test (Kohavi et al., Trustworthy
    * Online Controlled Experiments ch. 21: an SRM or an imbalanced
    * pre-exposure covariate invalidates the test no matter how
    * significant the outcome looks). Row 1: SRM χ² = (n_a−n_b)²/N for
    * the designed 50/50 split, flagged at the α=0.05, 1-df critical
    * value 3.841459. Rows 2–4: per pre-exposure covariate (event count,
    * total value, distinct event types), the standardized mean
    * difference |m_a−m_b|/√((v_a+v_b)/2), flagged at the standard 0.1
    * balance threshold (Austin 2009).
    *
    * Determinism: per-user covariates are exact DECIMAL(19,4); all
    * moments are DECIMAL sums (q210's R1 recipe); the SMD/χ² doubles
    * are fixed-shape IEEE, r6'd, and both flag compares run against the
    * r6'd statistic.
    *
    * Scale: ONE user-keyed collapse of events, then ONE grand 14-term
    * moment aggregate (map-side combined, 1 row) — the 4 report rows
    * unpivot from that row; nothing downstream touches the corpus. */
  private def q351(spark: SparkSession, sfDir: String): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,4)")
    val users = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(d19(count(lit(1))).as("ev"),
        d19(sum(dec(col("value")))).as("vl"),
        d19(countDistinct(col("event_type"))).as("ty"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    def m(c: String, arm: Int) = Seq(
      sum(when(col("arm") === arm, col(c))).as(s"s_${c}_$arm"),
      sum(when(col("arm") === arm, col(c) * col(c))).as(s"ss_${c}_$arm"))
    val g = users.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_0"),
      (sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_1") +:
        Seq("ev", "vl", "ty").flatMap(c => m(c, 0) ++ m(c, 1))): _*)
      .localCheckpoint(true) // 1 row; the 4 report selects read it
    val d = (c: Column) => c.cast("double")
    val (n0, n1) = (d(col("n_0")), d(col("n_1")))
    val srm = g.select(lit("srm").as("check_name"),
      col("n_0").as("n_a"), col("n_1").as("n_b"),
      Tables.r6(n0 / (n0 + n1)).as("mean_a"),
      Tables.r6(n1 / (n0 + n1)).as("mean_b"),
      Tables.r6((n0 - n1) * (n0 - n1) / (n0 + n1)).as("stat"))
      .withColumn("flagged", col("stat") > lit(3.841459))
    def smdRow(c: String) = {
      val (s0, ss0) = (d(col(s"s_${c}_0")), d(col(s"ss_${c}_0")))
      val (s1, ss1) = (d(col(s"s_${c}_1")), d(col(s"ss_${c}_1")))
      // every denominator NULLIF-guarded (q136's ANSI discipline): an
      // arm of ≤1 user or a CONSTANT covariate (this corpus is dense —
      // every user holds all event types, so the ty variance IS 0)
      // yields NULL stat/flag, not a divide-by-zero
      val v0 = (ss0 - s0 * s0 / nullif(n0, lit(0.0))) /
        nullif(n0 - lit(1.0), lit(0.0))
      val v1 = (ss1 - s1 * s1 / nullif(n1, lit(0.0))) /
        nullif(n1 - lit(1.0), lit(0.0))
      g.select(lit(s"balance_$c").as("check_name"),
        col("n_0").as("n_a"), col("n_1").as("n_b"),
        Tables.r6(s0 / nullif(n0, lit(0.0))).as("mean_a"),
        Tables.r6(s1 / nullif(n1, lit(0.0))).as("mean_b"),
        Tables.r6(abs(s0 / nullif(n0, lit(0.0)) - s1 / nullif(n1, lit(0.0))) /
          nullif(sqrt((v0 + v1) / lit(2.0)), lit(0.0))).as("stat"))
        .withColumn("flagged", col("stat") > lit(0.1))
    }
    srm.unionByName(smdRow("ev")).unionByName(smdRow("vl"))
      .unionByName(smdRow("ty"))
      .orderBy("check_name")
  }

  /** q352: CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM
    * 2013) — the experimentation-platform workhorse q136/q351 complete:
    * the outcome metric Y (post-period per-user value) is adjusted by
    * the PRE-period covariate X via Y_cv = Y − θ(X − E[X]), θ =
    * cov(X,Y)/var(X) — same expectation, strictly smaller variance
    * (reduction = ρ²), so the same experiment detects smaller effects.
    * Pre/post split at the calendar midpoint (derived from the data's
    * own day bounds — deterministic, engine-independent integer math);
    * θ is fit on POOLED arms (the standard, assignment-independent
    * form). Output: per-arm sizes, θ, raw vs CUPED arm difference,
    * var(Y) vs var(Y_cv), and the variance-reduction ratio — everything
    * a metrics reviewer needs to see the win.
    *
    * Determinism: all moments are exact-DECIMAL sums (q210 R1); the
    * adjusted variance needs NO second pass — var(Y_cv) = var(Y) −
    * cov²/var(X) algebraically; every derived double is fixed-shape
    * IEEE, NULLIF-guarded (constant X), r6'd.
    *
    * Scale: events collapse ONCE to the (user, day) frame
    * (checkpointed — day-bounds fold + the X/Y split both read it,
    * users×days ≪ events); the split threshold is a broadcast 1-row
    * fold; X/Y are one user-keyed agg; the statistics are ONE grand
    * 12-term moment aggregate (map-side combined, 1 row). */
  private def q352(spark: SparkSession, sfDir: String): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,4)")
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"),
        dec(col("value")).as("v"))
      .groupBy("user_id", "day").agg(sum(col("v")).as("dv"))
      .transform(graft.plans.CorpusPin.pin) // users×days-bounded; bounds fold + split read it
    val split = ud.agg(expr("(min(day) + max(day) + 1) div 2").as("split_day"))
    val xy = ud.crossJoin(broadcast(split))
      .groupBy("user_id")
      .agg(d19(sum(when(col("day") < col("split_day"), col("dv"))
          .otherwise(lit(0)))).as("x"),
        d19(sum(when(col("day") >= col("split_day"), col("dv"))
          .otherwise(lit(0)))).as("y"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    def m(arm: Int) = Seq(
      sum(when(col("arm") === arm, 1L).otherwise(0L)).as(s"n_$arm"),
      sum(when(col("arm") === arm, col("x"))).as(s"sx_$arm"),
      sum(when(col("arm") === arm, col("y"))).as(s"sy_$arm"),
      sum(when(col("arm") === arm, col("x") * col("x"))).as(s"sxx_$arm"),
      sum(when(col("arm") === arm, col("x") * col("y"))).as(s"sxy_$arm"),
      sum(when(col("arm") === arm, col("y") * col("y"))).as(s"syy_$arm"))
    val g = xy.agg(m(0).head, (m(0).tail ++ m(1)): _*)
    val d = (c: Column) => c.cast("double")
    val n = d(col("n_0")) + d(col("n_1"))
    def pooled(p: String) = (d(col(s"${p}_0")) + d(col(s"${p}_1"))) / n
    val (mx, my) = (pooled("sx"), pooled("sy"))
    val varx = pooled("sxx") - mx * mx
    val vary = pooled("syy") - my * my
    val covxy = pooled("sxy") - mx * my
    val theta = covxy / nullif(varx, lit(0.0))
    val diffRaw = d(col("sy_1")) / nullif(d(col("n_1")), lit(0.0)) -
      d(col("sy_0")) / nullif(d(col("n_0")), lit(0.0))
    val diffX = d(col("sx_1")) / nullif(d(col("n_1")), lit(0.0)) -
      d(col("sx_0")) / nullif(d(col("n_0")), lit(0.0))
    g.select(col("n_0").as("n_a"), col("n_1").as("n_b"),
      Tables.r6(theta).as("theta"),
      Tables.r6(diffRaw).as("diff_raw"),
      Tables.r6(diffRaw - theta * diffX).as("diff_cuped"),
      Tables.r6(vary).as("var_y"),
      Tables.r6(vary - covxy * covxy / nullif(varx, lit(0.0))).as("var_cuped"),
      Tables.r6(covxy * covxy / nullif(varx * vary, lit(0.0)))
        .as("var_reduction"))
  }

  /** q353: delta-method CI for a RATIO metric (clicks per view) — the
    * correction every experimentation platform applies before trusting
    * a ratio (Deng, Knoblich & Lu, KDD 2018): R = ΣC/ΣV is a ratio of
    * SUMS over users, so per-event rows are NOT i.i.d. — the naive
    * binomial/row-level variance is wrong whenever users differ in
    * exposure (they always do); the delta method propagates the
    * per-USER (c, v) covariance: Var(R) ≈ (s_cc − 2R·s_cv + R²·s_vv) /
    * (n·v̄²). Per arm: n, ΣC, ΣV, R, the delta-method SE, the 95% CI —
    * and the two-arm difference z carried on both rows (q196's
    * carry-along convention).
    *
    * Determinism: per-user counts are exact integers; moments are
    * exact-DECIMAL sums; every derived double is fixed-shape IEEE,
    * NULLIF-guarded, r6'd.
    *
    * Scale: ONE user-keyed count collapse, ONE grand 12-term moment
    * aggregate (map-side combined, 1 row), and the 2 report rows
    * unpivot from it — nothing downstream touches the corpus. */
  private def q353(spark: SparkSession, sfDir: String): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,4)")
    val users = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(d19(sum(when(col("event_type") === "click", 1L).otherwise(0L))).as("c"),
        d19(sum(when(col("event_type") === "view", 1L).otherwise(0L))).as("v"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    def m(arm: Int) = Seq(
      sum(when(col("arm") === arm, 1L).otherwise(0L)).as(s"n_$arm"),
      sum(when(col("arm") === arm, col("c"))).as(s"sc_$arm"),
      sum(when(col("arm") === arm, col("v"))).as(s"sv_$arm"),
      sum(when(col("arm") === arm, col("c") * col("c"))).as(s"scc_$arm"),
      sum(when(col("arm") === arm, col("c") * col("v"))).as(s"scv_$arm"),
      sum(when(col("arm") === arm, col("v") * col("v"))).as(s"svv_$arm"))
    val g = users.agg(m(0).head, (m(0).tail ++ m(1)): _*)
      .localCheckpoint(true) // 1 row; both arm rows + the diff read it
    val d = (c: Column) => c.cast("double")
    def stats(a: Int): (Column, Column, Column, Column) = {
      val n = d(col(s"n_$a"))
      val (sc, sv) = (d(col(s"sc_$a")), d(col(s"sv_$a")))
      val (scc, scv, svv) =
        (d(col(s"scc_$a")), d(col(s"scv_$a")), d(col(s"svv_$a")))
      val r = sc / nullif(sv, lit(0.0))
      val vbar = sv / n
      val sccS = (scc - sc * sc / n) / nullif(n - lit(1.0), lit(0.0))
      val scvS = (scv - sc * sv / n) / nullif(n - lit(1.0), lit(0.0))
      val svvS = (svv - sv * sv / n) / nullif(n - lit(1.0), lit(0.0))
      val varR = (sccS - lit(2.0) * r * scvS + r * r * svvS) /
        nullif(n * vbar * vbar, lit(0.0))
      (n, r, sqrt(varR), varR)
    }
    val (_, r0, se0, v0) = stats(0)
    val (_, r1, se1, v1) = stats(1)
    val diffZ = Tables.r6((r1 - r0) / nullif(sqrt(v0 + v1), lit(0.0)))
    def row(a: Int, r: Column, se: Column) =
      g.select(lit(a).as("arm"), col(s"n_$a").as("n_users"),
        col(s"sc_$a").cast("bigint").as("clicks"),
        col(s"sv_$a").cast("bigint").as("views"),
        Tables.r6(r).as("ratio"), Tables.r6(se).as("se"),
        Tables.r6(r - lit(1.959964) * se).as("ci_lo"),
        Tables.r6(r + lit(1.959964) * se).as("ci_hi"),
        diffZ.as("diff_z"))
    row(0, r0, se0).unionByName(row(1, r1, se1)).orderBy("arm")
  }

  /** q356: post-stratified treatment effect (Miratrix, Sekhon & Yu,
    * JRSS-B 2013) — the CATEGORICAL variance-reduction member next to
    * q352's covariate CUPED: strata = the user's PRE-period activity
    * band (pre-period event count div 16 capped at 3 — light/medium/
    * heavy users, a pre-treatment attribute by the same calendar
    * midpoint split as q352); adjusted diff = Σ_s w_s(ȳ₁ₛ − ȳ₀ₛ) with
    * pooled stratum shares w_s = n_s/N, Var = Σ_s w_s²(v₁ₛ/n₁ₛ +
    * v₀ₛ/n₀ₛ) — corrects any activity-mix imbalance between arms that
    * the raw difference silently absorbs (exactly the imbalance q351
    * FLAGS, SMD 0.18 on event count: q351 detects it, q356 removes it).
    * Output: one row per stratum (sizes, arm means, weight) with the
    * naive diff, adjusted diff and its SE carried on every row — the
    * per-stratum rows ARE the audit trail (a stratum missing an arm
    * contributes NULL and visibly drops from the Σ on both engines).
    *
    * Determinism: moments are exact-DECIMAL; per-stratum contributions
    * are r6-quantized then DECIMAL-summed (§2.9 R1); every division is
    * NULLIF-guarded fixed-shape IEEE, r6'd.
    *
    * Scale: events collapse ONCE to the (user, day) frame (q352's
    * shape; the split fold + user agg read it), then ONE
    * (stratum × arm)-bounded moment aggregate; the estimator folds
    * over the bounded stratum frame. */
  private def q356(spark: SparkSession, sfDir: String): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,4)")
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"),
        dec(col("value")).as("v"))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("c"), sum(col("v")).as("dv"))
      .transform(graft.plans.CorpusPin.pin) // users×days-bounded; split fold + agg read it
    val split = ud.agg(expr("(min(day) + max(day) + 1) div 2").as("split_day"))
    val users = ud.crossJoin(broadcast(split))
      .groupBy("user_id")
      .agg(expr("least(sum(CASE WHEN day < split_day THEN c ELSE 0 END) " +
          "div 16, 3)").as("stratum"),
        d19(sum(when(col("day") >= col("split_day"), col("dv"))
          .otherwise(lit(0)))).as("y"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    val cells = users.groupBy("stratum", "arm")
      .agg(count(lit(1)).as("n"), sum("y").as("s"),
        sum(col("y") * col("y")).as("ss"))
    val d = (c: Column) => c.cast("double")
    def side(a: Int, c: String) = s"${c}_$a"
    val wide = cells.groupBy("stratum").agg(
      sum(when(col("arm") === 0, col("n"))).as("n_0"),
      sum(when(col("arm") === 0, col("s"))).as("s_0"),
      sum(when(col("arm") === 0, col("ss"))).as("ss_0"),
      sum(when(col("arm") === 1, col("n"))).as("n_1"),
      sum(when(col("arm") === 1, col("s"))).as("s_1"),
      sum(when(col("arm") === 1, col("ss"))).as("ss_1"))
      .localCheckpoint(true) // strata-bounded; totals + folds + emission
    val tot = wide.agg(sum(coalesce(col("n_0"), lit(0L)) +
      coalesce(col("n_1"), lit(0L))).as("nn"))
    def mean(a: Int) = d(col(side(a, "s"))) / nullif(d(col(side(a, "n"))), lit(0.0))
    def svar(a: Int) = (d(col(side(a, "ss"))) -
      d(col(side(a, "s"))) * d(col(side(a, "s"))) /
        nullif(d(col(side(a, "n"))), lit(0.0))) /
      nullif(d(col(side(a, "n"))) - lit(1.0), lit(0.0))
    val w = (d(col("n_0")) + d(col("n_1"))) / d(col("nn"))
    val scored = wide.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_0").as("n_a"), col("n_1").as("n_b"),
        Tables.r6(mean(0)).as("mean_a"), Tables.r6(mean(1)).as("mean_b"),
        Tables.r6(w).as("w"),
        Tables.r6(w * (mean(1) - mean(0))).cast("decimal(18,6)").as("contrib"),
        Tables.r6(w * w * (svar(1) / nullif(d(col("n_1")), lit(0.0)) +
          svar(0) / nullif(d(col("n_0")), lit(0.0))))
          .cast("decimal(18,6)").as("vterm"),
        col("s_0"), col("s_1"), col("nn"))
      .localCheckpoint(true) // strata-bounded; summary fold + emission
    val summary = scored.agg(
      sum("contrib").as("adj"), sum("vterm").as("vsum"),
      sum("s_0").as("st_0"), sum("s_1").as("st_1"),
      sum(col("n_a")).as("na_t"), sum(col("n_b")).as("nb_t"))
      .select(
        Tables.r6(col("adj").cast("double")).as("diff_adjusted"),
        Tables.r6(sqrt(col("vsum").cast("double"))).as("se_adjusted"),
        Tables.r6(d(col("st_1")) / nullif(d(col("nb_t")), lit(0.0)) -
          d(col("st_0")) / nullif(d(col("na_t")), lit(0.0))).as("diff_raw"))
    scored.select(col("stratum"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"), col("w"))
      .crossJoin(broadcast(summary))
      .orderBy("stratum")
  }

  /** q358: minimum-detectable-effect planning table — the question every
    * experiment review asks BEFORE launch ("how long must this run?"),
    * answered from the metric's own moments: for per-arm size n, the
    * two-sided α=0.05 / 80%-power MDE of a mean-value metric is
    * (z_{α/2} + z_{β})·√(2σ̂²/n) (Kohavi et al. ch. 17; z constants
    * 1.959964 and 0.841621 as shared literals — no Φ inversion ever
    * runs). One row per scale-up factor k ∈ {1,2,4,8,16} of the current
    * population: per-arm n, the SE of the arm difference, absolute MDE
    * and MDE as a fraction of the current mean — the table that says
    * "at today's traffic you can see 12%; to see 3% run 16× longer".
    *
    * Determinism: σ̂² and the mean come from exact-DECIMAL moments; the
    * grid is constant; every derived double is fixed-shape IEEE, r6'd.
    *
    * Scale: ONE user-keyed collapse + ONE grand 3-term moment
    * aggregate; the 5 report rows explode from a constant literal
    * array — nothing downstream touches the corpus. */
  private def q358(spark: SparkSession, sfDir: String): DataFrame = {
    val d19 = (c: Column) => c.cast("decimal(19,4)")
    val g = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(d19(sum(dec(col("value")))).as("y"))
      .agg(count(lit(1)).as("n"), sum("y").as("s"),
        sum(col("y") * col("y")).as("ss"))
    val d = (c: Column) => c.cast("double")
    val n = d(col("n"))
    val mean = d(col("s")) / n
    val variance = (d(col("ss")) - d(col("s")) * d(col("s")) / n) /
      nullif(n - lit(1.0), lit(0.0))
    val nArm = expr("(n * k) div 2")
    g.select(col("n"), mean.as("m"), variance.as("v"),
        explode(array((Seq(1L, 2L, 4L, 8L, 16L)).map(lit): _*)).as("k"))
      .select(col("k"), nArm.as("n_per_arm"),
        Tables.r6(sqrt(lit(2.0) * col("v") / d(nArm))).as("se_diff"),
        Tables.r6(mdeOf(col("v"), d(nArm))).as("mde_abs"),
        Tables.r6(mdeOf(col("v"), d(nArm)) / col("m")).as("mde_rel"))
      .orderBy("k")
  }

  /** (z_{0.025} + z_{0.2})·√(2σ²/n) — shared by q358's two emission
    * columns so the text of the expression cannot drift. */
  private def mdeOf(variance: Column, nArm: Column): Column =
    lit(2.801585) * sqrt(lit(2.0) * variance / nArm)

  /** q359: quantile treatment effect — per-arm exact P25/P50/P75/P90 of
    * the per-user value metric and their differences, the DISTRIBUTIONAL
    * read q136's mean test misses entirely (a treatment can move the
    * tail while the mean stands still, or lift the median while whales
    * mask it — the QTE row per quantile says WHERE in the distribution
    * the effect lives; Athey & Imbens, the experimentation-analytics
    * standard beyond averages).
    *
    * Determinism: per-user totals are exact DECIMAL cast once to
    * double; quantiles ride BoundedQuantiles (R7 — bit-equal to
    * quantile_cont, the q220 precedent); every emitted value r6'd.
    *
    * Scale: one user-keyed collapse, then ONE grouped BoundedQuantiles
    * pass (two bounded scans, no global sort); the 4 report rows stack
    * from the 2-arm wide frame. */
  private def q359(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(sum(dec(col("value"))).cast("double").as("y"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    val names = Seq("p25", "p50", "p75", "p90")
    val qs = graft.plans.BoundedQuantiles.groupQuantiles(
      users, Seq("arm"), col("y"), Seq(0.25, 0.5, 0.75, 0.9), names,
      pin = false)
      .localCheckpoint(true) // 2 rows; both sides of the wide join read it
    val a = qs.filter(col("arm") === 0)
      .select(names.map(n => col(n).as(s"a_$n")): _*)
    val b = qs.filter(col("arm") === 1)
      .select(names.map(n => col(n).as(s"b_$n")): _*)
    a.crossJoin(b)
      .select(expr("stack(4, " + names.map(n =>
        s"'$n', a_$n, b_$n").mkString(", ") + ") AS (quantile, va, vb)"))
      .select(col("quantile"), Tables.r6(col("va")).as("value_a"),
        Tables.r6(col("vb")).as("value_b"),
        Tables.r6(col("vb") - col("va")).as("qte"))
      .orderBy("quantile")
  }

  /** q365: cluster-randomized experiment analysis — the wrong-unit-of-
    * analysis trap made visible (Kish 1965 design effect; Donner & Klar;
    * every geo/market-level test hits this): when assignment is at the
    * CLUSTER level (here: nation parity) but the metric is per user,
    * user-level variance treats correlated users as independent and the
    * naive SE is too small by the design effect. Emitted side by side:
    * the naive user-level diff/SE/z, the cluster-level analysis
    * (clusters as observations: arm mean of cluster means, SE from
    * between-cluster variance), and deff = (se_cluster/se_naive)² —
    * the factor by which the naive test overstates certainty.
    *
    * Determinism: per-cluster moments are exact DECIMAL; cluster means
    * are r6-pinned before their own DECIMAL moment sums (§2.9 R1 —
    * the squared-mean terms carry DECIMAL(38,6), the q357
    * Anderson–Darling headroom precedent, since a cluster mean squared
    * clears DECIMAL(18,6)'s 1e12 cap at large scale factors); every
    * derived double is fixed-shape, NULLIF-guarded, r6'd.
    *
    * Scale: ONE groupBy(cluster) collapses the corpus (cluster count ≪
    * rows); both analyses are folds over the ≤25-row cluster frame. */
  private def q365(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = Tables(spark, sfDir, "customer")
      .groupBy(col("c_nationkey").cast("bigint").as("ck"))
      .agg(count(lit(1)).as("n"), sum(dec(col("c_acctbal"))).as("s"),
        sum(dec(col("c_acctbal")) * dec(col("c_acctbal"))).as("ss"))
      .withColumn("arm", (col("ck") % 2).cast("int"))
      .withColumn("m", Tables.r6(col("s").cast("double") / col("n")))
      .localCheckpoint(true) // ≤25 rows; the one grand fold reads it
    def aSum(a: Int, e: Column) = sum(when(col("arm") === a, e))
    val g = clusters.agg(
      aSum(0, col("n")).as("n_0"), aSum(1, col("n")).as("n_1"),
      aSum(0, lit(1L)).as("k_0"), aSum(1, lit(1L)).as("k_1"),
      aSum(0, col("s")).as("s_0"), aSum(1, col("s")).as("s_1"),
      aSum(0, col("ss")).as("ss_0"), aSum(1, col("ss")).as("ss_1"),
      aSum(0, col("m").cast("decimal(18,6)")).as("sm_0"),
      aSum(1, col("m").cast("decimal(18,6)")).as("sm_1"),
      aSum(0, Tables.r6(col("m") * col("m")).cast("decimal(38,6)")).as("smm_0"),
      aSum(1, Tables.r6(col("m") * col("m")).cast("decimal(38,6)")).as("smm_1"))
    val d = (c: Column) => c.cast("double")
    def userVar(a: Int) = (d(col(s"ss_$a")) - d(col(s"s_$a")) * d(col(s"s_$a")) /
      nullif(d(col(s"n_$a")), lit(0.0))) /
      nullif(d(col(s"n_$a")) - lit(1.0), lit(0.0))
    def meanVar(a: Int) = (d(col(s"smm_$a")) - d(col(s"sm_$a")) * d(col(s"sm_$a")) /
      nullif(d(col(s"k_$a")), lit(0.0))) /
      nullif(d(col(s"k_$a")) - lit(1.0), lit(0.0))
    val diffNaive = d(col("s_1")) / nullif(d(col("n_1")), lit(0.0)) -
      d(col("s_0")) / nullif(d(col("n_0")), lit(0.0))
    val diffCluster = d(col("sm_1")) / nullif(d(col("k_1")), lit(0.0)) -
      d(col("sm_0")) / nullif(d(col("k_0")), lit(0.0))
    val seNaive = sqrt(userVar(0) / nullif(d(col("n_0")), lit(0.0)) +
      userVar(1) / nullif(d(col("n_1")), lit(0.0)))
    val seCluster = sqrt(meanVar(0) / nullif(d(col("k_0")), lit(0.0)) +
      meanVar(1) / nullif(d(col("k_1")), lit(0.0)))
    g.select(col("n_0").as("n_users_a"), col("n_1").as("n_users_b"),
      col("k_0").as("n_clusters_a"), col("k_1").as("n_clusters_b"),
      Tables.r6(diffNaive).as("diff_naive"),
      Tables.r6(seNaive).as("se_naive"),
      Tables.r6(diffNaive / nullif(seNaive, lit(0.0))).as("z_naive"),
      Tables.r6(diffCluster).as("diff_cluster"),
      Tables.r6(seCluster).as("se_cluster"),
      Tables.r6(diffCluster / nullif(seCluster, lit(0.0))).as("z_cluster"),
      Tables.r6(seCluster * seCluster /
        nullif(seNaive * seNaive, lit(0.0))).as("deff"))
  }

  /** q366: one-way intraclass correlation, ICC(1) — the clustering-
    * strength statistic BEHIND q365's design effect (deff ≈ 1 +
    * (m̄−1)·ICC; Shrout & Fleiss 1979; Donner 1986): how much of the
    * metric's variance lives BETWEEN clusters rather than within — the
    * number that decides whether cluster randomization is affordable
    * (high ICC = clusters move together = few effective observations)
    * and what q351's SMD thresholds mean for grouped users. One-way
    * ANOVA form with the unequal-size correction m₀ = (N − Σn²/N)/(k−1):
    * MSB = SSB/(k−1), MSW = SSW/(N−k), ICC = (MSB − MSW)/(MSB +
    * (m₀−1)·MSW). Also emitted: the implied design effect 1 + (m₀−1)·ICC
    * — directly comparable to q365's measured deff.
    *
    * Determinism: SSB/SSW assemble from exact-DECIMAL cluster moments;
    * per-cluster terms are r6-quantized then DECIMAL(38,6)-summed
    * (§2.9 R1, q357-headroom form — s²/n for a nation's balance sum
    * exceeds DECIMAL(18,6)'s 1e12 cap well before 100 TB); finals are
    * fixed-shape NULLIF-guarded doubles, r6'd.
    *
    * Scale: ONE groupBy(cluster) collapses the corpus; everything after
    * is folds over the ≤#clusters frame. */
  private def q366(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = Tables(spark, sfDir, "customer")
      .groupBy(col("c_nationkey").cast("bigint").as("ck"))
      .agg(count(lit(1)).as("n"), sum(dec(col("c_acctbal"))).as("s"),
        sum(dec(col("c_acctbal")) * dec(col("c_acctbal"))).as("ss"))
    val d = (c: Column) => c.cast("double")
    val g = clusters.agg(
      count(lit(1)).as("k"), sum("n").as("nn"),
      sum(expr("n * n")).as("n2"),
      sum(col("s")).as("st"),
      sum(Tables.r6(d(col("s")) * d(col("s")) / d(col("n")))
        .cast("decimal(38,6)")).as("sb"),
      sum(Tables.r6(d(col("ss")) - d(col("s")) * d(col("s")) / d(col("n")))
        .cast("decimal(38,6)")).as("ssw"))
    val (k, nn) = (d(col("k")), d(col("nn")))
    val ssb = d(col("sb")) - d(col("st")) * d(col("st")) / nn
    val msb = ssb / nullif(k - lit(1.0), lit(0.0))
    val msw = d(col("ssw")) / nullif(nn - k, lit(0.0))
    val m0 = (nn - d(col("n2")) / nn) / nullif(k - lit(1.0), lit(0.0))
    val icc = (msb - msw) / nullif(msb + (m0 - lit(1.0)) * msw, lit(0.0))
    g.select(col("k").as("n_clusters"), col("nn").as("n_rows"),
      Tables.r6(m0).as("m0"), Tables.r6(msb).as("ms_between"),
      Tables.r6(msw).as("ms_within"), Tables.r6(icc).as("icc"),
      Tables.r6(lit(1.0) + (m0 - lit(1.0)) * icc).as("deff_implied"))
  }

  /** q137: RFM scoring — recency/frequency/monetary quintile grades per
    * user, the marketing-analytics segmentation staple. Deliberately NOT
    * `ntile(5)` over all users (a global single-partition sort — the
    * q48-class scale bug): grades come from ONE 1-row exact-percentile
    * aggregate of the three dimensions, broadcast back, and each user
    * scores by threshold comparison — a narrow arithmetic pass at any
    * cardinality. The cut points come from [[graft.plans.BoundedQuantiles]]
    * (two-pass bucketed selection, per-pass state bounded by the 4096-bin
    * histogram — never by user cardinality), replacing the builtin
    * `percentile` whose single merge buffer held the full distinct value
    * set of each dimension. Values are bit-identical to the builtin, so
    * q19's proven percentile/quantile_cont parity carries over; scores
    * count strictly-exceeded thresholds so boundary values land
    * identically on both engines. */
  private def q137(spark: SparkSession, sfDir: String): DataFrame = {
    // rfm feeds both the cut-point aggregate and the scoring pass —
    // materialize once (q120 barrier precedent), halving the events scan
    val rfm = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(max(col("ts_us")).as("last_us"),
        count(lit(1)).as("freq"),
        Tables.r6(sum(dec(col("value"))).cast("double")).as("monetary"))
      .transform(graft.plans.CorpusPin.pin)
    // ONE grouped bounded-selection fold over the three unpivoted
    // dimensions (the dimension tag is the group key — 3 groups × 4
    // cuts; one invocation, not three, keeps the pass count flat), then
    // re-pivoted into the quintile-cut arrays the grade lambda reads.
    // The casts to double are what the builtin percentile did internally,
    // so cut values are unchanged.
    val long = rfm.selectExpr(
      "stack(3, 'r', cast(last_us as double), 'f', cast(freq as double), 'm', monetary) as (dim, v)")
    val qd = graft.plans.BoundedQuantiles.groupQuantiles(
      long, Seq("dim"), col("v"), Seq(0.2, 0.4, 0.6, 0.8), Seq("c1", "c2", "c3", "c4"))
    def arr4 = array(col("c1"), col("c2"), col("c3"), col("c4"))
    val cuts = qd.groupBy().agg(
      max(when(col("dim") === "r", arr4)).as("rc"),
      max(when(col("dim") === "f", arr4)).as("fc"),
      max(when(col("dim") === "m", arr4)).as("mc"))
    def grade(v: String, cutsCol: String): Column =
      (lit(1L) + expr(s"size(filter($cutsCol, c -> c < $v))")).cast("bigint")
    rfm.crossJoin(broadcast(cuts))
      .select(col("user_id"),
        grade("last_us", "rc").as("r_score"),
        grade("freq", "fc").as("f_score"),
        grade("monetary", "mc").as("m_score"))
      .withColumn("rfm_code",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("user_id")
  }

  /** q201: CDC changelog compaction — apply an insert/update/delete
    * changelog to produce the current snapshot, the Debezium-feed /
    * table-format merge shape q98's two-frame upsert can't express
    * (q98 has no sequence numbers and no deletes). The changelog is
    * derived deterministically from `orders` so both engines build the
    * identical feed: every order INSERTs at seq 1, fulfilled ('F')
    * orders UPDATE price +100 at seq 2, pending ('P') orders DELETE at
    * seq 3. Compaction keeps the highest-seq op per key and drops keys
    * whose last op is a delete; n_ops audits feed depth per key.
    *
    * Plan: ONE key-shuffle aggregation — the argmax is q73's
    * max(struct(seq, ...)) (map-side combinable, constant state), NOT a
    * row_number window (which would buffer per-key partitions); seq is
    * unique per key so later struct fields never tie-break. */
  private def q201(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val ins = o.select(col("o_orderkey").as("key"), lit(1L).as("seq"),
      lit("I").as("op"), col("o_totalprice").as("v"))
    val upd = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("key"), lit(2L).as("seq"), lit("U").as("op"),
        (col("o_totalprice") + 100.0).as("v"))
    val del = o.filter(col("o_orderstatus") === "P")
      .select(col("o_orderkey").as("key"), lit(3L).as("seq"), lit("D").as("op"),
        lit(null).cast("double").as("v"))
    cdcCompactOf(ins.unionByName(upd).unionByName(del), deleteOp = "D")
      .select(col("key").as("o_orderkey"), col("n_ops"), col("last_seq"),
        Tables.r6(col("v")).as("final_price"))
      .orderBy("o_orderkey")
  }

  /** The changelog compaction behind q201 AND [[graft.Graft.cdcCompact]]. */
  private[graft] def cdcCompactOf(changelog: DataFrame, deleteOp: String): DataFrame =
    changelog
      .groupBy("key")
      .agg(max(struct(col("seq"), col("op"), col("v"))).as("m"),
        count(lit(1)).as("n_ops"))
      .filter(col("m.op") =!= deleteOp)
      .select(col("key"), col("n_ops"), col("m.seq").as("last_seq"),
        col("m.v").as("v"))

  /** q211: group-mean imputation — the missing-value repair step of
    * every feature pipeline, the statistical member the fill family
    * lacks (q144 backfills by LOCF in TIME; q211 fills from the
    * GROUP's distribution): `error` events' values are treated as
    * missing and imputed with the user's mean of observed values,
    * falling back to the global mean for users with nothing observed.
    * Flags ride along so downstream can weigh imputed rows.
    *
    * Scale: one user-keyed aggregation of observed values (DECIMAL
    * sums, R1) + a broadcast 1-row global fallback; the corpus joins
    * the per-user means once (broadcast at bench scale, shuffled hash
    * at 100 TB — stats decide) and everything else is per-row. */
  private def q211(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val miss = col("event_type") === "error"
    val observed = ev.filter(!miss)
    val um = observed.groupBy("user_id")
      .agg(sum(dec(col("value"))).as("s"), count(lit(1)).as("c"))
      .select(col("user_id").as("um_user"), col("s"), col("c"))
    val g = observed.agg(sum(dec(col("value"))).as("gs"), count(lit(1)).as("gc"))
    ev.join(um, col("user_id") === col("um_user"), "left")
      .crossJoin(broadcast(g))
      .select(col("event_id"), col("user_id"), miss.as("was_imputed"),
        when(miss, coalesce(Tables.meanD(col("s"), col("c")),
          Tables.meanD(col("gs"), col("gc"))))
          .otherwise(col("value")).as("value_out"))
      .orderBy("event_id")
  }

  /** Bucket count for the q244 digest comparison — the localization
    * resolution: a flagged bucket narrows the expensive row-level diff
    * to 1/64 of the table. */
  private val MerkleBuckets = 64

  /** q244: block-digest table comparison — the anti-entropy / Merkle
    * answer to "are these two 100 TB snapshots equal, and if not,
    * WHERE": both tables fold to `MerkleBuckets` order-insensitive
    * bucket digests (count + two independent md5-derived hash sums per
    * bucket), and only digest-mismatched buckets need q121's row-level
    * full-outer diff — ONE map-side-combined aggregation per table and
    * a 64-row compare replaces shuffling both tables on the key. The
    * Cassandra/Dynamo reconciliation pattern in one query. Input: a
    * SPARSE variant of q121's manufactured v2 (dropped %97 keys and
    * inserted %101 negatives, without the dense %7 perturbation), so
    * the localization is visible: ~2/3 of the buckets verify clean and
    * the row-level diff would touch only the flagged third.
    *
    * Determinism: row hashes are md5 over integer-rendered fields
    * (balance scaled ×10000 and rounded to an exact int — never a
    * double→string render, which is not cross-engine contractual);
    * per-bucket digests are SUMS of 7-hex-digit (28-bit) hash values —
    * order-insensitive, overflow-free (≤ 2²⁸·rows), identical both
    * engines. Negative inserted keys bucket via pmod. */
  private def q244(spark: SparkSession, sfDir: String): DataFrame = {
    val v1 = Tables(spark, sfDir, "customer").select("c_custkey", "c_acctbal")
    val kept = v1.filter(col("c_custkey") % 97 =!= 0)
    val inserted = v1.filter(col("c_custkey") % 101 === 0)
      .select((-col("c_custkey")).as("c_custkey"), col("c_acctbal"))
    val v2 = kept.unionByName(inserted)
    def hex7(h: Column, from: Int) = (0 until 7).map { i =>
      (expr(s"instr('0123456789abcdef', substring(h, ${from + i}, 1))") - 1) *
        lit(1L << (4 * (6 - i)))
    }.reduce(_ + _)
    def digests(t: DataFrame) = t
      .withColumn("h", md5(concat(col("c_custkey").cast("string"), lit(":"),
        round(col("c_acctbal") * 10000).cast("bigint").cast("string"))))
      .groupBy(pmod(col("c_custkey"), lit(MerkleBuckets)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(hex7(col("h"), 1)).as("s1"),
        sum(hex7(col("h"), 8)).as("s2"))
    digests(v1).select(col("bucket"), col("n").as("n_v1"),
        col("s1").as("a1"), col("s2").as("a2"))
      .join(digests(v2).select(col("bucket"), col("n").as("n_v2"),
        col("s1").as("b1"), col("s2").as("b2")), Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        coalesce(col("n_v2"), lit(0L)).as("n_v2"),
        (col("n_v1") === col("n_v2") && col("a1") === col("b1") &&
          col("a2") === col("b2")).as("digests_equal"))
      .orderBy("bucket")
  }

  /** q274: grouped percentile-rank feature normalization — the
    * quantile/uniform transform of feature preprocessing (outlier-robust,
    * scale-free): within each nation, each customer's balance becomes
    * rank/(n+1) ∈ (0,1) under (balance, custkey) order. Output
    * (c_custkey, n_name, bal, rn, pct).
    *
    * THE scale point: a per-group `row_number().over(partitionBy)` puts
    * each nation — 1/25th of a 100 TB table — through ONE window task.
    * Here the rank IS a grouped prefix count, so it rides
    * [[graft.plans.DistributedCumSum.cumulativeGrouped]] (sum of ones
    * under (nation, balance, custkey) range partitioning): oversized
    * groups split across partitions, offsets stitch by broadcast.
    * Group sizes are a 25-row broadcast. */
  private def q274(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = Tables(spark, sfDir, "nation").select("n_nationkey", "n_name")
    rankNormalizeOf(
      Tables(spark, sfDir, "customer")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("id"), col("n_name").as("g"),
          col("c_acctbal").as("v")))
      .select(col("id").as("c_custkey"), col("g").as("n_name"),
        col("v").cast("double").as("bal"), col("rn"), col("pct"))
      .orderBy("c_custkey")
  }

  /** The generic rank transform behind q274, exposed as
    * [[graft.Graft.rankNormalize]]: `df` needs (id, g, v) with unique id;
    * appends rn = per-`g` row number under (v, id) order and
    * pct = rn/(n+1), without a per-group window task (see q274). */
  private[graft] def rankNormalizeOf(df: DataFrame): DataFrame = {
    val base = df.withColumn("one", lit(1L))
    val ranked = graft.plans.DistributedCumSum.cumulativeGrouped(
      base, Seq("g"), Seq(col("v"), col("id")), Seq("one"))
    val sizes = base.groupBy("g").agg(count(lit(1)).as("n"))
    ranked.join(broadcast(sizes), "g")
      .select(col("id"), col("g"), col("v"), col("cum_one").as("rn"),
        Tables.r6(col("cum_one") / (col("n") + 1)).as("pct"))
  }

  /** Smoothing pseudo-count for q275 (the classic m-estimate). */
  private val TeM = 10

  /** q275: leave-one-out target encoding with m-estimate smoothing — the
    * high-cardinality categorical encoder (CatBoost lineage): a
    * customer's segment becomes (Σ_segment bal − own bal + m·prior) /
    * (n_segment − 1 + m), prior = the global mean balance. Excluding the
    * own row prevents target leakage; the m-pull toward the prior tames
    * rare categories. Output (c_custkey, seg, bal, enc).
    *
    * Determinism: segment sums and the global sum are exact DECIMAL; the
    * LOO ratio derives per row in fixed-shape IEEE doubles and r6.
    *
    * Scale: one map-side-combined groupBy(segment) (≤ #segments rows,
    * broadcast back), one 1-row global aggregate, then a pure per-row
    * projection — the corpus is scanned once and never reshuffled. */
  private def q275(spark: SparkSession, sfDir: String): DataFrame =
    targetEncodeOf(
      Tables(spark, sfDir, "customer")
        .select(col("c_custkey").as("id"), col("c_mktsegment").as("cat"),
          col("c_acctbal").as("y")), m = TeM)
      .select(col("id").as("c_custkey"), col("cat").as("seg"),
        col("y").cast("double").as("bal"), col("enc"))
      .orderBy("c_custkey")

  /** The generic encoder behind q275, exposed as
    * [[graft.Graft.targetEncode]]: `df` needs (id, cat, y numeric);
    * appends enc = the m-estimate leave-one-out encoding
    * (Σ_cat y − y_i + m·prior)/(n_cat − 1 + m). */
  private[graft] def targetEncodeOf(df: DataFrame, m: Int): DataFrame = {
    require(m >= 1, s"targetEncode: smoothing m $m must be >= 1")
    val catStats = df.groupBy("cat")
      .agg(sum(dec(col("y"))).as("catSum"), count(lit(1)).as("catN"))
    val prior = df.agg(
      Tables.meanD(sum(dec(col("y"))), count(lit(1))).as("prior"))
    df.join(broadcast(catStats), "cat").crossJoin(broadcast(prior))
      .select(col("id"), col("cat"), col("y"),
        Tables.r6(((col("catSum") - dec(col("y"))).cast("double") +
          lit(m.toDouble) * col("prior")) /
          (col("catN") - 1 + m)).as("enc"))
  }

  /** q321: rendezvous (highest-random-weight) sharding + elasticity
    * audit (Thaler–Ravishankar ToN'98) — the shard-assignment layer a
    * 100 TB corpus store actually needs: each doc goes to the shard s
    * maximizing h(doc, s). The property this buys over mod-N — and the
    * number this audit measures — is MINIMAL DISRUPTION: growing 8 → 9
    * shards moves only the docs whose new-shard hash wins (≈1/9 of
    * them), while mod-N remaps ≈8/9 of the corpus. Output per shard:
    * docs assigned at N=8, docs HRW moves at N=9, docs mod-N would
    * move, and both fractions — the migration-cost estimate read before
    * any resharding.
    *
    * Determinism: h = md5(doc:shard) prefix (exact integers); argmax
    * via max_by on the tie-proof key h·16+(8−s). Scale: a constant ×9
    * per-row explode + ONE doc-keyed map-side-combinable agg, then an
    * 8-group rollup — the corpus never joins anything. */
  private def q321(spark: SparkSession, sfDir: String): DataFrame = {
    val d = (c: Column) => c.cast("double")
    val assigned = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(sequence(lit(0L), lit(8L))).as("s"))
      .withColumn("hw", expr(
        "cast(conv(substring(md5(concat(cast(doc_id as string), ':', cast(s as string))), 1, 8), 16, 10) as bigint)"))
      .withColumn("key", col("hw") * 16 + (lit(8L) - col("s")))
      .groupBy("doc_id")
      .agg(expr("max_by(s, if(s < 8, key, -1L))").as("shard8"),
        expr("max_by(s, key)").as("shard9"))
      .withColumn("h0", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"))
    assigned.groupBy(col("shard8").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("shard9") =!= col("shard8"), 1L).otherwise(0L))
          .as("hrw_moved"),
        sum(when(col("h0") % 8 =!= col("h0") % 9, 1L).otherwise(0L))
          .as("mod_moved"))
      .select(col("shard"), col("n_docs"), col("hrw_moved"), col("mod_moved"),
        Tables.r6(d(col("hrw_moved")) / d(col("n_docs"))).as("hrw_moved_frac"),
        Tables.r6(d(col("mod_moved")) / d(col("n_docs"))).as("mod_moved_frac"))
      .orderBy("shard")
  }

  private val q321Sql: String =
    "WITH e AS (SELECT doc_id, unnest(range(0, 9)) AS s FROM documents), " +
      "h AS (SELECT doc_id, s, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 1, 8)) AS BIGINT) AS hw FROM e), " +
      "k AS (SELECT doc_id, s, hw * 16 + (8 - s) AS key FROM h), " +
      "a AS (SELECT doc_id, arg_max(CASE WHEN s < 8 THEN s END, CASE WHEN s < 8 THEN key END) AS shard8, " +
      "arg_max(s, key) AS shard9 FROM k GROUP BY doc_id), " +
      "m AS (SELECT doc_id, shard8, shard9, " +
      "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h0 FROM a) " +
      "SELECT shard8 AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(CASE WHEN shard9 <> shard8 THEN 1 ELSE 0 END) AS BIGINT) AS hrw_moved, " +
      "CAST(SUM(CASE WHEN h0 % 8 <> h0 % 9 THEN 1 ELSE 0 END) AS BIGINT) AS mod_moved, " +
      Tables.r6sql("CAST(SUM(CASE WHEN shard9 <> shard8 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)") +
      " AS hrw_moved_frac, " +
      Tables.r6sql("CAST(SUM(CASE WHEN h0 % 8 <> h0 % 9 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)") +
      " AS mod_moved_frac " +
      "FROM m GROUP BY shard8 ORDER BY shard8"

  /** q323: snapshot data-diff — the row-level reconciliation every
    * replication/migration job runs (the datacompy/data-diff tool
    * category): given two versions of a keyed table, classify every key
    * as added / removed / changed / unchanged via ONE full outer join
    * on the key plus a row-content hash compare. Version 2 is derived
    * deterministically here so the oracle can re-derive it (drop
    * custkey % 17 = 0; +100 balance where % 10 = 0; clone % 23 = 0 rows
    * under negated keys as "added") — in production both sides are real
    * snapshots and the plan is identical.
    *
    * Scale: the join is THE scalable diff plan — one shuffle on the key
    * (or zero with both snapshots bucketed, the q88 layout), content
    * compare via md5 of a canonical row rendering so the shuffle
    * carries 16-byte digests, not rows; the report is a 4-group
    * map-side-combined rollup. */
  private def q323(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables(spark, sfDir, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
        col("c_nationkey").as("nat"),
        Tables.dec(col("c_acctbal")).as("bal"))
    val v2 = base.filter(col("k") % 17 =!= 0)
      .select(col("k"), col("seg"), col("nat"),
        when(col("k") % 10 === 0, col("bal") + 100).otherwise(col("bal")).as("bal"))
      .unionByName(base.filter(col("k") % 23 === 0)
        .select((-col("k")).as("k"), col("seg"), col("nat"), col("bal")))
    def rh(d: DataFrame, tag: String) = d.select(col("k").as(s"k_$tag"),
      md5(concat_ws("|", col("seg"), col("nat"), col("bal").cast("string")))
        .as(s"h_$tag"))
    rh(base, "a").join(rh(v2, "b"), col("k_a") === col("k_b"), "full_outer")
      .select(when(col("k_a").isNull, "added")
        .when(col("k_b").isNull, "removed")
        .when(col("h_a") =!= col("h_b"), "changed")
        .otherwise("unchanged").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n_rows"))
      .orderBy("status")
  }

  private val q323Sql: String =
    "WITH base AS (SELECT c_custkey AS k, c_mktsegment AS seg, " +
      "c_nationkey AS nat, CAST(c_acctbal AS DECIMAL(18,4)) AS bal FROM customer), " +
      "v2 AS (SELECT k, seg, nat, " +
      "CASE WHEN k % 10 = 0 THEN bal + 100 ELSE bal END AS bal " +
      "FROM base WHERE k % 17 <> 0 " +
      "UNION ALL SELECT -k, seg, nat, bal FROM base WHERE k % 23 = 0), " +
      "ha AS (SELECT k AS k_a, md5(seg || '|' || CAST(nat AS VARCHAR) || '|' || CAST(bal AS VARCHAR)) AS h_a FROM base), " +
      "hb AS (SELECT k AS k_b, md5(seg || '|' || CAST(nat AS VARCHAR) || '|' || CAST(bal AS VARCHAR)) AS h_b FROM v2) " +
      "SELECT CASE WHEN k_a IS NULL THEN 'added' WHEN k_b IS NULL THEN 'removed' " +
      "WHEN h_a <> h_b THEN 'changed' ELSE 'unchanged' END AS status, " +
      "CAST(COUNT(*) AS BIGINT) AS n_rows " +
      "FROM ha FULL OUTER JOIN hb ON k_a = k_b GROUP BY 1 ORDER BY 1"

  /** q324: cross-engine table manifest — the row-count + order-free
    * content checksum per table that replication validation exchanges
    * instead of data (the "do both clusters hold the same tables"
    * handshake): per table, n_rows, a key checksum and a content
    * checksum, each = Σ md5-prefix(rendered row) as DECIMAL(38,0) —
    * commutative, so partition order can't matter, and wide enough that
    * it cannot overflow below ~10²⁸ rows. Checksums cover the key +
    * categorical/integer columns (stable canonical rendering on any
    * engine); continuous columns are validated by the sketch family
    * (q111–q113) instead — float rendering is not portable and has no
    * business inside a cross-engine digest.
    *
    * Scale: one scan per table folding straight to 1 row — the manifest
    * for a 100 TB lake is five numbers per table, computed without
    * moving anything. */
  private def q324(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def hsum(c: Column) = sum(conv(substring(md5(c), 1, 8), 16, 10)
      .cast("long").cast(DecimalType(38, 0)))
    def row(table: String, keyRender: Column, contentRender: Column) =
      Tables(spark, sfDir, table).agg(count(lit(1)).as("n_rows"),
        hsum(keyRender).as("key_checksum"),
        hsum(contentRender).as("content_checksum"))
        .select(lit(table).as("table_name"), col("n_rows"),
          // STRING emission: the driver compare forbids DECIMAL output
          // columns (rendering hazard); plain digit strings are hash-safe
          col("key_checksum").cast("string").as("key_checksum"),
          col("content_checksum").cast("string").as("content_checksum"))
    row("region", col("r_regionkey").cast("string"),
      concat_ws("|", col("r_regionkey"), col("r_name")))
      .unionByName(row("nation", col("n_nationkey").cast("string"),
        concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey"))))
      .unionByName(row("customer", col("c_custkey").cast("string"),
        concat_ws("|", col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))))
      .unionByName(row("orders", col("o_orderkey").cast("string"),
        concat_ws("|", col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))))
      .unionByName(row("part", col("p_partkey").cast("string"),
        concat_ws("|", col("p_partkey"), col("p_name"))))
      .orderBy("table_name")
  }

  private val q324Sql: String = {
    def h(rend: String) =
      s"CAST(CAST(SUM(CAST(('0x' || substr(md5($rend), 1, 8)) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR)"
    def row(t: String, key: String, content: String) =
      s"SELECT '$t' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        s"${h(key)} AS key_checksum, ${h(content)} AS content_checksum FROM $t"
    row("region", "CAST(r_regionkey AS VARCHAR)",
      "CAST(r_regionkey AS VARCHAR) || '|' || r_name") +
      " UNION ALL " + row("nation", "CAST(n_nationkey AS VARCHAR)",
      "CAST(n_nationkey AS VARCHAR) || '|' || n_name || '|' || CAST(n_regionkey AS VARCHAR)") +
      " UNION ALL " + row("customer", "CAST(c_custkey AS VARCHAR)",
      "CAST(c_custkey AS VARCHAR) || '|' || c_mktsegment || '|' || CAST(c_nationkey AS VARCHAR)") +
      " UNION ALL " + row("orders", "CAST(o_orderkey AS VARCHAR)",
      "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus") +
      " UNION ALL " + row("part", "CAST(p_partkey AS VARCHAR)",
      "CAST(p_partkey AS VARCHAR) || '|' || p_name") +
      " ORDER BY table_name"
  }

  val entries: Seq[Q] = Seq(
    Q("q323_snapshot_diff", q323 _, Some(q323Sql)),
    Q("q324_table_manifest", q324 _, Some(q324Sql)),
    Q("q321_rendezvous_sharding", q321 _, Some(q321Sql)),
    Q("q274_feature_rank_norm", q274 _, Some(
      "WITH c AS (SELECT c_custkey, n_name, c_acctbal FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey), " +
        "r AS (SELECT c_custkey, n_name, CAST(c_acctbal AS DOUBLE) AS bal, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_acctbal, c_custkey) AS BIGINT) AS rn, " +
        "CAST(COUNT(*) OVER (PARTITION BY n_name) AS BIGINT) AS n FROM c) " +
        "SELECT c_custkey, n_name, bal, rn, " +
        Tables.r6sql("rn / (n + 1)") + " AS pct " +
        "FROM r ORDER BY c_custkey")),
    Q("q275_target_encoding", q275 _, Some(
      "WITH c AS (SELECT c_custkey, c_mktsegment AS seg, " +
        "CAST(c_acctbal AS DECIMAL(18,4)) AS bal FROM customer), " +
        "s AS (SELECT seg, SUM(bal) AS segsum, COUNT(*) AS segn FROM c GROUP BY 1), " +
        "p AS (SELECT " + Tables.meanDSql("SUM(bal)", "COUNT(*)") + " AS prior FROM c) " +
        "SELECT c_custkey, seg, CAST(bal AS DOUBLE) AS bal, " +
        Tables.r6sql(s"(CAST(segsum - bal AS DOUBLE) + $TeM.0 * prior) / (segn - 1 + $TeM)") +
        " AS enc " +
        "FROM c JOIN s USING (seg) CROSS JOIN p ORDER BY c_custkey")),
    Q("q244_table_merkle_diff", q244 _, Some {
      def hex7sql(from: Int) = (0 until 7).map { i =>
        s"(strpos('0123456789abcdef', substr(h, ${from + i}, 1)) - 1) * ${1L << (4 * (6 - i))}"
      }.mkString(" + ")
      def digests(src: String) =
        s"SELECT c_custkey % $MerkleBuckets + CASE WHEN c_custkey % $MerkleBuckets < 0 " +
          s"THEN $MerkleBuckets ELSE 0 END AS bucket, COUNT(*) AS n, " +
          s"SUM(${hex7sql(1)}) AS s1, SUM(${hex7sql(8)}) AS s2 FROM (" +
          "SELECT c_custkey, md5(CAST(c_custkey AS VARCHAR) || ':' || " +
          "CAST(CAST(ROUND(c_acctbal * 10000) AS BIGINT) AS VARCHAR)) AS h " +
          s"FROM $src) GROUP BY 1"
      "WITH v1 AS (SELECT c_custkey, c_acctbal FROM customer), " +
        "v2 AS (SELECT c_custkey, c_acctbal FROM v1 WHERE c_custkey % 97 <> 0 " +
        "UNION ALL SELECT -c_custkey, c_acctbal FROM v1 WHERE c_custkey % 101 = 0), " +
        s"d1 AS (${digests("v1")}), d2 AS (${digests("v2")}) " +
        "SELECT COALESCE(d1.bucket, d2.bucket) AS bucket, " +
        "COALESCE(d1.n, 0) AS n_v1, COALESCE(d2.n, 0) AS n_v2, " +
        "d1.n = d2.n AND d1.s1 = d2.s1 AND d1.s2 = d2.s2 AS digests_equal " +
        "FROM d1 FULL OUTER JOIN d2 ON d1.bucket = d2.bucket ORDER BY bucket"
    }),
    Q("q77_text_tfidf", q77 _, Some(
      "WITH toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2), " +
        "df AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token), " +
        "n AS (SELECT COUNT(*) AS n FROM documents), " +
        "scored AS (SELECT doc_id, token, " +
        Tables.r6sql("tf * LN(CAST(n.n AS DOUBLE) / df)") + " AS tfidf " +
        "FROM tf JOIN df USING (token) CROSS JOIN n) " +
        "SELECT doc_id, token, tfidf, rank FROM (SELECT doc_id, token, tfidf, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank FROM scored) " +
        "WHERE rank <= 3 ORDER BY doc_id, rank")),
    Q("q78_vec_quantize", q78 _, Some(
      "SELECT vec_id, " +
        Tables.r6sql("CAST(list_min(embedding) AS DOUBLE)") + " AS qmin, " +
        Tables.r6sql("CAST(list_max(embedding) AS DOUBLE)") + " AS qmax, " +
        Tables.r6sql(
          "list_sum(list_transform(embedding, x -> " +
            "abs(CAST(x AS DOUBLE) - (CAST(list_min(embedding) AS DOUBLE) + " +
            "FLOOR((CAST(x AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / " +
            "((CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0) + 0.5) * " +
            "((CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0))))) / 64") +
        " AS mean_abs_err FROM embeddings ORDER BY vec_id")),
    Q("q79_split_deterministic", q79 _, Some(
      "SELECT split, COUNT(*) AS cnt, " +
        Tables.r6sql("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)") + " AS sum_price FROM (" +
        "SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split, " +
        "l_extendedprice FROM (" +
        "SELECT ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + " +
        "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 100 AS bucket, l_extendedprice FROM (" +
        "SELECT md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)) AS h, l_extendedprice FROM lineitem))) " +
        "GROUP BY split ORDER BY split")),
    Q("q81_pii_redact", q81 _, Some(
      s"SELECT doc_id, len(regexp_extract_all(text, '$piiPat')) AS n_hits, " +
        s"substr(regexp_replace(text, '$piiPat', '<PII>', 'g'), 1, 60) AS redacted_prefix " +
        "FROM documents ORDER BY doc_id")),
    Q("q303_pii_density", q303 _, Some(
      "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii, " +
        "CAST(SUM(hits) AS BIGINT) AS n_hits, " +
        Tables.r6sql("1000.0 * SUM(hits) / SUM(chars)") + " AS hits_per_kchar " +
        "FROM (SELECT source, " +
        s"len(regexp_extract_all(text, '$piiPat')) AS hits, " +
        "length(text) AS chars FROM documents) " +
        "GROUP BY source ORDER BY source")),
    Q("q82_text_repetition", q82 _, Some(
      "SELECT doc_id, n_bigrams, n_distinct, " +
        Tables.r6sql("1.0 - CAST(n_distinct AS DOUBLE) / n_bigrams") + " AS rep_ratio FROM (" +
        "SELECT doc_id, COUNT(*) AS n_bigrams, COUNT(DISTINCT bg) AS n_distinct FROM (" +
        "SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> " +
        "ts[CAST(i AS INT)] || ' ' || ts[CAST(i + 1 AS INT)])) AS bg FROM (" +
        "SELECT doc_id, str_split(text, ' ') AS ts FROM documents WHERE len(str_split(text, ' ')) >= 2)) " +
        "GROUP BY doc_id) ORDER BY doc_id")),
    Q("q84_length_histogram", q84 _, Some(
      "SELECT lang, len(CAST(n_chars AS VARCHAR)) AS len_digits, COUNT(*) AS n_docs, " +
        Tables.meanDSql("SUM(n_chars)", "COUNT(*)") + " AS avg_chars " +
        "FROM documents GROUP BY 1, 2 ORDER BY lang, len_digits")),
    Q("q100_quality_audit", q100 _, Some(
      "SELECT metric, value FROM (" +
        "SELECT 'customer_rows' AS metric, COUNT(*) AS value FROM customer " +
        "UNION ALL SELECT 'customer_null_names', COUNT(*) FROM customer WHERE c_name IS NULL " +
        "UNION ALL SELECT 'customer_dup_keys', COUNT(*) FROM (" +
        "SELECT c_custkey FROM customer GROUP BY c_custkey HAVING COUNT(*) > 1) " +
        "UNION ALL SELECT 'orders_fk_orphans', COUNT(*) FROM orders " +
        "WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey) " +
        "UNION ALL SELECT 'customer_acctbal_out_of_range', COUNT(*) FROM customer " +
        "WHERE c_acctbal < -1000 OR c_acctbal > 10000) ORDER BY metric")),
    Q("q98_upsert_merge", q98 _, Some(
      "SELECT c_custkey, " +
        "CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal, " +
        "CASE WHEN c_custkey % 10 = 0 THEN 'UPDATED' ELSE c_mktsegment END AS c_mktsegment " +
        "FROM customer ORDER BY c_custkey")),
    Q("q91_doc_chunking", q91 _, Some(
      "SELECT doc_id, chunk_id, chunk_text, n_tokens FROM (" +
        "SELECT doc_id, CAST(start // 20 AS BIGINT) AS chunk_id, " +
        "array_to_string(list_slice(ts, start + 1, start + 30), ' ') AS chunk_text, " +
        "CAST(LEAST(30, len(ts) - start) AS BIGINT) AS n_tokens FROM (" +
        "SELECT doc_id, ts, unnest(range(0, len(ts), 20)) AS start FROM (" +
        "SELECT doc_id, str_split(text, ' ') AS ts FROM documents))) " +
        "ORDER BY doc_id, chunk_id")),
    Q("q92_corpus_shuffle", q92 _, Some(
      "SELECT doc_id, md5('epoch42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key, lang " +
        "FROM documents ORDER BY shuffle_key, doc_id")),
    Q("q85_sample_stratified", q85 _, Some(
      "SELECT doc_id, lang, source, bucket FROM (" +
        "SELECT doc_id, lang, source, " +
        "((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + " +
        "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 100 AS bucket FROM (" +
        "SELECT doc_id, lang, source, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)) " +
        "WHERE bucket < CASE WHEN lang = 'en' THEN 50 ELSE 20 END ORDER BY doc_id")),
    Q("q351_ab_health", q351 _, Some {
      val (n0, n1) = ("CAST(n_0 AS DOUBLE)", "CAST(n_1 AS DOUBLE)")
      val srmStat = Tables.r6sql(s"($n0 - $n1) * ($n0 - $n1) / ($n0 + $n1)")
      def smd(c: String): String = {
        val (s0, ss0) = (s"CAST(s_${c}_0 AS DOUBLE)", s"CAST(ss_${c}_0 AS DOUBLE)")
        val (s1, ss1) = (s"CAST(s_${c}_1 AS DOUBLE)", s"CAST(ss_${c}_1 AS DOUBLE)")
        val v0 = s"(($ss0 - $s0 * $s0 / NULLIF($n0, 0.0)) / NULLIF($n0 - 1.0, 0.0))"
        val v1 = s"(($ss1 - $s1 * $s1 / NULLIF($n1, 0.0)) / NULLIF($n1 - 1.0, 0.0))"
        Tables.r6sql(s"ABS($s0 / NULLIF($n0, 0.0) - $s1 / NULLIF($n1, 0.0)) / " +
          s"NULLIF(sqrt(($v0 + $v1) / 2.0), 0.0)")
      }
      def smdRow(c: String): String =
        s"SELECT 'balance_$c' AS check_name, n_0 AS n_a, n_1 AS n_b, " +
          Tables.r6sql(s"CAST(s_${c}_0 AS DOUBLE) / NULLIF($n0, 0.0)") + " AS mean_a, " +
          Tables.r6sql(s"CAST(s_${c}_1 AS DOUBLE) / NULLIF($n1, 0.0)") + " AS mean_b, " +
          s"${smd(c)} AS stat, ${smd(c)} > 0.1 AS flagged FROM g"
      def arm(c: String, a: Int, sq: Boolean): String = {
        val e = if (sq) s"$c * $c" else c
        s"SUM(CASE WHEN arm = $a THEN $e END)"
      }
      "WITH u AS (SELECT user_id, CAST(COUNT(*) AS DECIMAL(19,4)) AS ev, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(19,4)) AS vl, " +
        "CAST(COUNT(DISTINCT event_type) AS DECIMAL(19,4)) AS ty, " +
        "CAST(user_id % 2 AS INT) AS arm FROM events GROUP BY 1), " +
        "g AS (SELECT " +
        "CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0, " +
        "CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1, " +
        Seq("ev", "vl", "ty").flatMap(c => Seq(
          s"${arm(c, 0, sq = false)} AS s_${c}_0",
          s"${arm(c, 0, sq = true)} AS ss_${c}_0",
          s"${arm(c, 1, sq = false)} AS s_${c}_1",
          s"${arm(c, 1, sq = true)} AS ss_${c}_1")).mkString(", ") +
        " FROM u) " +
        "SELECT * FROM (" +
        "SELECT 'srm' AS check_name, n_0 AS n_a, n_1 AS n_b, " +
        Tables.r6sql(s"$n0 / ($n0 + $n1)") + " AS mean_a, " +
        Tables.r6sql(s"$n1 / ($n0 + $n1)") + " AS mean_b, " +
        s"$srmStat AS stat, $srmStat > 3.841459 AS flagged FROM g " +
        "UNION ALL " + Seq("ev", "vl", "ty").map(smdRow).mkString(" UNION ALL ") +
        ") ORDER BY check_name"
    }),
    Q("q352_ab_cuped", q352 _, Some {
      val n = "(CAST(n_0 AS DOUBLE) + CAST(n_1 AS DOUBLE))"
      def pooled(p: String) =
        s"((CAST(${p}_0 AS DOUBLE) + CAST(${p}_1 AS DOUBLE)) / $n)"
      val (mx, my) = (pooled("sx"), pooled("sy"))
      val varx = s"(${pooled("sxx")} - $mx * $mx)"
      val vary = s"(${pooled("syy")} - $my * $my)"
      val covxy = s"(${pooled("sxy")} - $mx * $my)"
      val theta = s"($covxy / NULLIF($varx, 0.0))"
      val diffRaw = "(CAST(sy_1 AS DOUBLE) / NULLIF(CAST(n_1 AS DOUBLE), 0.0) - " +
        "CAST(sy_0 AS DOUBLE) / NULLIF(CAST(n_0 AS DOUBLE), 0.0))"
      val diffX = "(CAST(sx_1 AS DOUBLE) / NULLIF(CAST(n_1 AS DOUBLE), 0.0) - " +
        "CAST(sx_0 AS DOUBLE) / NULLIF(CAST(n_0 AS DOUBLE), 0.0))"
      def arm(a: Int, e: String, alias: String) =
        s"SUM(CASE WHEN arm = $a THEN $e END) AS ${alias}_$a"
      def armSet(a: Int) = Seq(
        s"CAST(SUM(CASE WHEN arm = $a THEN 1 ELSE 0 END) AS BIGINT) AS n_$a",
        arm(a, "x", "sx"), arm(a, "y", "sy"), arm(a, "x * x", "sxx"),
        arm(a, "x * y", "sxy"), arm(a, "y * y", "syy")).mkString(", ")
      "WITH ud AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day, " +
        "SUM(CAST(value AS DECIMAL(18,4))) AS dv FROM events GROUP BY 1, 2), " +
        "sp AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS split_day FROM ud), " +
        "xy AS (SELECT user_id, CAST(user_id % 2 AS INT) AS arm, " +
        "CAST(SUM(CASE WHEN day < split_day THEN dv ELSE 0 END) AS DECIMAL(19,4)) AS x, " +
        "CAST(SUM(CASE WHEN day >= split_day THEN dv ELSE 0 END) AS DECIMAL(19,4)) AS y " +
        "FROM ud CROSS JOIN sp GROUP BY 1, 2), " +
        s"g AS (SELECT ${armSet(0)}, ${armSet(1)} FROM xy) " +
        "SELECT n_0 AS n_a, n_1 AS n_b, " +
        Tables.r6sql(theta) + " AS theta, " +
        Tables.r6sql(diffRaw) + " AS diff_raw, " +
        Tables.r6sql(s"$diffRaw - $theta * $diffX") + " AS diff_cuped, " +
        Tables.r6sql(vary) + " AS var_y, " +
        Tables.r6sql(s"$vary - $covxy * $covxy / NULLIF($varx, 0.0)") +
        " AS var_cuped, " +
        Tables.r6sql(s"$covxy * $covxy / NULLIF($varx * $vary, 0.0)") +
        " AS var_reduction FROM g"
    }),
    Q("q353_ab_ratio_delta", q353 _, Some {
      def stats(a: Int): (String, String, String) = {
        val n = s"CAST(n_$a AS DOUBLE)"
        val (sc, sv) = (s"CAST(sc_$a AS DOUBLE)", s"CAST(sv_$a AS DOUBLE)")
        val (scc, scv, svv) = (s"CAST(scc_$a AS DOUBLE)",
          s"CAST(scv_$a AS DOUBLE)", s"CAST(svv_$a AS DOUBLE)")
        val r = s"($sc / NULLIF($sv, 0.0))"
        val vbar = s"($sv / $n)"
        val sccS = s"(($scc - $sc * $sc / $n) / NULLIF($n - 1.0, 0.0))"
        val scvS = s"(($scv - $sc * $sv / $n) / NULLIF($n - 1.0, 0.0))"
        val svvS = s"(($svv - $sv * $sv / $n) / NULLIF($n - 1.0, 0.0))"
        val varR = s"(($sccS - 2.0 * $r * $scvS + $r * $r * $svvS) / " +
          s"NULLIF($n * $vbar * $vbar, 0.0))"
        (r, s"sqrt($varR)", varR)
      }
      val (r0, se0, v0) = stats(0)
      val (r1, se1, v1) = stats(1)
      val diffZ = Tables.r6sql(s"($r1 - $r0) / NULLIF(sqrt($v0 + $v1), 0.0)")
      def arm(a: Int, e: String, alias: String) =
        s"SUM(CASE WHEN arm = $a THEN $e END) AS ${alias}_$a"
      def armSet(a: Int) = Seq(
        s"CAST(SUM(CASE WHEN arm = $a THEN 1 ELSE 0 END) AS BIGINT) AS n_$a",
        arm(a, "c", "sc"), arm(a, "v", "sv"), arm(a, "c * c", "scc"),
        arm(a, "c * v", "scv"), arm(a, "v * v", "svv")).mkString(", ")
      def row(a: Int, r: String, se: String) =
        s"SELECT $a AS arm, n_$a AS n_users, " +
          s"CAST(sc_$a AS BIGINT) AS clicks, CAST(sv_$a AS BIGINT) AS views, " +
          Tables.r6sql(r) + " AS ratio, " + Tables.r6sql(se) + " AS se, " +
          Tables.r6sql(s"$r - 1.959964 * $se") + " AS ci_lo, " +
          Tables.r6sql(s"$r + 1.959964 * $se") + " AS ci_hi, " +
          s"$diffZ AS diff_z FROM g"
      "WITH u AS (SELECT user_id, CAST(user_id % 2 AS INT) AS arm, " +
        "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) " +
        "AS DECIMAL(19,4)) AS c, " +
        "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) " +
        "AS DECIMAL(19,4)) AS v FROM events GROUP BY 1, 2), " +
        s"g AS (SELECT ${armSet(0)}, ${armSet(1)} FROM u) " +
        s"SELECT * FROM (${row(0, r0, se0)} UNION ALL ${row(1, r1, se1)}) " +
        "ORDER BY arm"
    }),
    Q("q356_ab_poststrat", q356 _, Some {
      def nd(a: Int) = s"CAST(n_$a AS DOUBLE)"
      def mean(a: Int) = s"(CAST(s_$a AS DOUBLE) / NULLIF(${nd(a)}, 0.0))"
      def svar(a: Int) = s"((CAST(ss_$a AS DOUBLE) - CAST(s_$a AS DOUBLE) * " +
        s"CAST(s_$a AS DOUBLE) / NULLIF(${nd(a)}, 0.0)) / " +
        s"NULLIF(${nd(a)} - 1.0, 0.0))"
      val w = s"((${nd(0)} + ${nd(1)}) / CAST(nn AS DOUBLE))"
      def armCol(a: Int, e: String, alias: String) =
        s"CAST(SUM(CASE WHEN arm = $a THEN $e END) AS " +
          (if (e == "n") "BIGINT" else "DECIMAL(38,8)") + s") AS ${alias}_$a"
      "WITH ud AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS c, " +
        "SUM(CAST(value AS DECIMAL(18,4))) AS dv FROM events GROUP BY 1, 2), " +
        "sp AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS split_day FROM ud), " +
        "users AS (SELECT user_id, CAST(user_id % 2 AS INT) AS arm, " +
        "CAST(LEAST(SUM(CASE WHEN day < split_day THEN c ELSE 0 END) // 16, 3) " +
        "AS BIGINT) AS stratum, " +
        "CAST(SUM(CASE WHEN day >= split_day THEN dv ELSE 0 END) " +
        "AS DECIMAL(19,4)) AS y FROM ud CROSS JOIN sp GROUP BY 1, 2), " +
        "cells AS (SELECT stratum, arm, CAST(COUNT(*) AS BIGINT) AS n, " +
        "SUM(y) AS s, SUM(y * y) AS ss FROM users GROUP BY 1, 2), " +
        "wide AS (SELECT stratum, " +
        Seq(0, 1).flatMap(a => Seq(armCol(a, "n", "n"), armCol(a, "s", "s"),
          armCol(a, "ss", "ss"))).mkString(", ") +
        " FROM cells GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(COALESCE(n_0, 0) + COALESCE(n_1, 0)) AS BIGINT) " +
        "AS nn FROM wide), " +
        "scored AS (SELECT stratum, n_0 AS n_a, n_1 AS n_b, " +
        Tables.r6sql(mean(0)) + " AS mean_a, " +
        Tables.r6sql(mean(1)) + " AS mean_b, " +
        Tables.r6sql(w) + " AS w, " +
        s"CAST(${Tables.r6sql(s"$w * (${mean(1)} - ${mean(0)})")} " +
        "AS DECIMAL(18,6)) AS contrib, " +
        s"CAST(${Tables.r6sql(s"$w * $w * (${svar(1)} / NULLIF(${nd(1)}, 0.0) + " +
          s"${svar(0)} / NULLIF(${nd(0)}, 0.0))")} AS DECIMAL(18,6)) AS vterm, " +
        "s_0, s_1, n_0, n_1 FROM wide CROSS JOIN tot), " +
        "sm AS (SELECT " +
        Tables.r6sql("CAST(SUM(contrib) AS DOUBLE)") + " AS diff_adjusted, " +
        Tables.r6sql("sqrt(CAST(SUM(vterm) AS DOUBLE))") + " AS se_adjusted, " +
        Tables.r6sql("CAST(SUM(s_1) AS DOUBLE) / " +
          "NULLIF(CAST(SUM(n_1) AS DOUBLE), 0.0) - CAST(SUM(s_0) AS DOUBLE) / " +
          "NULLIF(CAST(SUM(n_0) AS DOUBLE), 0.0)") + " AS diff_raw FROM scored) " +
        "SELECT stratum, n_a, n_b, mean_a, mean_b, w, " +
        "diff_adjusted, se_adjusted, diff_raw " +
        "FROM scored CROSS JOIN sm ORDER BY stratum"
    }),
    Q("q358_ab_power_mde", q358 _, Some {
      val n = "CAST(n AS DOUBLE)"
      val mean = s"(CAST(s AS DOUBLE) / $n)"
      val variance = s"((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * " +
        s"CAST(s AS DOUBLE) / $n) / NULLIF($n - 1.0, 0.0))"
      val nArm = "CAST((n * k) // 2 AS DOUBLE)"
      val mde = s"(2.801585 * sqrt(2.0 * $variance / $nArm))"
      "WITH u AS (SELECT user_id, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(19,4)) AS y " +
        "FROM events GROUP BY 1), " +
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(y) AS s, " +
        "SUM(y * y) AS ss FROM u), " +
        "grid AS (SELECT unnest([1, 2, 4, 8, 16]) AS k) " +
        "SELECT CAST(k AS BIGINT) AS k, CAST((n * k) // 2 AS BIGINT) AS n_per_arm, " +
        Tables.r6sql(s"sqrt(2.0 * $variance / $nArm)") + " AS se_diff, " +
        Tables.r6sql(mde) + " AS mde_abs, " +
        Tables.r6sql(s"$mde / $mean") + " AS mde_rel " +
        "FROM g CROSS JOIN grid ORDER BY k"
    }),
    Q("q359_ab_quantile_effect", q359 _, Some {
      val names = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p90" -> 0.9)
      def row(n: String) =
        s"SELECT '$n' AS quantile, " +
          Tables.r6sql(s"a_$n") + " AS value_a, " +
          Tables.r6sql(s"b_$n") + " AS value_b, " +
          Tables.r6sql(s"b_$n - a_$n") + " AS qte FROM w"
      "WITH u AS (SELECT user_id, CAST(user_id % 2 AS INT) AS arm, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS y " +
        "FROM events GROUP BY 1, 2), " +
        "q AS (SELECT arm, " +
        names.map { case (n, p) => s"quantile_cont(y, $p) AS $n" }
          .mkString(", ") + " FROM u GROUP BY 1), " +
        "w AS (SELECT " +
        names.map { case (n, _) => s"a.$n AS a_$n, b.$n AS b_$n" }
          .mkString(", ") +
        " FROM q a JOIN q b ON a.arm = 0 AND b.arm = 1) " +
        "SELECT * FROM (" +
        names.map { case (n, _) => row(n) }.mkString(" UNION ALL ") +
        ") ORDER BY quantile"
    }),
    Q("q365_ab_cluster_robust", q365 _, Some {
      def nd(p: String) = s"CAST($p AS DOUBLE)"
      def userVar(a: Int) = s"((${nd(s"ss_$a")} - ${nd(s"s_$a")} * ${nd(s"s_$a")} / " +
        s"NULLIF(${nd(s"n_$a")}, 0.0)) / NULLIF(${nd(s"n_$a")} - 1.0, 0.0))"
      def meanVar(a: Int) = s"((${nd(s"smm_$a")} - ${nd(s"sm_$a")} * ${nd(s"sm_$a")} / " +
        s"NULLIF(${nd(s"k_$a")}, 0.0)) / NULLIF(${nd(s"k_$a")} - 1.0, 0.0))"
      val diffNaive = s"(${nd("s_1")} / NULLIF(${nd("n_1")}, 0.0) - " +
        s"${nd("s_0")} / NULLIF(${nd("n_0")}, 0.0))"
      val diffCluster = s"(${nd("sm_1")} / NULLIF(${nd("k_1")}, 0.0) - " +
        s"${nd("sm_0")} / NULLIF(${nd("k_0")}, 0.0))"
      val seNaive = s"sqrt(${userVar(0)} / NULLIF(${nd("n_0")}, 0.0) + " +
        s"${userVar(1)} / NULLIF(${nd("n_1")}, 0.0))"
      val seCluster = s"sqrt(${meanVar(0)} / NULLIF(${nd("k_0")}, 0.0) + " +
        s"${meanVar(1)} / NULLIF(${nd("k_1")}, 0.0))"
      def aSum(a: Int, e: String, alias: String) =
        s"SUM(CASE WHEN arm = $a THEN $e END) AS ${alias}_$a"
      "WITH cl AS (SELECT CAST(c_nationkey AS BIGINT) AS ck, " +
        "CAST(c_nationkey % 2 AS INT) AS arm, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS s, " +
        "SUM(CAST(c_acctbal AS DECIMAL(18,4)) * CAST(c_acctbal AS DECIMAL(18,4))) AS ss " +
        "FROM customer GROUP BY 1, 2), " +
        "cm AS (SELECT *, " +
        Tables.r6sql("CAST(s AS DOUBLE) / n") + " AS m FROM cl), " +
        "g AS (SELECT " + Seq(
          aSum(0, "n", "n"), aSum(1, "n", "n"),
          aSum(0, "1", "k"), aSum(1, "1", "k"),
          aSum(0, "s", "s"), aSum(1, "s", "s"),
          aSum(0, "ss", "ss"), aSum(1, "ss", "ss"),
          aSum(0, "CAST(m AS DECIMAL(18,6))", "sm"),
          aSum(1, "CAST(m AS DECIMAL(18,6))", "sm"),
          aSum(0, s"CAST(${Tables.r6sql("m * m")} AS DECIMAL(38,6))", "smm"),
          aSum(1, s"CAST(${Tables.r6sql("m * m")} AS DECIMAL(38,6))", "smm"))
          .mkString(", ") + " FROM cm) " +
        "SELECT CAST(n_0 AS BIGINT) AS n_users_a, CAST(n_1 AS BIGINT) AS n_users_b, " +
        "CAST(k_0 AS BIGINT) AS n_clusters_a, CAST(k_1 AS BIGINT) AS n_clusters_b, " +
        Tables.r6sql(diffNaive) + " AS diff_naive, " +
        Tables.r6sql(seNaive) + " AS se_naive, " +
        Tables.r6sql(s"$diffNaive / NULLIF($seNaive, 0.0)") + " AS z_naive, " +
        Tables.r6sql(diffCluster) + " AS diff_cluster, " +
        Tables.r6sql(seCluster) + " AS se_cluster, " +
        Tables.r6sql(s"$diffCluster / NULLIF($seCluster, 0.0)") + " AS z_cluster, " +
        Tables.r6sql(s"$seCluster * $seCluster / " +
          s"NULLIF($seNaive * $seNaive, 0.0)") + " AS deff FROM g"
    }),
    Q("q366_ab_icc", q366 _, Some {
      val (k, nn) = ("CAST(k AS DOUBLE)", "CAST(nn AS DOUBLE)")
      val ssb = s"(CAST(sb AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / $nn)"
      val msb = s"($ssb / NULLIF($k - 1.0, 0.0))"
      val msw = s"(CAST(ssw AS DOUBLE) / NULLIF($nn - $k, 0.0))"
      val m0 = s"(($nn - CAST(n2 AS DOUBLE) / $nn) / NULLIF($k - 1.0, 0.0))"
      val icc = s"(($msb - $msw) / NULLIF($msb + ($m0 - 1.0) * $msw, 0.0))"
      "WITH cl AS (SELECT CAST(c_nationkey AS BIGINT) AS ck, " +
        "CAST(COUNT(*) AS BIGINT) AS n, " +
        "SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS s, " +
        "SUM(CAST(c_acctbal AS DECIMAL(18,4)) * CAST(c_acctbal AS DECIMAL(18,4))) AS ss " +
        "FROM customer GROUP BY 1), " +
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, " +
        "CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(n * n) AS BIGINT) AS n2, " +
        "SUM(s) AS st, " +
        "SUM(CAST(" +
        Tables.r6sql("CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)") +
        " AS DECIMAL(38,6))) AS sb, " +
        "SUM(CAST(" +
        Tables.r6sql("CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * " +
          "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)") +
        " AS DECIMAL(38,6))) AS ssw FROM cl) " +
        "SELECT k AS n_clusters, nn AS n_rows, " +
        Tables.r6sql(m0) + " AS m0, " + Tables.r6sql(msb) + " AS ms_between, " +
        Tables.r6sql(msw) + " AS ms_within, " + Tables.r6sql(icc) + " AS icc, " +
        Tables.r6sql(s"1.0 + ($m0 - 1.0) * $icc") + " AS deff_implied FROM g"
    }),
    Q("q136_ab_test", q136 _, Some {
      val pp = "(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
      "WITH t AS (SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS ptotal " +
        "FROM events WHERE event_type = 'purchase' GROUP BY user_id), " +
        "m AS (SELECT quantile_cont(ptotal, 0.5) AS med FROM t), " +
        "u AS (SELECT au.user_id, CASE WHEN COALESCE(t.ptotal, 0.0) > m.med THEN 1 ELSE 0 END AS converted " +
        "FROM (SELECT DISTINCT user_id FROM events) au LEFT JOIN t ON au.user_id = t.user_id CROSS JOIN m), " +
        "a AS (SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(SUM(CASE WHEN user_id % 2 = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a, " +
        "CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(SUM(CASE WHEN user_id % 2 = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b FROM u) " +
        "SELECT n_a, conv_a, n_b, conv_b, " +
        graft.Tables.r6sql("CAST(conv_a AS DOUBLE) / NULLIF(n_a, 0)") + " AS rate_a, " +
        graft.Tables.r6sql("CAST(conv_b AS DOUBLE) / NULLIF(n_b, 0)") + " AS rate_b, " +
        graft.Tables.r6sql(
          "(CAST(conv_b AS DOUBLE) / NULLIF(n_b, 0) - CAST(conv_a AS DOUBLE) / NULLIF(n_a, 0)) / " +
          s"NULLIF(SQRT($pp * (1.0 - $pp) * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0))), 0.0)") +
        " AS z_stat FROM a"
    }),
    Q("q137_rfm_scoring", q137 _, Some(
      "WITH rfm AS (SELECT user_id, MAX(epoch_us(ts)) AS last_us, COUNT(*) AS freq, " +
        graft.Tables.r6sql("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)") + " AS monetary " +
        "FROM events GROUP BY user_id), " +
        "cuts AS (SELECT quantile_cont(last_us, [0.2, 0.4, 0.6, 0.8]) AS rc, " +
        "quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fc, " +
        "quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mc FROM rfm), " +
        "scored AS (SELECT user_id, " +
        "CAST(1 + len(list_filter(rc, c -> c < last_us)) AS BIGINT) AS r_score, " +
        "CAST(1 + len(list_filter(fc, c -> c < freq)) AS BIGINT) AS f_score, " +
        "CAST(1 + len(list_filter(mc, c -> c < monetary)) AS BIGINT) AS m_score " +
        "FROM rfm CROSS JOIN cuts) " +
        "SELECT user_id, r_score, f_score, m_score, " +
        "r_score * 100 + f_score * 10 + m_score AS rfm_code " +
        "FROM scored ORDER BY user_id")),
    Q("q121_snapshot_diff", q121 _, Some(
      "WITH v1 AS (SELECT c_custkey, c_acctbal FROM customer), " +
        "v2 AS (SELECT c_custkey, c_acctbal FROM v1 WHERE c_custkey % 97 <> 0 " +
        "UNION ALL SELECT -c_custkey, c_acctbal FROM v1 WHERE c_custkey % 101 = 0) " +
        "SELECT * FROM (" +
        "SELECT COALESCE(v1.c_custkey, v2.c_custkey) AS key, " +
        "CASE WHEN v1.c_custkey IS NULL THEN 'added' " +
        "WHEN v2.c_custkey IS NULL THEN 'removed' " +
        "WHEN v1.c_acctbal <> v2.c_acctbal THEN 'changed' ELSE 'unchanged' END AS change_type, " +
        "v1.c_acctbal AS old_val, v2.c_acctbal AS new_val " +
        "FROM v1 FULL JOIN v2 ON v1.c_custkey = v2.c_custkey) " +
        "WHERE change_type <> 'unchanged' ORDER BY key")),
    Q("q201_cdc_apply", q201 _, Some(
      "WITH chg AS (" +
        "SELECT o_orderkey, CAST(1 AS BIGINT) AS seq, 'I' AS op, " +
        "o_totalprice AS price FROM orders " +
        "UNION ALL SELECT o_orderkey, 2, 'U', o_totalprice + 100.0 " +
        "FROM orders WHERE o_orderstatus = 'F' " +
        "UNION ALL SELECT o_orderkey, 3, 'D', CAST(NULL AS DOUBLE) " +
        "FROM orders WHERE o_orderstatus = 'P'), " +
        "r AS (SELECT o_orderkey, seq, op, price, " +
        "ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn, " +
        "COUNT(*) OVER (PARTITION BY o_orderkey) AS n_ops FROM chg) " +
        "SELECT o_orderkey, CAST(n_ops AS BIGINT) AS n_ops, seq AS last_seq, " +
        Tables.r6sql("price") + " AS final_price " +
        "FROM r WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey")),
    Q("q211_impute_group_mean", q211 _, Some(
      "WITH ev AS (SELECT event_id, user_id, event_type, value FROM events), " +
        "um AS (SELECT user_id, SUM(CAST(value AS DECIMAL(18,4))) AS s, " +
        "COUNT(*) AS c FROM ev WHERE event_type <> 'error' GROUP BY 1), " +
        "g AS (SELECT SUM(CAST(value AS DECIMAL(18,4))) AS gs, COUNT(*) AS gc " +
        "FROM ev WHERE event_type <> 'error') " +
        "SELECT event_id, e.user_id, (event_type = 'error') AS was_imputed, " +
        "CASE WHEN event_type = 'error' THEN " +
        s"COALESCE(${Tables.meanDSql("s", "c")}, ${Tables.meanDSql("gs", "gc")}) " +
        "ELSE value END AS value_out " +
        "FROM ev e LEFT JOIN um ON e.user_id = um.user_id CROSS JOIN g " +
        "ORDER BY event_id")),
  )
}
