package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The public library facade — the generic, reusable primitives behind
  * the verified query suite, callable on ARBITRARY DataFrames (nothing
  * here reads the test tables). Each primitive is exercised by at least
  * one oracle-verified query (named in its doc) plus ApiSuite's
  * genericity tests on synthetic frames.
  *
  * Column functions compose into any projection; DataFrame functions
  * return plain frames so they chain with the full Spark API. All of
  * them follow the repo-wide scale rules: no driver-side actions, no
  * unbounded shuffles, broadcast where a side is provably small.
  *
  * Reserved names: helpers use `graft_`-prefixed working columns
  * internally and `require` the input doesn't already carry them;
  * [[denseTokens]] emits a `token` column, so the ranked key must not
  * be named `token`.
  *
  * CACHE LIFECYCLE: a few frame functions pin a shared intermediate
  * (`CorpusPin.pin` — recomputable `persist(MEMORY_AND_DISK)`) so their
  * multiple internal consumers pay the build once. The pin registers a
  * session-global CacheManager entry that outlives the call; call
  * [[release]] when you are done consuming the results (per query, or
  * per batch of queries) to drop those entries and blocks. Every pin
  * registers, also one made while a family memo (`FrameMemo`) builds: a
  * memo entry owns only its own checkpoint, so after [[release]] a
  * rebuilt memo pins and caches its helpers afresh. Forgetting
  * is bounded, not fatal: the registry caps itself (oldest pin evicted
  * beyond 32 per application, safe because pins keep lineage), so a
  * consumer that never releases trades some cache hygiene for
  * correctness-free recomputes, never unbounded growth.
  */
object Graft {

  /** Release every cache this library pinned in `spark`'s session:
    * CacheManager entries + storage blocks of facade pins, plus the
    * pay-once family memo (see the CACHE LIFECYCLE note above). Only
    * GRAFT-owned state — frames the caller persisted themselves are
    * untouched (unlike the in-repo hosts' between-queries sweep, which
    * clears the whole session). Safe to call at any time — pinned
    * frames keep recomputable lineage, so a frame still being consumed
    * recomputes instead of failing. Idempotent. */
  def release(spark: SparkSession): Unit = {
    graft.plans.CorpusPin.releaseAll(spark)
    graft.plans.FrameMemo.clear(spark)
  }

  // ---- anonymization column functions (q36–q39) ---------------------------

  /** Salted-hash pseudonymization (q36): keyed sha-256 surrogate. */
  def pseudonym(c: Column, salt: String): Column =
    sha2(concat(lit(salt), c), 256)

  /** Partial masking (q37): keep a prefix, star the rest. */
  def maskKeepPrefix(c: Column, keep: Int): Column =
    concat(substring(c, 1, keep), lit("***"))

  /** Digit masking (q37): every digit → '#'. */
  def maskDigits(c: Column): Column =
    regexp_replace(c, "[0-9]", "#")

  /** Numeric generalization (q38): fixed-width binning. */
  def generalizeNumeric(c: Column, width: Int): Column =
    (floor(c / width) * width).cast("bigint")

  /** Temporal generalization (q39): date → first of month. */
  def generalizeDate(c: Column): Column =
    trunc(c.cast("date"), "MM")

  // ---- anonymization frame functions (q41, q42 shape) ---------------------

  /** PRODUCTION (ε,δ)-DP histogram release (the q362 audit mode's
    * production contract): per-executor CSPRNG Gaussian noise at
    * σ = √(2·ln(1.25/δ))/ε, true counts and mode markers dropped —
    * only (groupCols, epsilon, delta, sigma, noisy_n) leave the
    * engine, and the release is materialized so exactly ONE noise draw
    * exists however many actions follow. Requires ε ∈ (0,1): the
    * classical calibration's theorem precondition (Dwork & Roth
    * Thm A.1) — not a style choice. One release; composition
    * accounting is the caller's ledger. */
  def dpGaussianRelease(df: DataFrame, groupCols: Seq[String],
      eps: Double = 0.5, delta: Double = 1e-6): DataFrame =
    operators.Anonymize.dpGaussianReleaseOf(df, groupCols, eps, delta)

  /** k-anonymity audit (q41): QI-group sizes with a violation flag.
    * Global groupBy — the correct distributed formulation of a global
    * guarantee; shuffle bounded by QI cardinality. */
  def kAnonymityAudit(df: DataFrame, qi: Seq[String], k: Int): DataFrame =
    df.groupBy(qi.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .withColumn(s"violates_k$k", col("group_size") < k)

  /** Cell suppression to reach k (q42 shape): each QI column is nulled
    * for rows in groups smaller than k, emitted as `<col>_k`. One window
    * shuffle on the QI. */
  def suppressBelowK(df: DataFrame, qi: Seq[String], k: Int): DataFrame = {
    require(!df.columns.contains("graft_gs"), "graft_gs is reserved by suppressBelowK")
    val w = Window.partitionBy(qi.map(col): _*)
    val withSize = df.withColumn("graft_gs", count(lit(1)).over(w))
    qi.foldLeft(withSize)((acc, c) =>
      acc.withColumn(s"${c}_k", when(col("graft_gs") >= k, col(c))))
      .drop("graft_gs")
  }

  // ---- dedup / similarity (q49, q50, q60, q51, q63) -----------------------

  /** Exact dedup by content hash (q49): keep min id per hash + member
    * count. `docs` needs (doc_id, text). Map-side combine, one shuffle. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** MinHash-LSH near-dup candidate pairs (q50; clustered by q76/q93):
    * trigram shingles with the 10% document-frequency cap, 8 composite
    * hashes, 4-band equi-join — never doc×doc. `docs` needs
    * (doc_id, text). */
  def minhashPairs(docs: DataFrame): DataFrame =
    operators.LLMPipeline.minhashPairsOf(docs)

  /** SimHash fingerprint per document (q60; paired by q83). `docs`
    * needs (doc_id, text).
    *
    * Documents with fewer than 3 whitespace tokens (no word trigram to
    * vote with) receive a DEGENERATE whole-text fingerprint — the low 32
    * bits of md5(text) — so identical short texts still collide at
    * Hamming 0 and are flagged by fingerprint-based dedup (q83/q181);
    * unrelated short texts land on independent uniform bits (false
    * Hamming-≤3 pair ≈ 1.3e-6). The oracle SQL applies the identical
    * fallback, so both engines agree (VERDICT r12 item 3). */
  def simhash(docs: DataFrame): DataFrame =
    operators.NearDup.simhashOf(docs)

  /** Brute-force cosine top-k (q51): exact baseline, probe side
    * broadcast. `emb` needs (vec_id, embedding: array<float>). */
  def bruteTopK(spark: SparkSession, emb: DataFrame, probePred: Column, topK: Int): DataFrame =
    operators.LLMPipeline.bruteTopK(spark, emb, probePred, topK)

  /** IVF-pruned approximate top-k (q63): the scale path — broadcast
    * centroids, nprobe cells, exact scoring inside cells only. `emb`
    * needs (vec_id, label, embedding). */
  def ivfTopK(spark: SparkSession, emb: DataFrame, probePred: Column,
      nProbe: Int, topK: Int): DataFrame =
    operators.NearDup.ivfTopK(spark, emb, probePred, nProbe, topK)

  /** EXACT threshold-cosine pair search (q62) with a cartesian-free
    * plan: spherical triangle-inequality cell pruning, candidates via
    * equi-joins only. `emb` needs (vec_id, embedding). */
  def cosinePairs(spark: SparkSession, emb: DataFrame, tau: Double): DataFrame =
    operators.NearDup.exactCosPairs(spark, emb, tau)

  // ---- training-data pipeline (q91, q48, scale joins) ---------------------

  /** Fixed-stride token chunking with overlap (q91): the pre-training
    * chunker. `docs` needs (doc_id, text). Narrow — no shuffle. */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 30, stride: Int = 20): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(expr(s"sequence(0, size(ts) - 1, $stride)")).as("start"))
      .select(col("doc_id"),
        expr(s"CAST(start DIV $stride AS BIGINT)").as("chunk_id"),
        expr(s"concat_ws(' ', slice(ts, start + 1, $chunkTokens))").as("chunk_text"),
        least(lit(chunkTokens), size(col("ts")) - col("start")).cast("bigint").as("n_tokens"))

  /** Distributed dense rank over the distinct values of `key` (q48's
    * tokenizer): no single-partition stage on the key domain. */
  def denseTokens(df: DataFrame, key: String): DataFrame =
    plans.DistributedRank.denseTokens(df, key)

  /** Exact per-group percentiles with bounded executor state (q19/q136/
    * q137/q139/q142): two-pass bucketed selection, bit-identical to the
    * builtin `percentile` but never buffering a group's distinct-value
    * set. Empty `groupCols` ⇒ one global group. */
  def boundedQuantiles(df: DataFrame, groupCols: Seq[String], value: Column,
      ps: Seq[Double], outNames: Seq[String]): DataFrame =
    plans.BoundedQuantiles.groupQuantiles(df, groupCols, value, ps, outNames)

  /** LOCF forward fill (q144): per `key`, in (`time`, `tiebreak`) order,
    * emit `value` filled with the most recent non-null observation as
    * `<valueName>_filled`. One running window, no self-join. */
  def locfBackfill(df: DataFrame, key: Column, time: Column, tiebreak: Column,
      value: Column, valueName: String = "v"): DataFrame = {
    require(!df.columns.contains(s"${valueName}_filled"),
      s"locfBackfill emits `${valueName}_filled`, which the input already carries")
    df.withColumn(s"${valueName}_filled",
      last(value, ignoreNulls = true).over(
        Window.partitionBy(key).orderBy(time, tiebreak)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Last-touch attribution (q145): rows matching `conversion` gain
    * `attributed_id`/`gap` from the most recent row matching `touch`
    * (same `key`, within `lookback` time units; outside ⇒ NULL). The
    * non-conversion rows are dropped. `id` must be unique per row —
    * it is both the attribution target and the order tiebreak. */
  def lastTouchAttribution(df: DataFrame, key: Column, time: Column, id: Column,
      touch: Column, conversion: Column, lookback: Long): DataFrame = {
    require(df.columns.forall(c => !c.startsWith("graft_")) &&
      !df.columns.contains("attributed_id") && !df.columns.contains("gap"),
      "lastTouchAttribution emits `attributed_id`/`gap` and uses graft_-prefixed " +
        "working columns — the input must not already carry them")
    val w = Window.partitionBy(key).orderBy(time, id)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withTouch = df
      .withColumn("graft_tid", last(when(touch, id), ignoreNulls = true).over(w))
      .withColumn("graft_tts", last(when(touch, time), ignoreNulls = true).over(w))
    val in = time - col("graft_tts") <= lookback
    withTouch.filter(conversion)
      .withColumn("attributed_id", when(in, col("graft_tid")))
      .withColumn("gap", when(in, time - col("graft_tts")))
      .drop("graft_tid", "graft_tts")
  }

  /** Salted skew join (q89): explicit fallback when one key dominates
    * beyond what AQE's skew-split handles. */
  def saltedJoin(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column, saltBuckets: Int): DataFrame =
    plans.ScaleJoins.saltedJoin(left, right, leftKey, rightKey, saltBuckets)

  /** Data-quality expectations runner (q236): evaluate named row-level
    * predicate checks over `df` in ONE pass; returns per-check
    * (check, n_rows, n_violations, violation_rate, pass). A NULL
    * predicate result counts as a violation. */
  def expectations(df: DataFrame,
      checks: Seq[(String, Column)]): DataFrame =
    operators.StatsOps.expectationsOf(df, checks)

  /** Bounded-state top-k per group (q239): k best (score, id) rows per
    * group under (score desc, id asc) — O(k) mergeable state instead of
    * the rank window's full per-group sort. `id` must be unique (it is
    * the total-order tiebreak). Output: groupCols + (rn, id, score).
    * Rows with a NULL score or id are SKIPPED (a NULL score is "no
    * score", not "worst score") — a group with fewer than k scored rows
    * returns fewer than k rows, where the rank-window idiom would pad
    * with NULL-score rows ranked last; coalesce a sentinel first if you
    * need that padding. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
      score: Column, id: Column, k: Int): DataFrame =
    operators.Aggregates.topKPerGroupOf(df, groupCols, score, id, k)

  /** One-pass column profiler (q238): per column, row/null/distinct
    * counts, uniqueness, and numeric min/max (dates as days-since-
    * epoch; strings NULL). Defaults to HLL distincts — the mergeable
    * no-row-expansion path for big tables; pass `approxDistinct =
    * false` for exact counts at maintenance cadence. */
  def profile(df: DataFrame, approxDistinct: Boolean = true): DataFrame =
    operators.StatsOps.profileOf(df, approxDistinct)

  /** Bloom semi-join prefilter (q234): prune `fact` to rows whose
    * `factKey` might appear in the single-column `dimKeys` frame — no
    * false negatives, constant-size broadcast mask, non-matching fact
    * rows die map-side before any join shuffle. */
  def bloomPrefilter(fact: DataFrame, factKey: Column, dimKeys: DataFrame,
      bits: Int = 1 << 16, hashes: Int = 5): DataFrame =
    plans.ScaleJoins.bloomPrefilter(fact, factKey, dimKeys, bits, hashes)

  // ---- corpus curation (q104–q106, q109) ----------------------------------

  /** Benchmark decontamination (q104): flag every `train` document
    * sharing any word 5-gram with `evalDocs`. Both frames need
    * (doc_id, text); the eval n-gram index broadcasts. */
  def decontaminate(train: DataFrame, evalDocs: DataFrame): DataFrame =
    operators.CorpusOps.decontaminateOf(train, evalDocs)

  /** Training-sequence packing (q105): per-document (bucket, bin)
    * assignment cutting each hash bucket's deterministic order into
    * `packLen`-token bins. `docs` needs (doc_id, text). */
  def packSequences(docs: DataFrame, packLen: Int = 512, buckets: Int = 16): DataFrame =
    operators.CorpusOps.packAssignments(docs, packLen, buckets)

  /** Class-balanced rebalance (q109): downsample every class of
    * `classCol` to the smallest class's count, deterministically by an
    * md5 bucket of `idCol`. Returns the kept rows with `graft_class_n`
    * and `graft_thresh` attached. */
  def rebalanceClasses(df: DataFrame, classCol: String, idCol: String): DataFrame =
    operators.CorpusOps.rebalanceOf(df, classCol, idCol)

  /** Fixed-iteration Lloyd's k-means (q106): broadcast-centroid
    * assignment, DECIMAL-exact centroid means, init = the k lowest ids.
    * `emb` needs (vec_id, embedding: array<float>); returns
    * (vec_id, cl, d2). */
  def kmeans(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    operators.ClusterOps.kmeansAssign(emb, k, iters)

  // ---- time-series primitives (q107, q108) --------------------------------

  /** Bucketized trailing-range join (q107): all (probe, point) pairs
    * with point time in (p_ts − windowUs, p_ts], computed as an
    * EQUI-join on the range-width time bucket — scalable with no equi
    * key. `probes` needs (p_id, p_ts); `points` needs (c_ts, …). */
  def trailingRangeJoin(probes: DataFrame, points: DataFrame, windowUs: Long): DataFrame =
    operators.TimeSeries.trailingRangeJoin(probes, points, windowUs)

  /** Sliding-window distinct counting (q108): distinct `key`s over the
    * trailing `windowBuckets` buckets per window — contribute-then-count,
    * no single-partition stage. `df` needs (key, bkt: bigint). */
  def slidingDistinct(df: DataFrame, windowBuckets: Int): DataFrame =
    operators.TimeSeries.slidingDistinctOf(df, windowBuckets)

  /** Z-order (Morton) interleave of two non-negative integral dims
    * (q110): the range-partition key that keeps BOTH dims clustered at
    * write time. `bits` is the per-dimension bit width. */
  def zValue(x: Column, y: Column, bits: Int = 5): Column =
    (0 until bits).map(i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
      .reduce(_ + _)

  // ---- graph & summary primitives (q120, q123) ----------------------------

  /** Fixed-iteration PageRank (q120) as distributed join–agg matvecs;
    * `edges` needs (src, dst, w: bigint). Nodes = keys appearing on
    * either side; dangling nodes keep their teleport share and forward
    * nothing. Deterministic: r6-rounded DECIMAL contribution sums. */
  def pageRank(edges: DataFrame, damping: Double = 0.85, teleport: Double = 0.15,
      iters: Int = 3): DataFrame =
    operators.GraphOps.pageRank(edges, damping, teleport, iters)

  /** Per-node triangle participation counts (q147): degree-ordered edge
    * orientation, so each triangle is one directed wedge + closing edge
    * and out-degrees stay O(√m) on skewed graphs. `edges` is ANY
    * (src, dst, ...) frame; direction and duplicates ignored. */
  def triangleCounts(edges: DataFrame): DataFrame =
    operators.GraphOps.triangleCounts(edges)

  /** Misra–Gries heavy-hitters summary column (q123): aggregate a string
    * column into a map<item, est> with the f − n/(k+1) ≤ est ≤ f
    * guarantee; merge-order-independent by construction (see
    * functions.MisraGries). Use as `df.agg(heavyHitters(k)(col))`. */
  def heavyHitters(k: Int = 256): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new functions.MisraGries(k))

  // ---- multimodal binary columns (q68, q95) -------------------------------

  /** Decode + featurize binary media payloads (q68/q95): real pure-JVM
    * PNG/BMP/WAV header parsing when `useRealDecoder`, deterministic
    * fake otherwise. `media` needs (media_id, payload: binary, mime). */
  def decodeMedia(media: DataFrame, useRealDecoder: Boolean = false): DataFrame =
    streaming.Multimodal.decodeFeatures(media, useRealDecoder)

  /** Aspect-preserving resize over decoded features (never upscales);
    * expects [[decodeMedia]]'s output schema. */
  def resizeMedia(features: DataFrame, maxW: Int, maxH: Int): DataFrame =
    streaming.Multimodal.resizeFeatures(features, maxW, maxH)

  /** Every-nth frame sampling over binary payloads; expects
    * (media_id, payload, mime). */
  def sampleFrames(media: DataFrame, frameCount: Int, every: Int): DataFrame =
    streaming.Multimodal.sampleFrames(media, frameCount, every)

  // ---- round-6 primitives (q165, q169–q172, q174) -------------------------

  /** Exactly-balanced k-fold assignment stratified by `stratum` (q169):
    * fold = per-stratum hash rank mod k, so stratum fold sizes differ by
    * ≤1 (hash-mod-k only balances in expectation). Returns the input
    * plus a `fold` column. Scales via DistributedRank's two-phase global
    * rank + a #strata-row broadcast offset join — no per-stratum window
    * task (`id` must be unique; `salt` reseeds the assignment).
    *
    * Changelog note (r8, ADVICE r7): the r7 switch to md5 stratum
    * prefixes changed CONCRETE fold assignments relative to r6's raw
    * `stratum|id` keying — strata now order by md5 digest, so
    * cross-stratum token offsets shift even for separator-free strata.
    * Fold BALANCE and determinism are unchanged, but any pipeline that
    * persisted r6-era fold columns should re-materialize rather than mix
    * the two assignments. */
  def stratifiedKFold(df: DataFrame, stratum: String, id: Column, k: Int,
      salt: String = "fold"): DataFrame =
    operators.TrainingOps.stratifiedKFoldOf(df, stratum, id, k, salt)

  /** Support mining of consecutive step transitions per key (q171):
    * one LEAD window over (`time`, `tiebreak`), then the
    * (step_a, step_b)-bounded support/occurrence aggregation. */
  def transitionSupport(df: DataFrame, key: Column, time: Column,
      tiebreak: Column, step: Column, minSupport: Long = 1L): DataFrame =
    operators.TimeSeries.transitionSupportOf(df, key, time, tiebreak, step, minSupport)

  /** CUSUM changepoint per key (q172): the `time` bucket where the
    * cumulative deviation from the key's mean peaks. Order-independent:
    * the running sum is exact DECIMAL; doubles appear only in the final
    * cusum = S_d − d·μ. Returns (key, change_point, n_points, cusum,
    * direction). */
  def cusumChangepoint(df: DataFrame, key: Column, time: Column,
      value: Column): DataFrame =
    operators.StatsOps.cusumChangepointOf(df, key, time, value)

  /** Cohen's kappa between two label columns (q165): chance-corrected
    * agreement from ONE confusion-matrix aggregation; marginal products
    * go double before multiplying. Returns one row (n, po, pe, kappa). */
  def cohensKappa(df: DataFrame, truth: Column, pred: Column): DataFrame =
    operators.TextAnalysis.cohensKappaOf(df, truth, pred)

  /** Per-group IQR (Tukey-fence) outlier report (q174) on the bounded
    * two-pass quantile fold — never the builtin unbounded `percentile`
    * buffer. Quartiles are r6-rounded before fence arithmetic. */
  def iqrOutliers(df: DataFrame, group: String, value: Column): DataFrame =
    operators.StatsOps.iqrOutliersOf(df, group, value,
      plans.BoundedQuantiles.groupQuantiles(df, Seq(group), value, Seq(0.25, 0.75),
        Seq("graft_q1", "graft_q3")))

  /** Top-k Jaccard similarity between left-side nodes of a bipartite
    * edge list (q170): each right key's distinct left members as one
    * sorted set, pairs expanded in-row with pair GENERATION capped at
    * right-degree ≤ `maxDegree` (GraphCapSuite proves the bound) while
    * degrees count all edges. `edges` needs (`a`, `b`) columns;
    * duplicates ignored, null keys never pair. */
  def bipartiteJaccard(edges: DataFrame, a: String, b: String,
      maxDegree: Int = 50, topK: Int = 20): DataFrame =
    operators.GraphOps.bipartiteJaccardOf(edges, a, b, maxDegree, topK)

  /** Temperature-scaled (α = 0.5) mixture sampling weights per value of
    * `srcCol`: w = √n/Σ√n plus raw share, up/down-sampling rate, and
    * expected docs per 1000-draw. Verified as q178. */
  def mixtureWeights(df: DataFrame, srcCol: String): DataFrame =
    operators.CorpusOps.mixtureWeightsOf(df, srcCol)

  /** Top-k vocabulary coverage curve over a (text) frame, probed at the
    * given k values (fraction of all token occurrences the k most
    * frequent types cover). Verified as q179. */
  def vocabCoverage(docs: DataFrame, ks: Seq[Long] = Seq(5L, 10L, 20L, 40L)): DataFrame =
    operators.TextAnalysis.vocabCoverageOf(docs, ks)

  /** Incremental ingest dedup: `batch` docs (doc_id, text) deduplicated
    * against the standing `index` — exact content-hash semi-join + banded
    * SimHash near-dup (Hamming ≤ 3) restricted to batch×index pairs.
    * Verified as q181. */
  def ingestDedup(batch: DataFrame, index: DataFrame): DataFrame =
    operators.NearDup.ingestDedupOf(batch, index)

  /** Split-leakage audit: for each value of `splitCol` other than
    * `trainValue`, the count/fraction of docs sharing a word 5-gram with
    * the train split and the distinct-gram containment. `docs` needs
    * (doc_id, text, splitCol). Verified as q182. */
  def splitLeakage(docs: DataFrame, splitCol: String, trainValue: String): DataFrame =
    operators.CorpusOps.splitLeakageOf(docs, splitCol, trainValue)

  /** Broder containment near-dup pairs (q185): asymmetric C(A,B) =
    * |A∩B|/|A| both ways per candidate pair from the df-capped trigram
    * inverted index, kept where either direction ≥ `tau` — flags
    * sub-document duplication symmetric Jaccard misses. `docs` needs
    * (doc_id, text). */
  def containmentPairs(docs: DataFrame, tau: Double = 0.5): DataFrame =
    operators.NearDup.containmentPairsOf(docs, tau)

  /** EXACT set-similarity join (q269): every document pair whose
    * word-trigram-set Jaccard is ≥ `tau` (r6-rounded compare), found by
    * AllPairs/SSJoin prefix filtering — no false negatives, unlike the
    * heuristic [[minhashPairs]]/df-capped paths. Output (ia, ib, inter,
    * jaccard). `docs` needs (doc_id, text). */
  def similarityJoin(docs: DataFrame, tau: Double = 0.6): DataFrame =
    operators.NearDup.similarityJoinOf(docs, tau)

  /** Duplicated-span audit (q270): marks every word `k`-gram shared by
    * ≥ `minDocs` distinct documents, merges overlapping/adjacent marks
    * into maximal spans, and reports per doc (n_tokens, n_spans,
    * dup_tokens, dup_fraction) — the alignment-independent "how much of
    * this doc exists elsewhere" sweep that whole-doc scores miss.
    * `docs` needs (doc_id, text). */
  def spanAudit(docs: DataFrame, k: Int = 8, minDocs: Int = 2): DataFrame =
    operators.NearDup.spanAuditOf(docs, k, minDocs)

  /** Token-budget corpus selection (q271): within each `group`, keep the
    * highest-scored rows in (score DESC, doc_id) order until the group's
    * token budget (Σtokens DIV `budgetDiv`) is spent — prefix selection
    * on a scale-safe grouped cumulative sum (no per-group single-task
    * window). `scored` needs (doc_id, group, tokens, score); returns the
    * input plus (cum_tokens, budget, kept). */
  def budgetSelect(scored: DataFrame, group: String = "source",
      budgetDiv: Int = 4): DataFrame =
    operators.CorpusOps.budgetSelectOf(scored, group, budgetDiv)

  /** T5-style span corruption (q273): deterministically masks ~15% of
    * token positions per doc (md5 of (doc_id, position) — reproducible,
    * no RNG), collapses masked runs to `<X>` sentinels, and returns
    * (doc_id, n_tokens, n_masked, corrupted, target) seq2seq denoising
    * pairs. Substituting target spans back into the sentinels
    * reconstructs the original. `docs` needs (doc_id, text). */
  def spanCorrupt(docs: DataFrame): DataFrame =
    operators.TrainingOps.spanCorruptOf(docs)

  /** Grouped percentile-rank normalization (q274): appends rn (per-`g`
    * row number under (v, id) order) and pct = rn/(n+1) ∈ (0,1) — the
    * outlier-robust quantile transform — WITHOUT a per-group window
    * task: ranks ride the grouped distributed prefix sum, so one huge
    * group cannot serialize on a single task. `df` needs (id, g, v),
    * id unique. */
  def rankNormalize(df: DataFrame): DataFrame =
    operators.PipelineOps.rankNormalizeOf(df)

  /** Leave-one-out target encoding with m-estimate smoothing (q275):
    * appends enc = (Σ_cat y − y_i + m·prior)/(n_cat − 1 + m), prior =
    * the global mean of y — the high-cardinality categorical encoder,
    * leakage-free by the LOO exclusion. `df` needs (id, cat, y). */
  def targetEncode(df: DataFrame, m: Int = 10): DataFrame =
    operators.PipelineOps.targetEncodeOf(df, m)

  /** Lag-k autocorrelation of a keyed, bucketed series (q186): buckets
    * `df` per (key, time), sums `value` exactly, and returns acf at lags
    * 1..`maxLag` per key — deviation products r6-quantized then
    * DECIMAL-summed so partition merge order can't move the result.
    * `time` must be a BOUNDED bucket (day index, hour index), not a raw
    * timestamp: the post-aggregation frame is key×buckets-sized. */
  def autocorrelation(df: DataFrame, key: Column, time: Column, value: Column,
      maxLag: Int = 3): DataFrame =
    operators.StatsOps.autocorrelationOf(df, key, time, value, maxLag)

  /** Bounded 3-hop reach / multi-source BFS (q187) over a bipartite
    * edge frame: per seed (an `s`-side key), distinct `c`-side
    * neighbors (hop 1), distinct `s`-side peers sharing a neighbor
    * (hop 2), and NEW `c`-side nodes first reachable via peers (hop 3).
    * `edges` needs (`c`, `s`); `seeds` a single column named `seed`. */
  def kHopReach(edges: DataFrame, seeds: DataFrame): DataFrame =
    operators.GraphOps.khopReachOf(edges, seeds)

  /** kᵐ-anonymity audit for set-valued data (q188, Terrovitis VLDB'08):
    * every size-1/size-2 itemset over per-`user` distinct `item`s with
    * its supporting-user count, flagged where support < `k`. */
  def kmAnonymityAudit(df: DataFrame, user: Column, item: Column,
      k: Int = 5): DataFrame =
    operators.PrivacyOps.kmAnonymityAuditOf(df, user, item, k)

  /** Kaplan–Meier risk table + log survival curve (q189): `df` is one
    * row per subject; `event` = 1 observed / 0 right-censored,
    * `duration` an integer time bucket (the frame after bucketing must
    * be calendar-bounded). Returns (t, n_risk, d_events, c_censored,
    * ln_surv), ln_surv NULL once the risk set dies out (S = 0). */
  def kaplanMeier(df: DataFrame, event: Column, duration: Column): DataFrame =
    operators.TimeSeries.kaplanMeierOf(
      df.select(event.cast("long").as("ev"), duration.cast("long").as("t")))

  /** First-occurrence 5-gram novelty per document (q190): the fraction
    * of each doc's distinct word 5-grams whose first corpus occurrence
    * (min doc_id) is that doc. `docs` needs (doc_id, text). */
  def noveltyScores(docs: DataFrame): DataFrame =
    operators.CorpusOps.noveltyOf(docs)

  /** Fixed-round Bellman–Ford single-source shortest paths (q191):
    * `edges` is ANY directed (src, dst, cost ≥ 0) frame, `seeds` a
    * column `node` of sources. Exactly `rounds` min-plus relaxations —
    * distances exact for paths of ≤ `rounds` hops, NULL beyond reach. */
  def shortestPaths(edges: DataFrame, seeds: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"shortestPaths: rounds $rounds outside [1, 64]")
    operators.GraphOps.shortestPathsOf(edges, seeds, rounds)
  }

  /** Differentially-private median via the exponential mechanism with
    * the Gumbel-max draw (q192): candidates = width-`binWidth` bins of
    * `value`, utility = −|rank distance to the true median|. Returns
    * one row (selected_bin, true_bin, n, utility_gap). The per-bin
    * uniform is the deterministic Knuth-hash grid — swap for a CSPRNG
    * draw per release in production. */
  def dpMedian(df: DataFrame, value: Column, binWidth: Double,
      epsilon: Double = 1.0): DataFrame =
    operators.PrivacyOps.dpMedianOf(df, value, binWidth, epsilon)

  /** Local clustering coefficient per node — see
    * `operators.GraphOps.clusteringCoef` (q203). `edges`: any (src, dst,
    * ...) frame; direction, loops and duplicates ignored. Returns (node,
    * degree, n_triangles, cc), cc NULL where degree < 2. */
  def clusteringCoef(edges: DataFrame): DataFrame =
    operators.GraphOps.clusteringCoef(edges)

  /** Bounded-round bipartite k-core peel — see
    * `operators.GraphOps.kCore` (q208). `edges`: (s, p) frame (deduped
    * internally). Returns surviving (side ∈ {s, p}, node, deg). The
    * true k-core is the fixpoint; raise `rounds` until two consecutive
    * values agree (PropertySuite does exactly that for the benchmark
    * graph). */
  def kCore(edges: DataFrame, k: Long, rounds: Int = 3): DataFrame = {
    require(k >= 1, s"kCore: k $k must be >= 1")
    require(rounds >= 1, s"kCore: rounds $rounds must be >= 1")
    operators.GraphOps.kCore(edges, k, rounds)
  }

  /** HITS hubs/authorities — see `operators.GraphOps.hits` (q204).
    * `edges`: any directed (src, dst, ...) frame (loops/dups dropped).
    * Returns (node, hub, auth), both L1-normalized. */
  def hits(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"hits: iters $iters must be >= 1")
    operators.GraphOps.hits(edges, iters)
  }

  /** Interval union per key (q200's sweep as a primitive): `iv` carries
    * (key, s, e, tie) closed intervals; returns (key, n_blocks,
    * covered) where blocks are the maximal disjoint merged intervals
    * and covered = Σ block lengths. `tie` breaks equal starts (R5). */
  def intervalUnion(iv: DataFrame): DataFrame =
    operators.IntervalOps.intervalUnionOf(iv)

  /** Nearest-neighbour temporal match (q202's shape as a primitive):
    * for each row of `probes` (key, t, id), the id of the nearest row
    * of `cands` (key, t, id) with the same key within ±`tolerance`
    * (tie → the earlier candidate), else NULL. One keyed window
    * shuffle — no self or range join. */
  def nearestMatch(probes: DataFrame, cands: DataFrame, tolerance: Long): DataFrame = {
    // a same-time candidate sorts before the probe, so it counts as the
    // preceding side (gap 0)
    val p = probes.select(col("key"), col("t"), col("id"), lit(1L).as("graft_probe"))
    val c = cands.select(col("key"), col("t"), col("id"), lit(0L).as("graft_probe"))
    operators.IntervalOps.nearestMatchOf(p.unionByName(c),
      Seq(col("graft_probe"), col("id")), tolerance)
  }

  /** Weighted Type-1 median per key (q206's shape as a primitive):
    * `df` carries (key, v, w, tie); returns (key, n, w_total,
    * median_v) — the v at which cumulative weight first reaches half,
    * an actual data value. Integer weights keep the sweep exact. */
  def weightedMedian(df: DataFrame): DataFrame =
    operators.StatsOps.weightedMedianOf(df).drop("cum_at_median")

  /** CDC changelog compaction (q201's shape as a primitive): `changelog`
    * carries (key, seq, op, v) with `deleteOp` marking deletes; returns
    * the surviving keys' (key, n_ops, last_seq, v) — highest-seq op per
    * key, delete-terminated keys dropped. ONE map-side-combinable
    * aggregation (max-struct argmax), never a window. */
  def cdcCompact(changelog: DataFrame, deleteOp: String = "D"): DataFrame =
    operators.PipelineOps.cdcCompactOf(changelog, deleteOp)

  /** ROC curve + tie-corrected AUC from a pre-binned scored frame
    * (q196's shape as a primitive): `scored` carries (bin: integer
    * score, pos: 0/1 label). Returns one row per bin with cumulative
    * tpr/fpr in descending-score order and the exact-numerator AUC on
    * every row. Bin the score yourself — integer bins are what keep
    * the curve deterministic and the frame bounded. */
  def rocCurve(scored: DataFrame): DataFrame =
    operators.EvalOps.rocCurveOf(scored)

  /** NATIVE backward as-of join — the custom-LogicalPlan tier of the
    * operator ladder (see `graft.plans.AsOfJoinPlan`): for each fact
    * the latest same-key version at or before its time, executed as a
    * co-partitioned single-pass streaming merge (`AsOfJoinExec` —
    * SortMergeJoin's distribution contract, O(1) state, no TTL).
    * Contract: `facts` = (key: long, t: long, ...payload); `versions`
    * = (key: long, t: long, v: string). Returns facts' columns +
    * `v_asof`. Versions tied on (key, t) resolve to the LAST in sort
    * order; pass a deduplicated version frame for determinism.
    * Registers the planner strategy on the session if absent (also
    * installable via `graft.plans.GraftExtensions`). */
  def asofJoinNative(facts: DataFrame, versions: DataFrame): DataFrame = {
    val l = facts.schema.fields
    val r = versions.schema.fields
    require(l.length >= 2 &&
      l(0).dataType.typeName == "long" && l(1).dataType.typeName == "long",
      s"asofJoinNative: facts must lead with (key: long, t: long), got ${facts.schema.simpleString}")
    require(r.length == 3 &&
      r(0).dataType.typeName == "long" && r(1).dataType.typeName == "long" &&
      r(2).dataType.typeName == "string",
      s"asofJoinNative: versions must be (key: long, t: long, v: string), got ${versions.schema.simpleString}")
    val spark = facts.sparkSession
    if (!spark.experimental.extraStrategies.contains(plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ plans.AsOfJoinStrategy
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      plans.AsOfJoin(facts.queryExecution.analyzed, versions.queryExecution.analyzed))
  }

  /** Native band (interval) join (q249): every left row paired with ALL
    * right rows of the same key within ±`delta` of its time — the
    * second custom physical operator ([[graft.plans.BandJoin]]): same
    * ClusteredDistribution + (key, t) sort contract as
    * [[asofJoinNative]], one forward sweep, window-sized state. Column
    * contract: left leads with (key: long, t: long); right is exactly
    * (key: long, t: long, v: string). Output = left ++ (t_match,
    * v_match). Inner semantics: unmatched left rows emit nothing. */
  def bandJoinNative(left: DataFrame, right: DataFrame, delta: Long): DataFrame = {
    require(delta >= 0, s"bandJoinNative: delta $delta must be non-negative")
    val l = left.schema.fields
    val r = right.schema.fields
    require(l.length >= 2 &&
      l(0).dataType.typeName == "long" && l(1).dataType.typeName == "long",
      s"bandJoinNative: left must lead with (key: long, t: long), got ${left.schema.simpleString}")
    require(r.length == 3 &&
      r(0).dataType.typeName == "long" && r(1).dataType.typeName == "long" &&
      r(2).dataType.typeName == "string",
      s"bandJoinNative: right must be (key: long, t: long, v: string), got ${right.schema.simpleString}")
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(plans.BandJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ plans.BandJoinStrategy
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      plans.BandJoin(left.queryExecution.analyzed, right.queryExecution.analyzed, delta))
  }

  /** Point-in-time join with bounded validity (q194): every fact row
    * gets the version value set by the latest `versions` row for its
    * key at or before its time — but only if that version is younger
    * than `ttl` time units; facts in a coverage gap get NULL. The
    * single-shuffle union + IGNORE-NULLS carry-window formulation (no
    * range join, no interval explode). `facts` needs (key, t, fact_id);
    * `versions` needs (key, t, version_id, v). Returns the fact rows
    * plus `v_at_t` (nullable). Times and ttl are plain integers
    * (bucket/epoch units — caller picks the resolution). */
  def pointInTimeJoin(facts: DataFrame, versions: DataFrame, ttl: Long): DataFrame =
    operators.Joins.pointInTimeJoinOf(facts, versions, ttl)

  /** Per-user (click, purchase) conversion pairs with the click inside
    * `windowUs` strictly before the purchase — the batch face of the
    * stream–stream interval join (StreamOps.clickPurchaseAttribution).
    * `events` needs (event_id, user_id, event_type, ts_us). Verified as
    * q250, batch≡stream parity in StreamingSuite. */
  def conversionPairs(events: DataFrame, windowUs: Long): DataFrame = {
    require(windowUs > 0, s"conversionPairs: windowUs $windowUs must be positive")
    operators.TimeSeries.conversionPairsOf(events, windowUs)
  }

  /** Purged temporal train/test split audit: rows before `cutoff` minus
    * `embargoDays` train, rows from `cutoff` on test, the embargo band
    * between is excluded — returns per-split count + date bounds proving
    * the gap. `cutoff` is an ISO date string. Verified as q251. */
  def temporalSplit(df: DataFrame, date: Column, cutoff: String,
      embargoDays: Int = 30): DataFrame = {
    // fail loudly on an unparseable cutoff: to_date(lit(...)) would yield
    // NULL and silently label EVERY row "test" — a confidently wrong
    // leakage audit is worse than an exception
    require(scala.util.Try(java.time.LocalDate.parse(cutoff)).isSuccess,
      s"temporalSplit: cutoff '$cutoff' is not an ISO date (yyyy-MM-dd)")
    operators.TrainingOps.temporalSplitOf(df, date, to_date(lit(cutoff)), embargoDays)
  }

  /** Embedding-space diversity sample (coreset): one representative
    * vec_id per quantized cell of the first two embedding dimensions at
    * the given granularity, with cell populations. `df` needs (vec_id,
    * embedding: array<float>). Verified as q252. */
  def diversitySample(df: DataFrame, granularity: Int = 8): DataFrame =
    operators.TrainingOps.diversitySampleOf(df, granularity)

  /** Local-DP randomized response (Warner 1965): each row reports `value`
    * truthfully with probability `truthPct`%, else a uniform category —
    * both coins md5(`key`)-derived so the mechanism is reproducible —
    * then debiases the observed histogram with the unbiased estimator.
    * Returns (segment, n_true, n_reported, n_est); n_true rides along as
    * the audit column. Verified as q254.
    *
    * The md5 coins exist for ORACLE DETERMINISM only: anyone who knows a
    * row's key can re-derive both coins and invert the mechanism, so this
    * provides zero actual local-DP protection as written. Swap the coin
    * derivation for a CSPRNG draw per release before any real privacy
    * deployment (same caveat as [[dpMedian]]). */
  def randomizedResponse(df: DataFrame, key: Column, value: Column,
      categories: Seq[String], truthPct: Int = 75): DataFrame =
    operators.PrivacyOps.randomizedResponseOf(df, key, value, categories, truthPct)

  /** kᵐ-anonymity (m ≤ 2) global item suppression over transaction
    * baskets (o, b): suppresses every sub-k single plus the lower-
    * support member of every sub-k pair — one round provably clears all
    * size-≤2 risk — and returns the per-item report with before/after
    * risky counts computed in-query. k = max(1, n_transactions /
    * kDivisor). Verified as q261; the clears-all-risk property is
    * PropertySuite-tested on random baskets. */
  def kmSuppress(baskets: DataFrame, kDivisor: Int = 50): DataFrame =
    operators.PrivacyOps.kmSuppressOf(baskets, kDivisor)

  /** Lexicon scoring (sentiment, toxicity lists, policy terms): per-doc
    * (pos-hits − neg-hits)/tokens via in-row array lambdas — lexica ride
    * the plan as literals, the corpus never explodes — rolled up per
    * `lang` to mean score + polar doc counts. `docs` needs (lang, text).
    * Verified as q256. */
  def sentiment(docs: DataFrame, pos: Seq[String], neg: Seq[String]): DataFrame =
    operators.TextAnalysis.sentimentOf(docs, pos, neg)

  /** Precision–recall curve + average precision over an integer-binned
    * scored frame (bin, pos) — the SAME implementation as the verified
    * q255 (EvalOps.prCurveOf); the rare-positive companion to
    * [[rocCurve]]. */
  def prCurve(scored: DataFrame): DataFrame =
    operators.EvalOps.prCurveOf(scored)

  /** Two-sample Kolmogorov–Smirnov (q263): the `topN` largest
    * |ECDF₁−ECDF₂| gaps over `value`, sample 1 = rows where `inGroup1`;
    * row 1 is the KS statistic. Cumulative counts ride the two-phase
    * DistributedCumSum — no single-partition window at any domain size. */
  def ksTest(df: DataFrame, value: Column, inGroup1: Column,
      topN: Int = 10): DataFrame =
    operators.StatsOps.ksFromCounts(
      operators.StatsOps.ecdfCountsOf(df, value, inGroup1), topN)

  /** Mann–Whitney U rank-sum test (q266) on the same sampling contract
    * as [[ksTest]]: 1-row (n1, n2, rank_sum1, u1, u2, mu_u, sigma_u, z)
    * with the tie-corrected normal approximation. Rank sums come from
    * per-value cumulative counts — no per-row ranking exists anywhere. */
  def mannWhitney(df: DataFrame, value: Column, inGroup1: Column): DataFrame =
    operators.StatsOps.mannWhitneyFromCounts(
      operators.StatsOps.ecdfCountsOf(df, value, inGroup1))

  /** Two-sample Cramér–von Mises (q349) on the same sampling contract
    * as [[ksTest]]: 1-row (n1, n2, cvm_t) with the tie-weighted integral
    * statistic T = (n₁n₂/N²)·Σ_v w_v(E₁−E₂)² — the "how much do they
    * differ overall" companion to KS's single worst gap. */
  def cvmTest(df: DataFrame, value: Column, inGroup1: Column): DataFrame =
    operators.StatsOps.cvmFromCounts(
      operators.StatsOps.ecdfCountsOf(df, value, inGroup1))

  /** Two-sample Anderson–Darling A²akN (q357) on the same sampling
    * contract as [[ksTest]]: 1-row (n1, n2, ad_a2), tail-weighted and
    * tie-corrected (Scholz–Stephens midrank form). Identical samples
    * score exactly 0. */
  def adTest(df: DataFrame, value: Column, inGroup1: Column): DataFrame =
    operators.StatsOps.adFromCounts(
      operators.StatsOps.ecdfCountsOf(df, value, inGroup1))

  /** Spearman rank correlation (q341): 1-row (n, rho) between two
    * orderable columns, tie-averaged ranks from the value domains — no
    * per-row ranking or global sort at any size. */
  def spearman(df: DataFrame, x: Column, y: Column): DataFrame =
    operators.StatsOps.spearmanOf(df, x, y)

  /** Brown double-exponential (Holt-style) one-step forecast (q265):
    * buckets `value` by (`key`, `time`), then level/trend/forecast from
    * two cascaded 12-tap truncated EWMAs. Output (k, t, v, s1, s2,
    * level, trend, forecast_next). */
  def holtForecast(df: DataFrame, key: Column, time: Column,
      value: Column): DataFrame =
    operators.StatsOps.holtForecastOf(df, key, time, value)

  /** Theil–Sen robust trend (q267): buckets `value` by (`key`, integral
    * `time`), then the median of all pairwise slopes per key plus the
    * median-residual intercept (29% breakdown point vs OLS's 0). Output
    * (k, n, n_pairs, slope, intercept). Pair generation runs on the
    * time-bounded bucketed series, never the corpus; medians ride
    * BoundedQuantiles. */
  def theilSen(df: DataFrame, key: Column, time: Column,
      value: Column): DataFrame =
    operators.StatsOps.theilSenOf(df, key, time, value)

  /** Lagged cross-correlation (q268): Pearson r of (x_t, y_{t+lag}) for
    * each lag 0..maxLag over a series frame with one row per integral
    * `time`. Output (lag, n, r). The lead-lag companion to
    * [[autocorrelation]]: which shift of y best lines up with x. The
    * pair join runs on the time-bounded series, never a corpus. */
  def crossCorr(df: DataFrame, time: Column, x: Column, y: Column,
      maxLag: Int = 7): DataFrame =
    operators.StatsOps.crossCorrOf(
      df.select(time.as("t"), x.as("x"), y.as("y")), maxLag)

  /** NDCG with binary label-agreement relevance (q264) over ANY ranked
    * retrieval (id_a, id_b, rn) + a (id, label) frame — per-probe DCG,
    * IDCG and NDCG. Retrieval-agnostic: feed it bruteTopK, IVF or LSH
    * output alike. */
  def ndcg(ranked: DataFrame, labels: DataFrame): DataFrame =
    operators.EvalOps.ndcgOf(ranked, labels)

  /** Distributed logistic-regression text classifier (q290): hashed
    * unigram tf features (64 md5 buckets), 3 full-batch GD steps from
    * w = 0 — the fastText-style quality/domain filter trained in the
    * engine, no parameter server. `docs` needs (doc_id, text); `label`
    * is any boolean Column over its columns. Returns (bucket, weight,
    * train_acc). */
  def textClassifier(docs: DataFrame, label: Column): DataFrame =
    operators.TrainingOps.textClassifierOf(docs, label)

  /** Top principal component by power iteration (q293): mean-centers
    * `emb` (vec_id, embedding of uniform dimension `dims`), applies
    * 3 covariance-action steps without materializing any matrix, and
    * returns (dim, loading, eigenvalue) — the whitening / anisotropy
    * diagnostic. */
  def pcaTopComponent(emb: DataFrame, dims: Int = 64): DataFrame =
    operators.TrainingOps.pcaTopComponentOf(emb, dims)

  /** Lloyd-to-convergence PQ codebook training (the q340 sweep in a
    * driver loop): 8 subspaces × 16 centroids seeded from the 16
    * lowest-id embeddings, iterated until the relative global-SSE
    * improvement falls under `tol` or `maxSweeps` sweeps. `emb` needs
    * (vec_id, embedding: array<float|double> of 64 dims). Returns the
    * trained codebook (s, code, cv: array<double>) and the per-sweep
    * global SSE — non-increasing by Lloyd's guarantee (each per-sweep
    * dataflow is exactly q340's: broadcast codebook, bounded argmin,
    * DECIMAL-exact means). */
  def pqTrain(emb: DataFrame, maxSweeps: Int = 25,
      tol: Double = 1e-6): (DataFrame, Seq[Double]) =
    operators.NearDup.pqTrain(emb, maxSweeps, tol)

  /** Winnowing fingerprint dedup (q292, MOSS lineage): token-4-gram
    * hashes, per-4-window minima as selected fingerprints, doc pairs
    * via the df-capped fingerprint inverted index. `docs` needs
    * (doc_id, text); returns the top-20 (ia, ib, n_shared,
    * containment) report. */
  def winnowingPairs(docs: DataFrame): DataFrame =
    operators.TextAnalysis.winnowingPairsOf(docs)

  /** Tokenizer fertility by language (q294): per-lang docs, whitespace
    * tokens, chars, UTF-8 bytes and the chars/token, bytes/token,
    * bytes/char ratios. `docs` needs (lang, text). */
  def tokenizerFertility(docs: DataFrame): DataFrame =
    operators.TextAnalysis.tokenizerFertilityOf(docs)

  /** Sample-efficiency learning curve (q297): trains [[textClassifier]]
    * on deterministic md5-bucket fractions of `docs` and reports, per
    * fraction, (pct, n_train, train_acc, full_acc) — subset accuracy
    * next to full-corpus accuracy under the subset-trained weights. */
  def learningCurve(docs: DataFrame, label: Column,
      pcts: Seq[Int] = Seq(25, 50, 75, 100)): DataFrame =
    operators.TrainingOps.learningCurveOf(docs, label, pcts)

  /** Perplexity-filter retention sweep (q295): scores `docs` (doc_id,
    * lang, text) with the add-one bigram LM once, then reports docs /
    * bigrams surviving avg_nll ≤ mean + offset for each offset. */
  def perplexitySweep(docs: DataFrame,
      offsets: Seq[Double] = Seq(-0.2, -0.1, 0.0, 0.1, 0.2)): DataFrame =
    operators.TextAnalysis.perplexitySweepOf(docs, offsets)
}
