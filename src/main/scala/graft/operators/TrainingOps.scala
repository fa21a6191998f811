package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data construction operators (SURVEY.md §2.8b continuation):
  * the steps between a curated corpus (q150) and a training run —
  * label propagation by embedding neighborhood (kNN classification),
  * contrastive pair mining for embedding-model training, LM example
  * construction (context→target windows), and the first merge round of
  * a BPE tokenizer learned from the corpus itself.
  *
  * Scale notes: kNN rides the q124 hyperplane-band candidate join
  * (equi-join, never probe×corpus); contrastive negatives pair hash-
  * ranked docs (one window, no pair blow-up); context windows are a
  * narrow per-row explode; BPE pair counts shuffle a vocabulary-bounded
  * frame, never the corpus.
  */
object TrainingOps {

  /** q153: kNN label classification over the hyperplane-LSH candidate
    * graph — the standard "propagate labels to unlabeled points by
    * embedding neighborhood" step (quality tiers, topic tags). Probes =
    * vec_id < 20 with labels masked; their 5 nearest banded candidates
    * (exact cosine rerank, q124 recipe) vote; majority label wins, ties
    * break to the smaller label. Votes ride along so the confidence is
    * auditable.
    *
    * Scale: signatures are a narrow codegen'd projection; candidates
    * come from the 4×4-bit band equi-join (bucket-bounded, never
    * probe×corpus); the vote is a per-probe window over ≤5 rows. */
  private def q153(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val emb = Tables(spark, sfDir, "embeddings")
    val sigs = NearDup.hyperplaneSigFrame(emb)
      .transform(graft.plans.CorpusPin.pin) // computed once, read by both band-join sides
    val banded = sigs.select(col("vec_id"), col("sig"),
        explode(sequence(lit(0), lit(NearDup.NBands - 1))).as("b"))
      .select(col("vec_id"), col("b"),
        expr("shiftright(sig, cast(b * 4 as int)) & 15").as("k"))
    val cand = NearDup.multiProbe(banded.filter(col("vec_id") < 20))
      .select(col("vec_id").as("id_p"), col("b"), col("k"))
      .join(banded.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("id_c"), col("b"), col("k")), Seq("b", "k"))
      .select("id_p", "id_c").distinct()
    val scored = cand
      .join(sigs.select(col("vec_id").as("id_p"), col("embedding").as("ep"),
        sqrt(NearDup.dotCol("embedding", "embedding")).as("np")), "id_p")
      .join(emb.select(col("vec_id").as("id_c"), col("embedding").as("ec"),
        col("label").as("c_label"),
        sqrt(NearDup.dotCol("embedding", "embedding")).as("nc")), "id_c")
      .select(col("id_p"), col("id_c"), col("c_label"),
        Tables.r6(NearDup.dotCol("ep", "ec") / (col("np") * col("nc"))).as("cos"))
    val wTop = Window.partitionBy("id_p").orderBy(col("cos").desc, col("id_c"))
    val top5 = scored.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 5)
    val wVote = Window.partitionBy("id_p")
      .orderBy(col("votes").desc, col("c_label"))
    top5.groupBy("id_p", "c_label").agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote)).filter(col("vr") === 1)
      .join(emb.select(col("vec_id").as("id_p"), col("label").as("true_label")), "id_p")
      .select(col("id_p"), col("true_label"), col("c_label").as("pred_label"), col("votes"))
      .orderBy("id_p")
  }

  /** q157: contrastive-pair mining for embedding training — positives =
    * the q83 SimHash Hamming-≤3 near-dup pairs (guaranteed-recall banded
    * set), negatives = an equal count of hash-deranged pairs (rank r ×
    * rank r+⌊n/2⌋ under a salted-md5 ordering — deterministic "random"
    * non-neighbors). Both carry their SimHash Hamming distance as the
    * auditable feature; a training run reads (id_a, id_b, label).
    *
    * Scale: positives come from the band equi-join (never doc×doc);
    * negatives from one hash-rank window + a rank self-equi-join. The
    * n/2 offset and the positive-count cap are 1-row broadcast
    * aggregates. */
  private def q157(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = NearDup.simhashDF(spark, sfDir) // memo-pinned; band join, pair sides + negatives read it
    val banded = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("k", expr("shiftright(simhash, cast(b * 8 as int)) & 255"))
    val pos = banded.select(col("doc_id").as("id_a"), col("simhash").as("sa"), col("b"), col("k"))
      .join(banded.select(col("doc_id").as("id_b"), col("simhash").as("sb"), col("b"), col("k")),
        Seq("b", "k"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("cast(bit_count(sa ^ sb) as bigint)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    // global hash rank WITHOUT a global-window single-partition sort:
    // the q48 two-phase zipWithIndex plan (md5 keys are unique per doc,
    // so dense rank == row number under the oracle's ORDER BY hk)
    val hashed = sh.select(col("doc_id"), col("simhash"),
      md5(concat(lit("neg:"), col("doc_id").cast("string"))).as("hk"))
    val ranked = hashed
      .join(graft.plans.DistributedRank.denseTokens(hashed, "hk"), "hk")
      .select(col("doc_id"), col("simhash"), col("token").as("r"))
    val meta = ranked.agg(count(lit(1)).as("n_docs")) // 1 row, broadcasts
      .crossJoin(broadcast(pos.agg(count(lit(1)).as("n_pos"))))
    val neg = ranked.select(col("doc_id").as("id_x"), col("simhash").as("sa"), col("r"))
      .crossJoin(broadcast(meta))
      .filter(col("r") <= col("n_pos") && col("r") + floor(col("n_docs") / 2) <= col("n_docs"))
      .withColumn("r2", col("r") + floor(col("n_docs") / 2))
      .join(ranked.select(col("doc_id").as("id_y"), col("simhash").as("sb"),
        col("r").as("r2")), "r2")
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        expr("cast(bit_count(sa ^ sb) as bigint)").as("hamming"))
    pos.withColumn("label", lit(1))
      .unionByName(neg.withColumn("label", lit(0)))
      .select("label", "id_a", "id_b", "hamming")
      .orderBy(col("label").desc, col("id_a"), col("id_b"))
  }

  /** q279: hard-negative mining — the contrastive-training step q157's
    * hash-deranged RANDOM negatives deliberately avoid: for each probe,
    * the nearest neighbors with a DIFFERENT label (top-3 by cosine among
    * the hyperplane-LSH band candidates). Hard negatives are what move
    * an embedding model (random negatives quickly become trivial);
    * mining them is an ANN query with a label-disagreement predicate.
    * Output (id_p, p_label, id_c, c_label, cos, rn).
    *
    * Scale: q124/q153's candidate discipline — signatures are a narrow
    * codegen projection, candidates come from the 4×4-bit band
    * equi-join (bucket-bounded, never probe×corpus), the label filter
    * prunes before the exact rerank, and the top-3 is a per-probe
    * window over the bounded candidate set. */
  private def q279(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val emb = Tables(spark, sfDir, "embeddings")
    val sigs = NearDup.hyperplaneSigFrame(emb)
      .transform(graft.plans.CorpusPin.pin) // read by both band-join sides
    val banded = sigs.select(col("vec_id"), col("sig"),
        explode(sequence(lit(0), lit(NearDup.NBands - 1))).as("b"))
      .select(col("vec_id"), col("b"),
        expr("shiftright(sig, cast(b * 4 as int)) & 15").as("k"))
    val cand = NearDup.multiProbe(banded.filter(col("vec_id") < 10))
      .select(col("vec_id").as("id_p"), col("b"), col("k"))
      .join(banded.select(col("vec_id").as("id_c"), col("b"), col("k")), Seq("b", "k"))
      .filter(col("id_p") =!= col("id_c"))
      .select("id_p", "id_c").distinct()
    val scored = cand
      .join(emb.select(col("vec_id").as("id_p"), col("embedding").as("ep"),
        col("label").as("p_label"),
        sqrt(NearDup.dotCol("embedding", "embedding")).as("np")), "id_p")
      .join(emb.select(col("vec_id").as("id_c"), col("embedding").as("ec"),
        col("label").as("c_label"),
        sqrt(NearDup.dotCol("embedding", "embedding")).as("nc")), "id_c")
      .filter(col("c_label") =!= col("p_label"))
      .select(col("id_p"), col("p_label"), col("id_c"), col("c_label"),
        Tables.r6(NearDup.dotCol("ep", "ec") / (col("np") * col("nc"))).as("cos"))
    val w = Window.partitionBy("id_p").orderBy(col("cos").desc, col("id_c"))
    scored.withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
      .orderBy("id_p", "rn")
  }

  private val CtxLen = 8
  private val CtxStride = 4

  /** q158: LM training-example construction — sliding context→target
    * windows over each document's token stream (context = 8 tokens,
    * stride 4, target = the next token), the classic next-token example
    * layout. Completes the corpus→tensors chain: q105 packs documents
    * into sequences, q158 cuts sequences into supervised examples.
    *
    * Scale: pure per-row explode (window count is per-doc bounded), no
    * shuffle at all until the output sort — at 100 TB this is a map-only
    * stage that pipelines into the training-shard writer. */
  private def q158(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= CtxLen + 1)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0L),
          floor((size(col("ts")) - (CtxLen + 1)) / CtxStride))).as("w"))
      .select(col("doc_id"), (col("w").cast("int")).as("win_id"),
        concat_ws(" ", slice(col("ts"),
          (col("w") * CtxStride + 1).cast("int"), lit(CtxLen))).as("context"),
        element_at(col("ts"), (col("w") * CtxStride + CtxLen + 1).cast("int")).as("target"))
      .orderBy("doc_id", "win_id")
  }

  /** q160: BPE merge mining — the first iteration of byte-pair-encoding
    * tokenizer training (Sennrich et al., ACL 2016): count adjacent
    * character pairs across the corpus weighted by word frequency and
    * rank the top-10 merge candidates per language. q53/q66 COUNT tokens
    * under a fixed tokenizer; this LEARNS the tokenizer from the corpus.
    *
    * Scale: the corpus collapses to (lang, word, freq) first — a
    * vocabulary-bounded shuffle — and the pair explode runs over the
    * bounded vocabulary, never the raw corpus; the rank is a per-lang
    * window under WindowGroupLimit pruning. */
  private def q160(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = vocabOf(spark, sfDir)
    val pairs = vocab
      .select(col("lang"), col("freq"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("lang", "pair").agg(sum("freq").as("cnt"))
    val wTop = Window.partitionBy("lang").orderBy(col("cnt").desc, col("pair"))
    pairs.withColumn("rank", row_number().over(wTop).cast("bigint"))
      .filter(col("rank") <= 10)
      .select("lang", "rank", "pair", "cnt")
      .orderBy("lang", "rank")
  }

  /** Shared q160/q167 oracle CTEs: the (lang, word, freq) vocabulary and
    * its weighted adjacent-char-pair counts. */
  private val VocabPairsCtes: String =
    "vocab AS MATERIALIZED (SELECT lang, w, COUNT(*) AS freq FROM (" +
      "SELECT lang, unnest(str_split(text, ' ')) AS w FROM documents) " +
      "WHERE len(w) >= 2 GROUP BY lang, w), " +
      "pairs AS (SELECT lang, pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (" +
      "SELECT lang, freq, unnest(list_transform(range(1, len(w)), i -> " +
      "substr(w, CAST(i AS INT), 2))) AS pair FROM vocab) GROUP BY lang, pair)"

  /** The shared (lang, word, freq) vocabulary frame (q160 learns merges
    * from it; q167 applies them back to it). */
  private def vocabOf(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("lang", "w").agg(count(lit(1)).as("freq"))

  /** q167: BPE merge application — take each language's rank-1 merge
    * candidate from q160 and apply ONE greedy merge round to the
    * vocabulary (left-to-right non-overlapping, exactly `replace`'s
    * contract on both engines), reporting the freq-weighted char-token
    * counts before/after and the compression ratio. Completes the
    * learn→apply tokenizer loop: q160 learns, q167 applies, q53/q66
    * count under a fixed tokenizer.
    *
    * Scale: the merge table is one row per language (broadcast); the
    * apply is a narrow per-row expression over the vocabulary-bounded
    * frame — the corpus is touched once, by the vocab build. */
  private def q167(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = vocabOf(spark, sfDir)
      .transform(graft.plans.CorpusPin.pin) // read by the pair counts AND the apply join
    val pairs = vocab
      .select(col("lang"), col("freq"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("lang", "pair").agg(sum("freq").as("cnt"))
    val wTop = Window.partitionBy("lang").orderBy(col("cnt").desc, col("pair"))
    val merge = pairs.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1).select("lang", "pair")
    val applied = vocab.join(broadcast(merge), "lang")
      .select(col("lang"), col("pair"), col("freq"),
        length(col("w")).cast("bigint").as("lw"),
        expr("cast((length(w) - length(replace(w, pair, ''))) div 2 as bigint)").as("occ"))
    applied.groupBy("lang", "pair")
      .agg(sum(when(col("occ") > 0, col("freq")).otherwise(0L)).as("words_affected"),
        sum(col("freq") * col("lw")).as("tokens_before"),
        sum(col("freq") * (col("lw") - col("occ"))).as("tokens_after"))
      .select(col("lang"), col("pair"), col("words_affected"),
        col("tokens_before"), col("tokens_after"),
        Tables.r6(col("tokens_after").cast("double") / col("tokens_before"))
          .as("compression"))
      .orderBy("lang")
  }

  /** q168: per-language dataset card — the datasheet a corpus release
    * ships with (Gebru et al., CACM 2021): document/token volume, corpus
    * share, mean document length, and mean quality score (q65's exact
    * linear formula, r6-quantized per doc then DECIMAL-summed so the
    * group mean is order-independent — the R1 parity rule).
    *
    * Scale: one lang-keyed aggregation (map-side combined) + a 1-row
    * total broadcast; all arithmetic on ≤#langs rows. */
  private def q168(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = Tables(spark, sfDir, "documents")
      .select(col("lang"), col("n_chars"), split(col("text"), " ").as("ts"))
      .select(col("lang"),
        size(col("ts")).cast("bigint").as("n_tokens"),
        Tables.r6(lit(0.001) * col("n_chars") +
          lit(0.5) * (size(array_distinct(col("ts"))).cast("double") / size(col("ts"))) -
          (expr("size(filter(ts, t -> t IN ('the', 'a')))").cast("double") / size(col("ts"))))
          .cast("decimal(18,6)").as("q"))
    val cards = perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
        sum("q").cast("decimal(28,6)").as("qs"))
      .localCheckpoint(true) // ≤#langs rows; total fold + final share one pass
    val tot = cards.agg(sum("n_docs").as("nd"), sum("total_tokens").as("nt"))
    cards.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        Tables.meanD(col("total_tokens"), col("n_docs")).as("avg_tokens"),
        Tables.r6(col("n_docs").cast("double") / col("nd")).as("share_docs"),
        Tables.r6(col("total_tokens").cast("double") / col("nt")).as("share_tokens"),
        Tables.meanD(col("qs"), col("n_docs")).as("avg_quality"))
      .orderBy("lang")
  }

  /** q169: stratified k-fold assignment — EXACTLY balanced 5-fold split
    * within each language stratum: fold = (per-lang hash rank − 1) mod 5,
    * so fold sizes within a stratum differ by at most 1 (hash-mod-k
    * splits only balance in expectation). The cross-validation /
    * eval-shard primitive completing the split family (q79 fraction
    * split, q148 exact-k sample, q85 stratified fraction).
    *
    * Scale: the per-stratum rank rides DistributedRank's two-phase
    * global rank on (md5(lang)|md5|id) + a #langs-row broadcast offset
    * join — never a per-stratum window task (q161's recipe). */
  private def q169(spark: SparkSession, sfDir: String): DataFrame =
    stratifiedKFoldOf(Tables(spark, sfDir, "documents").select(col("doc_id"), col("lang")),
        "lang", col("doc_id"), 5, "fold")
      .groupBy("lang", "fold").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "fold")

  /** The fold assignment behind q169 AND [[graft.Graft.stratifiedKFold]]:
    * the input plus `fold` = (rank within the stratum) mod k, the rank
    * taken over (md5(stratum) | md5(salt:id) | zero-padded id).
    *
    * The stratum is hashed to a FIXED-WIDTH prefix: raw values containing
    * the '|' separator (e.g. strata "a" and "a|b") would interleave in the
    * global rank and silently unbalance folds. md5 keeps per-stratum
    * contiguity for any value while preserving within-stratum order (and
    * hence fold assignments) for separator-free strata. */
  private[graft] def stratifiedKFoldOf(df: DataFrame, stratum: String, id: Column, k: Int,
      salt: String): DataFrame = {
    // NB: not graft_-prefixed — denseTokens reserves that prefix for its
    // own working columns and rejects such key names.
    val keyed = df.withColumn("kfold_rk",
      concat(md5(concat(lit("stratum:"), col(stratum).cast("string"))), lit("|"),
        md5(concat(lit(s"$salt:"), id.cast("string"))), lit("|"),
        lpad(id.cast("string"), 20, "0")))
    val ranked = keyed.join(graft.plans.DistributedRank.denseTokens(keyed, "kfold_rk"), "kfold_rk")
    val offsets = ranked.groupBy(col(stratum).as("kfold_sg"))
      .agg(min("token").as("kfold_off")) // #strata rows — broadcasts
    ranked.join(broadcast(offsets), col(stratum) === col("kfold_sg"))
      .withColumn("fold", (col("token") - col("kfold_off")) % k)
      .drop("kfold_rk", "token", "kfold_sg", "kfold_off")
  }

  /** q216: feature-matrix materialization — the per-(user, day) wide
    * frame a feature store serves to training: activity counts by
    * event type, daily spend, CALENDAR lag features (day−1, day−7 via
    * equi-joins on the shifted key — gaps yield NULL, never a
    * wrong-day value), a 7-day trailing mean via a RANGE window
    * (RANGE, not ROWS, deliberately: the frame is calendar days and
    * `day` is unique per user, so R5's tie hazard is void while gaps
    * are handled for free), and the day-of-week. The capstone of the
    * training-data family: everything upstream (dedup, curation,
    * splits) exists to feed exactly this shape.
    *
    * Scale: ONE (user, day) corpus aggregation; the lag joins and the
    * range window all run on that bounded daily frame (checkpointed
    * once — three consumers). Spend sums are DECIMAL (R1), divided
    * once at emission. */
  private def q216(spark: SparkSession, sfDir: String): DataFrame = {
    import Tables.dec
    val usPerDay = 86400000000L
    def typeCount(t: String): Column =
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), expr(s"ts_us DIV $usPerDay").as("day"))
      .agg(count(lit(1)).as("n_events"),
        typeCount("click"), typeCount("view"), typeCount("purchase"),
        typeCount("error"), typeCount("signup"),
        dec(sum(dec(col("value")))).as("v_dec"))
      .transform(graft.plans.CorpusPin.pin) // base + two lag frames + range window
    val wr = Window.partitionBy("user_id").orderBy("day").rangeBetween(-7, -1)
    def lagFrame(k: Int, name: String): DataFrame =
      daily.select(col("user_id"), (col("day") + k).as("day"),
        Tables.r6(col("v_dec").cast("double")).as(name))
    daily
      .withColumn("roll_s", sum("v_dec").over(wr))
      .withColumn("roll_n", count(lit(1)).over(wr))
      .join(lagFrame(1, "v_lag1"), Seq("user_id", "day"), "left")
      .join(lagFrame(7, "v_lag7"), Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), col("n_events"),
        col("n_click"), col("n_view"), col("n_purchase"),
        col("n_error"), col("n_signup"),
        Tables.r6(col("v_dec").cast("double")).as("v_sum"),
        col("v_lag1"), col("v_lag7"),
        Tables.meanD(col("roll_s"), col("roll_n")).as("v_roll7_mean"),
        col("roll_n").as("n_roll7"),
        ((col("day") + 4L) % 7L).as("dow"))
      .orderBy("user_id", "day")
  }

  /** q251: temporal train/test split with an embargo gap — the
    * leakage-free alternative to q79's hash split for TIME-CORRELATED
    * data: everything before `cutoff − embargo` trains, everything from
    * `cutoff` on tests, and the 30-day embargo band between them is
    * excluded so near-boundary rows can't leak target-window information
    * across the split (the standard walk-forward / purged-split rule
    * from time-series model evaluation). Output is the split audit: row
    * count and date bounds per split, which PROVE the train/test gap is
    * at least the embargo width.
    *
    * Scale: one scan, a narrow CASE label, and a 3-row aggregate —
    * map-side combined, no shuffle beyond the 3-key exchange. The cutoff
    * is a literal, so partition pruning applies when the table is
    * date-partitioned (q70's layout). */
  /** The generic purged temporal split behind q251, exposed as
    * [[graft.Graft.temporalSplit]]: labels each row train/embargo/test
    * around `cutoff` and returns the per-split count + date-bounds
    * audit. */
  private[graft] def temporalSplitOf(df: DataFrame, date: Column,
      cutoff: Column, embargoDays: Int): DataFrame = {
    require(embargoDays >= 0, s"temporalSplit: embargoDays $embargoDays < 0")
    df.select(date.cast("date").as("graft_d"))
      .withColumn("split",
        when(col("graft_d") < date_sub(cutoff, embargoDays), "train")
          .when(col("graft_d") < cutoff, "embargo")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_rows"),
        min(col("graft_d")).as("min_date"),
        max(col("graft_d")).as("max_date"))
      .orderBy("split")
  }

  private def q251(spark: SparkSession, sfDir: String): DataFrame =
    temporalSplitOf(Tables(spark, sfDir, "orders"), col("o_orderdate"),
      to_date(lit("1999-01-01")), 30)
      .withColumnRenamed("n_rows", "n_orders")

  /** q252: embedding-space diversity sampling (coreset selection) — one
    * representative vector per quantized embedding cell, with the cell's
    * population. Curation pipelines use this to cap redundant regions of
    * embedding space before training (the bucketed stand-in for greedy
    * k-center, which is inherently sequential and cannot scale): cell =
    * floor(dim·g) over the first two dimensions at granularity g=8, the
    * same coarse-quantizer idea as q63's IVF cells; representative = the
    * cell's min vec_id (deterministic, oracle-reproducible).
    *
    * Scale: a narrow per-row quantization map then ONE cell-keyed
    * aggregate — map-side combined, shuffle bounded by grid cardinality
    * (≤ g² cells), never by corpus size. Raw vectors never shuffle; only
    * (cell, vec_id) pairs do. */
  /** The generic cell-representative sampler behind q252, exposed as
    * [[graft.Graft.diversitySample]]: `df` needs (vec_id, embedding). */
  private[graft] def diversitySampleOf(df: DataFrame, granularity: Int): DataFrame = {
    require(granularity >= 1 && granularity <= 1024,
      s"diversitySample: granularity $granularity outside [1, 1024]")
    df.select(col("vec_id"),
        floor(element_at(col("embedding"), 1).cast("double") * granularity)
          .cast("long").as("cx"),
        floor(element_at(col("embedding"), 2).cast("double") * granularity)
          .cast("long").as("cy"))
      .groupBy("cx", "cy")
      .agg(min("vec_id").as("rep_id"), count(lit(1)).as("n_members"))
      .orderBy("cx", "cy")
  }

  private def q252(spark: SparkSession, sfDir: String): DataFrame =
    diversitySampleOf(Tables(spark, sfDir, "embeddings"), 8)

  /** The q273 mask predicate for token position `iExpr` of the current
    * doc: md5 of "doc_id:i" folded to a 0..255 bucket via the portable
    * instr/substring idiom (q79/q85 lineage), masked iff bucket < 38
    * (≈14.8% — the T5 corruption-rate ballpark). `castT` is STRING on
    * Spark, VARCHAR on DuckDB; everything else is engine-identical. */
  private def maskSql(iExpr: String, castT: String): String = {
    val h = s"md5(concat(CAST(doc_id AS $castT), ':', CAST(($iExpr) AS $castT)))"
    s"(((instr('0123456789abcdef', substring($h, 1, 1)) - 1) * 16 + " +
      s"(instr('0123456789abcdef', substring($h, 2, 1)) - 1)) < 38)"
  }

  /** q273: span-corruption pair generation — the T5/UL2 denoising
    * objective's data step, run in the engine: deterministically mask
    * ~15% of each document's token positions (md5 of (doc_id, position)
    * — reproducible across runs AND engines, no RNG), collapse each
    * RUN of masked tokens to one `<X>` sentinel in the corrupted input,
    * and emit the masked runs (sentinel-prefixed) as the target. Output
    * (doc_id, n_tokens, n_masked, corrupted, target) — the
    * (input, label) pair a seq2seq denoiser trains on, next to q157's
    * contrastive pairs and q158's causal-LM windows.
    *
    * Scale: entirely NARROW — one projection computes mask flags and
    * both strings per row with array lambdas; no shuffle except the
    * emission sort. Run-start detection re-evaluates the i−1 mask
    * inside the lambda (two md5s per token) instead of materializing a
    * flag array — cheaper than a second explode at any scale. */
  private def q273(spark: SparkSession, sfDir: String): DataFrame =
    spanCorruptOf(Tables(spark, sfDir, "documents"))

  /** The generic corruption behind q273, exposed as
    * [[graft.Graft.spanCorrupt]]: `docs` needs (doc_id, text); the mask
    * is a pure function of (doc_id, position). ApiSuite proves the T5
    * round-trip invariant: substituting each target span back into its
    * `<X>` sentinel reconstructs the original token stream. */
  private[graft] def spanCorruptOf(docs: DataFrame): DataFrame = {
    def m(i: String) = maskSql(i, "STRING")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"),
        size(col("ts")).cast("bigint").as("n_tokens"),
        expr(s"CAST(size(filter(sequence(0, size(ts) - 1), i -> ${m("i")})) AS BIGINT)")
          .as("n_masked"),
        expr("concat_ws(' ', filter(transform(sequence(0, size(ts) - 1), i -> " +
          s"CASE WHEN NOT ${m("i")} THEN ts[i] " +
          s"WHEN i = 0 OR NOT ${m("i - 1")} THEN '<X>' ELSE NULL END), " +
          "x -> x IS NOT NULL))").as("corrupted"),
        expr("concat_ws(' ', filter(transform(sequence(0, size(ts) - 1), i -> " +
          s"CASE WHEN ${m("i")} AND (i = 0 OR NOT ${m("i - 1")}) THEN concat('<X> ', ts[i]) " +
          s"WHEN ${m("i")} THEN ts[i] ELSE NULL END), " +
          "x -> x IS NOT NULL))").as("target"))
      .orderBy("doc_id")
  }

  /** q284: label-noise audit by centroid distance — the standard
    * mislabel screen over a labelled embedding set (Confident-Learning
    * family, reduced to its distance core): per label, the component-wise
    * mean centroid; per vector, the cosine to its OWN label's centroid;
    * report the 20 least-cohesive vectors — the rows a human (or a
    * relabeling pass) should look at first. Complements q153 (kNN
    * predicts labels) and q106 (kmeans finds structure): this one scores
    * agreement with the GIVEN labels.
    *
    * Determinism: q277's float discipline — component sums exact
    * DECIMAL(18,9); every cross-term (v·c, v², c²) r6-quantized then
    * DECIMAL(18,6)-summed, so the 64-term folds are merge-order-free.
    *
    * Scale: one posexplode pass; centroids are a (labels × 64)-bounded
    * aggregate broadcast back; the per-vector fold is map-side combined;
    * the head is TakeOrderedAndProject. No pairwise anything. */
  private def q284(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pe = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), (col("pos") + 1).as("pos"),
        col("col").cast("double").as("vd"))
    val cent = pe.groupBy("label", "pos")
      .agg(Tables.meanD(sum(col("vd").cast(DecimalType(18, 9))), count(lit(1)))
        .as("cm"))
      .localCheckpoint(true) // labels×64 rows; read by dot join + norm fold
    val cnorm = cent.groupBy("label")
      .agg(sum(Tables.r6(col("cm") * col("cm")).cast(DecimalType(18, 6))).as("sc2"))
    val per = pe.join(broadcast(cent), Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(sum(Tables.r6(col("vd") * col("cm")).cast(DecimalType(18, 6))).as("dot"),
        sum(Tables.r6(col("vd") * col("vd")).cast(DecimalType(18, 6))).as("sv2"))
    per.join(broadcast(cnorm), "label")
      .select(col("vec_id"), col("label"),
        Tables.r6(col("dot").cast("double") /
          (sqrt(col("sv2").cast("double")) * sqrt(col("sc2").cast("double"))))
          .as("cos"))
      .orderBy(col("cos").asc, col("vec_id"))
      .limit(20)
  }

  /** q293 iteration count: three covariance-action steps separate the
    * top component decisively on this corpus while keeping the oracle's
    * generated CTE chain readable. */
  private val PcaIters = 3

  /** q293: top principal component of the embedding matrix by
    * distributed power iteration — the diagnostic behind whitening,
    * anisotropy correction (all-but-the-top), and "is one direction
    * eating my cosine scores" checks on learned embeddings. Vectors are
    * mean-centered (q277's per-dimension mean); from v₀ = e₁, each step
    * applies the UNMATERIALIZED covariance action u = Σᵢ cᵢ(cᵢ·v) as two
    * corpus passes (per-vector projection yᵢ = cᵢ·v, then the
    * y-weighted component sum), normalizes, and re-broadcasts. Output:
    * 64 loadings + the sample eigenvalue ‖u‖/n. The DuckDB oracle
    * replays the identical unroll with CTEs generated by the same
    * PcaIters loop (q290's discipline).
    *
    * Determinism: §2.9 R1 — the centered values are exact doubles (float
    * widening minus a 6-dp mean), every projection/update term is
    * r6-quantized then DECIMAL(18,6)-summed, the norm is a 1-row fold of
    * quantized squares — both engines iterate through IDENTICAL vectors.
    *
    * Scale: the power-iteration pattern IS the cluster answer to PCA
    * when d is small and n is huge — nothing ever materializes the n×n
    * or even d×d matrix. The centered frame is one posexplode pass
    * (checkpointed; at 100 TB, a stored column projection); each step is
    * two broadcast joins against 64-row frames + two map-side-combined
    * aggregates; v/u/norm frames are constant-size (64, 64, 1 rows). */
  private def q293(spark: SparkSession, sfDir: String): DataFrame =
    pcaTopComponentOf(Tables(spark, sfDir, "embeddings"))

  /** The generic power-iteration core behind q293, exposed as
    * [[graft.Graft.pcaTopComponent]]: `emb` needs (vec_id, embedding:
    * array<float|double>) with a uniform dimension ≤ the 64 the plan
    * unrolls against; returns (dim, loading, eigenvalue). */
  private[graft] def pcaTopComponentOf(emb: DataFrame, dims: Int = 64): DataFrame = {
    val (_, vn) = pcaParts(emb, dims)
    val nvec = emb.agg(count(lit(1)).cast("double").as("n"))
    vn.crossJoin(broadcast(nvec))
      .select(col("d").cast("bigint").as("dim"), col("v").as("loading"),
        Tables.r6(col("nrm") / col("n")).as("eigenvalue"))
      .orderBy("dim")
  }

  /** The shared power-iteration core: returns (centered frame, final
    * direction frame (d, v, nrm) — unit loading per dim plus the final
    * pre-normalization norm carried on every row) — consumed by q293
    * (loadings/eigenvalue) and q361 (all-but-the-top removal). */
  private[graft] def pcaParts(emb: DataFrame,
      dims: Int = 64): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.DecimalType
    require(dims > 0, "pcaTopComponent: dims must be positive")
    val spark = emb.sparkSession
    val pe = emb
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).as("d"),
        col("col").cast("double").as("xd"))
    val mu = pe.groupBy("d")
      .agg(Tables.meanD(sum(col("xd").cast(DecimalType(18, 9))), count(lit(1)))
        .as("mu"))
    // r17: pinned co-partitioned by vec_id (guide §2.4) — each iteration's
    // per-vector matvec groupBy(vec_id) AND the cent⋈y join then reuse
    // this one exchange instead of re-shuffling the centered frame twice
    // per iteration (partition count = spark.sql.shuffle.partitions).
    val cent = pe.join(broadcast(mu), "d")
      .select(col("vec_id"), col("d"), (col("xd") - col("mu")).as("cd"))
      .repartition(col("vec_id"))
      .transform(graft.plans.CorpusPin.pin) // centered once; 2 consumers per iteration
    // r18 (guide §1.2-1): every loop frame is referenced EXACTLY ONCE by
    // the next step — the norm is a whole-frame window over the 64-row
    // direction frame (bounded single partition by construction) instead
    // of a separate aggregate crossJoined back — so the r17 layout's two
    // eager 64-row localCheckpoints per iteration (6 blocking driver
    // jobs across PcaIters=3) disappear: the whole power iteration is
    // one lazy plan whose only materialized state is the pinned centered
    // frame, and each v_i executes exactly once inside the next
    // iteration's broadcast build. Window DECIMAL sums are exact and
    // order-free, so nrm (and every downstream double) is bit-identical
    // to the old aggregate form.
    var vn: DataFrame = spark.range(1, dims + 1L)
      .select(col("id").as("d"), when(col("id") === 1, 1.0).otherwise(0.0).as("v"))
    for (_ <- 1 to PcaIters) {
      val y = cent.join(broadcast(vn.select("d", "v")), "d")
        .groupBy("vec_id")
        .agg(sum(Tables.r6(col("cd") * col("v")).cast(DecimalType(18, 6))).as("ydec"))
        .select(col("vec_id"), col("ydec").cast("double").as("y"))
      vn = cent.join(y, "vec_id")
        .groupBy("d")
        .agg(sum(Tables.r6(col("cd") * col("y")).cast(DecimalType(18, 6)))
          .cast("double").as("u"))
        .withColumn("nrm", sqrt(sum(Tables.r6(col("u") * col("u"))
          .cast(DecimalType(18, 6))).over(Window.partitionBy())
          .cast("double")))
        .select(col("d"), Tables.r6(col("u") / col("nrm")).as("v"), col("nrm"))
    }
    (cent, vn)
  }

  /** q361: all-but-the-top anisotropy correction (Mu & Viswanath, ICLR
    * 2018) — the standard embedding post-process q293's diagnostic
    * points at: learned embedding spaces are anisotropic (one dominant
    * direction eats every cosine), and removing the mean + the top
    * principal component measurably improves similarity tasks. Per
    * vector: the projection p onto q293's top PC, the centered norm,
    * and the corrected norm — which needs NO materialized corrected
    * vectors, since ‖c − p·v‖² = ‖c‖² − p² algebraically (v is unit).
    * Carried on every row: the anisotropy share Σp²/Σ‖c‖² — the
    * fraction of total variance the one direction holds (the number
    * that says whether the correction matters for THIS space).
    *
    * Determinism: q293's iteration discipline end-to-end (r6→DECIMAL
    * sums); the corrected norm guards the r6 residue with
    * greatest(·, 0) before sqrt so no NaN can cross an engine.
    *
    * Scale: the centered frame and v come from the shared pcaParts
    * (power iteration = broadcast joins vs 64-row frames); this adds
    * ONE vec-keyed aggregate and a 1-row share fold — no new corpus
    * shuffle shape. */
  private def q361(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (cent, vn) = pcaParts(Tables(spark, sfDir, "embeddings"))
    val per = cent.join(broadcast(vn.select("d", "v")), "d")
      .groupBy("vec_id")
      .agg(sum(Tables.r6(col("cd") * col("v")).cast(DecimalType(18, 6)))
          .cast("double").as("p"),
        sum(Tables.r6(col("cd") * col("cd")).cast(DecimalType(18, 6)))
          .cast("double").as("n2"))
      // vectors-sized (the largest frame in this plan): the r14→r15 fix
      // that became the house rule — see graft.plans.CorpusPin.
      .transform(graft.plans.CorpusPin.pin)
    val share = per.agg((
        sum(Tables.r6(col("p") * col("p")).cast(DecimalType(18, 6)))
          .cast("double") /
        sum(col("n2").cast(DecimalType(18, 6))).cast("double")).as("raw"))
      .select(Tables.r6(col("raw")).as("top_pc_share"))
    per.crossJoin(broadcast(share))
      .select(col("vec_id"), Tables.r6(col("p")).as("proj"),
        Tables.r6(sqrt(col("n2"))).as("norm_centered"),
        Tables.r6(sqrt(greatest(col("n2") - col("p") * col("p"), lit(0.0))))
          .as("norm_abt"),
        col("top_pc_share"))
      .orderBy("vec_id")
  }

  /** The shared power-iteration CTE chain (pe/mu/cent/v0/y_i/u_i/nrm_i/
    * v_i up to v{PcaIters}) — composed by the q293 AND q361 oracles. */
  private def pcaCtesSql: String = {
    val iters = (1 to PcaIters).map { i =>
      val vp = s"v${i - 1}"
      s"y$i AS (SELECT vec_id, CAST(SUM(CAST(" + Tables.r6sql("cd * v") +
        s" AS DECIMAL(18,6))) AS DOUBLE) AS y FROM cent JOIN $vp USING (d) " +
        "GROUP BY vec_id), " +
        s"u$i AS (SELECT d, CAST(SUM(CAST(" + Tables.r6sql("cd * y") +
        s" AS DECIMAL(18,6))) AS DOUBLE) AS u FROM cent JOIN y$i USING (vec_id) " +
        "GROUP BY d), " +
        s"nrm$i AS (SELECT sqrt(CAST(SUM(CAST(" + Tables.r6sql("u * u") +
        s" AS DECIMAL(18,6))) AS DOUBLE)) AS nrm FROM u$i), " +
        s"v$i AS (SELECT d, " + Tables.r6sql("u / nrm") +
        s" AS v FROM u$i CROSS JOIN nrm$i)"
    }.mkString(", ")
    val meanSql = Tables.meanDSql("SUM(CAST(xd AS DECIMAL(18,9)))", "COUNT(*)")
    "pe AS (SELECT vec_id, unnest(range(1, 65)) AS d, " +
      "CAST(unnest(embedding) AS DOUBLE) AS xd FROM embeddings), " +
      s"mu AS (SELECT d, $meanSql AS mu FROM pe GROUP BY d), " +
      "cent AS MATERIALIZED (SELECT vec_id, d, xd - mu AS cd " +
      "FROM pe JOIN mu USING (d)), " +
      "v0 AS (SELECT d, CAST(CASE WHEN d = 1 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS v " +
      "FROM (SELECT CAST(unnest(range(1, 65)) AS BIGINT) AS d)), " +
      iters
  }

  /** The q293 oracle: the identical power-iteration unroll as generated
    * DuckDB CTEs. */
  private def q293Sql: String =
    s"WITH $pcaCtesSql, " +
      "nvec AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings) " +
      s"SELECT d AS dim, v AS loading, " +
      Tables.r6sql("nrm / n") + " AS eigenvalue " +
      s"FROM v$PcaIters CROSS JOIN nrm$PcaIters CROSS JOIN nvec ORDER BY dim"

  /** The q361 oracle: shared PCA CTEs + the per-vector projection/norm
    * folds and the anisotropy-share fold. */
  private def q361Sql: String =
    s"WITH $pcaCtesSql, " +
      "per AS (SELECT vec_id, CAST(SUM(CAST(" + Tables.r6sql("cd * v") +
      s" AS DECIMAL(18,6))) AS DOUBLE) AS p, CAST(SUM(CAST(" +
      Tables.r6sql("cd * cd") +
      s" AS DECIMAL(18,6))) AS DOUBLE) AS n2 FROM cent JOIN v$PcaIters " +
      "USING (d) GROUP BY 1), " +
      "sh AS (SELECT " + Tables.r6sql("CAST(SUM(CAST(" +
      Tables.r6sql("p * p") + " AS DECIMAL(18,6))) AS DOUBLE) / " +
      "CAST(SUM(CAST(n2 AS DECIMAL(18,6))) AS DOUBLE)") +
      " AS top_pc_share FROM per) " +
      "SELECT vec_id, " + Tables.r6sql("p") + " AS proj, " +
      Tables.r6sql("sqrt(n2)") + " AS norm_centered, " +
      Tables.r6sql("sqrt(GREATEST(n2 - p * p, 0.0))") + " AS norm_abt, " +
      "top_pc_share FROM per CROSS JOIN sh ORDER BY vec_id"

  /** q290 hyperparameters. 64 hashed feature buckets keep every weight /
    * gradient frame constant-size (64 rows) at any corpus scale; 3
    * full-batch gradient-descent steps are enough to pull the weight
    * signs onto the language-distinctive buckets; the rate is sized so
    * 6-dp-quantized gradients (≈1e-3) move weights visibly per step. */
  private val LrBuckets = 64
  private val LrIters = 3
  private val LrRate = 10.0

  /** q290: distributed logistic regression — the trainable quality /
    * domain classifier every curation stack ends up with (fastText-style
    * lineage: hashed bag-of-words → linear model). Features are hashed
    * unigram frequencies (md5 bucket 0..63, tf / doc length); the label
    * is lang = 'en' (the corpus's own metadata as supervision — the
    * "classify docs that look like my seed set" shape, q282's DSIR with
    * a trained discriminator instead of a ratio table). Three full-batch
    * GD steps from w = 0 with σ = 1/(1+e^{−w·x}); output = the 64 final
    * weights + the training accuracy of sign(w·x), every step of which
    * the DuckDB oracle replays CTE-for-CTE.
    *
    * Determinism (the §2.9 R1 recipe, load-bearing here because the
    * model is a fixpoint of float folds): every per-item product (x·w
    * margin terms, x·err gradient terms) is r6-quantized then
    * DECIMAL(18,6)-summed — merge-order-free, so both engines iterate
    * through IDENTICAL weight vectors, not merely close ones.
    *
    * Scale: the corpus is scanned once into the (doc, bucket, x) feature
    * frame (checkpointed; at 100 TB this persists to storage once). Each
    * GD step is one broadcast join against the 64-row weight frame + two
    * map-side-combined aggregates (per-doc margin, per-bucket gradient)
    * — NO corpus re-shuffle, NO driver-side data movement: the weight
    * vector stays a broadcast DataFrame end to end, which is exactly how
    * a linear model trains on a 1000-executor cluster without a
    * parameter server. */
  private def q290(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    classifierFromFeatures(docs, lrFeaturesEn(spark, sfDir))
  }

  /** Memoized (doc_id, y, b, x) feature frame for the GD family's
    * canonical (documents, lang = 'en') task — q290/q297/q312 all train
    * on the identical frame (FrameMemo contract; VERDICT r10 item 6).
    * Bounded: ≤ docs × 64 buckets rows. */
  private def lrFeaturesEn(spark: SparkSession, sfDir: String): DataFrame =
    graft.plans.FrameMemo.shared(spark, "lr_features_en", sfDir)(
      lrFeatures(Tables(spark, sfDir, "documents"), col("lang") === "en"))

  /** The generic trainer behind q290, exposed as
    * [[graft.Graft.textClassifier]]: `docs` needs (doc_id, text);
    * `label` is any boolean Column over its columns. Returns the
    * 64-bucket weight vector + training accuracy. */
  private[graft] def textClassifierOf(docs: DataFrame, label: Column): DataFrame =
    classifierFromFeatures(docs,
      lrFeatures(docs, label)
        .transform(graft.plans.CorpusPin.pin)) // one corpus pass; 3 margin + 3 grad + 1
                                // accuracy consumers read the bounded frame

  private def classifierFromFeatures(docs: DataFrame, x: DataFrame): DataFrame = {
    val ndF = docs.agg(count(lit(1)).cast("double").as("nd"))
    val w = lrTrain(x, ndF)
    w.crossJoin(broadcast(lrAcc(x, w)))
      .select(col("b").as("bucket"), col("w").as("weight"), col("train_acc"))
      .orderBy("bucket")
  }

  /** Hashed-unigram tf features for the GD family: (doc_id, y, b, x). */
  private def lrFeatures(docs: DataFrame, label: Column): DataFrame = {
    val feat = docs
      .select(col("doc_id"),
        when(label, 1.0).otherwise(0.0).as("y"),
        explode(split(col("text"), " ")).as("t"))
      .withColumn("h", md5(col("t")))
      .withColumn("b", CorpusOps.hexBucket(LrBuckets).cast("bigint"))
      .groupBy("doc_id", "y", "b").agg(count(lit(1)).as("c"))
    val ntok = feat.groupBy("doc_id").agg(sum("c").as("n"))
    feat.join(ntok, "doc_id")
      .select(col("doc_id"), col("y"), col("b"),
        Tables.r6(col("c").cast("double") / col("n")).as("x"))
  }

  /** Per-doc DECIMAL margin under weights `w`: (doc_id, y, mdec). */
  private def lrMargins(x: DataFrame, w: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    x.join(broadcast(w), "b")
      .groupBy("doc_id", "y")
      .agg(sum(Tables.r6(col("x") * col("w")).cast(DecimalType(18, 6))).as("mdec"))
  }

  /** LrIters full-batch GD steps from w = 0 over feature frame `x`;
    * `ndF` is the 1-row training-doc count normalizing the gradient. */
  private def lrTrain(x: DataFrame, ndF: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    var w: DataFrame = x.sparkSession.range(0, LrBuckets)
      .select(col("id").as("b"), lit(0.0).as("w"))
    for (_ <- 1 to LrIters) {
      val err = lrMargins(x, w).select(col("doc_id"),
        Tables.r6(lit(1.0) / (lit(1.0) + exp(-col("mdec").cast("double")))
          - col("y")).as("err"))
      val g = x.join(err, "doc_id")
        .groupBy("b")
        .agg(sum(Tables.r6(col("x") * col("err")).cast(DecimalType(18, 6))).as("gsum"))
      w = w.join(g, Seq("b"), "left").crossJoin(broadcast(ndF))
        .select(col("b"), Tables.r6(col("w") - lit(LrRate) *
          coalesce(col("gsum").cast("double"), lit(0.0)) / col("nd")).as("w"))
        .localCheckpoint(true) // 64 rows; truncates per-step lineage so
                               // the plan doesn't deepen with LrIters
    }
    w
  }

  /** 1-row sign(w·x) accuracy of weights `w` over feature frame `x`. */
  private def lrAcc(x: DataFrame, w: DataFrame): DataFrame =
    lrMargins(x, w)
      .select(when((col("mdec") >= 0) === (col("y") > 0.5), 1L)
        .otherwise(0L).as("ok"))
      .agg(Tables.meanD(sum("ok"), count(lit(1))).as("train_acc"))

  /** q297 training-fraction grid (md5-bucket percentages of the corpus). */
  private val CurvePcts = Seq(25, 50, 75, 100)

  /** q297: learning curve — the sample-efficiency experiment every
    * data-curation decision ultimately answers to: train the q290
    * classifier on deterministic 25/50/75/100% md5-bucket subsets and
    * report, per fraction, the training-subset accuracy AND the
    * accuracy over the FULL corpus ("does more data still buy
    * accuracy?"). Reuses the q290 GD core verbatim, so the curve and
    * the classifier can never diverge; the oracle replays all four
    * runs as one generated CTE chain.
    *
    * Scale: the feature frame is built and checkpointed ONCE; each
    * fraction filters it (no re-scan of the corpus text), trains
    * against 64-row weight frames, and folds two 1-row accuracies —
    * 4 fractions cost 4 bounded GD runs, not 4 corpus scans. */
  private def q297(spark: SparkSession, sfDir: String): DataFrame =
    learningCurveFrom(lrFeaturesEn(spark, sfDir), CurvePcts)

  /** The generic curve behind q297, exposed as
    * [[graft.Graft.learningCurve]]: `docs` needs (doc_id, text); `label`
    * is any boolean Column; `pcts` are md5-bucket training fractions.
    *
    * All fractions train SIMULTANEOUSLY: the feature frame is exploded
    * ×|pcts| once (pct-keyed), weights live in one (pct, b) frame
    * (|pcts|·64 rows, still broadcastable), and each GD step is ONE
    * margin pass + ONE gradient pass over the combined frame — 2 passes
    * per step instead of 2·|pcts|, the grouped-learners pattern that
    * makes hyper-parameter/ablation sweeps affordable on a cluster. */
  private[graft] def learningCurveOf(docs: DataFrame, label: Column,
      pcts: Seq[Int]): DataFrame =
    learningCurveFrom(lrFeatures(docs, label), pcts)

  private def learningCurveFrom(features: DataFrame,
      pcts: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(pcts.nonEmpty && pcts.forall(p => p > 0 && p <= 100),
      "learningCurve: pcts must be in 1..100")
    val spark = features.sparkSession
    // (pct, doc_id, y, b, x, train): every fraction's view of every doc,
    // train = doc's md5 bucket falls inside the fraction
    val xall = features
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("db", CorpusOps.hexBucket(100).cast("bigint"))
      .select(col("doc_id"), col("y"), col("b"), col("x"),
        explode(array(pcts.map(p => lit(p.toLong)): _*)).as("pct"),
        col("db"))
      .withColumn("train", col("db") < col("pct"))
      .drop("db")
      // r17: co-partitioned by (pct, doc_id) (guide §2.4) — every GD
      // step's margin groupBy(pct, doc_id, y) and the gradient's
      // xtr⋈err join on (pct, doc_id) reuse this one exchange instead
      // of two corpus-scale shuffles per step
      .repartition(col("pct"), col("doc_id"))
      .transform(graft.plans.CorpusPin.pin) // one corpus pass; every GD step reads it
    val xtr = xall.filter(col("train"))
    // per-fraction training-doc counts — one bounded frame, broadcast
    val ndF = xtr.groupBy("pct")
      .agg(countDistinct("doc_id").cast("double").as("nd"))
      .localCheckpoint(true)
    def margins(src: DataFrame, w: DataFrame): DataFrame =
      src.join(broadcast(w), Seq("pct", "b"))
        .groupBy("pct", "doc_id", "y")
        .agg(sum(Tables.r6(col("x") * col("w")).cast(DecimalType(18, 6))).as("mdec"))
    var w: DataFrame = spark.range(0, LrBuckets)
      .select(col("id").as("b"), lit(0.0).as("w"))
      .crossJoin(spark.createDataFrame(pcts.map(p => Tuple1(p.toLong)))
        .toDF("pct"))
    for (_ <- 1 to LrIters) {
      val err = margins(xtr, w).select(col("pct"), col("doc_id"),
        Tables.r6(lit(1.0) / (lit(1.0) + exp(-col("mdec").cast("double")))
          - col("y")).as("err"))
      val g = xtr.join(err, Seq("pct", "doc_id"))
        .groupBy("pct", "b")
        .agg(sum(Tables.r6(col("x") * col("err")).cast(DecimalType(18, 6))).as("gsum"))
      w = w.join(g, Seq("pct", "b"), "left").join(broadcast(ndF), "pct")
        .select(col("pct"), col("b"), Tables.r6(col("w") - lit(LrRate) *
          coalesce(col("gsum").cast("double"), lit(0.0)) / col("nd")).as("w"))
        .localCheckpoint(true) // |pcts|·64 rows; truncates per-step lineage
    }
    def acc(src: DataFrame, name: String): DataFrame = margins(src, w)
      .select(col("pct"), when((col("mdec") >= 0) === (col("y") > 0.5), 1L)
        .otherwise(0L).as("ok"))
      .groupBy("pct")
      .agg(Tables.meanD(sum("ok"), count(lit(1))).as(name))
    ndF.select(col("pct"), col("nd").cast("bigint").as("n_train"))
      .join(acc(xtr, "train_acc"), "pct")
      .join(acc(xall, "full_acc"), "pct")
      .orderBy("pct")
  }

  /** The q290 oracle: the identical GD unroll as DuckDB CTEs, generated
    * by the same loop bound so the two engines cannot disagree on the
    * iteration count. */
  /** Shared q290/q312 CTE prefix: features, w0, the GD unroll, and the
    * final-margin frame `mf` under w_LrIters. */
  private def lrCtesSql: String = {
    val r6m = Tables.r6sql("x * w")
    val iters = (1 to LrIters).map { i =>
      val wp = s"w${i - 1}"
      s"m$i AS (SELECT doc_id, y, SUM(CAST($r6m AS DECIMAL(18,6))) AS mdec " +
        s"FROM x JOIN $wp USING (b) GROUP BY 1, 2), " +
        s"e$i AS (SELECT doc_id, " +
        Tables.r6sql("1.0 / (1.0 + EXP(-CAST(mdec AS DOUBLE))) - y") +
        s" AS err FROM m$i), " +
        s"g$i AS (SELECT b, SUM(CAST(" + Tables.r6sql("x * err") +
        s" AS DECIMAL(18,6))) AS gsum FROM x JOIN e$i USING (doc_id) GROUP BY b), " +
        s"w$i AS (SELECT $wp.b, " +
        Tables.r6sql(s"$wp.w - $LrRate * COALESCE(CAST(gsum AS DOUBLE), 0.0) / nd") +
        s" AS w FROM $wp LEFT JOIN g$i USING (b) CROSS JOIN nd)"
    }.mkString(", ")
    "WITH toks AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, " +
      "unnest(str_split(text, ' ')) AS t FROM documents), " +
      "feat AS (SELECT doc_id, y, CAST(" +
      CorpusOps.hexBucketSql(LrBuckets, "md5(t)") + " AS BIGINT) AS b, " +
      "COUNT(*) AS c FROM toks GROUP BY 1, 2, 3), " +
      "ntok AS (SELECT doc_id, SUM(c) AS n FROM feat GROUP BY 1), " +
      "x AS MATERIALIZED (SELECT doc_id, y, b, " +
      Tables.r6sql("CAST(c AS DOUBLE) / n") + " AS x " +
      "FROM feat JOIN ntok USING (doc_id)), " +
      "nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents), " +
      s"w0 AS (SELECT CAST(unnest(range(0, $LrBuckets)) AS BIGINT) AS b, 0.0 AS w), " +
      iters + ", " +
      s"mf AS (SELECT doc_id, y, SUM(CAST($r6m AS DECIMAL(18,6))) AS mdec " +
      s"FROM x JOIN w$LrIters USING (b) GROUP BY 1, 2)"
  }

  private def q290Sql: String =
    lrCtesSql + ", " +
      "acc AS (SELECT " + Tables.meanDSql(
        "SUM(CASE WHEN (mdec >= 0) = (y > 0.5) THEN 1 ELSE 0 END)", "COUNT(*)") +
      " AS train_acc FROM mf) " +
      s"SELECT b AS bucket, w AS weight, train_acc FROM w$LrIters " +
      "CROSS JOIN acc ORDER BY bucket"

  /** q312: uncertainty sampling — the active-learning labeling queue:
    * train the q290 classifier, then surface the 20 documents whose
    * margin sits closest to the decision boundary (|w·x| minimal, i.e.
    * σ nearest 0.5) — the rows where a human label buys the most model
    * improvement. The standard loop that turns a weak learned filter
    * into a good one without labeling the whole corpus.
    *
    * Scale: reuses the q290 GD passes (bounded weight frames); the
    * queue is one more margin pass + TakeOrdered(20). */
  private def q312(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val x = lrFeaturesEn(spark, sfDir) // memo-pinned; GD + final margin pass read it
    val ndF = docs.agg(count(lit(1)).cast("double").as("nd"))
    val w = lrTrain(x, ndF)
    lrMargins(x, w)
      .select(col("doc_id"), col("y").cast("bigint").as("label"),
        Tables.r6(col("mdec").cast("double")).as("margin"),
        Tables.r6(abs(col("mdec").cast("double"))).as("uncertainty"))
      .orderBy(col("uncertainty").asc, col("doc_id"))
      .limit(20)
  }

  private def q312Sql: String =
    lrCtesSql + " " +
      "SELECT doc_id, CAST(y AS BIGINT) AS label, " +
      Tables.r6sql("CAST(mdec AS DOUBLE)") + " AS margin, " +
      Tables.r6sql("ABS(CAST(mdec AS DOUBLE))") + " AS uncertainty " +
      "FROM mf ORDER BY uncertainty, doc_id LIMIT 20"

  /** q307: global embedding outliers — the unlabeled anomaly screen
    * (q284 needs labels; a raw crawl has none): cosine of every vector
    * to the GLOBAL centroid, 20 least-aligned reported — the
    * embedding-space "does anything look alien" sweep run before
    * trusting a new batch (poisoning / modality-mixup screen).
    * Determinism: q284's exact recipe (DECIMAL(18,9) component sums,
    * r6→DECIMAL(18,6) cross-terms).
    *
    * Scale: one posexplode pass; the centroid is a 64-row aggregate
    * broadcast back; per-vector folds map-side combined; head
    * TakeOrdered. */
  private def q307(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pe = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).as("pos"),
        col("col").cast("double").as("vd"))
    val cent = pe.groupBy("pos")
      .agg(Tables.meanD(sum(col("vd").cast(DecimalType(18, 9))), count(lit(1)))
        .as("cm"))
      .localCheckpoint(true) // 64 rows; read by the dot join + norm fold
    val cnorm = cent.agg(
      sum(Tables.r6(col("cm") * col("cm")).cast(DecimalType(18, 6))).as("sc2"))
    pe.join(broadcast(cent), "pos")
      .groupBy("vec_id")
      .agg(sum(Tables.r6(col("vd") * col("cm")).cast(DecimalType(18, 6))).as("dot"),
        sum(Tables.r6(col("vd") * col("vd")).cast(DecimalType(18, 6))).as("sv2"))
      .crossJoin(broadcast(cnorm))
      .select(col("vec_id"),
        Tables.r6(col("dot").cast("double") /
          (sqrt(col("sv2").cast("double")) * sqrt(col("sc2").cast("double"))))
          .as("cos"))
      .orderBy(col("cos").asc, col("vec_id"))
      .limit(20)
  }

  /** q306 coreset size: 8 centers — enough rounds to show the max-min
    * radius shrinking while keeping the oracle's generated chain short. */
  private val CoresetK = 8

  /** q306: k-center greedy coreset selection (Gonzalez '85, the 2-approx
    * classic — the diverse-subset picker behind data-selection /
    * active-learning seeding): start from the smallest vec_id, then k−1
    * times pick the vector FARTHEST (squared Euclidean) from the chosen
    * set; ties break to the smaller vec_id. Output (k, vec_id,
    * dist_to_set) — dist_to_set is the coverage radius at each step, the
    * curve that says when the corpus is "covered". Complements q252's
    * hash-diversity sample (cheap, geometry-blind) with the geometric
    * guarantee, and q106's k-means (centroids) with actual exemplars.
    *
    * Scale: each round is ONE corpus pass — distances to the ≤k-row
    * broadcast chosen frame, a vector-keyed MIN, and a TakeOrdered(1)
    * argmax; nothing pairwise, state is k rows. The same loop shape as
    * q293's power iteration: corpus passes × small broadcast state. */
  private def q306(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    import NearDup.dotCol
    val emb = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .transform(graft.plans.CorpusPin.pin) // read once per round
    val first = emb.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("embedding"), lit(0L).as("k"), lit(0.0).as("dist_to_set"))
    var chosen = first.localCheckpoint(true)
    for (k <- 1 until CoresetK) {
      val d2 = Tables.r6(dotCol("embedding", "embedding")) +
        Tables.r6(dotCol("c_emb", "c_emb")) -
        lit(2.0) * Tables.r6(dotCol("embedding", "c_emb"))
      val nextId = emb
        .join(broadcast(chosen.select(col("vec_id").as("c_id"))),
          col("vec_id") === col("c_id"), "left_anti")
        .crossJoin(broadcast(chosen.select(col("embedding").as("c_emb"))))
        .groupBy("vec_id")
        .agg(min(Tables.r6(d2)).as("md"))
        .orderBy(col("md").desc, col("vec_id"))
        .limit(1)
      val next = nextId.join(emb, "vec_id")
        .select(col("vec_id"), col("embedding"), lit(k.toLong).as("k"),
          col("md").as("dist_to_set"))
      chosen = chosen.unionByName(next).localCheckpoint(true) // ≤k+1 rows
    }
    chosen.select("k", "vec_id", "dist_to_set").orderBy("k")
  }

  /** q311: multinomial Naive Bayes language ID — the GENERATIVE learned
    * classifier completing the langid trio (q64 fixed word lists, q304
    * char-trigram profiles, q290's discriminative GD): train per-language
    * Laplace-smoothed bucket likelihoods P(b|lang) and priors on the
    * 50% md5 split, score the held-out half by ln prior + Σ tf·ln P(b|lang),
    * report per-language accuracy. Closed-form — no iterations — which is
    * why NB is the classifier a pipeline trains when it cannot afford GD
    * passes: ONE count pass is the whole fit.
    *
    * Determinism: ln terms r6-quantized then DECIMAL-summed; argmax ties
    * break to the lexicographically smaller language on both engines.
    * Scale: the model is a (langs × 64)-row broadcast; train = one
    * map-side-combined count pass; scoring = one equi-join of test
    * bucket counts against the broadcast model + a per-doc window over
    * ≤langs rows. */
  private def q311(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d = Tables(spark, sfDir, "documents")
      .withColumn("h", md5(col("doc_id").cast("string")))
      .select(col("doc_id"), col("lang"), col("text"),
        CorpusOps.hexBucket(100).cast("bigint").as("db"))
      .transform(graft.plans.CorpusPin.pin) // read by train counts, test counts, report
    def buckets(df: DataFrame) = df
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("t"))
      .withColumn("h", md5(col("t")))
      .withColumn("b", CorpusOps.hexBucket(LrBuckets).cast("bigint"))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c"))
    val train = d.filter(col("db") < 50)
    val cb = buckets(train).groupBy("lang", "b").agg(sum("c").as("cnt"))
    val ct = cb.groupBy("lang").agg(sum("cnt").as("tok"))
    val prior = train.groupBy("lang").agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("n"))))
    // dense (lang × 64) model: unseen buckets get the same Laplace mass
    val langs = prior.select(col("lang").as("plang"), Tables.r6(
      log(col("nd").cast("double") / col("n"))).as("lnprior"))
    val grid = langs.select("plang")
      .crossJoin(spark.range(0, LrBuckets).select(col("id").as("b")))
      .join(cb.withColumnRenamed("lang", "plang"), Seq("plang", "b"), "left")
      .na.fill(0L, Seq("cnt"))
      .join(ct.withColumnRenamed("lang", "plang"), "plang")
      .select(col("plang"), col("b"), Tables.r6(log(
        (col("cnt") + lit(1L)).cast("double") / (col("tok") + lit(LrBuckets.toLong))))
        .as("lnp"))
      .localCheckpoint(true) // langs×64 rows, broadcast to the scorer
    val test = buckets(d.filter(col("db") >= 50))
    val wBest = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("plang"))
    val pred = test.join(broadcast(grid), "b")
      .groupBy("doc_id", "plang")
      .agg(sum(Tables.r6(col("c") * col("lnp")).cast(DecimalType(18, 6))).as("ll"))
      .join(broadcast(langs), "plang")
      .select(col("doc_id"), col("plang"),
        (col("ll").cast("double") + col("lnprior")).as("score"))
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("plang").as("pred"))
    d.filter(col("db") >= 50).select("doc_id", "lang")
      .join(pred, Seq("doc_id"), "left")
      .select(col("lang"),
        when(col("pred") === col("lang"), 1L).otherwise(0L).as("ok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("ok").as("n_correct"),
        Tables.meanD(sum("ok"), count(lit(1))).as("acc"))
      .orderBy("lang")
  }

  /** q299 histogram granularity (chars per bin): bounds the candidate
    * grid at max(n_chars)/16 rows regardless of corpus size. */
  private val StumpBin = 16

  /** q299: decision stump by information gain — the boosting weak
    * learner and the one-feature feature-importance probe: histogram
    * n_chars into 16-char bins, and for every candidate threshold
    * (bin boundary) compute the label-entropy gain of splitting
    * `lang = 'en'` there; report the 10 best splits with their left /
    * right compositions. The discrete companion to q290's linear model
    * (and the building block of every tree ensemble's split search).
    * 0·ln0 cells contribute zero by CASE on both engines.
    *
    * Scale: the corpus collapses to a ≤(max_chars/16)-row histogram in
    * one map-side-combined pass; the cumulative sweep is a window over
    * that BOUNDED frame (the q23/q196 justification), and candidates
    * never touch the corpus again. */
  private def q299(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val hist = docs.select(expr(s"n_chars DIV $StumpBin").as("b"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy("b").agg(count(lit(1)).as("n"), sum("pos").as("npos"))
    val wcum = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.select(col("b"),
      sum("n").over(wcum).as("nl"), sum("npos").over(wcum).as("posl"))
    val tot = hist.agg(sum("n").as("nt"), sum("npos").as("post"))
    def h(p: Column): Column =
      -(when(p > 0, p * log(p)).otherwise(lit(0.0))) -
        when(p < 1, (lit(1.0) - p) * log(lit(1.0) - p)).otherwise(lit(0.0))
    val nlD = col("nl").cast("double"); val ntD = col("nt").cast("double")
    val nr = col("nt") - col("nl"); val posr = col("post") - col("posl")
    cum.crossJoin(broadcast(tot))
      .filter(col("nl") < col("nt")) // a split must leave the right side non-empty
      .select(((col("b") + 1) * StumpBin).as("thr"),
        col("nl").as("n_left"), col("posl").as("pos_left"),
        nr.as("n_right"), posr.as("pos_right"),
        Tables.r6(h(col("post") / ntD) -
          (nlD / ntD) * h(col("posl") / nlD) -
          (nr.cast("double") / ntD) * h(posr / nr.cast("double"))).as("gain"))
      .orderBy(col("gain").desc, col("thr"))
      .limit(10)
  }

  /** q301: per-feature mutual information with the label — the
    * feature-selection table for the q290 bucket space: for each of the
    * 64 hashed unigram buckets, the 2×2 (presence × lang='en') MI in
    * nats, with the contingency counts alongside so the direction is
    * readable. MI ranks features by how much label information they
    * carry — the screen a curation team runs before trusting (or
    * pruning) a learned filter's vocabulary. Zero cells contribute 0 by
    * CASE; the four cell terms fold inside ONE row, so no sum-order
    * hazard exists at all.
    *
    * Scale: presence is a per-doc DISTINCT bucket explode (≤64 rows per
    * doc) into a 64-group map-side-combined agg; totals are a 1-row
    * broadcast; the MI arithmetic runs on the 64-row frame. */
  private def q301(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val pres = docs.select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        explode(array_distinct(split(col("text"), " "))).as("t"))
      .withColumn("h", md5(col("t")))
      .withColumn("b", CorpusOps.hexBucket(LrBuckets).cast("bigint"))
      .select("doc_id", "y", "b").distinct()
    val tot = docs.agg(count(lit(1)).as("n"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("np"))
    val nD = col("n").cast("double")
    def term(nij: Column, ri: Column, cj: Column): Column =
      when(nij > 0, (nij / nD) * log((nD * nij) / (ri.cast("double") * cj)))
        .otherwise(lit(0.0))
    val n11 = col("n11"); val n10 = col("n1") - col("n11")
    val n01 = col("np") - col("n11")
    val n00 = col("n") - col("np") - (col("n1") - col("n11"))
    val r1 = col("n1"); val r0 = col("n") - col("n1")
    val c1 = col("np"); val c0 = col("n") - col("np")
    pres.groupBy("b").agg(count(lit(1)).as("n1"), sum("y").as("n11"))
      .crossJoin(broadcast(tot))
      .select(col("b").as("bucket"), col("n1").as("n_present"), n11.as("n_pos_present"),
        Tables.r6(term(n11, r1, c1) + term(n10, r1, c0) +
          term(n01, r0, c1) + term(n00, r0, c0)).as("mi"))
      .orderBy(col("mi").desc, col("bucket"))
      .limit(20)
  }

  /** The q297 oracle: all four GD runs replayed as one generated CTE
    * chain (the q290 unroll, parameterized by training fraction). */
  private def q297Sql: String = {
    val r6m = Tables.r6sql("x * w")
    val accSel = Tables.meanDSql(
      "SUM(CASE WHEN (mdec >= 0) = (y > 0.5) THEN 1 ELSE 0 END)", "COUNT(*)")
    def margin(src: String, w: String, name: String) =
      s"$name AS (SELECT doc_id, y, SUM(CAST($r6m AS DECIMAL(18,6))) AS mdec " +
        s"FROM $src JOIN $w USING (b) GROUP BY 1, 2)"
    def chain(p: Int): String = {
      val xp = s"xp$p"
      val wLast = s"w${p}_$LrIters"
      val iters = (1 to LrIters).map { i =>
        val wp = if (i == 1) "w0" else s"w${p}_${i - 1}"
        margin(xp, wp, s"m${p}_$i") + ", " +
          s"e${p}_$i AS (SELECT doc_id, " +
          Tables.r6sql("1.0 / (1.0 + EXP(-CAST(mdec AS DOUBLE))) - y") +
          s" AS err FROM m${p}_$i), " +
          s"g${p}_$i AS (SELECT b, SUM(CAST(" + Tables.r6sql("x * err") +
          s" AS DECIMAL(18,6))) AS gsum FROM $xp JOIN e${p}_$i USING (doc_id) " +
          "GROUP BY b), " +
          s"w${p}_$i AS (SELECT $wp.b, " +
          Tables.r6sql(s"$wp.w - $LrRate * COALESCE(CAST(gsum AS DOUBLE), 0.0) / nd") +
          s" AS w FROM $wp LEFT JOIN g${p}_$i USING (b) CROSS JOIN nd$p)"
      }.mkString(", ")
      s"$xp AS (SELECT * FROM x WHERE db < $p), " +
        s"nd$p AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM $xp), " +
        iters + ", " +
        margin(xp, wLast, s"mt$p") + ", " +
        s"acct$p AS (SELECT $accSel AS train_acc FROM mt$p), " +
        margin("x", wLast, s"mf$p") + ", " +
        s"accf$p AS (SELECT $accSel AS full_acc FROM mf$p), " +
        s"row$p AS (SELECT CAST($p AS BIGINT) AS pct, CAST(nd AS BIGINT) AS n_train, " +
        s"train_acc, full_acc FROM nd$p CROSS JOIN acct$p CROSS JOIN accf$p)"
    }
    "WITH toks AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, " +
      "unnest(str_split(text, ' ')) AS t FROM documents), " +
      "feat AS (SELECT doc_id, y, CAST(" +
      CorpusOps.hexBucketSql(LrBuckets, "md5(t)") + " AS BIGINT) AS b, " +
      "COUNT(*) AS c FROM toks GROUP BY 1, 2, 3), " +
      "ntok AS (SELECT doc_id, SUM(c) AS n FROM feat GROUP BY 1), " +
      "x AS MATERIALIZED (SELECT doc_id, y, b, " +
      Tables.r6sql("CAST(c AS DOUBLE) / n") + " AS x, CAST(" +
      CorpusOps.hexBucketSql(100, "md5(CAST(doc_id AS VARCHAR))") +
      " AS BIGINT) AS db FROM feat JOIN ntok USING (doc_id)), " +
      s"w0 AS (SELECT CAST(unnest(range(0, $LrBuckets)) AS BIGINT) AS b, 0.0 AS w), " +
      CurvePcts.map(chain).mkString(", ") + " " +
      CurvePcts.map(p => s"SELECT * FROM row$p").mkString(" UNION ALL ") +
      " ORDER BY pct"
  }

  /** q315: weight-of-evidence / information-value feature audit — the
    * credit-scoring-lineage (Siddiqi 2006) categorical-feature screen
    * the encoder family lacked: q275 ENCODES a category against the
    * target, q315 MEASURES how much signal the whole feature carries
    * before anyone trains on it. Per order-priority bucket against the
    * binary target o_orderstatus = 'F': event/non-event counts, class
    * distributions, WOE = ln(dist_good/dist_bad) (0.5-smoothed counts in
    * the ratio so an empty cell can't produce ±∞), and the IV term
    * (dist_good − dist_bad)·WOE whose sum is the feature's screening
    * score (<0.02 useless, >0.5 suspicious — the standard bands).
    *
    * Determinism: counts are exact integers; distributions r6'd; the ln
    * argument is a ratio of identically-derived doubles and the ln term
    * r6-quantized (q149's PMI recipe); the IV term composes from the
    * ALREADY-r6'd emitted columns so both engines multiply the same
    * 6dp values.
    *
    * Scale: ONE map-side-combined groupBy over the corpus to a
    * ≤|priority-domain| frame; totals are a 1-row broadcast fold —
    * the whole audit after the first agg is arithmetic on ≤5 rows. */
  private def q315(spark: SparkSession, sfDir: String): DataFrame = {
    val d = (c: Column) => c.cast("double")
    val per = Tables(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_good"))
      .withColumn("n_bad", col("n") - col("n_good"))
    val tot = per.agg(sum("n_good").as("tg"), sum("n_bad").as("tb"))
    per.crossJoin(broadcast(tot))
      .select(col("priority"), col("n"), col("n_good"), col("n_bad"),
        Tables.r6(d(col("n_good")) / d(col("tg"))).as("dist_good"),
        Tables.r6(d(col("n_bad")) / d(col("tb"))).as("dist_bad"),
        Tables.r6(log(((d(col("n_good")) + 0.5) * d(col("tb"))) /
          ((d(col("n_bad")) + 0.5) * d(col("tg"))))).as("woe"))
      .withColumn("iv_term",
        Tables.r6((col("dist_good") - col("dist_bad")) * col("woe")))
      .orderBy("priority")
  }

  private val q315Sql: String = {
    val dg = Tables.r6sql("CAST(n_good AS DOUBLE) / tg")
    val db = Tables.r6sql("CAST(n_bad AS DOUBLE) / tb")
    val woe = Tables.r6sql(
      "ln(((CAST(n_good AS DOUBLE) + 0.5) * tb) / ((CAST(n_bad AS DOUBLE) + 0.5) * tg))")
    "WITH per AS (SELECT o_orderpriority AS priority, " +
      "CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_good " +
      "FROM orders GROUP BY 1), " +
      "pb AS (SELECT priority, n, n_good, n - n_good AS n_bad FROM per), " +
      "tot AS (SELECT CAST(SUM(n_good) AS DOUBLE) AS tg, " +
      "CAST(SUM(n_bad) AS DOUBLE) AS tb FROM pb), " +
      s"scored AS (SELECT priority, n, n_good, n_bad, $dg AS dist_good, " +
      s"$db AS dist_bad, $woe AS woe FROM pb CROSS JOIN tot) " +
      "SELECT priority, n, n_good, n_bad, dist_good, dist_bad, woe, " +
      Tables.r6sql("(dist_good - dist_bad) * woe") + " AS iv_term " +
      "FROM scored ORDER BY priority"
  }

  /** q316 bucket count — deliberately SMALL (2⁶) so the collision audit
    * has something to show on the benchmark cardinalities; a deployment
    * uses 2¹⁸⁺ and the same audit to size it. */
  private val FhBuckets = 64

  /** q316: the feature-hashing trick + collision audit (Weinberger et
    * al., ICML'09) — fixed-dimension featurization with NO vocabulary
    * pass: each (name:value) categorical feature hashes to bucket
    * h mod 64 with a second hash bit as the ±1 sign (the signed variant
    * that keeps collided counts unbiased in expectation). Output per
    * bucket: occurrence count, DISTINCT features landed (the collision
    * audit — custkeys ≫ 64 buckets, so collisions are guaranteed and the
    * audit shows exactly how crowded each cell is), and the signed sum
    * a linear model would actually see. This is the encoder that works
    * at 100 TB when the vocabulary itself won't fit a broadcast — q275
    * and q315 both need the category domain; the hashing trick needs
    * only the hash.
    *
    * Scale: a constant ×3 per-row explode (never the corpus squared),
    * one map-side-combined (bucket, feature) agg on the vocabulary-
    * bounded frame, folded to 64 rows. All-integer arithmetic — no
    * determinism hazards at all. */
  private def q316(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = Tables(spark, sfDir, "orders")
      .select(explode(array(
        concat(lit("cust:"), col("o_custkey").cast("string")),
        concat(lit("prio:"), col("o_orderpriority")),
        concat(lit("status:"), col("o_orderstatus")))).as("f"))
      .select(col("f"),
        expr("cast(conv(substring(md5(f), 1, 8), 16, 10) as bigint)").as("h"))
      .select(col("f"), (col("h") % FhBuckets).as("bucket"),
        when(expr("(shiftright(h, 6) & 1) = 1"), lit(1L)).otherwise(lit(-1L)).as("sgn"))
    feats.groupBy("bucket", "f")
      .agg(count(lit(1)).as("n"), sum("sgn").as("s"))
      .groupBy("bucket")
      .agg(sum("n").as("n_rows"), count(lit(1)).as("n_features"),
        sum("s").as("signed_sum"))
      .withColumn("collision", col("n_features") > 1)
      .orderBy("bucket")
  }

  private val q316Sql: String =
    "WITH occ AS (SELECT unnest(['cust:' || CAST(o_custkey AS VARCHAR), " +
      "'prio:' || o_orderpriority, 'status:' || o_orderstatus]) AS f FROM orders), " +
      "hf AS (SELECT f, CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) AS h FROM occ), " +
      s"sf AS (SELECT f, h % $FhBuckets AS bucket, " +
      "CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END AS sgn FROM hf), " +
      "pf AS (SELECT bucket, f, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(sgn) AS BIGINT) AS s FROM sf GROUP BY bucket, f) " +
      "SELECT bucket, CAST(SUM(n) AS BIGINT) AS n_rows, " +
      "CAST(COUNT(*) AS BIGINT) AS n_features, " +
      "CAST(SUM(s) AS BIGINT) AS signed_sum, " +
      "COUNT(*) > 1 AS collision " +
      "FROM pf GROUP BY bucket ORDER BY bucket"

  /** q318: embedding-distribution drift monitor — a two-sample test IN
    * EMBEDDING SPACE, the member the drift family lacked (q214's PSI and
    * q263's KS test both need a scalar column; embeddings don't have
    * one): split the corpus into halves (vec_id parity — in production,
    * last week vs this week), and for each of the 32 q124 hyperplanes
    * run a two-proportion z-test on the SIGN RATE P(w·x ≥ 0) between
    * halves. Identically-distributed halves keep every |z| small; a
    * shifted embedding distribution moves the sign rate of the planes
    * aligned with the shift — random sign projections are exactly the
    * cheap sketch of distribution shape that detects this (the
    * sign-rate view of the Charikar signatures q124 already computes).
    * Output per plane: per-half counts/rates, z, and a |z| > 1.96 flag;
    * the max |z| row is the monitor's alarm line.
    *
    * Determinism: counts are exact integers off the sign bit; rates and
    * the closed-form z derive from those ints in fixed expression shape,
    * r6'd. Scale: signatures are the existing narrow projection; ONE
    * ×32 constant-fan-out explode; one map-side-combined 32-group agg —
    * the whole test is arithmetic on 32 rows after one corpus pass. */
  private def q318(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val d = (c: Column) => c.cast("double")
    val sigs = NearDup.hyperplaneSigFrame(Tables(spark, sfDir, "embeddings"))
    val bits = sigs
      .select(col("vec_id"), col("sig"),
        explode(sequence(lit(0), lit(31))).as("p"))
      .select(col("p").cast("bigint").as("plane"),
        (col("vec_id") % 2).as("half"),
        expr("shiftright(sig, cast(p as int)) & 1").as("isset"))
    val agg = bits.groupBy("plane")
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("half") === 0, col("isset")).otherwise(0L)).as("s0"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("half") === 1, col("isset")).otherwise(0L)).as("s1"))
    val (n0, s0, n1, s1) = (d(col("n0")), d(col("s0")), d(col("n1")), d(col("s1")))
    val pp = (s0 + s1) / (n0 + n1)
    val z = (s0 / n0 - s1 / n1) /
      sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n0 + lit(1.0) / n1))
    agg.select(col("plane"), col("n0"), col("s0"), col("n1"), col("s1"),
        Tables.r6(s0 / n0).as("rate0"), Tables.r6(s1 / n1).as("rate1"),
        Tables.r6(z).as("z"))
      .withColumn("drifted", abs(col("z")) > 1.96)
      .orderBy("plane")
  }

  private val q318Sql: String = {
    val z = "(CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1) / " +
      "sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1))"
    NearDup.hyperplaneCtesSql + ", " +
      "pb AS (SELECT vec_id % 2 AS half, p AS plane, " +
      "(sig >> CAST(p AS INT)) & 1 AS isset FROM sig CROSS JOIN range(0, 32) r(p)), " +
      "agg AS (SELECT plane, " +
      "CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, " +
      "CAST(SUM(CASE WHEN half = 0 THEN isset ELSE 0 END) AS BIGINT) AS s0, " +
      "CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
      "CAST(SUM(CASE WHEN half = 1 THEN isset ELSE 0 END) AS BIGINT) AS s1 " +
      "FROM pb GROUP BY plane), " +
      "wp AS (SELECT *, CAST(s0 + s1 AS DOUBLE) / (n0 + n1) AS pp FROM agg) " +
      "SELECT plane, n0, s0, n1, s1, " +
      Tables.r6sql("CAST(s0 AS DOUBLE) / n0") + " AS rate0, " +
      Tables.r6sql("CAST(s1 AS DOUBLE) / n1") + " AS rate1, " +
      Tables.r6sql(z) + " AS z, " +
      "abs(" + Tables.r6sql(z) + ") > 1.96 AS drifted " +
      "FROM wp ORDER BY plane"
  }

  val entries: Seq[Q] = Seq(
    Q("q318_embedding_drift", q318 _, Some(q318Sql)),
    Q("q315_feature_woe", q315 _, Some(q315Sql)),
    Q("q316_feature_hashing", q316 _, Some(q316Sql)),
    Q("q290_quality_classifier", q290 _, Some(q290Sql)),
    Q("q293_embedding_pca", q293 _, Some(q293Sql)),
    Q("q361_embedding_abtt", q361 _, Some(q361Sql)),
    Q("q297_learning_curve", q297 _, Some(q297Sql)),
    Q("q307_embedding_outliers", q307 _, Some {
      val meanSql = Tables.meanDSql("SUM(CAST(vd AS DECIMAL(18,9)))", "COUNT(*)")
      "WITH pe AS MATERIALIZED (SELECT vec_id, " +
        "unnest(range(1, 65)) AS pos, CAST(unnest(embedding) AS DOUBLE) AS vd " +
        "FROM embeddings), " +
        s"cent AS (SELECT pos, $meanSql AS cm FROM pe GROUP BY pos), " +
        "cn AS (SELECT SUM(CAST(" + Tables.r6sql("cm * cm") +
        " AS DECIMAL(18,6))) AS sc2 FROM cent), " +
        "per AS (SELECT vec_id, " +
        "SUM(CAST(" + Tables.r6sql("vd * cm") + " AS DECIMAL(18,6))) AS dot, " +
        "SUM(CAST(" + Tables.r6sql("vd * vd") + " AS DECIMAL(18,6))) AS sv2 " +
        "FROM pe JOIN cent USING (pos) GROUP BY vec_id) " +
        "SELECT vec_id, " +
        Tables.r6sql("CAST(dot AS DOUBLE) / " +
          "(sqrt(CAST(sv2 AS DOUBLE)) * sqrt(CAST(sc2 AS DOUBLE)))") + " AS cos " +
        "FROM per CROSS JOIN cn ORDER BY cos, vec_id LIMIT 20"
    }),
    Q("q312_uncertainty_sampling", q312 _, Some(q312Sql)),
    Q("q311_naive_bayes_langid", q311 _, Some(
      "WITH d AS (SELECT doc_id, lang, text, CAST(" +
        CorpusOps.hexBucketSql(100, "md5(CAST(doc_id AS VARCHAR))") +
        " AS BIGINT) AS db FROM documents), " +
        "tb AS MATERIALIZED (SELECT doc_id, lang, db, b, COUNT(*) AS c FROM (" +
        "SELECT doc_id, lang, db, CAST(" +
        CorpusOps.hexBucketSql(LrBuckets, "md5(t)") + " AS BIGINT) AS b FROM (" +
        "SELECT doc_id, lang, db, unnest(str_split(text, ' ')) AS t FROM d)) " +
        "GROUP BY 1, 2, 3, 4), " +
        "cb AS (SELECT lang, b, SUM(c) AS cnt FROM tb WHERE db < 50 GROUP BY 1, 2), " +
        "ct AS (SELECT lang, SUM(cnt) AS tok FROM cb GROUP BY 1), " +
        "ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d WHERE db < 50), " +
        "pr AS (SELECT lang AS plang, " +
        Tables.r6sql("LN(CAST(COUNT(*) AS DOUBLE) / n)") + " AS lnprior " +
        "FROM d CROSS JOIN ntr WHERE db < 50 GROUP BY lang, n), " +
        "grid AS (SELECT p.plang, g.b, " +
        Tables.r6sql(s"LN(CAST(COALESCE(cnt, 0) + 1 AS DOUBLE) / (tok + $LrBuckets))") +
        " AS lnp FROM pr p CROSS JOIN (SELECT CAST(unnest(range(0, " +
        s"$LrBuckets)) AS BIGINT) AS b) g " +
        "LEFT JOIN cb ON cb.lang = p.plang AND cb.b = g.b " +
        "JOIN ct ON ct.lang = p.plang), " +
        "sc AS (SELECT t.doc_id, g.plang, SUM(CAST(" + Tables.r6sql("c * lnp") +
        " AS DECIMAL(18,6))) AS ll FROM tb t JOIN grid g USING (b) " +
        "WHERE t.db >= 50 GROUP BY 1, 2), " +
        "pred AS (SELECT doc_id, plang AS pred FROM (" +
        "SELECT doc_id, sc.plang, ROW_NUMBER() OVER (PARTITION BY doc_id " +
        "ORDER BY CAST(ll AS DOUBLE) + lnprior DESC, sc.plang) AS rn " +
        "FROM sc JOIN pr ON sc.plang = pr.plang) WHERE rn = 1) " +
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(ok) AS BIGINT) AS n_correct, " +
        Tables.meanDSql("SUM(ok)", "COUNT(*)") + " AS acc " +
        "FROM (SELECT d.lang, CASE WHEN p.pred = d.lang THEN 1 ELSE 0 END AS ok " +
        "FROM d LEFT JOIN pred p USING (doc_id) WHERE d.db >= 50) " +
        "GROUP BY lang ORDER BY lang")),
    Q("q306_kcenter_coreset", q306 _, Some {
      def dotE(x: String, y: String) =
        s"list_sum(list_transform(range(1, 65), i -> " +
          s"CAST($x.embedding[CAST(i AS INT)] AS DOUBLE) * CAST($y.embedding[CAST(i AS INT)] AS DOUBLE)))"
      val d2 = Tables.r6sql(dotE("e", "e")) + " + " + Tables.r6sql(dotE("c", "c")) +
        " - 2.0 * " + Tables.r6sql(dotE("e", "c"))
      val rounds = (1 until CoresetK).map { k =>
        val prev = s"c${k - 1}"
        s"d$k AS (SELECT e.vec_id, MIN(" + Tables.r6sql(d2) + ") AS md " +
          s"FROM embeddings e CROSS JOIN $prev c " +
          s"WHERE e.vec_id NOT IN (SELECT vec_id FROM $prev) GROUP BY e.vec_id), " +
          s"p$k AS (SELECT vec_id, md FROM d$k ORDER BY md DESC, vec_id LIMIT 1), " +
          s"c$k AS (SELECT * FROM $prev UNION ALL " +
          s"SELECT e.vec_id, e.embedding, CAST($k AS BIGINT) AS k, p.md " +
          s"FROM p$k p JOIN embeddings e USING (vec_id))"
      }.mkString(", ")
      "WITH c0 AS (SELECT vec_id, embedding, CAST(0 AS BIGINT) AS k, " +
        "CAST(0.0 AS DOUBLE) AS dist_to_set FROM embeddings " +
        "WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)), " +
        rounds + " " +
        s"SELECT k, vec_id, dist_to_set FROM c${CoresetK - 1} ORDER BY k"
    }),
    Q("q299_decision_stump", q299 _, Some {
      def hs(p: String) =
        s"(-(CASE WHEN $p > 0 THEN $p * LN($p) ELSE 0.0 END) - " +
          s"(CASE WHEN $p < 1 THEN (1.0 - $p) * LN(1.0 - $p) ELSE 0.0 END))"
      val pt = "(post / CAST(nt AS DOUBLE))"
      val pl = "(posl / CAST(nl AS DOUBLE))"
      val pr = "((post - posl) / CAST(nt - nl AS DOUBLE))"
      s"WITH hist AS (SELECT n_chars // $StumpBin AS b, COUNT(*) AS n, " +
        "SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS npos " +
        "FROM documents GROUP BY 1), " +
        "cum AS (SELECT b, SUM(n) OVER w AS nl, SUM(npos) OVER w AS posl " +
        "FROM hist WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW)), " +
        "tot AS (SELECT SUM(n) AS nt, SUM(npos) AS post FROM hist) " +
        s"SELECT CAST((b + 1) * $StumpBin AS BIGINT) AS thr, " +
        "CAST(nl AS BIGINT) AS n_left, CAST(posl AS BIGINT) AS pos_left, " +
        "CAST(nt - nl AS BIGINT) AS n_right, " +
        "CAST(post - posl AS BIGINT) AS pos_right, " +
        Tables.r6sql(s"${hs(pt)} - (CAST(nl AS DOUBLE) / nt) * ${hs(pl)} - " +
          s"(CAST(nt - nl AS DOUBLE) / nt) * ${hs(pr)}") + " AS gain " +
        "FROM cum CROSS JOIN tot WHERE nl < nt ORDER BY gain DESC, thr LIMIT 10"
    }),
    Q("q301_feature_mi_ranking", q301 _, Some {
      def term(nij: String, ri: String, cj: String) =
        s"(CASE WHEN $nij > 0 THEN ($nij / CAST(n AS DOUBLE)) * " +
          s"LN((CAST(n AS DOUBLE) * $nij) / (CAST($ri AS DOUBLE) * $cj)) " +
          "ELSE 0.0 END)"
      val mi = term("n11", "n1", "np") + " + " +
        term("(n1 - n11)", "n1", "(n - np)") + " + " +
        term("(np - n11)", "(n - n1)", "np") + " + " +
        term("(n - np - (n1 - n11))", "(n - n1)", "(n - np)")
      "WITH pres AS (SELECT DISTINCT doc_id, y, CAST(" +
        CorpusOps.hexBucketSql(LrBuckets, "md5(t)") + " AS BIGINT) AS b FROM (" +
        "SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, " +
        "unnest(list_distinct(str_split(text, ' '))) AS t FROM documents)), " +
        "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np " +
        "FROM documents), " +
        "per AS (SELECT b, COUNT(*) AS n1, SUM(y) AS n11 FROM pres GROUP BY b) " +
        "SELECT b AS bucket, CAST(n1 AS BIGINT) AS n_present, " +
        "CAST(n11 AS BIGINT) AS n_pos_present, " +
        Tables.r6sql(mi) + " AS mi " +
        "FROM per CROSS JOIN tot ORDER BY mi DESC, bucket LIMIT 20"
    }),
    Q("q284_label_noise_audit", q284 _, Some {
      val meanSql = Tables.meanDSql("SUM(CAST(vd AS DECIMAL(18,9)))", "COUNT(*)")
      "WITH pe AS MATERIALIZED (SELECT vec_id, label, " +
        "unnest(range(1, 65)) AS pos, CAST(unnest(embedding) AS DOUBLE) AS vd " +
        "FROM embeddings), " +
        s"cent AS (SELECT label, pos, $meanSql AS cm FROM pe GROUP BY 1, 2), " +
        "cn AS (SELECT label, SUM(CAST(" + Tables.r6sql("cm * cm") +
        " AS DECIMAL(18,6))) AS sc2 FROM cent GROUP BY label), " +
        "per AS (SELECT vec_id, pe.label, " +
        "SUM(CAST(" + Tables.r6sql("vd * cm") + " AS DECIMAL(18,6))) AS dot, " +
        "SUM(CAST(" + Tables.r6sql("vd * vd") + " AS DECIMAL(18,6))) AS sv2 " +
        "FROM pe JOIN cent ON pe.label = cent.label AND pe.pos = cent.pos " +
        "GROUP BY 1, 2) " +
        "SELECT vec_id, per.label, " +
        Tables.r6sql("CAST(dot AS DOUBLE) / " +
          "(sqrt(CAST(sv2 AS DOUBLE)) * sqrt(CAST(sc2 AS DOUBLE)))") + " AS cos " +
        "FROM per JOIN cn ON per.label = cn.label " +
        "ORDER BY cos, vec_id LIMIT 20"
    }),
    Q("q273_span_corruption", q273 _, Some {
      def m(i: String) = maskSql(i, "VARCHAR")
      "SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens, " +
        s"CAST(len(list_filter(range(0, len(ts)), i -> ${m("i")})) AS BIGINT) AS n_masked, " +
        "COALESCE(array_to_string(list_filter(list_transform(range(0, len(ts)), i -> " +
        s"CASE WHEN NOT ${m("i")} THEN list_extract(ts, CAST(i + 1 AS INT)) " +
        s"WHEN i = 0 OR NOT ${m("i - 1")} THEN '<X>' ELSE NULL END), " +
        "x -> x IS NOT NULL), ' '), '') AS corrupted, " +
        "COALESCE(array_to_string(list_filter(list_transform(range(0, len(ts)), i -> " +
        s"CASE WHEN ${m("i")} AND (i = 0 OR NOT ${m("i - 1")}) THEN concat('<X> ', list_extract(ts, CAST(i + 1 AS INT))) " +
        s"WHEN ${m("i")} THEN list_extract(ts, CAST(i + 1 AS INT)) ELSE NULL END), " +
        "x -> x IS NOT NULL), ' '), '') AS target " +
        "FROM (SELECT doc_id, str_split(text, ' ') AS ts FROM documents) " +
        "ORDER BY doc_id"
    }),
    Q("q251_split_temporal", q251 _, Some(
      "SELECT split, COUNT(*) AS n_orders, " +
        "MIN(CAST(o_orderdate AS DATE)) AS min_date, " +
        "MAX(CAST(o_orderdate AS DATE)) AS max_date FROM (" +
        "SELECT CASE WHEN CAST(o_orderdate AS DATE) < DATE '1999-01-01' - 30 " +
        "THEN 'train' WHEN CAST(o_orderdate AS DATE) < DATE '1999-01-01' " +
        "THEN 'embargo' ELSE 'test' END AS split, o_orderdate FROM orders) " +
        "GROUP BY split ORDER BY split")),
    Q("q252_sample_diversity", q252 _, Some(
      "SELECT CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 8) AS BIGINT) AS cx, " +
        "CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 8) AS BIGINT) AS cy, " +
        "MIN(vec_id) AS rep_id, COUNT(*) AS n_members " +
        "FROM embeddings GROUP BY cx, cy ORDER BY cx, cy")),
    Q("q153_knn_classify", q153 _, Some {
      val sgn = "(CASE WHEN (((p * 64 + j) * 2654435761) % 1000003) % 2 = 0 THEN 1.0 ELSE -1.0 END)"
      val dotPlane =
        s"list_sum(list_transform(range(1, 65), j -> CAST(e.embedding[CAST(j AS INT)] AS DOUBLE) * $sgn))"
      val dotPC = NearDup.dotSql("pv", "cv")
      val nP = s"sqrt(${NearDup.dotSql("pv", "pv")})"
      val nC = s"sqrt(${NearDup.dotSql("cv", "cv")})"
      "WITH bits AS (SELECT e.vec_id, p, " +
        s"CASE WHEN $dotPlane >= 0 THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE CAST(0 AS BIGINT) END AS bit " +
        "FROM embeddings e CROSS JOIN range(0, 32) r(p)), " +
        "sig AS (SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS sig FROM bits GROUP BY vec_id), " +
        "banded AS (SELECT vec_id, b, (sig >> CAST(b * 4 AS INT)) & 15 AS k " +
        "FROM sig CROSS JOIN range(0, 8) r(b)), " +
        "cand AS (SELECT DISTINCT a.vec_id AS id_p, c.vec_id AS id_c FROM " +
        NearDup.multiProbeSql("banded") + " a " +
        "JOIN banded c ON a.b = c.b AND a.k = c.k " +
        "WHERE a.vec_id < 20 AND c.vec_id >= 20), " +
        "top5 AS (SELECT id_p, id_c, c_label FROM (SELECT cand.id_p, cand.id_c, cv.label AS c_label, " +
        "ROW_NUMBER() OVER (PARTITION BY cand.id_p ORDER BY " +
        Tables.r6sql(s"$dotPC / ($nP * $nC)") + " DESC, cand.id_c) AS rn " +
        "FROM cand JOIN embeddings pv ON cand.id_p = pv.vec_id " +
        "JOIN embeddings cv ON cand.id_c = cv.vec_id) WHERE rn <= 5), " +
        "votes AS (SELECT id_p, c_label, COUNT(*) AS votes, " +
        "ROW_NUMBER() OVER (PARTITION BY id_p ORDER BY COUNT(*) DESC, c_label) AS vr " +
        "FROM top5 GROUP BY id_p, c_label) " +
        "SELECT v.id_p, e.label AS true_label, v.c_label AS pred_label, v.votes " +
        "FROM votes v JOIN embeddings e ON v.id_p = e.vec_id " +
        "WHERE v.vr = 1 ORDER BY v.id_p"
    }),
    Q("q279_hard_negatives", q279 _, Some {
      val sgn = "(CASE WHEN (((p * 64 + j) * 2654435761) % 1000003) % 2 = 0 THEN 1.0 ELSE -1.0 END)"
      val dotPlane =
        s"list_sum(list_transform(range(1, 65), j -> CAST(e.embedding[CAST(j AS INT)] AS DOUBLE) * $sgn))"
      val dotPC = NearDup.dotSql("pv", "cv")
      val nP = s"sqrt(${NearDup.dotSql("pv", "pv")})"
      val nC = s"sqrt(${NearDup.dotSql("cv", "cv")})"
      "WITH bits AS (SELECT e.vec_id, p, " +
        s"CASE WHEN $dotPlane >= 0 THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE CAST(0 AS BIGINT) END AS bit " +
        "FROM embeddings e CROSS JOIN range(0, 32) r(p)), " +
        "sig AS (SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS sig FROM bits GROUP BY vec_id), " +
        "banded AS (SELECT vec_id, b, (sig >> CAST(b * 4 AS INT)) & 15 AS k " +
        "FROM sig CROSS JOIN range(0, 8) r(b)), " +
        "cand AS (SELECT DISTINCT a.vec_id AS id_p, c.vec_id AS id_c FROM " +
        NearDup.multiProbeSql("banded") + " a " +
        "JOIN banded c ON a.b = c.b AND a.k = c.k " +
        "WHERE a.vec_id < 10 AND c.vec_id <> a.vec_id) " +
        "SELECT id_p, p_label, id_c, c_label, cos, rn FROM (" +
        "SELECT cand.id_p, pv.label AS p_label, cand.id_c, cv.label AS c_label, " +
        Tables.r6sql(s"$dotPC / ($nP * $nC)") + " AS cos, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY cand.id_p ORDER BY " +
        Tables.r6sql(s"$dotPC / ($nP * $nC)") + " DESC, cand.id_c) AS BIGINT) AS rn " +
        "FROM cand JOIN embeddings pv ON cand.id_p = pv.vec_id " +
        "JOIN embeddings cv ON cand.id_c = cv.vec_id " +
        "WHERE pv.label <> cv.label) WHERE rn <= 3 ORDER BY id_p, rn"
    }),
    Q("q157_contrastive_pairs", q157 _, Some(
      "WITH " + NearDup.simhashCtes("documents") + ", " +
        "banded AS (SELECT doc_id, simhash, b, (simhash >> CAST(b * 8 AS INT)) & 255 AS k " +
        "FROM sh CROSS JOIN range(0, 4) r(b)), " +
        "pos AS (SELECT ia AS id_a, ib AS id_b, hamming FROM (" +
        "SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming " +
        "FROM banded a JOIN banded b ON a.b = b.b AND a.k = b.k AND a.doc_id < b.doc_id) " +
        "WHERE hamming <= 3), " +
        "ranked AS (SELECT doc_id, simhash, ROW_NUMBER() OVER (ORDER BY " +
        "md5('neg:' || CAST(doc_id AS VARCHAR)), doc_id) AS r FROM sh), " +
        "meta AS (SELECT (SELECT COUNT(*) FROM ranked) AS n_docs, " +
        "(SELECT COUNT(*) FROM pos) AS n_pos), " +
        "neg AS (SELECT LEAST(x.doc_id, y.doc_id) AS id_a, " +
        "GREATEST(x.doc_id, y.doc_id) AS id_b, " +
        "CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming " +
        "FROM ranked x CROSS JOIN meta m JOIN ranked y " +
        "ON y.r = x.r + m.n_docs // 2 " +
        "WHERE x.r <= m.n_pos AND x.r + m.n_docs // 2 <= m.n_docs) " +
        "SELECT 1 AS label, id_a, id_b, hamming FROM pos " +
        "UNION ALL SELECT 0 AS label, id_a, id_b, hamming FROM neg " +
        "ORDER BY label DESC, id_a, id_b")),
    Q("q158_context_windows", q158 _, Some(
      s"SELECT doc_id, CAST(w AS INT) AS win_id, " +
        s"array_to_string(ts[CAST(w * $CtxStride + 1 AS INT):CAST(w * $CtxStride + $CtxLen AS INT)], ' ') AS context, " +
        s"ts[CAST(w * $CtxStride + ${CtxLen + 1} AS INT)] AS target " +
        // length-derived bound mirroring the Spark sequence(0, (size-(C+1)) DIV S)
        // exactly — a fixed range() cap would silently diverge on longer docs
        s"FROM (SELECT doc_id, ts, unnest(range(0, CASE WHEN len(ts) >= ${CtxLen + 1} " +
        s"THEN (len(ts) - ${CtxLen + 1}) // $CtxStride + 1 ELSE 0 END)) AS w " +
        "FROM (SELECT doc_id, str_split(text, ' ') AS ts FROM documents)) s " +
        "ORDER BY doc_id, win_id")),
    Q("q160_bpe_merges", q160 _, Some(
      s"WITH $VocabPairsCtes " +
        "SELECT lang, rank, pair, cnt FROM (SELECT lang, pair, cnt, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, pair) AS BIGINT) AS rank " +
        "FROM pairs) WHERE rank <= 10 ORDER BY lang, rank")),
    Q("q167_bpe_apply", q167 _, Some(
      s"WITH $VocabPairsCtes, " +
        "merge AS (SELECT lang, pair FROM (SELECT lang, pair, " +
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, pair) AS rn " +
        "FROM pairs) WHERE rn = 1), " +
        "applied AS (SELECT v.lang, m.pair, v.freq, CAST(len(v.w) AS BIGINT) AS lw, " +
        "CAST((len(v.w) - len(replace(v.w, m.pair, ''))) // 2 AS BIGINT) AS occ " +
        "FROM vocab v JOIN merge m ON v.lang = m.lang) " +
        "SELECT lang, pair, " +
        "CAST(SUM(CASE WHEN occ > 0 THEN freq ELSE 0 END) AS BIGINT) AS words_affected, " +
        "CAST(SUM(freq * lw) AS BIGINT) AS tokens_before, " +
        "CAST(SUM(freq * (lw - occ)) AS BIGINT) AS tokens_after, " +
        Tables.r6sql("CAST(SUM(freq * (lw - occ)) AS DOUBLE) / SUM(freq * lw)") +
        " AS compression " +
        "FROM applied GROUP BY lang, pair ORDER BY lang")),
    Q("q168_dataset_card", q168 _, Some {
      val quality = "0.001 * n_chars + " +
        "0.5 * (CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)) - " +
        "(CAST(len(list_filter(ts, t -> t IN ('the', 'a'))) AS DOUBLE) / len(ts))"
      "WITH perdoc AS (SELECT lang, CAST(len(ts) AS BIGINT) AS n_tokens, " +
        s"CAST(${Tables.r6sql(quality)} AS DECIMAL(18,6)) AS q " +
        "FROM (SELECT lang, n_chars, str_split(text, ' ') AS ts FROM documents)), " +
        "cards AS (SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, " +
        "CAST(SUM(q) AS DECIMAL(28,6)) AS qs FROM perdoc GROUP BY lang), " +
        "tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nd, " +
        "CAST(SUM(total_tokens) AS BIGINT) AS nt FROM cards) " +
        "SELECT lang, n_docs, total_tokens, " +
        Tables.meanDSql("total_tokens", "n_docs") + " AS avg_tokens, " +
        Tables.r6sql("CAST(n_docs AS DOUBLE) / nd") + " AS share_docs, " +
        Tables.r6sql("CAST(total_tokens AS DOUBLE) / nt") + " AS share_tokens, " +
        Tables.meanDSql("qs", "n_docs") + " AS avg_quality " +
        "FROM cards CROSS JOIN tot ORDER BY lang"
    }),
    Q("q169_stratified_kfold", q169 _, Some(
      "WITH ranked AS (SELECT lang, " +
        "ROW_NUMBER() OVER (PARTITION BY lang " +
        "ORDER BY md5('fold:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn " +
        "FROM documents) " +
        "SELECT lang, (rn - 1) % 5 AS fold, COUNT(*) AS n_docs " +
        "FROM ranked GROUP BY lang, fold ORDER BY lang, fold")),
    Q("q216_feature_matrix", q216 _, Some {
      def tc(t: String) =
        s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t"
      "WITH daily AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day, " +
        "CAST(COUNT(*) AS BIGINT) AS n_events, " +
        s"${tc("click")}, ${tc("view")}, ${tc("purchase")}, " +
        s"${tc("error")}, ${tc("signup")}, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS v_dec " +
        "FROM events GROUP BY 1, 2), " +
        "w AS (SELECT *, SUM(v_dec) OVER wr AS roll_s, " +
        "CAST(COUNT(*) OVER wr AS BIGINT) AS roll_n FROM daily " +
        "WINDOW wr AS (PARTITION BY user_id ORDER BY day " +
        "RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)) " +
        "SELECT w.user_id, w.day, w.n_events, w.n_click, w.n_view, " +
        "w.n_purchase, w.n_error, w.n_signup, " +
        Tables.r6sql("CAST(w.v_dec AS DOUBLE)") + " AS v_sum, " +
        Tables.r6sql("CAST(l1.v_dec AS DOUBLE)") + " AS v_lag1, " +
        Tables.r6sql("CAST(l7.v_dec AS DOUBLE)") + " AS v_lag7, " +
        Tables.meanDSql("w.roll_s", "w.roll_n") + " AS v_roll7_mean, " +
        "w.roll_n AS n_roll7, (w.day + 4) % 7 AS dow " +
        "FROM w LEFT JOIN daily l1 ON l1.user_id = w.user_id AND l1.day = w.day - 1 " +
        "LEFT JOIN daily l7 ON l7.user_id = w.user_id AND l7.day = w.day - 7 " +
        "ORDER BY w.user_id, w.day"
    }),
  )
}
