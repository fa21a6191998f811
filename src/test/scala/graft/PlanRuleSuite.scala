package graft

import graft.plans.LevenshteinPrefilter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom optimizer rule executing: LevenshteinPrefilter must inject
  * the O(1) length lower-bound ahead of the O(n·m) edit-distance filter,
  * preserve results exactly, and stay idempotent under the optimizer's
  * fixed-point batches. (The source is a `range`, not a local Seq — a
  * LocalRelation would be constant-folded away before the plan can be
  * inspected.) */
class PlanRuleSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def corpus = spark.range(0, 200).select(
    concat(lit("name"), col("id").cast("string")).as("a"),
    lit("name5").as("b"))

  test("levenshtein threshold filters gain a short-circuit length bound") {
    // the session installs the rule at build time: take it out for the
    // un-optimized baseline, then add it back exactly once
    val prev = spark.experimental.extraOptimizations
    val off = prev.filterNot(_ eq LevenshteinPrefilter)
    spark.experimental.extraOptimizations = off
    try {
      val baseline = corpus.filter(expr("levenshtein(a, b) <= 2"))
        .collect().map(_.getString(0)).toSet
      assert(!corpus.filter(expr("levenshtein(a, b) <= 2")).queryExecution
        .optimizedPlan.toString.toLowerCase.contains("abs("))
      spark.experimental.extraOptimizations = off :+ LevenshteinPrefilter
      val q = corpus.filter(expr("levenshtein(a, b) <= 2"))
      val opt = q.queryExecution.optimizedPlan.toString.toLowerCase
      assert(opt.contains("abs(") && opt.contains("length("),
        s"length bound not injected:\n$opt")
      // the guard is injected exactly once (idempotent under fixed point)
      assert("abs\\(".r.findAllIn(opt).size == 1, s"guard duplicated:\n$opt")
      // semantics preserved vs the un-optimized run
      assert(q.collect().map(_.getString(0)).toSet == baseline)
      // strict variant: < 1 means identical strings only
      val q2 = corpus.filter(expr("levenshtein(a, b) < 1"))
      assert(q2.collect().map(_.getString(0)).toSeq == Seq("name5"))
      assert("abs\\(".r.findAllIn(
        q2.queryExecution.optimizedPlan.toString.toLowerCase).size == 1)
      // reversed comparison gets the guard too
      val q3 = corpus.filter(expr("2 >= levenshtein(a, b)"))
      assert(q3.collect().map(_.getString(0)).toSet == baseline)
      assert("abs\\(".r.findAllIn(
        q3.queryExecution.optimizedPlan.toString.toLowerCase).size == 1)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("LevenshteinPrefilter rule-on/rule-off differential on adversarial inputs (r17 audit)") {
    // guarantee-class check (SCALING.md rule audit): the injected length
    // bound must be result-identical on the shapes where the implication
    // could plausibly break — NULL operands (three-valued logic: both
    // levenshtein and the length bound go NULL → filter drops the row
    // either way), empty strings, threshold 0, negative thresholds
    // (both predicates unsatisfiable), and a NON-literal threshold where
    // the rule must simply not fire.
    import spark.implicits._
    val adversarial = Seq(
      (Option("abc"), Option("abd"), 1), (None, Option("x"), 3),
      (Option("x"), None, 3), (None: Option[String], None: Option[String], 2),
      (Option(""), Option(""), 0), (Option(""), Option("abc"), 2),
      (Option("same"), Option("same"), 0), (Option("ab"), Option("ba"), -1)
    ).toDF("a", "b", "k").localCheckpoint(true)
    val prev = spark.experimental.extraOptimizations
    def results(q: org.apache.spark.sql.DataFrame): Set[String] =
      q.collect().map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}").toSet
    // rule OFF (and not installed via Tables/GraftRules on this frame path)
    spark.experimental.extraOptimizations =
      prev.filterNot(_ eq graft.plans.LevenshteinPrefilter)
    val offFixed = results(adversarial.filter(expr("levenshtein(a, b) <= 1")))
    val offVar = results(adversarial.filter(expr("levenshtein(a, b) <= k")))
    val offNeg = results(adversarial.filter(expr("levenshtein(a, b) <= -1")))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.LevenshteinPrefilter
    try {
      val onFixedQ = adversarial.filter(expr("levenshtein(a, b) <= 1"))
      assert(onFixedQ.queryExecution.optimizedPlan.toString.toLowerCase.contains("abs("),
        "rule did not fire on the literal-threshold shape")
      assert(results(onFixedQ) == offFixed, "literal-threshold results diverged")
      val onVarQ = adversarial.filter(expr("levenshtein(a, b) <= k"))
      assert(!onVarQ.queryExecution.optimizedPlan.toString.toLowerCase.contains("abs("),
        "rule fired on a NON-literal threshold — out of its declared scope")
      assert(results(onVarQ) == offVar, "non-literal-threshold results diverged")
      assert(results(adversarial.filter(expr("levenshtein(a, b) <= -1"))) == offNeg
        && offNeg.isEmpty, "negative threshold must keep zero rows on both paths")
    } finally spark.experimental.extraOptimizations = prev
  }

  // ---- SimilarityBandRewrite (VERDICT r12 item 1) ----

  private def simVec(i: Long): Array[Float] =
    Array.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat)

  /** The raw user-written brute-force all-pairs shape the rule targets:
    * a no-equi-key theta join with per-pair vector math above it. */
  private def bruteShape(n: Int) = {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val emb = (0L until n.toLong).map(i => (i, simVec(i))).toDF("vid", "emb")
    val a = emb.select(col("vid").as("id_a"), col("emb").as("ea"))
    val b = emb.select(col("vid").as("id_b"), col("emb").as("eb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), expr("round(graft_dot(ea, eb), 6)").as("dot"))
  }

  test("SimilarityBandRewrite: no fire at fixture scale / conf-off; fires above threshold with subset semantics") {
    graft.plans.GraftRules.install(spark)
    val pairsKey = graft.plans.SimilarityBandRewrite.PairsKey
    val enabledKey = graft.plans.SimilarityBandRewrite.EnabledKey
    try {
      // 1. default threshold (72e6 pairs): a 300-vector frame is far below —
      //    plan untouched, results are the exact brute-force pairs
      val exactQ = bruteShape(300)
      assert(!exactQ.queryExecution.optimizedPlan.toString.contains("graft_bk"),
        "rule fired below the crossover")
      val exact = exactQ.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(exact.size == 300 * 299 / 2)

      // 2. threshold lowered: the SAME shape now plans the banded equi-join
      spark.conf.set(pairsKey, "1000")
      spark.conf.set(graft.plans.SimilarityBandRewrite.SmallSideFloorKey, "1")
      val lshQ = bruteShape(300)
      val opt = lshQ.queryExecution.optimizedPlan.toString
      assert(opt.contains("graft_bk"), s"rule did not fire:\n$opt")
      // idempotent under the fixed-point batch: one banded join = exactly
      // two explodes (one per side), not four
      assert("explode".r.findAllIn(opt.toLowerCase).size == 2,
        s"rewrite nested/duplicated:\n$opt")
      // the nested loop is GONE from the physical plan
      val phys = lshQ.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoop") && !phys.contains("CartesianProduct"),
        s"still a nested loop:\n$phys")
      // schema unchanged; results are a DEDUPED SUBSET with identical values
      assert(lshQ.schema == exactQ.schema)
      val got = lshQ.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      assert(got.map(_._1).distinct.length == got.length, "pair emitted twice (first-match dedup broken)")
      assert(got.nonEmpty, "banded join produced zero candidates")
      got.foreach { case (pair, dot) =>
        assert(exact.get(pair).contains(dot), s"pair $pair: value diverged or not in exact set")
      }

      // 3. explicit broadcast hint = bounded-probe declaration → honored, no fire
      val hinted = {
        import spark.implicits._
        val emb = (0L until 300L).map(i => (i, simVec(i))).toDF("vid", "emb")
        val a = emb.select(col("vid").as("id_a"), col("emb").as("ea"))
        val b = emb.select(col("vid").as("id_b"), col("emb").as("eb"))
        broadcast(a).join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), expr("round(graft_dot(ea, eb), 6)").as("dot"))
      }
      assert(!hinted.queryExecution.optimizedPlan.toString.contains("graft_bk"),
        "rule hijacked an explicitly broadcast (bounded-probe) join")

      // 4. the opt-out conf
      spark.conf.set(enabledKey, "false")
      assert(!bruteShape(300).queryExecution.optimizedPlan.toString.contains("graft_bk"))
    } finally {
      spark.conf.unset(pairsKey)
      spark.conf.unset(enabledKey)
      spark.conf.unset(graft.plans.SimilarityBandRewrite.SmallSideFloorKey)
    }
  }

  test("SimilarityBandRewrite: fires on the threshold-Filter and dot-in-condition shapes too") {
    graft.plans.GraftRules.install(spark)
    val pairsKey = graft.plans.SimilarityBandRewrite.PairsKey
    try {
      spark.conf.set(pairsKey, "1000")
      spark.conf.set(graft.plans.SimilarityBandRewrite.SmallSideFloorKey, "1")
      import spark.implicits._
      graft.functions.VectorExpressions.register(spark)
      val emb = (0L until 200L).map(i => (i, simVec(i))).toDF("vid", "emb")
      val a = emb.select(col("vid").as("id_a"), col("emb").as("ea"))
      val b = emb.select(col("vid").as("id_b"), col("emb").as("eb"))
      // q62-style: cosine computed in a Project, thresholded in a Filter —
      // the optimizer pushes the predicate into the join or leaves a
      // Filter above it; either way the rule must fire
      val thresholdShape = a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          expr("round(graft_dot(ea, eb) / (sqrt(graft_dot(ea, ea)) * sqrt(graft_dot(eb, eb))), 6)").as("cos"))
        .filter(col("cos") >= 0.3)
      val opt1 = thresholdShape.queryExecution.optimizedPlan.toString
      assert(opt1.contains("graft_bk"), s"threshold shape did not fire:\n$opt1")
      assert(!thresholdShape.queryExecution.executedPlan.toString.contains("BroadcastNestedLoop"))
      // dot directly inside the join condition
      val condShape = a.join(b,
        col("id_a") < col("id_b") && expr("graft_dot(ea, eb)") > lit(50.0))
      val opt2 = condShape.queryExecution.optimizedPlan.toString
      assert(opt2.contains("graft_bk"), s"dot-in-condition shape did not fire:\n$opt2")
      assert("explode".r.findAllIn(opt2.toLowerCase).size == 2, s"duplicated rewrite:\n$opt2")
      // both still run and dedup pairs
      val pairs = condShape.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.distinct.length == pairs.length)
    } finally {
      spark.conf.unset(pairsKey)
      spark.conf.unset(graft.plans.SimilarityBandRewrite.SmallSideFloorKey)
    }
  }

  test("SimilarityBandRewrite: banded candidates carry the canonical q124 signature (recall sanity)") {
    // the rewrite shares Hyperplanes with q124/q314 — at the house band
    // config, near-identical vectors MUST collide (their signatures agree
    // on every band), so self-similar pairs always survive the pruning
    graft.plans.GraftRules.install(spark)
    val pairsKey = graft.plans.SimilarityBandRewrite.PairsKey
    try {
      spark.conf.set(pairsKey, "1000")
      spark.conf.set(graft.plans.SimilarityBandRewrite.SmallSideFloorKey, "1")
      import spark.implicits._
      graft.functions.VectorExpressions.register(spark)
      // 100 base vectors + a clone of each (ids 1000+i) — clones are
      // exact duplicates, so every (i, 1000+i) pair must be a candidate
      val base = (0L until 100L).map(i => (i, simVec(i)))
      val clones = base.map { case (i, v) => (1000L + i, v) }
      val emb = (base ++ clones).toDF("vid", "emb")
      val a = emb.select(col("vid").as("id_a"), col("emb").as("ea"))
      val b = emb.select(col("vid").as("id_b"), col("emb").as("eb"))
      val q = a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), expr("round(graft_dot(ea, eb), 6)").as("dot"))
      assert(q.queryExecution.optimizedPlan.toString.contains("graft_bk"))
      val pairs = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (0L until 100L).foreach { i =>
        assert(pairs.contains((i, 1000L + i)),
          s"exact-duplicate pair ($i, ${1000L + i}) lost by the banded join")
      }
    } finally {
      spark.conf.unset(pairsKey)
      spark.conf.unset(graft.plans.SimilarityBandRewrite.SmallSideFloorKey)
    }
  }

  test("SimilarityBandRewrite: fails closed on unknown stats and on non-dot float-array co-occurrence") {
    // ADVICE r13: (1) LogicalRDD-backed plans report sizeInBytes =
    // spark.sql.defaultSizeInBytes ("I know nothing"), which naively
    // estimates ~3.6e16 rows — the rule must treat that as UNKNOWN and
    // keep the exact plan; (2) arbitrary per-pair float-array math
    // (zip_with over an intentional cross join) is not a similarity
    // query and must never trigger the result-changing rewrite.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    graft.plans.GraftRules.install(spark)
    graft.functions.VectorExpressions.register(spark)
    val pairsKey = graft.plans.SimilarityBandRewrite.PairsKey
    try {
      spark.conf.set(pairsKey, "1000")
      spark.conf.set(graft.plans.SimilarityBandRewrite.SmallSideFloorKey, "1")
      // 1. RDD-backed frame: no real stats → no fire, results exact
      val schema = StructType(Seq(
        StructField("vid", LongType, nullable = false),
        StructField("emb", ArrayType(FloatType, containsNull = false))))
      val rdd = spark.sparkContext.parallelize(
        (0L until 50L).map(i => Row(i, simVec(i).toSeq)), 4)
      val embRdd = spark.createDataFrame(rdd, schema)
      val a = embRdd.select(col("vid").as("id_a"), col("emb").as("ea"))
      val b = embRdd.select(col("vid").as("id_b"), col("emb").as("eb"))
      val q = a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), expr("round(graft_dot(ea, eb), 6)").as("dot"))
      assert(!q.queryExecution.optimizedPlan.toString.contains("graft_bk"),
        "rule fired on a stats-less LogicalRDD plan — candidate pruning must fail closed")
      assert(q.count() == 50L * 49 / 2, "exact all-pairs result was pruned")

      // 1b. r15 review: a NARROWING Project over the stats-less RDD
      // scales the sizeInBytes sentinel BELOW defaultSizeInBytes (the
      // visitor multiplies by the width ratio), so the plan-level
      // compare alone would produce a bogus huge row estimate and fire.
      // The leaf-level check must still fail closed.
      val wideSchema = StructType(Seq(
        StructField("vid", LongType, nullable = false),
        StructField("emb", ArrayType(FloatType, containsNull = false)),
        StructField("pad1", StringType), StructField("pad2", StringType),
        StructField("pad3", StringType), StructField("pad4", StringType)))
      val wideRdd = spark.sparkContext.parallelize(
        (0L until 50L).map(i => Row(i, simVec(i).toSeq,
          "x" * 40, "y" * 40, "z" * 40, "w" * 40)), 4)
      val wideDf = spark.createDataFrame(wideRdd, wideSchema)
      val na2 = wideDf.select(col("vid").as("id_a"), col("emb").as("ea"))
      val nb2 = wideDf.select(col("vid").as("id_b"), col("emb").as("eb"))
      val q2 = na2.join(nb2, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), expr("round(graft_dot(ea, eb), 6)").as("dot"))
      assert(!q2.queryExecution.optimizedPlan.toString.contains("graft_bk"),
        "rule fired through a narrowing Project over a stats-less leaf — " +
          "the width-scaled sentinel bypassed the fail-closed guard")
      assert(q2.count() == 50L * 49 / 2)

      // 2. per-pair vector math that is NOT the similarity kernel:
      //    zip_with / struct over the same large-enough local frames
      import spark.implicits._
      val emb = (0L until 300L).map(i => (i, simVec(i))).toDF("vid", "emb")
      val al = emb.select(col("vid").as("id_a"), col("emb").as("ea"))
      val bl = emb.select(col("vid").as("id_b"), col("emb").as("eb"))
      val zw = al.join(bl, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), expr("zip_with(ea, eb, (x, y) -> x + y)").as("s"))
      assert(!zw.queryExecution.optimizedPlan.toString.contains("graft_bk"),
        "rule hijacked a non-similarity zip_with pair enumeration")
      val st = al.join(bl, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), struct(col("ea"), col("eb")).as("p"))
      assert(!st.queryExecution.optimizedPlan.toString.contains("graft_bk"),
        "rule hijacked a struct(ea, eb) pair enumeration")
      // positive control: the SAME frames with the real kernel DO fire
      val ctl = al.join(bl, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), expr("round(graft_dot(ea, eb), 6)").as("dot"))
      assert(ctl.queryExecution.optimizedPlan.toString.contains("graft_bk"),
        "positive control: kernel shape no longer fires")
    } finally {
      spark.conf.unset(pairsKey)
      spark.conf.unset(graft.plans.SimilarityBandRewrite.SmallSideFloorKey)
    }
  }

  test("SimilarityBandRewrite narrow path: payloads do NOT ride the band exchange; wide fallback still fires") {
    // VERDICT r14 item 1: when each side is exactly (scalar id, vector),
    // the rewrite must take the hand-written q124/q314 shape — a narrow
    // (id, sig, bk) band join producing deduped candidate id pairs, with
    // payloads re-attached by ONE id equi-join per side — instead of
    // shuffling the vectors ×NBands through the band exchange.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join => LJoin}
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    graft.plans.GraftRules.install(spark)
    val pairsKey = graft.plans.SimilarityBandRewrite.PairsKey
    try {
      spark.conf.set(pairsKey, "1000")
      spark.conf.set(graft.plans.SimilarityBandRewrite.SmallSideFloorKey, "1")
      import spark.implicits._
      graft.functions.VectorExpressions.register(spark)

      // 1. narrow fire-path: the band join's OWN inputs carry no vector
      val q = bruteShape(300)
      val opt = q.queryExecution.optimizedPlan
      assert(opt.toString.contains("graft_bk"), s"did not fire:\n$opt")
      val bandJoins = opt.collect {
        case j: LJoin if j.condition.exists(_.references.exists(_.name == "graft_bk")) => j
      }
      assert(bandJoins.nonEmpty, s"no band join found:\n$opt")
      bandJoins.foreach { bj =>
        val rode = (bj.left.output ++ bj.right.output)
          .filter(_.dataType.isInstanceOf[ArrayType])
        assert(rode.isEmpty,
          s"payload columns ride the band exchange: ${rode.map(_.name)}\n$opt")
      }
      // the candidate id pairs are deduped by an id-level Aggregate
      assert(opt.collect { case a: Aggregate => a }.exists(
        _.groupingExpressions.length == 2), s"no candidate dedup Aggregate:\n$opt")
      // results: still a subset of brute force with identical values
      val pairs = q.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.nonEmpty && pairs.distinct.length == pairs.length)

      // 2. duplicate ids: candidate dedup at the id level must keep row
      //    multiplicity exact (each qualifying row pair exactly once)
      val dup = (0L until 120L).map(i => (i % 60, simVec(i % 60))) // every id twice, identical vecs
        .toDF("vid", "emb")
      val da = dup.select(col("vid").as("id_a"), col("emb").as("ea"))
      val db = dup.select(col("vid").as("id_b"), col("emb").as("eb"))
      val dq = da.join(db, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), expr("round(graft_dot(ea, eb), 6)").as("dot"))
      assert(dq.queryExecution.optimizedPlan.toString.contains("graft_bk"))
      val dGot = dq.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // brute force emits each qualifying (rowA, rowB) pair once = 4 copies
      // per (id_a < id_b) id pair (2 rows per id each side); the narrow
      // path must reproduce exactly that multiplicity for surviving pairs
      val byIdPair = dGot.groupBy(t => (t._1, t._2)).values.map(_.length).toSet
      assert(byIdPair == Set(4),
        s"duplicate-id multiplicity broken: copies per id pair = $byIdPair")

      // 3. a side with an extra payload column (no single row identity):
      //    wide fallback fires, payload rides — documented trade-off
      val wa = (0L until 300L).map(i => (i, simVec(i), s"p$i"))
        .toDF("vid", "emb", "pay")
        .select(col("vid").as("id_a"), col("emb").as("ea"), col("pay"))
      val wq = wa.join(db, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("pay"),
          expr("round(graft_dot(ea, eb), 6)").as("dot"))
      val wopt = wq.queryExecution.optimizedPlan
      assert(wopt.toString.contains("graft_bk"), s"wide fallback did not fire:\n$wopt")
      val wBand = wopt.collect {
        case j: LJoin if j.condition.exists(_.references.exists(_.name == "graft_bk")) => j
      }
      assert(wBand.exists(bj => (bj.left.output ++ bj.right.output)
        .exists(_.dataType.isInstanceOf[ArrayType])),
        "wide fallback unexpectedly went narrow — payload would be lost")
      assert(wq.collect().nonEmpty)

      // 4. NULL ids: the documented narrow-path contract — NULL-id rows
      //    cannot survive the inner re-attach equi-join (exactly like the
      //    hand-written q124/q314 index operators, which also join back
      //    by id); the result stays a subset with identical values and
      //    non-NULL pairs are unaffected
      val nid = (0L until 300L).map(i =>
          (if (i % 50 == 0) None else Some(i), simVec(i)))
        .toDF("vid", "emb")
      val na = nid.select(col("vid").as("id_a"), col("emb").as("ea"))
      val nb = nid.select(col("vid").as("id_b"), col("emb").as("eb"))
      val nq = na.join(nb, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), expr("round(graft_dot(ea, eb), 6)").as("dot"))
      assert(nq.queryExecution.optimizedPlan.toString.contains("graft_bk"))
      val nGot = nq.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      assert(nGot.nonEmpty && nGot.forall { case ((a, b), _) => a % 50 != 0 && b % 50 != 0 },
        "a NULL-id row leaked through the narrow re-attach join")
      // values still identical to brute force for surviving pairs
      spark.conf.set(pairsKey, Long.MaxValue.toString)
      val nExact = na.join(nb, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), expr("round(graft_dot(ea, eb), 6)").as("dot"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      spark.conf.set(pairsKey, "1000")
      spark.conf.set(graft.plans.SimilarityBandRewrite.SmallSideFloorKey, "1")
      nGot.foreach { case (pair, dot) =>
        assert(nExact.get(pair).contains(dot), s"pair $pair diverged")
      }

      // 5. cross-path consistency: with unique ids, the narrow plan
      //    (id-level dedup + re-attach) and the wide plan (first-match
      //    row dedup, forced by an extra payload column) must emit
      //    EXACTLY the same (id_a, id_b, dot) set — the two rewrites are
      //    one candidate semantics, differently shuffled
      val wideA = (0L until 300L).map(i => (i, simVec(i), "pay"))
        .toDF("vid", "emb", "pay")
        .select(col("vid").as("id_a"), col("emb").as("ea"), col("pay"))
      val wideB = (0L until 300L).map(i => (i, simVec(i), "pay"))
        .toDF("vid", "emb", "pay2")
        .select(col("vid").as("id_b"), col("emb").as("eb"), col("pay2"))
      val widePairs = wideA.join(wideB, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), expr("round(graft_dot(ea, eb), 6)").as("dot"))
      assert(widePairs.queryExecution.optimizedPlan.toString.contains("graft_bk"))
      val wideSet = widePairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val narrowSet = bruteShape(300).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(narrowSet == wideSet,
        s"narrow and wide rewrites diverged: narrow-only=${(narrowSet -- wideSet).take(3)} " +
          s"wide-only=${(wideSet -- narrowSet).take(3)}")
    } finally {
      spark.conf.unset(pairsKey)
      spark.conf.unset(graft.plans.SimilarityBandRewrite.SmallSideFloorKey)
    }
  }

  test("SimilarityBandRewrite: order-sensitive sides (Sample, round-robin repartition) route to wide") {
    // ADVICE r16: QueryPlan.deterministic only inspects EXPRESSIONS, so a
    // Sample node (seeded per-partition positional keep) and a round-robin
    // repartition (rows assigned to partitions by arrival order) pass as
    // "deterministic" while their row sets can differ between the narrow
    // rewrite's two subtree embeddings after different upstream shuffles.
    // Such sides must take the WIDE rewrite (single embedding) — detected
    // here by the vector payload riding the band join, the same idiom as
    // the payload-column test above.
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import org.apache.spark.sql.types.ArrayType
    graft.plans.GraftRules.install(spark)
    val pairsKey = graft.plans.SimilarityBandRewrite.PairsKey
    try {
      spark.conf.set(pairsKey, "1000")
      spark.conf.set(graft.plans.SimilarityBandRewrite.SmallSideFloorKey, "1")
      import spark.implicits._
      graft.functions.VectorExpressions.register(spark)
      val emb = (0L until 300L).map(i => (i, simVec(i))).toDF("vid", "emb")
      def checkWide(aSide: org.apache.spark.sql.DataFrame, what: String): Unit = {
        val b = emb.select(col("vid").as("id_b"), col("emb").as("eb"))
        val q = aSide.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            expr("round(graft_dot(ea, eb), 6)").as("dot"))
        val opt = q.queryExecution.optimizedPlan
        assert(opt.toString.contains("graft_bk"), s"$what: rule did not fire:\n$opt")
        val band = opt.collect {
          case j: LJoin if j.condition.exists(_.references.exists(_.name == "graft_bk")) => j
        }
        assert(band.exists(bj => (bj.left.output ++ bj.right.output)
          .exists(_.dataType.isInstanceOf[ArrayType])),
          s"$what took the narrow (double-embed) path — row set is not stable across re-evaluation:\n$opt")
      }
      checkWide(emb.sample(withReplacement = false, 0.8, seed = 7)
        .select(col("vid").as("id_a"), col("emb").as("ea")), "Sample side")
      checkWide(emb.repartition(4)
        .select(col("vid").as("id_a"), col("emb").as("ea")), "round-robin repartition side")
      // control: a KEY-based repartition is row-set stable — narrow is fine
      val keyed = emb.repartition(4, col("vid"))
        .select(col("vid").as("id_a"), col("emb").as("ea"))
      val bq = keyed.join(emb.select(col("vid").as("id_b"), col("emb").as("eb")),
          col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), expr("round(graft_dot(ea, eb), 6)").as("dot"))
      val bopt = bq.queryExecution.optimizedPlan
      assert(bopt.toString.contains("graft_bk"))
      val bband = bopt.collect {
        case j: LJoin if j.condition.exists(_.references.exists(_.name == "graft_bk")) => j
      }
      assert(bband.nonEmpty && bband.forall(bj => !(bj.left.output ++ bj.right.output)
        .exists(_.dataType.isInstanceOf[ArrayType])),
        s"key-based repartition should still take the narrow path:\n$bopt")
    } finally {
      spark.conf.unset(pairsKey)
      spark.conf.unset(graft.plans.SimilarityBandRewrite.SmallSideFloorKey)
    }
  }

  test("SimilarityBandRewrite small-side floor: probe-bounded audits never rewrite (q302 incident)") {
    // r16, found by the cross-SF oracle gate: q302's INTENTIONAL 10x10
    // JL-distortion cross join was rewritten into banded candidates at
    // sf0.1 only — the probe Filter carries no selectivity in size-only
    // stats, so the tiny side estimated as the whole corpus. Two layers
    // now prevent it, each tested on the exact brute shape:
    graft.plans.GraftRules.install(spark)
    val pairsKey = graft.plans.SimilarityBandRewrite.PairsKey
    try {
      spark.conf.set(pairsKey, "1000")
      // 1. the floor alone: the pair count (300x300 = 90000) is far over
      //    the lowered threshold, but each side is under the 4096 default
      //    floor — a provably-small-side join is linear, never rewritten
      val q = bruteShape(300)
      assert(!q.queryExecution.optimizedPlan.toString.contains("graft_bk"),
        "rule fired under the small-side floor")
      assert(q.count() == 300L * 299 / 2, "exact all-pairs result was pruned")
      // 2. the in-plan bound declaration: a limit() on the probe side
      //    carries a rowCount stat, so even with the floor disabled the
      //    estimate is the REAL 10 rows and 10x300 stays under threshold
      spark.conf.set(graft.plans.SimilarityBandRewrite.SmallSideFloorKey, "1")
      spark.conf.set(pairsKey, "5000")
      import spark.implicits._
      // PARQUET-backed like the real q302 — a local relation would be
      // constant-folded through the filter (ConvertToLocalRelation) and
      // carry exact 10-row stats either way, masking the incident shape
      val dir = java.nio.file.Files.createTempDirectory("graft_floor_probe").toFile
      (0L until 3000L).map(i => (i, simVec(i))).toDF("vid", "emb")
        .write.mode("overwrite").parquet(dir.getAbsolutePath)
      val emb = spark.read.parquet(dir.getAbsolutePath)
      def audit(declared: Boolean) = {
        val base = emb.filter(col("vid") < 10)
        val probes = (if (declared) base.limit(10) else base)
          .select(col("vid").as("id_a"), col("emb").as("ea"))
        val corpus = emb.select(col("vid").as("id_b"), col("emb").as("eb"))
        probes.join(corpus, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), expr("round(graft_dot(ea, eb), 6)").as("dot"))
      }
      // control — the incident shape: the bare Filter keeps the scan's
      // size stats (no selectivity in size-only mode), so BOTH sides
      // estimate as the whole 3000-vector corpus → over the threshold →
      // fires and prunes the audit
      assert(audit(declared = false).queryExecution.optimizedPlan.toString
          .contains("graft_bk"),
        "control: the undeclared probe filter should over-estimate and fire")
      // the limit declares rowCount=10 → REAL 10 x corpus-est < 5000 → exact
      val q2 = audit(declared = true)
      assert(!q2.queryExecution.optimizedPlan.toString.contains("graft_bk"),
        "rule fired on a limit-declared probe side")
      assert(q2.count() == (0 until 10).map(i => 2999 - i).sum.toLong,
        "probe-bounded audit lost pairs")
      def rec(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rec))
        f.delete(): Unit
      }
      rec(dir)
    } finally {
      spark.conf.unset(pairsKey)
      spark.conf.unset(graft.plans.SimilarityBandRewrite.SmallSideFloorKey)
    }
  }

  test("native as-of join: plans AsOfJoinExec and matches the declarative reference") {
    import spark.implicits._
    // keys 0..49, versions at t = 0, 100, 200 (value = "k<key>@<t>"),
    // facts at every t in 0..299 step 17, plus a keyless-fact key 999
    val versions = (for {
      k <- 0L until 50L; t <- Seq(0L, 100L, 200L)
    } yield (k, t, s"k$k@$t")).toDF("key", "t", "v")
    val facts = ((for {
      k <- 0L until 50L; t <- 0L until 300L by 17L
    } yield (k, t, k * 1000 + t)) :+ ((999L, 50L, 999050L)))
      .toDF("key", "t", "fact_id")
    val got = Graft.asofJoinNative(facts, versions)
    // 1. the custom physical operator actually planned, with the
    //    co-partitioning contract visible (two hash exchanges + sorts)
    // TreeNode.nodeName strips the Exec suffix, so the physical node
    // prints as "AsOfJoin [...]" (the leading "!" is the printer flagging
    // v_asof as produced-not-inherited — expected for a generator-like op)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin ["), s"custom exec not planned:\n$plan")
    assert("hashpartitioning".r.findAllIn(plan.toLowerCase).size >= 2,
      s"children not co-partitioned:\n$plan")
    // 2. exact agreement with the declarative union+window reference
    //    (pointInTimeJoin with an effectively infinite TTL)
    val ref = Graft.pointInTimeJoin(facts, versions
        .selectExpr("key", "t", "CAST(t AS LONG) AS version_id", "v"),
        ttl = Long.MaxValue / 2)
      .select(col("fact_id"), col("v_at_t"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val gotMap = got.select(col("fact_id"), col("v_asof"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(gotMap.size == ref.size)
    assert(gotMap == ref, {
      val diff = gotMap.keySet.filter(k => gotMap(k) != ref(k)).take(5)
      s"native as-of diverges from reference at $diff: " +
        diff.map(k => s"$k: ${gotMap(k)} vs ${ref(k)}").mkString(", ")
    })
    // 3. the keyless fact stayed unmatched
    assert(gotMap(999050L).isEmpty)
    // 4. sanity on a specific row: key 3, t = 153 → version at 100
    assert(gotMap(3153L).contains("k3@100"))
  }

  test("native as-of join adds NO exchange or sort over pre-partitioned, pre-sorted inputs") {
    import spark.implicits._
    // the SCALING.md claim behind building this as a physical operator:
    // on a bucketed/sorted layout (what a feature store keeps anyway),
    // Catalyst must satisfy the distribution/ordering requirements from
    // the children as-is. We pre-shape both inputs explicitly; if
    // EnsureRequirements inserted ANYTHING, the exchange/sort counts
    // would exceed the two we wrote ourselves per side.
    val facts = (0L until 500L).map(i => (i % 7, i, i))
      .toDF("key", "t", "fact_id")
      .repartition(col("key")).sortWithinPartitions("key", "t")
    val versions = (0L until 70L).map(i => (i % 7, i * 3, s"v$i"))
      .toDF("key", "t", "v")
      .repartition(col("key")).sortWithinPartitions("key", "t")
    val got = Graft.asofJoinNative(facts, versions)
    got.collect() // finalize AQE
    val plan = got.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val nExchange = "Exchange".r.findAllIn(plan).size
    val nSort = "\\bSort\\b".r.findAllIn(plan).size
    assert(nExchange == 2,
      s"expected only the 2 explicit repartitions, got $nExchange exchanges:\n$plan")
    assert(nSort == 2,
      s"expected only the 2 explicit sorts, got $nSort sorts:\n$plan")
    // and the merge is still correct on this layout: fact key=300%7=6,
    // t=300; key-6 versions are i ∈ {6,13,…,69} at t=3i ≤ 207 — the
    // latest is i=69 (t=207)
    val sample = got.filter(col("fact_id") === 300L).head()
    assert(sample.getString(3) == "v69", s"merge wrong on bucketed layout: $sample")
  }

  test("native as-of join survives skewed keys and empty version partitions") {
    import spark.implicits._
    // all facts on ONE key (hash skew) + versions for a DIFFERENT key only
    val versions = Seq((7L, 10L, "seven@10")).toDF("key", "t", "v")
    val facts = (0L until 1000L).map(i => (13L, i, i)).toDF("key", "t", "fact_id")
    val got = Graft.asofJoinNative(facts, versions).collect()
    assert(got.length == 1000)
    assert(got.forall(_.isNullAt(3)), "facts matched a version of another key")
    // and the matching direction: facts BEFORE the first version stay null
    val f2 = Seq((7L, 5L, 1L), (7L, 10L, 2L), (7L, 11L, 3L)).toDF("key", "t", "fact_id")
    val m = Graft.asofJoinNative(f2, versions).collect()
      .map(r => r.getLong(2) -> Option(r.getString(3))).toMap
    assert(m == Map(1L -> None, 2L -> Some("seven@10"), 3L -> Some("seven@10")))
  }

  test("native as-of join: tied (key,t) versions follow the documented contract (r17 audit)") {
    import spark.implicits._
    // the one documented ASSUMPTION of the native exec (facade doc:
    // "Versions tied on (key, t) resolve to the LAST in sort order; pass
    // a deduplicated version frame for determinism") — exercise it
    // directly so the contract is load-bearing, not just prose: with
    // ties present the result must still be ONE of the tied values and
    // identical for every fact that reads the same tie; after the
    // recommended dedup the result is exactly the brute-force answer.
    val facts = Seq((1L, 10L, 100L), (1L, 11L, 101L), (2L, 10L, 200L))
      .toDF("key", "t", "fact_id")
    val tied = Seq((1L, 10L, "a"), (1L, 10L, "b"), (1L, 10L, "c"),
      (2L, 5L, "z")).toDF("key", "t", "v")
    val got = Graft.asofJoinNative(facts, tied).collect()
      .map(r => r.getLong(2) -> r.getString(3)).toMap
    assert(Set("a", "b", "c")(got(100L)), s"tie resolved outside the tied set: $got")
    assert(got(100L) == got(101L),
      "two facts reading the same tie must see the same version within a run")
    assert(got(200L) == "z")
    val deduped = tied.groupBy("key", "t").agg(max("v").as("v"))
    val gotD = Graft.asofJoinNative(facts, deduped).collect()
      .map(r => r.getLong(2) -> r.getString(3)).toMap
    assert(gotD == Map(100L -> "c", 101L -> "c", 200L -> "z"),
      s"deduplicated versions must give the exact brute-force answer: $gotD")
  }

  test("native band join: plans BandJoinExec; no exchange/sort on pre-shaped inputs") {
    import spark.implicits._
    // 1. the exec plans, co-partitioned, and the sweep is correct on a
    //    window holding several candidates: key 2 rights at t = 0,4,8,12
    //    with delta 5 ⇒ a left at t=6 must match t ∈ {4, 8} (and only those)
    val lefts = Seq((2L, 6L, 1L), (2L, 20L, 2L), (3L, 6L, 3L)).toDF("key", "t", "left_id")
    val rights = (0L until 16L by 4L).map(t => (2L, t, s"r$t")).toDF("key", "t", "v")
    val got = Graft.bandJoinNative(lefts, rights, 5L)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BandJoin ["), s"custom exec not planned:\n$plan")
    val rows = got.collect().map(r => (r.getLong(2), r.getString(4))).toSet
    assert(rows == Set((1L, "r4"), (1L, "r8")), s"band sweep wrong: ${rows.toSeq}")
    // 2. pre-shaped inputs: EnsureRequirements must add NOTHING (the
    //    as-of probe's argument — bucketed layouts join as a map-side zip)
    val bigL = (0L until 400L).map(i => (i % 5, i, i))
      .toDF("key", "t", "left_id")
      .repartition(col("key")).sortWithinPartitions("key", "t")
    val bigR = (0L until 100L).map(i => (i % 5, i * 4, s"v$i"))
      .toDF("key", "t", "v")
      .repartition(col("key")).sortWithinPartitions("key", "t")
    val shaped = Graft.bandJoinNative(bigL, bigR, 3L)
    shaped.collect()
    val p2 = shaped.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange".r.findAllIn(p2).size == 2,
      s"expected only the 2 explicit repartitions:\n$p2")
    assert("\\bSort\\b".r.findAllIn(p2).size == 2,
      s"expected only the 2 explicit sorts:\n$p2")
    // 3. delta 0: exact (key, t) equality only
    val d0 = Graft.bandJoinNative(
        Seq((1L, 10L, 1L)).toDF("key", "t", "left_id"),
        Seq((1L, 10L, "hit"), (1L, 11L, "miss")).toDF("key", "t", "v"), 0L)
      .collect().map(_.getString(4)).toSeq
    assert(d0 == Seq("hit"))
    // 4. r15 review: delta = Long.MaxValue (the "unbounded" idiom) must
    //    saturate, not wrap — every same-key pair matches, across sign
    val unb = Graft.bandJoinNative(
        Seq((1L, 10L, 1L), (1L, -10L, 2L)).toDF("key", "t", "left_id"),
        Seq((1L, Long.MinValue / 2, "lo"), (1L, 0L, "mid"),
          (1L, Long.MaxValue / 2, "hi")).toDF("key", "t", "v"),
        Long.MaxValue)
      .collect().map(r => (r.getLong(2), r.getString(4))).toSet
    assert(unb == Set((1L, "lo"), (1L, "mid"), (1L, "hi"),
        (2L, "lo"), (2L, "mid"), (2L, "hi")),
      s"unbounded delta wrapped: ${unb.toSeq.sorted}")
  }

  // ---- ProbeScanFanOut ----
  // A ~1.7 MB fact file. With maxPartitionBytes at 256 KB Spark plans 7
  // splits for it; written as ONE row group only one of them reads rows.
  private lazy val fanOutDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout").toString
    def fact = spark.range(0, 120000).selectExpr("id % 1000 AS k", "id AS v",
      "substr(sha2(CAST(id AS STRING), 256), 1, 8) AS payload").coalesce(1)
    fact.write.parquet(s"$dir/onegroup.parquet")
    fact.write.option("parquet.block.size", 65536L).parquet(s"$dir/manygroups.parquet")
    spark.range(0, 1000).selectExpr("id AS k", "concat('n', id) AS name")
      .coalesce(1).write.parquet(s"$dir/dim.parquet")
    dir
  }

  /** `body` with the engine's rules installed and 256 KB splits. */
  private def withSplitBytes[T](body: => T): T = {
    graft.plans.GraftRules.install(spark)
    val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "262144")
    try body finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  /** `body` with ProbeScanFanOut removed from the session's extra rules,
    * so the same query gives the plain plan. (The fan-out queries read
    * with `spark.read`, not Tables, which would install it again.) */
  private def withoutFanOut[T](body: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev.filterNot(_ eq graft.plans.ProbeScanFanOut)
    try body finally spark.experimental.extraOptimizations = prev
  }

  private def fanOuts(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }

  /** Shuffle exchanges and scan metadata of the executed (final AQE) plan. */
  private def executed(df: org.apache.spark.sql.DataFrame) = {
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def all(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect {
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => all(s.plan)
        case other => Seq(other)
      }.flatten
    val nodes = all(plan)
    val exchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val scans = nodes.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata("PushedFilters") + " " + s.metadata("ReadSchema")
    }
    (exchanges, scans.sorted)
  }

  private def table(name: String) = spark.read.parquet(s"$fanOutDir/$name.parquet")

  private def probeQuery(name: String) =
    table(name).filter(col("v") % 3 =!= 0)
      .withColumn("file", input_file_name())
      .join(table("dim"), "k")
      .select(col("k"), col("v"), col("name"), col("file"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("ProbeScanFanOut: an under-split broadcast probe scan gains one hash exchange on its join key") {
    withSplitBytes {
      val (plainEx, plainScans) = withoutFanOut(executed(probeQuery("onegroup")))
      val plain = withoutFanOut(rows(probeQuery("onegroup")))
      val q = probeQuery("onegroup")
      val added = fanOuts(q)
      assert(added.size == 1, s"expected one fan-out:\n${q.queryExecution.optimizedPlan}")
      assert(added.head.partitionExpressions.map(_.sql) == Seq("k"))
      assert(added.head.numPartitions == spark.conf.get("spark.sql.shuffle.partitions").toInt)
      val (ex, scans) = executed(q)
      assert(ex.size == plainEx.size + 1, s"exchanges ${plainEx.size} -> ${ex.size}")
      val fan = ex.map(_.outputPartitioning).collect {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => h
      }
      assert(fan.exists(_.expressions.map(_.sql) == Seq("k")),
        s"no hash exchange on the join key: ${ex.map(_.outputPartitioning)}")
      assert(scans == plainScans, s"scan changed:\n$plainScans\n$scans")
      val got = rows(q)
      assert(got == plain)
      assert(got.nonEmpty && got.forall(!_.endsWith("|")), "input_file_name() lost below the fan-out")
    }
  }

  test("ProbeScanFanOut: no fan-out when the file holds enough row groups") {
    withSplitBytes {
      val q = probeQuery("manygroups")
      assert(fanOuts(q).isEmpty, s"fired on a fully split scan:\n${q.queryExecution.optimizedPlan}")
      assert(executed(q)._1.size == withoutFanOut(executed(probeQuery("manygroups")))._1.size)
    }
  }

  test("ProbeScanFanOut: aggregate-only and filter-only consumers get no exchange") {
    withSplitBytes {
      val fact = table("onegroup")
      val agg = fact.groupBy("k").agg(sum("v"))
      val filt = fact.filter(col("v") > 100).select("k", "payload")
      for (q <- Seq(agg, filt)) {
        assert(fanOuts(q).isEmpty, s"fired without a join:\n${q.queryExecution.optimizedPlan}")
      }
      assert(executed(filt)._1.isEmpty)
    }
  }

  test("ProbeScanFanOut: a sort-merge join keeps the plain plan's exchanges") {
    withSplitBytes {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val q = probeQuery("onegroup")
        assert(fanOuts(q).isEmpty, s"fired below a sort-merge join:\n${q.queryExecution.optimizedPlan}")
        assert(executed(q)._1.size == withoutFanOut(executed(probeQuery("onegroup")))._1.size)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("ProbeScanFanOut: fires exactly once through extraOptimizations and through GraftExtensions") {
    withSplitBytes {
      assert(fanOuts(probeQuery("onegroup")).size == 1)
    }
    // a fresh session built with the extension: the rule then runs in the
    // fixed-point operator-optimization batch, not in extraOptimizations
    import org.apache.spark.sql.SparkSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = try SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions())
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(ext ne spark)
    assert(!ext.experimental.extraOptimizations.contains(graft.plans.ProbeScanFanOut))
    ext.conf.set("spark.sql.files.maxPartitionBytes", "262144")
    val q = ext.read.parquet(s"$fanOutDir/onegroup.parquet")
      .join(ext.read.parquet(s"$fanOutDir/dim.parquet"), "k")
    val added = fanOuts(q)
    assert(added.size == 1, s"expected one fan-out:\n${q.queryExecution.optimizedPlan}")
    assert(q.count() == 120000)
  }
}
