package graft.plans

import graft.functions.FloatDot
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Spark extensions entry point — the idiomatic installation path for the
  * engine's native expressions:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions()(_))
  * }}}
  *
  * Query code that cannot assume the extension is installed (the driver
  * hands us an unconfigured session) calls
  * [[graft.functions.VectorExpressions.register]] directly — same
  * expression, session-scoped registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "graft_dot"),
      graft.functions.VectorExpressions.builder))
    ext.injectFunction((
      FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[graft.functions.JaroWinkler].getName, "graft_jaro_winkler"),
      graft.functions.JaroWinkler.builder))
    ext.injectOptimizerRule(_ => LevenshteinPrefilter)
    ext.injectOptimizerRule(_ => SimilarityBandRewrite)
    ext.injectOptimizerRule(_ => ProbeScanFanOut)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => BandJoinStrategy)
  }
}

/** Session-scoped installation of the engine's optimizer rules for code
  * that cannot assume [[GraftExtensions]] was configured at session build
  * time (the driver hands queries an unconfigured session) — the rule
  * analog of `VectorExpressions.register`. Idempotent; called from the
  * [[graft.Tables]] chokepoint so every query path gets the rules:
  *  - [[LevenshteinPrefilter]]: an O(1) length bound ahead of every
  *    edit-distance threshold filter;
  *  - [[SimilarityBandRewrite]]: brute-force all-pairs vector similarity
  *    becomes a banded LSH equi-join above the measured crossover;
  *  - [[ProbeScanFanOut]]: a hash repartition above a parquet scan whose
  *    file holds fewer row groups than its planned splits, when that scan
  *    is the probe side of a broadcast hash join. */
object GraftRules {
  /** Synchronized on the session: Tables.apply calls this on every table
    * read, and an unsynchronized read-modify-write let two first queries
    * racing on one session append the rules twice — harmless only
    * because the rules are idempotent, but every optimizer pass then ran
    * them twice (ADVICE r13). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.synchronized {
      // a session configured with spark.sql.extensions=GraftExtensions
      // already runs these rules in the injected custom-rule batch;
      // appending them to extraOptimizations too would execute every
      // rule in TWO batches on every optimization pass (r15 review —
      // the same double-run waste the synchronization above was added
      // to prevent, via the other install path). Programmatic
      // withExtensions callers aren't detectable this way; for them the
      // double run is idempotent-by-design and costs only pattern
      // matching.
      val viaExtensions = spark.conf.getOption("spark.sql.extensions")
        .exists(_.contains("graft.plans.GraftExtensions"))
      if (viaExtensions) return
      val cur = spark.experimental.extraOptimizations
      val want = Seq(LevenshteinPrefilter, SimilarityBandRewrite, ProbeScanFanOut)
        .filterNot(cur.contains)
      if (want.nonEmpty)
        spark.experimental.extraOptimizations = cur ++ want
    }
}
