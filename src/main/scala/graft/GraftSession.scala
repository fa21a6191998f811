package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.internal.Logging
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** The one place the engine's Spark session config lives. Every runner
  * (Bench, Verify, TimeQ, PlanAudit, ScaleGrowth, StreamSmoke) and the
  * test session build through [[apply]]; the root log level stays with
  * the caller, but `WindowExec` is set to ERROR (see [[apply]]).
  *
  * The session reads two env options:
  *  - `SPARK_GRAFT_CPUS`: N of `local[N]` and the local shuffle partition
  *    count; unset ⇒ every available core. Must be a positive integer.
  *  - `SPARK_GRAFT_CONF="k=v;k2=v2"`: extra confs, applied last so they
  *    win over every derived value (empty entries are skipped, an entry
  *    without a key or without `=` is an error).
  *
  * The master is `spark.master` when already set (spark-submit), else
  * `local[N]`. The single-node tunings in [[localConfs]] apply only to a
  * `local…` master; on a cluster Spark's defaults stand, so compression
  * follows the master. To run a local session compressed:
  * `SPARK_GRAFT_CONF="spark.shuffle.compress=true;spark.shuffle.spill.compress=true;spark.broadcast.compress=true"`.
  *
  * Not set here: `spark.sql.broadcastTimeout`. Two lazy pins run their
  * upstream work inside a broadcast build, which Spark awaits for at most
  * 300 s by default: `BoundedQuantiles`' `located` frame (the whole locate
  * job runs in pass 2's broadcast) and `TrainingOps`' PCA power iterations
  * (each iteration's direction frame runs inside the next one's
  * `broadcast(vn)` build, so the outermost build covers them all). That
  * deadline is sized in step 2 of the materialization work (`Pin`), where
  * each pin kind states its cluster path; no workload here comes near it,
  * so no conf is added now.
  *
  * Spark's generated-code cache is set up by [[prepareCodegenCache]], which
  * `GraftRules.install` runs, so it also covers sessions built
  * elsewhere (a driver's session, perfbench's). */
object GraftSession extends Logging {
  /** Confs every session gets, whatever the master. */
  private val common = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // CorpusPin frames live one query and feed 2-4 row-based consumers:
    // store raw UnsafeRow images (localCheckpoint's cost profile, WITH
    // lineage) instead of columnar batches — RowCacheSerializer scaladoc
    "spark.sql.cache.serializer" -> "graft.plans.RowCacheSerializer")

  /** Single-node tunings, justified by tmpfs scratch on one host. */
  private def localConfs(cpus: Int) = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // CorpusPin frames ride the SQL columnar cache (persist-with-
    // lineage, SCALING.md r16): per-column compression is pure CPU on
    // a single node where the cache always fits RAM+disk — measured
    // ~8% off the pinned-query tier with it disabled. On a
    // memory-pressured cluster it stays on (bigger batches spill).
    "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
    // Single-node shuffles go to tmpfs: LZ4 on shuffle/spill/broadcast
    // blocks is pure CPU with no I/O to amortize (r18 full-bench A/B:
    // geomean −4%, 182 of 366 queries faster, shuffle-heavy tier −0.3
    // to −0.5 s each). On a cluster compression pays for network, so
    // there Spark's default (on) stands.
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    "spark.broadcast.compress" -> "false")

  /** N from `SPARK_GRAFT_CPUS`; unset ⇒ every available core. */
  def cpus(env: Option[String]): Int = env match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(throw
      new IllegalArgumentException(s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** `SPARK_GRAFT_CONF` entries in order; empty entries skipped. */
  def parseConf(confEnv: Option[String]): Seq[(String, String)] =
    confEnv.toSeq.flatMap(_.split(';')).filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not of the form key=value")
      }
    }

  /** The session's confs, in application order (a later key wins):
    * common, local-only (when `master` is `local…`), the caller's
    * `extra`, then `SPARK_GRAFT_CONF`. Pure, so it is tested without a
    * SparkContext. */
  def confs(master: String, cpus: Int, confEnv: Option[String],
      extra: Seq[(String, String)] = Nil): Seq[(String, String)] =
    common ++ (if (master.startsWith("local")) localConfs(cpus) else Nil) ++
      extra ++ parseConf(confEnv)

  /** Entries of Spark's generated-class cache. The cache is one LRU per
    * JVM, keyed by class loader and code, and Spark's default of 100 is
    * smaller than one `small_batch` pass (about 280 entries: most classes
    * are compiled once for the driver's loader and once for the
    * executors'), so a rerun pass found none of its classes and compiled
    * every one again (SCALING.md, "Generated-code cache"). */
  val CodegenCacheEntries = 1024

  /** The size to set for `spark.sql.codegen.cache.maxEntries`:
    * [[CodegenCacheEntries]], or None when the caller set the key (its
    * value is kept) or `compiledSoFar` classes were already compiled in
    * this JVM (the cache exists, so its size is fixed). Pure. */
  def codegenCacheSize(callerValue: Option[String], compiledSoFar: Long): Option[Int] =
    if (callerValue.isDefined || compiledSoFar > 0) None else Some(CodegenCacheEntries)

  private val codegenCachePrepared = new AtomicBoolean(false)

  /** Once per JVM, before the first compilation, so a rerun finds its
    * generated classes again:
    *  - applies [[codegenCacheSize]] to `spark`'s conf and initialises
    *    Spark's `CodeGenerator` under it, which creates the cache at that
    *    size whoever built the session. After codegen already ran the
    *    size is left alone and one warning is logged.
    *  - unless the caller set it, turns `spark.sql.codegen.useIdInClassName`
    *    off. A whole-stage class is named after its stage id, and under
    *    adaptive execution a query's stages are numbered in the order
    *    they are planned, which varies from run to run; the same body
    *    under another name is another cache key, compiled again. */
  def prepareCodegenCache(spark: SparkSession): Unit =
    if (codegenCachePrepared.compareAndSet(false, true)) {
      val conf = spark.sessionState.conf
      val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
      val idInName = SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key
      if (!conf.contains(idInName)) conf.setConfString(idInName, "false")
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      codegenCacheSize(Option.when(conf.contains(key))(conf.getConfString(key)), compiled)
        .foreach(n => conf.setConfString(key, n.toString))
      if (compiled > 0)
        logWarning(s"$compiled classes were compiled in this JVM before the engine's " +
          s"first session set-up; Spark's generated-code cache keeps the size it was " +
          s"created with, not $CodegenCacheEntries")
      // CodeGenerator reads SQLConf.get.codegenCacheMaxEntries once, when
      // its object is initialised; referencing it here does that
      else SQLConf.withExistingConf(conf)(CodeGenerator.getClass)
    }

  /** Build (or return) the session with [[confs]] and the engine's
    * optimizer rules installed. `cpus` overrides `SPARK_GRAFT_CPUS`.
    *
    * Sets the `WindowExec` logger to ERROR. Several operators run
    * bounded global windows by design (KM risk tables, offset folds on
    * at most `spark.sql.shuffle.partitions` rows; SCALING.md documents
    * each), and WindowExec warns "No Partition Defined" on every one,
    * burying real warnings. The frames are bounded by construction, so
    * the warning carries no information; every other logger keeps the
    * caller's level. */
  def apply(extra: Seq[(String, String)] = Nil,
      cpus: Option[Int] = None): SparkSession = {
    val n = cpus.getOrElse(this.cpus(sys.env.get("SPARK_GRAFT_CPUS")))
    val master = sys.props.getOrElse("spark.master", s"local[$n]")
    val builder = SparkSession.builder().master(master)
    confs(master, n, sys.env.get("SPARK_GRAFT_CONF"), extra)
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    graft.plans.GraftRules.install(spark)
    spark
  }
}
