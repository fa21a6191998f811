package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Pay-once memo for corpus-derived frames shared by a query FAMILY
  * (VERDICT r10 item 6): the dedup family (q61/q185/q272/q285/q193/q296/
  * q300) each rebuilt the df-capped shingle frame and the candidate pair
  * join per query — the top steady-state cost tier, ≈15 s of the sf0.1
  * bench — when the frames are identical across the family by
  * construction. This registry builds each frame ONCE per (application,
  * tag, sfDir), pins it with an eager `localCheckpoint`, and hands the
  * same handle to every caller.
  *
  * Why a checkpoint HANDLE and not collected rows (the acctbalQuantiles
  * memo at StatsOps): these frames are corpus-sized — the shingle frame
  * is (doc, distinct-trigram) grain — so driver-side rows are not an
  * option. A handle can outlive its blocks, though, so the contract has
  * two halves:
  *
  * UNPERSIST-SAFETY CONTRACT
  *  1. Hosts that sweep session state between timings (Bench, TimeQ,
  *     Verify) must sweep AROUND memo-owned RDDs — sweep
  *     `getPersistentRDDs` filtered by [[ownedIds]] — or the family pays
  *     the build back on every query and the memo is pure overhead.
  *  2. An entry owns exactly ONE RDD: the eager checkpoint under the
  *     `LogicalRDD` leaf of its frame. The memo never ASSUMES those
  *     blocks survived: every lookup revalidates that this id is still
  *     registered (an unpersisted localCheckpoint is unrecoverable — its
  *     lineage is truncated, so a recompute would throw, not rebuild).
  *     A swept entry is rebuilt from scratch on next use. So a host that
  *     ignores rule 1 loses the speedup, never correctness. Everything
  *     else a build pins or checkpoints is the host's: CorpusPin
  *     registers its pins wherever they are made, and the next
  *     [[sweepOthers]] (or [[graft.Graft.release]]) frees them.
  *
  * Scale: at 100 TB the same pay-once role is played by a PERSISTED
  * layout (the q88 bucketed-table pattern) — a session-lifetime pin is
  * the single-JVM analogue. Entries are bounded: one per (tag, sfDir)
  * per session, each a df-capped/candidate-bounded frame, and
  * [[clear]] releases everything explicitly. */
object FrameMemo {
  private case class Entry(df: DataFrame, rddId: Int)
  private val cache =
    scala.collection.mutable.LinkedHashMap.empty[(String, String, String), Entry]

  /** RDD ids currently owned by memo entries of this application, one
    * checkpoint per entry — sweepers must exclude these (contract
    * rule 1). */
  def ownedIds(spark: SparkSession): Set[Int] = synchronized {
    val app = spark.sparkContext.applicationId
    cache.collect { case ((a, _, _), e) if a == app => e.rddId }.toSet
  }

  /** THE between-queries sweep, contract rule 1 made self-enforcing
    * (r15 review): unpersist every persistent RDD EXCEPT memo-owned
    * ones. Bench/Verify/TimeQ/PlanAudit all call this one helper —
    * the previous five copy-pasted blocks had already drifted once
    * (PlanAudit swept unfiltered, evicting the memo between every
    * audited query). Blocking, so freed blocks can't linger into the
    * next query's GC pressure. */
  def sweepOthers(spark: SparkSession): Unit = {
    // CorpusPin frames first: Dataset.unpersist removes the CacheManager
    // ENTRY (plan-fragment substitution) as well as the blocks — the
    // RDD-level sweep below can't see CacheManager and would leave later
    // queries silently reading earlier queries' caches (r16).
    CorpusPin.releaseAll(spark)
    val owned = ownedIds(spark)
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => owned(r.id)).foreach(_.unpersist(blocking = true))
  }

  /** The memoized frame for (tag, sfDir), building (and eagerly
    * localCheckpoint-ing) on first use or after a sweep. `build` must be
    * deterministic for the key and must NOT checkpoint its result itself
    * (the memo does). Helper frames the build pins or checkpoints belong
    * to the host like any other session state: the eager checkpoint
    * truncates the entry's lineage, so no helper is read again once the
    * build returns, and the host's next sweep releases them. */
  def shared(spark: SparkSession, tag: String, sfDir: String)
      (build: => DataFrame): DataFrame = synchronized {
    val sc = spark.sparkContext
    // evict entries of DEAD applications: a JVM that restarts its
    // SparkContext (test harnesses, long-lived drivers) would otherwise
    // retain the old sessions' DataFrames — and their whole plan trees /
    // session state — for the JVM lifetime (r15 review). Their blocks
    // died with the old context; dropping the references is all that's
    // left to do.
    cache.keys.filter(_._1 != sc.applicationId).toSeq.foreach(cache.remove)
    val key = (sc.applicationId, tag, sfDir)
    cache.get(key) match {
      case Some(e) if sc.getPersistentRDDs.contains(e.rddId) => e.df
      case _ =>
        val df = build.localCheckpoint(eager = true)
        // the checkpoint is the LogicalRDD leaf the frame reads
        val rddId = df.queryExecution.logical.collectFirst {
          case r: LogicalRDD => r.rdd.id }.get
        cache.update(key, Entry(df, rddId))
        df
    }
  }

  /** Release every entry of this application (blocking) — for hosts that
    * want a clean session end or a mid-run memory reset. */
  def clear(spark: SparkSession): Unit = synchronized {
    val sc = spark.sparkContext
    val app = sc.applicationId
    val keys = cache.keys.filter(_._1 == app).toSeq
    keys.foreach { k =>
      cache.remove(k).foreach { e =>
        sc.getPersistentRDDs.get(e.rddId).foreach(_.unpersist(blocking = true))
      }
    }
  }
}
