package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The CORPUS-SCALE multi-consumer pin (VERDICT r15 item 3, generalizing
  * the r14→r15 q361 fix): persist with RECOMPUTABLE lineage instead of
  * `localCheckpoint(true)`.
  *
  * Why the distinction matters at 1000 executors: an eager
  * localCheckpoint truncates lineage — its blocks live only on the
  * executors that computed them, and losing ANY of them (executor OOM,
  * preemption, hardware — routine over hours at fleet scale) makes the
  * frame unrecoverable and fails the job. That loss profile is
  * acceptable for BOUNDED frames (≤ domain/constant rows — centroids,
  * weights, cut points), whose re-run costs one small job, and it is
  * the deliberate CHOICE for DP noise frames (re-drawing noise on
  * recompute leaks privacy budget — Anonymize's documented exception);
  * it is wrong for frames whose size scales with the input (documents,
  * embeddings, events, users, n-gram/vocab types, candidate pairs),
  * where the pin IS the expensive artifact. `persist(MEMORY_AND_DISK)`
  * keeps the lineage: a lost block recomputes its partition instead of
  * killing the run, and MEMORY_AND_DISK spills rather than evicting.
  *
  * LAZY by design, like the q361 template: the first consumer's job
  * populates the cache (a broadcast-subquery consumer runs first and
  * blocks the main job, so the pay-once property holds); per-executor
  * block locks serialize same-partition computes, and the residual
  * cross-executor duplicate compute two CONCURRENT first-consumer
  * stages can do on a cluster is bounded, transient, and
  * correctness-free — the price of recomputability.
  *
  * NOT for frames updated inside driver loops (labels/frontiers/weight
  * chains): those need lineage TRUNCATION per iteration or the plan
  * tree grows without bound — bounded loop state keeps
  * `localCheckpoint`, corpus-scale loop state (connected-components
  * labels) documents reliable `checkpoint()` to durable storage as its
  * cluster path.
  *
  * Every pin registers here, including one made inside a FrameMemo
  * build (the memo entry owns only its own checkpoint, whose truncated
  * lineage never reads the pin again). Hosts release them between
  * queries through FrameMemo.sweepOthers, library callers through
  * Graft.release; a released pin lazily re-materializes on next use —
  * with lineage, that is a rebuild, never a failure. */
object CorpusPin {
  // Pinned handles per application, so hosts can RELEASE between queries.
  // Dataset.persist registers the plan fragment in the session-global
  // CacheManager — without an explicit unpersist the entry outlives the
  // query and Catalyst substitutes it into every later query containing
  // the same subtree (cross-query plan contamination: bench timings
  // borrow earlier queries' caches, plan-shape audits see InMemoryScan
  // where they expect the real scan). The RDD-level sweep the hosts
  // already run frees BLOCKS but not the CacheManager entry, hence this
  // registry. Strong refs are fine: they live one query, released at the
  // host's next sweep.
  private val pinned =
    scala.collection.mutable.ListBuffer.empty[(String, DataFrame)]

  /** Registry cap per application (ADVICE r16): the in-repo hosts
    * (Bench/Verify/TimeQ/tests) release pins between queries via
    * [[FrameMemo.sweepOthers]], but a LIBRARY consumer calling the
    * public facade (Graft.bipartiteJaccard, spendShare,
    * kmAnonymityAudit, …) has no such loop — without a bound, every
    * facade call would accumulate a cached frame plus a session-global
    * CacheManager entry for the life of the session. Beyond the cap the
    * OLDEST pin is unpersisted (entry + blocks). This is always safe
    * for correctness: pins keep recomputable lineage by construction
    * (the whole point of this object), so an early release degrades a
    * straggling consumer to recompute, never to failure. Hosts and
    * well-behaved consumers (see [[graft.Graft.release]]) never reach
    * the cap. */
  private val MaxPinned = 32

  /** Conf key for the DURABLE pin tier (VERDICT r16 item 4): set to a
    * writable directory (HDFS/object-store path on a cluster, a local
    * dir single-node) and [[pin]] upgrades from lazy
    * `persist(MEMORY_AND_DISK)` to an eager RELIABLE `checkpoint()`
    * into that directory. What that buys, and what it costs:
    *
    *  - consumers see ONE-LEAF plans (a `LogicalRDD` over the
    *    checkpoint files) instead of an InMemoryRelation that carries
    *    the full build lineage — on multi-consumer frames (q261's 4
    *    passes) the driver stops re-planning the kept lineage per
    *    consumer, the measured ~15-25% pin residual;
    *  - the artifact survives EXECUTOR loss outright (files, not
    *    blocks) — the documented cluster path for corpus-scale loop
    *    state (q76's labels), generalized to every pin site;
    *  - the price is an eager write+read of the frame and a driver
    *    barrier per pin — wrong for one-consumer pins and for
    *    latency-bound single-node runs, hence DEFAULT OFF. The dir's
    *    lifecycle belongs to the host (Bench uses a per-run tmp dir;
    *    a cluster deployment points at a job-scoped prefix and reaps
    *    it with the job).
    *
    * Unset (the default) = the recomputable-lineage persist tier. */
  val DurableDirKey = "spark.graft.pin.durableDir"

  private def durableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption(DurableDirKey).map(_.trim).filter(_.nonEmpty)

  /** Chainable: `frame.transform(CorpusPin.pin)`. */
  def pin(df: DataFrame): DataFrame = synchronized {
    durableDir(df) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (!sc.getCheckpointDir.exists(_.contains(dir)))
          sc.setCheckpointDir(dir)
        // reliable + eager: files under dir, one-leaf consumer plans.
        // No registry entry survives — there is no CacheManager state to
        // release, and the files are the host's to reap (doc above).
        //
        // TRANSIENT cache around the write: a reliable checkpoint runs
        // TWO jobs — the eager count, then the checkpoint-write job —
        // and without a cache the second recomputes the whole frame
        // (RDD.checkpoint's documented behavior). Persisting first
        // makes the count job materialize blocks the write job then
        // reads, so the frame computes ONCE; the blocks are dropped as
        // soon as the files exist. Measured: q261/q204/q177 at sf0.1
        // lose the recompute entirely (SCALING.md r17 table).
        df.persist(StorageLevel.MEMORY_AND_DISK)
        try return df.checkpoint(eager = true)
        finally df.unpersist(blocking = false)
      case None => ()
    }
    df.persist(StorageLevel.MEMORY_AND_DISK)
    val app = df.sparkSession.sparkContext.applicationId
    pinned += ((app, df))
    var mine = pinned.filter(_._1 == app)
    while (mine.length > MaxPinned) {
      val victim = mine.head
      try victim._2.unpersist(blocking = false)
      catch { case _: Throwable => () }
      pinned -= victim
      mine = mine.tail
    }
    df
  }

  /** Drop every pin of this application: CacheManager entry + blocks.
    * Called by [[FrameMemo.sweepOthers]], the one between-queries sweep. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = synchronized {
    val app = spark.sparkContext.applicationId
    pinned.filter(_._1 == app).foreach { case (_, df) =>
      try df.unpersist(blocking = true) catch { case _: Throwable => () }
    }
    // released entries go; entries of OTHER applications drop their
    // references too — one live context per JVM (the FrameMemo dead-app
    // eviction precedent), so those blocks died with their context.
    pinned.clear()
  }
}
