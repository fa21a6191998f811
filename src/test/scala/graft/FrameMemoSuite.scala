package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The FrameMemo unpersist-safety contract (plans/FrameMemo.scala),
  * tested directly: the registry is the new r11 mechanism every dedup/
  * minhash/classifier query rides, and its sharp edge is a HOST that
  * sweeps persistent RDDs out from under a cached handle — the contract
  * says that must cost a rebuild, never correctness. */
class FrameMemoSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def sweepAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  test("second lookup returns the SAME pinned handle; no second build") {
    import spark.implicits._
    var builds = 0
    def build = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("k", "v") }
    plans.FrameMemo.clear(spark)
    val a = plans.FrameMemo.shared(spark, "memo_test_reuse", "sfX")(build)
    val b = plans.FrameMemo.shared(spark, "memo_test_reuse", "sfX")(build)
    assert(builds == 1, "second lookup must not rebuild")
    assert(a eq b, "cache hit must return the identical handle")
    assert(b.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    plans.FrameMemo.clear(spark)
  }

  test("keys are (tag, sfDir)-scoped: different sfDir builds its own frame") {
    import spark.implicits._
    plans.FrameMemo.clear(spark)
    val a = plans.FrameMemo.shared(spark, "memo_test_key", "sfA")(
      Seq(1L).toDF("k"))
    val b = plans.FrameMemo.shared(spark, "memo_test_key", "sfB")(
      Seq(2L).toDF("k"))
    assert(a.collect().head.getLong(0) == 1L)
    assert(b.collect().head.getLong(0) == 2L)
    plans.FrameMemo.clear(spark)
  }

  test("a hostile full sweep forces a REBUILD, not a broken handle (contract rule 2)") {
    import spark.implicits._
    var builds = 0
    def build = { builds += 1; Seq((10L, 1L), (20L, 2L)).toDF("k", "n") }
    plans.FrameMemo.clear(spark)
    plans.FrameMemo.shared(spark, "memo_test_sweep", "sfX")(build).collect()
    sweepAll() // a host ignoring ownedIds — the contract's failure mode
    val after = plans.FrameMemo.shared(spark, "memo_test_sweep", "sfX")(build)
    assert(builds == 2, "swept entry must rebuild on next lookup")
    assert(after.agg(sum("n")).collect().head.getLong(0) == 3L,
      "rebuilt frame must answer correctly")
    plans.FrameMemo.clear(spark)
  }

  test("ownedIds covers the pinned RDDs and clear() releases them") {
    import spark.implicits._
    plans.FrameMemo.clear(spark)
    val before = plans.FrameMemo.ownedIds(spark)
    plans.FrameMemo.shared(spark, "memo_test_own", "sfX")(
      Seq(1L, 2L, 3L).toDF("k")).collect()
    val owned = plans.FrameMemo.ownedIds(spark) -- before
    assert(owned.nonEmpty, "a built entry must own at least one RDD id")
    assert(owned.forall(spark.sparkContext.getPersistentRDDs.contains),
      "owned ids must be live persistent RDDs")
    plans.FrameMemo.clear(spark)
    assert(owned.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)),
      "clear() must unpersist every owned RDD")
  }

  test("a CorpusPin inside a memo build is host-owned: sweepOthers keeps the entry") {
    import spark.implicits._
    // r16 regression guard: pairsFromSigs pins its band frame INSIDE the
    // minhash_pairs memo build. The host sweep releases that pin; it
    // must not invalidate the entry and silently force a rebuild per
    // query — the memo's whole point lost.
    var builds = 0
    def build = {
      builds += 1
      Seq((1L, "x"), (2L, "y")).toDF("k", "v")
        .transform(plans.CorpusPin.pin)
        .select(col("k"), upper(col("v")).as("v"))
    }
    plans.FrameMemo.clear(spark)
    plans.FrameMemo.shared(spark, "memo_test_pin", "sfX")(build).collect()
    plans.FrameMemo.sweepOthers(spark) // the real host sweep, twice
    plans.FrameMemo.sweepOthers(spark)
    plans.FrameMemo.shared(spark, "memo_test_pin", "sfX")(build).collect()
    assert(builds == 1,
      "the host sweep must not invalidate a memo entry whose build pinned")
    plans.FrameMemo.clear(spark)
  }

  test("reentrant memo builds: host sweeps never invalidate the outer entry") {
    import spark.implicits._
    // a build that calls shared() itself (ADVICE r16), then pins: the
    // sweep releases the pin and spares both entries' checkpoints, so
    // the outer entry still hits.
    var outerBuilds = 0
    def outer = {
      outerBuilds += 1
      val inner = plans.FrameMemo.shared(spark, "memo_test_inner", "sfX")(
        Seq((1L, "i")).toDF("k", "vi"))
      Seq((1L, "o"), (2L, "o2")).toDF("k", "vo")
        .transform(plans.CorpusPin.pin) // AFTER the inner build returned
        .join(inner, Seq("k"), "left_outer")
    }
    plans.FrameMemo.clear(spark)
    plans.FrameMemo.shared(spark, "memo_test_outer", "sfX")(outer).collect()
    plans.FrameMemo.sweepOthers(spark) // the real host sweep, twice
    plans.FrameMemo.sweepOthers(spark)
    val again = plans.FrameMemo.shared(spark, "memo_test_outer", "sfX")(outer)
    assert(again.count() == 2)
    assert(outerBuilds == 1,
      "a pin after a nested inner build must stay memo-owned — the sweep invalidated the outer entry")
    plans.FrameMemo.clear(spark)
  }

  test("a pin from ANOTHER THREAD during a memo build is host-owned, not memo-owned") {
    import spark.implicits._
    // ADVICE r16: a concurrent session thread pinning while some memo
    // build runs must stay releasable — a pin the memo claimed was never
    // registered and leaked past every releaseAll.
    plans.FrameMemo.clear(spark)
    plans.CorpusPin.releaseAll(spark)
    val buildStarted = new java.util.concurrent.CountDownLatch(1)
    val pinDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var other: org.apache.spark.sql.DataFrame = null
    val t = new Thread(() => {
      buildStarted.await()
      other = Seq((9L, "t")).toDF("k", "v").transform(plans.CorpusPin.pin)
      pinDone.countDown()
    })
    t.start()
    plans.FrameMemo.shared(spark, "memo_test_xthread", "sfX") {
      buildStarted.countDown()
      assert(pinDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
      Seq(1L).toDF("k")
    }.collect()
    t.join()
    assert(other.storageLevel.useDisk, "the cross-thread pin should be persisted")
    plans.CorpusPin.releaseAll(spark)
    assert(other.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "a cross-thread pin during a build must be releasable (host-owned), not leak as memo-owned")
    plans.FrameMemo.clear(spark)
  }

  test("after Graft.release a rebuilt memo caches its inner pin again") {
    // Graft.release drops the pin's CacheManager entry along with the
    // memo. Were the pin's blocks freed at the RDD level only, the
    // rebuild's persist would find the stale entry, cache nothing, and
    // every consumer of the pinned frame would recompute it.
    val computed = spark.sparkContext.longAccumulator("memo_test_pin_computes")
    val tagged = udf { (k: Long) => computed.add(1); k * 10 }
    var inner: org.apache.spark.sql.DataFrame = null
    def build = {
      inner = spark.range(6).select(col("id").as("k"), tagged(col("id")).as("t"))
        .transform(plans.CorpusPin.pin)
      inner.select(col("k"), (col("t") + 1).as("t1"))
    }
    plans.FrameMemo.clear(spark)
    plans.FrameMemo.shared(spark, "memo_test_release", "sfX")(build).collect()
    Graft.release(spark)
    val rebuilt = plans.FrameMemo.shared(spark, "memo_test_release", "sfX")(build)
    assert(rebuilt.collect().map(_.getLong(1)).sorted.toSeq == (0L until 6L).map(_ * 10 + 1))
    computed.reset()
    inner.collect(); inner.collect()
    assert(computed.value == 0L,
      s"the rebuilt pin recomputed ${computed.value} rows: its blocks were not cached")
    Graft.release(spark)
  }

  test("a memo entry owns one RDD; the build's helpers go at the next sweep") {
    import spark.implicits._
    var builds = 0
    // both helpers stay referenced, so the ContextCleaner cannot free
    // them behind the test's back: only the sweep may
    var pin, ckpt: org.apache.spark.sql.DataFrame = null
    def build = {
      builds += 1
      pin = Seq((1L, "a"), (2L, "b")).toDF("k", "v").transform(plans.CorpusPin.pin)
      ckpt = Seq((1L, 10L), (2L, 20L)).toDF("k", "n").localCheckpoint(true)
      pin.join(ckpt, "k")
    }
    plans.FrameMemo.clear(spark)
    plans.FrameMemo.sweepOthers(spark)
    val sc = spark.sparkContext
    val owned0 = plans.FrameMemo.ownedIds(spark)
    val live0 = sc.getPersistentRDDs.keySet.toSet
    val a = plans.FrameMemo.shared(spark, "memo_test_one_owner", "sfX")(build)
    val owned = plans.FrameMemo.ownedIds(spark) -- owned0
    val made = sc.getPersistentRDDs.keySet.toSet -- live0
    assert(owned.size == 1, s"one entry must own one RDD id, owns $owned")
    assert(made.size == 3 && owned.subsetOf(made),
      s"the build persists its pin, its helper checkpoint and the entry's checkpoint: $made")
    plans.FrameMemo.sweepOthers(spark)
    assert(sc.getPersistentRDDs.keySet.toSet -- live0 == owned,
      "one sweep must free both helpers and keep the entry's checkpoint")
    assert(pin.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the swept pin must leave no CacheManager entry")
    val b = plans.FrameMemo.shared(spark, "memo_test_one_owner", "sfX")(build)
    assert(builds == 1 && (a eq b), "the entry must still hit after the sweep")
    assert(b.agg(sum("n")).collect().head.getLong(0) == 30L)
    plans.FrameMemo.clear(spark)
  }

  test("durable pin tier: conf-gated reliable checkpoint, same rows, one-leaf plan") {
    import spark.implicits._
    // VERDICT r16 item 4: with spark.graft.pin.durableDir set, pin()
    // upgrades to an eager reliable checkpoint — consumers read a flat
    // LogicalRDD leaf (no lineage replanning, survives executor loss);
    // unset, the recomputable persist tier is untouched.
    val dir = java.nio.file.Files.createTempDirectory("graft_durable_test")
    spark.conf.set(plans.CorpusPin.DurableDirKey, dir.toString)
    try {
      val pinned = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
        .transform(plans.CorpusPin.pin)
      assert(pinned.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(pinned.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
        s"durable pin must be a one-leaf LogicalRDD scan:\n${pinned.queryExecution.optimizedPlan}")
      assert(pinned.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "durable pins must not register a CacheManager entry")
      // checkpoint files actually landed in the configured dir
      def fileCount(d: java.io.File): Int =
        Option(d.listFiles).getOrElse(Array.empty)
          .map(f => if (f.isDirectory) fileCount(f) else 1).sum
      assert(fileCount(dir.toFile) > 0, "no checkpoint files written to the durable dir")
      // joins of the pinned frame to itself read the files, not the lineage
      val self = pinned.join(pinned.toDF("k", "v2"), "k")
      assert(self.count() == 3L)
    } finally {
      spark.conf.unset(plans.CorpusPin.DurableDirKey)
      import scala.sys.process._
      Seq("rm", "-rf", dir.toString).!
    }
    // conf unset again: the default tier persists with lineage
    val lazyPin = Seq((9L, "z")).toDF("k", "v").transform(plans.CorpusPin.pin)
    assert(lazyPin.storageLevel.useDisk, "default tier must persist MEMORY_AND_DISK")
    plans.CorpusPin.releaseAll(spark)
  }

  test("multi-probe candidates are a SUPERSET of exact-bucket candidates (q124 family)") {
    // the multiProbe ring includes XOR 0 (the exact key), so every
    // exact-bucket collision must survive the retune — losing one would
    // mean the recall fix silently changed candidate semantics
    val sf = TestSpark.sfDir
    functions.VectorExpressions.register(spark)
    val sigs = operators.NearDup.hyperplaneSigFrame(
      Tables(spark, sf, "embeddings")).localCheckpoint(true)
    val banded = sigs.select(col("vec_id"), col("sig"),
        explode(sequence(lit(0), lit(7))).as("b"))
      .select(col("vec_id"), col("b"),
        expr("shiftright(sig, cast(b * 4 as int)) & 15").as("k"))
    def pairs(probe: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      probe.select(col("vec_id").as("id_p"), col("b"), col("k"))
        .join(banded.select(col("vec_id").as("id_c"), col("b"), col("k")),
          Seq("b", "k"))
        .filter(col("id_p") =!= col("id_c"))
        .select("id_p", "id_c").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probeSide = banded.filter(col("vec_id") < 10)
    val exact = pairs(probeSide)
    val multi = pairs(operators.NearDup.multiProbe(probeSide))
    assert(exact.subsetOf(multi),
      s"multi-probe lost exact-bucket pairs: ${(exact -- multi).take(5)}")
    assert(multi.size > exact.size,
      "flip-1 ring should add candidates on this corpus")
  }
}
