package graft

import graft.operators.{LLMPipeline, NearDup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Demonstrates — with wall-clock evidence at a size where compute
  * dominates fixed overheads — that the cell-pruned (IVF-style) ANN plan
  * beats all-pairs brute force, i.e. that q63's shape is the scale path
  * and q51/q62's is the baseline. Both sides of the comparison are the
  * PRODUCTION code paths (`NearDup.ivfTopK`, `LLMPipeline.bruteTopK`) —
  * the same functions the verified q63/q51 queries call — not a
  * re-implementation. At bench scale (5k vectors) both run sub-second and
  * per-stage overhead hides the asymptotics; here 24k synthetic vectors ×
  * 1k probes make the brute pair space 24M vs 4.8M within nprobe=2 of 10
  * cells (5× pruning), which must show up as wall-clock.
  *
  * The wall-clock assertion is gated on GRAFT_BENCH_CLASS=1 rather than
  * CPU count: a loaded many-core CI host would auto-enable it and flake
  * under contention (BASELINE.md records ±20% noise on the bench box).
  * The correctness assertions — pruned results exist, are ranked, and
  * never beat the exact ranks — run unconditionally at a reduced size.
  */
class ScalePathSuite extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val benchClass = sys.env.get("GRAFT_BENCH_CLASS").contains("1")

  private def synthetic(n: Int): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    // deterministic pseudo-random unit-ish vectors: 64 floats from
    // sin(id * k) — cheap, no shuffle, reproducible
    spark.range(n.toLong).toDF("vec_id")
      .withColumn("label", (col("vec_id") % 10).cast("int"))
      .withColumn("embedding", expr(
        // +1: vec_id 0 would give the all-zero vector (zero norm → ANSI
        // divide-by-zero in the cosine)
        "transform(sequence(1, 64), i -> cast(sin((vec_id + 1) * i * 0.37) as float))"))
  }

  test("production ivfTopK beats production bruteTopK at scale") {
    val n = if (benchClass) 24000 else 6000
    // the centroid stage is probe-independent, so the asymptotic win
    // shows once the probe workload dominates it: many probes, nprobe=1
    // (10× pair pruning). The small config keeps nprobe=2 to exercise the
    // multi-cell path in the unconditional correctness assertions.
    val nProbes = if (benchClass) 3000 else 200
    val nProbe = if (benchClass) 1 else 2
    val k = 3
    val emb = synthetic(n).localCheckpoint(true)
    val probePred = col("vec_id") < nProbes

    // warm both plans once at a small size so codegen compile time is
    // excluded from the comparison
    val warm = synthetic(500).localCheckpoint(true)
    NearDup.ivfTopK(spark, warm, col("vec_id") < 20, nProbe, topK = k).count()
    LLMPipeline.bruteTopK(spark, warm, col("vec_id") < 20, topK = k).count()

    val t0 = System.nanoTime()
    val brute = LLMPipeline.bruteTopK(spark, emb, probePred, topK = k).collect()
    val tBrute = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val ivf = NearDup.ivfTopK(spark, emb, probePred, nProbe, topK = k).collect()
    val tCell = (System.nanoTime() - t1) / 1e9
    info(f"brute: $tBrute%.2f s (${brute.length} rows)  ivf: $tCell%.2f s (${ivf.length} rows)")

    // every probe answered with a full ranked top-k (each cell holds n/10
    // vectors, far more than k)
    val ivfByProbe = ivf.groupBy(_.getLong(0))
    val bruteByProbe = brute.groupBy(_.getLong(0))
    assert(ivfByProbe.size == nProbes && bruteByProbe.size == nProbes)
    ivfByProbe.foreach { case (p, rows) =>
      val cosines = rows.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("cos"))
      assert(cosines.length == k)
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b }, s"probe $p not ranked")
      // a pruned search can never BEAT the exact search at any rank
      val exact = bruteByProbe(p).sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("cos"))
      cosines.zip(exact).foreach { case (ic, bc) =>
        assert(ic <= bc + 1e-9, s"probe $p: ivf cos $ic beats exact $bc")
      }
    }
    // ...and is decisively faster once compute dominates: 5× fewer pairs
    // must yield at least 3× wall-clock on an unloaded bench-class host
    if (benchClass)
      assert(tCell * 3 < tBrute,
        f"ivf ($tCell%.2f s) not ≥3× faster than brute ($tBrute%.2f s)")
  }

  test("exactCosPairs equals brute force; cell bound genuinely prunes at dedup τ") {
    graft.functions.VectorExpressions.register(spark)
    // clustered corpus: 40 directions, members = direction + small noise
    // (the shape of a near-dup-bearing embedding table). Exactness must
    // hold at BOTH the loose bench τ=0.3 and dedup-grade τ=0.9; pruning
    // power is only claimed at the latter.
    val n = 1500
    val emb = spark.range(n.toLong).toDF("vec_id")
      .withColumn("embedding", expr(
        "transform(sequence(1, 64), i -> cast(sin((vec_id % 40 + 1) * i * 0.37) " +
          "+ 0.05 * sin((vec_id + 7) * i * 1.13) as float))"))
      .localCheckpoint(true)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val dot = expr("aggregate(zip_with(ea, eb, (x, y) -> cast(x as double) * cast(y as double)), 0d, (acc, v) -> acc + v)")
    val na = expr("sqrt(aggregate(ea, 0d, (acc, x) -> acc + cast(x as double) * cast(x as double)))")
    val nb = expr("sqrt(aggregate(eb, 0d, (acc, x) -> acc + cast(x as double) * cast(x as double)))")
    for (tau <- Seq(0.3, 0.9)) {
      val brute = a.join(b, col("ia") < col("ib"))
        .filter(dot / (na * nb) >= tau)
        .select(col("ia"), col("ib")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val pruned = NearDup.exactCosPairs(spark, emb, tau)
        .select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // NOTE: exactCosPairs thresholds the r6-rounded cosine while the
      // brute control thresholds the raw double — identical sets unless a
      // pair sits within 5e-7 of τ, which this synthetic corpus avoids
      assert(pruned == brute,
        s"τ=$tau: pair sets differ (missing=${(brute -- pruned).take(5)}, " +
          s"extra=${(pruned -- brute).take(5)})")
    }
    // pruning power at τ=0.9: admissible cell pairs ≪ occupied²
    val sigs = NearDup.cellSigs(spark, emb, cellBits = 8)
    val occupied = sigs.select("cell").distinct().count()
    val admissible = NearDup.admissibleCellPairs(sigs, 0.9).count()
    info(s"occupied cells: $occupied, admissible pairs: $admissible of ${occupied * occupied}")
    assert(admissible * 2 < occupied * occupied,
      s"cell bound pruned under half the pair space at τ=0.9 " +
        s"($admissible of ${occupied * occupied})")
  }

  test("BoundedQuantiles: state stays bounded on an all-distinct corpus") {
    // 300k ALL-DISTINCT doubles in ONE global group — exactly the shape
    // that grows the builtin percentile's counts-map to |rows| entries
    // (the r4 scale-killer). The bounded plan must instead see: at most
    // `buckets` histogram bins, and pass-2 probe-row × rank-target
    // matches restricted to the few bins holding the target ranks —
    // orders of magnitude below the group size.
    val n = 300000L
    val df = spark.range(n).toDF("id")
      .withColumn("v", col("id").cast("double") * 1.0000001 + 0.5)
    val ps = Seq(0.5, 0.99)
    val (maxBins, pass2Rows) = graft.plans.BoundedQuantiles
      .stateFootprint(df, Nil, col("v"), ps, buckets = 4096)
    assert(maxBins <= 4096, s"histogram wider than the bucket bound: $maxBins")
    // ≤ 4 target bins (2 ps × lo/hi) × ~n/4096 rows each on this uniform
    // corpus; 1% of the group is a generous ceiling
    assert(pass2Rows < n / 100,
      s"pass 2 matched $pass2Rows probe-row × rank-target pairs — not a bounded selection")
    // and the bounded plan still returns the builtin's exact values here
    val got = graft.plans.BoundedQuantiles
      .groupQuantiles(df, Nil, col("v"), ps, Seq("a", "b"), buckets = 4096)
      .collect()(0)
    val expect = df.agg(expr("percentile(v, array(0.5, 0.99))")).collect()(0)
      .getSeq[Double](0)
    assert(List(got.getDouble(0), got.getDouble(1)) == expect.toList)
  }

  test("native band join equals the theta join on a hot key; faster at scale") {
    import spark.implicits._
    // ONE key (the skew worst case): the declarative form is an equi-join
    // whose single hot partition materializes the n×m pair fan-out before
    // the band filter touches it; the sweep's state is the ~delta/spacing
    // window. Correctness (multiset equality) runs unconditionally; the
    // wall-clock ratio only on a bench-class host (IVF-test convention).
    val n = if (benchClass) 30000 else 1000
    val m = if (benchClass) 30000 else 500
    val delta = if (benchClass) 2L else 10L // unit spacing ⇒ window = 2·delta+1
    // (bench: 900M key-pairs vs ~5 matches/left — the regime the sweep is for)
    val lefts = (0 until n).map(i => (1L, i.toLong, i.toLong))
      .toDF("key", "t", "left_id").localCheckpoint(true)
    val rights = (0 until m).map(j => (1L, j.toLong, s"r$j"))
      .toDF("key", "t", "v").localCheckpoint(true)
    def theta = lefts.as("l").join(rights.as("r"),
        col("l.key") === col("r.key") &&
          abs(col("l.t") - col("r.t")) <= delta)
      .select(col("left_id"), col("r.t").as("t_match"), col("v").as("v_match"))
    def native = Graft.bandJoinNative(lefts, rights, delta)
      .select(col("left_id"), col("t_match"), col("v_match"))
    // warm both plans (codegen compile excluded, IVF-test convention)
    theta.count(); native.count()
    val t0 = System.nanoTime()
    val a = theta.collect()
    val tTheta = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val b = native.collect()
    val tNative = (System.nanoTime() - t1) / 1e9
    info(f"theta: $tTheta%.2f s (${a.length} rows)  native sweep: $tNative%.2f s (${b.length} rows)")
    def ms(xs: Array[org.apache.spark.sql.Row]) =
      xs.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
    assert(ms(a) == ms(b), "native band join diverges from the theta join")
    assert(a.nonEmpty)
    if (benchClass)
      assert(tNative * 2 < tTheta,
        f"sweep ($tNative%.2f s) not ≥2× faster than theta ($tTheta%.2f s) on the hot key")
  }

  test("banded dedup CANDIDATE COUNT grows linearly with corpus size at fixed dup density (r17)") {
    // the 100 TB claim behind every banded path (q50/q61/q76/q269 feeders):
    // LSH band buckets are CONTENT-determined, so at a constant planted
    // near-dup rate the candidate pair count scales with the corpus, not
    // its square. A quadratic path would grow ~16x here; linear is ~4x.
    // Counts, not wall-clock - exact and load-independent.
    val c1 = Graft.minhashPairs(ScaleGrowth.docs(spark, 2000)).count()
    plans.CorpusPin.releaseAll(spark); plans.FrameMemo.clear(spark)
    val c4 = Graft.minhashPairs(ScaleGrowth.docs(spark, 8000)).count()
    plans.CorpusPin.releaseAll(spark); plans.FrameMemo.clear(spark)
    assert(c1 > 0, "no candidates at the base scale - generator broken")
    assert(c4 >= 2 * c1 && c4 <= 8 * c1,
      s"banded candidate growth not ~linear at 4x corpus: $c1 -> $c4")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
