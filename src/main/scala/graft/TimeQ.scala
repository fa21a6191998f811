package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: time named queries repeatedly on a warm session.
  *   sbt "runMain graft.TimeQ <sfDir> <reps> <name> [name ...]"
  * Prints per-rep wall times — rep 1 includes planning/codegen, later
  * reps show steady state. Mirrors Bench's session config.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val names = if (args.length > 2) args.drop(2).toSeq else Seq("q50_dedup_minhash")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // CorpusPin frames ride the SQL columnar cache (persist-with-
      // lineage, SCALING.md r16): per-column compression is pure CPU on
      // a single node where the cache always fits RAM+disk — measured
      // ~8% off the pinned-query tier with it disabled. On a
      // memory-pressured cluster re-enable it (bigger batches spill).
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      // CorpusPin frames live one query and feed 2-4 row-based consumers:
      // store raw UnsafeRow images (localCheckpoint's cost profile, WITH
      // lineage) instead of columnar batches — RowCacheSerializer scaladoc
      .config("spark.sql.cache.serializer", "graft.plans.RowCacheSerializer")
      // shuffle/spill/broadcast compression off on single-node tmpfs
      // (pure CPU, no I/O to amortize) — Bench.scala comment has the
      // full-bench A/B; cluster runs set SPARK_GRAFT_SHUFFLE_COMPRESS=true
      .config("spark.shuffle.compress",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_COMPRESS", "false"))
      .config("spark.shuffle.spill.compress",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_COMPRESS", "false"))
      .config("spark.broadcast.compress",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_COMPRESS", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    names.foreach { name =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        // sweep AROUND FrameMemo-owned frames (contract + impl:
        // graft.plans.FrameMemo.sweepOthers)
        graft.plans.FrameMemo.sweepOthers(spark)
        dt
      }
      println(f"TIMEQ $name: ${times.map(t => f"$t%.3f").mkString(" ")}")
    }
    spark.stop()
  }
}
