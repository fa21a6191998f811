package graft

/** Dev utility: time named queries repeatedly on a warm session.
  *   sbt "runMain graft.TimeQ <sfDir> <reps> <name> [name ...]"
  * Prints per-rep wall times — rep 1 includes planning/codegen, later
  * reps show steady state. Same session as Bench (GraftSession).
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val names = if (args.length > 2) args.drop(2).toSeq else Seq("q50_dedup_minhash")
    val spark = GraftSession()
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
