package graft

/** Dev utility: dump physical plans for representative queries and grep
  * the markers that matter at scale — PushedFilters reaching the parquet
  * scan, pruned ReadSchema, broadcast joins on dim tables, WholeStageCodegen
  * coverage. The query is EXECUTED first so the printed plan is the final
  * AQE plan (the initial plan shows neither runtime join selections nor
  * codegen ids). Run:
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.01 [queryName ...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_scan_project_filter", "q04_join_broadcast", "q05_join_shuffle",
        "q12_agg_hash", "q20_win_topk_per_group", "q25_sort_limit_topk",
        "q42_anon_suppress_k", "q50_dedup_minhash", "q61_dedup_ngram_jaccard",
        "q62_dedup_embedding", "q63_ann_ivf", "q83_dedup_simhash_pairs")
    // SPARK_GRAFT_PLAN_DIR: also write each query's formatted plan to
    // <dir>/<name>.txt (r17 optimization evidence — plans/r17/*_before/after).
    // SPARK_GRAFT_CPUS matches the bench session so plan shapes (shuffle
    // partition counts, AQE decisions) are the ones the bench actually runs.
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    planDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      val df = SparkEntry.queries(name)(spark, sfDir)
      val qe = df.queryExecution
      // drive THIS queryExecution's RDD (df.count() would plan a separate
      // execution and leave this one's AQE un-finalized)
      qe.toRdd.count()
      val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      println(plan)
      planDir.foreach { d =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, s"$name.txt"), plan + "\n")
      }
      val executed = qe.executedPlan.toString
      // codegen'd operators render with a "*(n)" prefix in plan strings;
      // distinct n = number of WholeStageCodegen spans
      val codegenSpans = "\\*\\((\\d+)\\)".r.findAllMatchIn(executed)
        .map(_.group(1)).toSeq.distinct.size
      val markers = Seq(
        "PushedFilters" -> plan.contains("PushedFilters: ["),
        "BroadcastHashJoin" -> executed.contains("BroadcastHashJoin"),
        s"WholeStageCodegen spans=$codegenSpans" -> (codegenSpans > 0),
        "TakeOrderedAndProject" -> executed.contains("TakeOrderedAndProject"))
      println("markers: " + markers.map { case (k, v) => s"$k=$v" }.mkString(" "))
      // sweep AROUND FrameMemo-owned frames like every other host — the
      // unfiltered sweep evicted the memo between audited queries, so the
      // dedup family's printed plans were measured against a cold memo
      // (r15 review; contract at graft.plans.FrameMemo)
      graft.plans.FrameMemo.sweepOthers(spark)
    }
    spark.stop()
  }
}
