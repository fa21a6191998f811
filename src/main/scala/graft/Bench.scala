package graft
import java.nio.file.{Files, Paths}

/** Benchmark main — runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and reports per-query wall times.
  *
  * Output contract (driver-parseable): per-query timings stream as short
  * one-line JSON records while running; the machine-readable summary
  * `{"metric":"total",...}` is the FINAL stdout line, printed after
  * `spark.stop()` so nothing (not even shutdown logging) can interleave
  * after it. The final line carries the total ONLY — no per-query dict:
  * the driver captures a ~4 KB stdout tail, and an 88-entry dict pushed
  * the line past that window two rounds running (`parsed: null`). The
  * full summary INCLUDING the per-query dict is written to
  * `SPARK_GRAFT_BENCH_OUT` (default `bench_result.json` in the working
  * dir), so no information is lost to the truncation.
  *
  * Protocol: each query is timed `SPARK_GRAFT_REPS` times (default 3)
  * and contributes its per-query MEDIAN — single-sample totals swung
  * ±20% with machine noise across rounds (BASELINE.md). `value` is the
  * sum of the full-precision per-query medians rounded once at the end;
  * the independently-trimmed per-query entries may sum to a value
  * differing in the last digit (~0.0005 s/query) — the total is the
  * authoritative number.
  */
object Bench {
  /** JVM-hygiene telemetry, sampled per query (VERDICT r10 item 1: five
    * driver readings inflated 4–15× over steady state; the root cause must
    * be readable from the bench artifact itself, not a re-measure session).
    * gc_ms = cumulative collector time, cc_mb = JIT code cache used,
    * meta_mb = metaspace used, classes = live loaded classes,
    * scratch_mb = bytes under spark.local.dir + java.io.tmpdir (tmpfs —
    * growth here is RAM pressure on the whole box). */
  private def telemetrySample(): String = {
    import java.lang.management.ManagementFactory
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
        .getCollectionTime).sum
    def poolMb(fragment: String): Long =
      ManagementFactory.getMemoryPoolMXBeans.toArray
        .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
        .filter(_.getName.toLowerCase.contains(fragment))
        .map(_.getUsage.getUsed).sum >> 20
    val classes = ManagementFactory.getClassLoadingMXBean.getLoadedClassCount
    def duMb(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        else f.length
      // clamp failed walks to 0 rather than folding a -1 sentinel into the
      // sum (ADVICE r11: -1 summed alongside valid sizes silently skewed
      // scratch_mb negative-biased instead of signalling the failed path)
      try walk(new java.io.File(p)) >> 20 catch { case _: Throwable => 0L }
    }
    val scratch = Seq(sys.props.get("spark.local.dir"), sys.props.get("java.io.tmpdir"))
      .flatten.distinct.map(duMb).sum
    val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val heapMb = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) >> 20
    s""""gc_ms":$gcMs,"cc_mb":${poolMb("codeheap") + poolMb("code cache")},""" +
      s""""meta_mb":${poolMb("metaspace")},"classes":$classes,""" +
      s""""scratch_mb":$scratch,"heap_mb":$heapMb,"load":${"%.2f".formatLocal(java.util.Locale.ROOT, load)}"""
  }

  /** The regression tripwire, extracted pure so BenchGateSuite can drive
    * it with fabricated history (VERDICT r15 item 5). A query is flagged
    * iff it has a timing in each of the trailing 3 history runs on the
    * same sf_dir and the same `local[N]` (failed-in-that-run timings
    * excluded — they are time-to-throw, not plan cost), its current
    * reading exceeds 3× the trailing median, and it exceeds a 0.3 s
    * absolute floor (sub-tenth-second jitter is not a regression).
    * History lines that record no N count as another N: at sf0.1, 8
    * cores beat 32, so timings from different N do not compare. History
    * is read BEFORE the current run appends. */
  private[graft] def computeRegressionFlags(histLines: Seq[String],
      sfDir: String, localN: Int, results: Map[String, Double],
      failed: Set[String]): Seq[String] = {
    val nre = """"local_n":([0-9]+)[,}]""".r
    val same = histLines.filter(ln => ln.contains(s""""sf_dir":"$sfDir"""") &&
      nre.findFirstMatchIn(ln).exists(_.group(1).toInt == localN)).takeRight(3)
    val qre = """"(q[^"]+)":([0-9.]+)""".r
    val hist = same.map { ln =>
      val at = ln.indexOf(""""queries":{""")
      if (at < 0) Map.empty[String, Double]
      else {
        // a historical run's dict includes FAILED queries' time-to-throw
        // (by design, loud-failure contract) — those are not plan
        // timings, and leaving them in would flag a just-fixed query as
        // a regression on its first healthy run. History lines carry
        // the FULL failed list (the file-copy rendering).
        val failedHist: Set[String] = {
          val fa = ln.indexOf(""""failed_queries":[""")
          if (fa < 0) Set.empty
          else """"(q[^"]+)"""".r
            .findAllMatchIn(ln.substring(fa + 18, ln.indexOf(']', fa)))
            .map(_.group(1)).toSet
        }
        qre.findAllMatchIn(ln.substring(at + 11, ln.indexOf('}', at)))
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filterNot { case (n, _) => failedHist(n) }.toMap
      }
    }
    if (hist.size < 3) Nil
    else results.collect { case (name, cur)
      if !failed.contains(name) && {
        val h = hist.flatMap(_.get(name))
        h.size == 3 && cur > 3 * h.sorted.apply(1) && cur > 0.3
      } => name }.toSeq
  }

  /** `SPARK_GRAFT_REPS`: timed runs per query, a positive integer,
    * unset ⇒ 3. Each query reports its MEDIAN (VERDICT r4 item 6): a
    * single sample on a ±20%-noise box does not compare across rounds
    * (BASELINE.md §noise); 1 gives single-shot dev loops. */
  private[graft] def reps(env: Option[String]): Int = env match {
    case None => 3
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(throw
      new IllegalArgumentException(s"SPARK_GRAFT_REPS must be a positive integer, got '$v'"))
  }

  /** `SPARK_GRAFT_RETEST_SEC`: the median above which a query gets an
    * end-of-suite retest, a number >= 0 (0 turns the retest off),
    * unset ⇒ 1.5. */
  private[graft] def retestSec(env: Option[String]): Double = env match {
    case None => 1.5
    case Some(v) => v.toDoubleOption.filter(_ >= 0).getOrElse(throw
      new IllegalArgumentException(s"SPARK_GRAFT_RETEST_SEC must be a number >= 0, got '$v'"))
  }

  /** True median; the mean of the two middles for an even count — the
    * lower-middle sample alone would bias the protocol fast. */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Every timing window: `reps` runs of `run`, each followed by the
    * between-queries sweep and `onRep(rep, sec, err)`. Returns the
    * median and the last failure, so no window can mistake a fast
    * failure for a timing (VERDICT r8 item 2). */
  private def timeReps(spark: org.apache.spark.sql.SparkSession, reps: Int,
      run: () => Unit, onRep: (Int, Double, Option[String]) => Unit = (_, _, _) => ())
      : (Double, Option[String]) = {
    val runs = (1 to reps).map { rep =>
      val t0 = System.nanoTime()
      val err = try { run(); None } catch {
        case e: Throwable =>
          Some((e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
            .replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(160))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop what the query left behind (localCheckpoint RDDs, CorpusPin
      // cache entries) AROUND FrameMemo-owned frames, blocking, before the
      // next timing starts: freed blocks can't linger into its GC
      // pressure, and no query borrows an earlier query's cache
      graft.plans.FrameMemo.sweepOthers(spark)
      onRep(rep, dt, err)
      (dt, err)
    }
    (median(runs.map(_._1)), runs.flatMap(_._2).lastOption)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // read before the session starts, so a bad value fails at once
    val reps = this.reps(sys.env.get("SPARK_GRAFT_REPS"))
    val retestSec = this.retestSec(sys.env.get("SPARK_GRAFT_RETEST_SEC"))
    // unset ⇒ one task slot per available core: a fixed local[32] on a
    // smaller host oversubscribes it, and a fixed 4 underuses a larger one.
    // Set SPARK_GRAFT_CPUS to reproduce an earlier run's local[N]; the N
    // is recorded in the summary: runs compare only at equal N.
    val localN = GraftSession.cpus(sys.env.get("SPARK_GRAFT_CPUS"))
    val spark = GraftSession(cpus = Some(localN))
    spark.sparkContext.setLogLevel("ERROR")
    // schema tripwire at the DRIVER's own entry point (VERDICT r9 item 7):
    // SchemaSuite catches drift in `sbt test`, but the bench artifact is
    // what the driver reads — a regenerated table must name itself HERE,
    // in this run's stderr, not one suite run later.
    Tables.verifySchemas(spark, sfDir)
      .foreach(m => System.err.println(s"[bench] SCHEMA DRIFT: $m"))
    // untimed warmup: pay JVM/JIT/codegen/parquet-footer startup once so
    // per-query numbers measure the queries (BASELINE.md's reference
    // numbers are warm-pass numbers)
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.entry(spark).count()
    } catch { case _: Throwable => () }
    // Locale.ROOT: a comma-decimal default locale would render 1,234 and
    // break the driver's JSON parse of the contractual summary line
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    // dev-iteration filter: SPARK_GRAFT_ONLY="q50,q76" times just those
    // queries (substring match). Unset in driver runs — full suite.
    val selected = SparkEntry.selected(sys.env.get("SPARK_GRAFT_ONLY"))
    var qIdx = 0
    // queries with ≥1 failed rep: failed queries still contribute their
    // (meaningless) elapsed time so the line format stays stable, but
    // every failed rep streams an "err" field and the summary carries
    // "failed": N — the driver-read line — so a nonzero count can't be
    // missed.
    val failedQueries = scala.collection.mutable.LinkedHashSet[String]()
    def codegenCount = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val codegen0 = codegenCount
    val results = selected.map { case (name, fn) =>
      // a concurrent GC cycle every 15 queries keeps old-gen debris from
      // earlier queries out of later queries' timings
      qIdx += 1
      if (qIdx % 15 == 0) System.gc()
      // every rep streams its own line, so rep 1 (plan+codegen) vs steady
      // state stays visible in the log
      val (med, err) = timeReps(spark, reps, () => fn(spark, sfDir).count(),
        (rep, dt, err) => if (reps > 1 || err.isDefined) {
          val errField = err.map(m => s""","err":"$m"""").getOrElse("")
          println(s"""{"query":"$name","rep":$rep,"sec":${r3(dt)}$errField}""")
        })
      if (err.isDefined) failedQueries += name
      // per-query JVM telemetry rides on the median line so a hot reading
      // is adjudicable from the artifact alone (which resource was growing
      // when THIS query ran?) instead of needing a quiet-box re-measure
      println(s"""{"query":"$name","sec":${r3(med)},${telemetrySample()}}""")
      name -> med
    }.to(scala.collection.mutable.LinkedHashMap)
    // classes compiled by the timed loop: a generated-code cache too small
    // for the suite shows here as recompilation on every rep
    val codegenCompiles = codegenCount - codegen0
    // ---- steady-state re-measure pass (VERDICT r10 item 1) ----
    // Five r10 readings were 4–15× their steady state from transient box /
    // JVM conditions during their 3-rep window. The gate wants PLAN cost,
    // and noise is strictly additive, so for queries whose median exceeds a
    // threshold we take a second 3-rep window at the END of the suite (JVM
    // fully warm, transient pressure likely passed) and report
    // min(median, retest median). Both readings stream, so an intentional
    // regression can't hide: a genuinely slow plan is slow in BOTH windows.
    // queries whose reported value came from the retest window — flagged in
    // the summary JSON so the headline total is auditable against the
    // per-query retest lines (ADVICE r11 item 2)
    val retested = scala.collection.mutable.LinkedHashSet[String]()
    // queries that succeeded in the main loop but FAILED during the retest
    // (ADVICE r12 item 3): the retest is correctly voided, but an
    // end-of-suite flake must be auditable from the summary line, not only
    // from a streamed retest line the driver's tail capture may drop.
    val retestFailed = scala.collection.mutable.LinkedHashSet[String]()
    if (retestSec > 0) {
      // failed queries are excluded: their "median" is time-to-throw, a
      // retest slot would re-run a known-broken query (possibly
      // displacing a genuinely slow healthy one), and a transient
      // failure could overwrite the record with a healthy-looking
      // timing while the query still sits in failed_queries (r15 review)
      val slow = results.filter(_._2 > retestSec).keys.toSeq
        .filterNot(failedQueries.contains)
        .sortBy(n => -results(n)).take(20)
      slow.foreach { name =>
        System.gc()
        // any failed rep voids the retest (ADVICE r11 item 1: the old
        // swallow-and-min timed a fast FAILURE and silently overwrote the
        // real median with no err field)
        val (med2, retestErr) =
          timeReps(spark, reps, () => selected(name)(spark, sfDir).count())
        val errField = retestErr.map(m => s""","err":"$m"""").getOrElse("")
        println(s"""{"query":"$name","retest_sec":${r3(med2)},"main_sec":${r3(results(name))}$errField}""")
        if (retestErr.isEmpty && med2 < results(name)) {
          results(name) = med2; retested += name
        }
        if (retestErr.nonEmpty) retestFailed += name
      }
    }
    // ---- automated regression tripwire (VERDICT r14 item 7) ----
    // Rounds 6–11 adjudicated per-query regressions BY HAND against the
    // previous runs' dicts; this automates exactly that check: a query
    // whose (retest-min) median exceeds 3× its trailing-3-run median in
    // bench_history.jsonl — same sf_dir only — is flagged in the summary
    // JSON. Empty on a clean run. A 0.3 s absolute floor keeps the 3×
    // ratio from flagging 0.05→0.2 s jitter on sub-tenth-second queries,
    // and failed queries are excluded (their "timing" is time-to-throw).
    // Read BEFORE this run is appended, so the window is the prior runs.
    val histPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "bench_history.jsonl")
    def histLines: Seq[String] = try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get(histPath)).asScala.toSeq
    } catch { case _: Throwable => Nil }
    def flagsNow(): Seq[String] =
      computeRegressionFlags(histLines, sfDir, localN, results.toMap, failedQueries.toSet)
    // flagged-query steady-state re-measure (VERDICT r15 item 5): a flag
    // raised from a median that happens to sit UNDER the 1.5 s retest
    // threshold never got a second window, so a transient spike during
    // its 3-rep slot stuck as a "regression" (r15's q315: 0.17→0.81 in
    // one driver run, steady-state unchanged across three trees). Each
    // preliminarily-flagged query gets its own end-of-suite 3-rep window
    // under the same min(median, retest) protocol; only flags that
    // SURVIVE the re-measure are reported.
    val prelimFlags = flagsNow()
    prelimFlags.foreach { name =>
      // mirror the main loop's loud-failure contract (ADVICE r16): a rep
      // that throws here must NOT contribute a time-to-throw "timing" —
      // letting it through would let a fast failure replace the genuine
      // main-run number, silently clear the flag, and poison the
      // bench_history trailing-median baseline for future rounds.
      val (med2, err) = timeReps(spark, 3, () => selected(name)(spark, sfDir).count())
      val retestThrew = err.isDefined
      println(s"""{"query":"$name","flag_retest_sec":${r3(med2)},"main_sec":${r3(results(name))},"retest_failed":$retestThrew}""")
      if (!retestThrew && med2 < results(name)) {
        results(name) = med2; retested += name
      }
    }
    val regressionFlags: Seq[String] = flagsNow()

    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // numeric scale factor parsed from the dir name ("…/sf0.1" → 0.1) so the
    // summary's sf field is a JSON number; the raw dir rides along separately
    val sfNum = "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("null")
    // box-load telemetry (VERDICT r7 item 1): three rounds of bench deltas
    // (58.6–82.7 s spread on one build, two phantom per-query regressions)
    // were all colocated-load noise, each costing a manual re-measurement
    // session. `load` = 1-min system load average sampled when the summary
    // is written (-1.0 where the JVM can't provide one), `cpus` = host
    // hardware threads — load/cpus ≫ the bench's own parallelism means
    // the numbers are suspect.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val hostCpus = Runtime.getRuntime.availableProcessors
    // freshness stamps (VERDICT r9 item 6): `run_epoch` dates the run;
    // `data_digest` fingerprints the input tables (name:bytes:mtime per
    // table, md5-folded) so the NEXT silent testdata regeneration is
    // visible as a digest flip between rounds' bench artifacts instead
    // of an unexplained timing shift. Metadata-only — no data read.
    val runEpoch = System.currentTimeMillis() / 1000L
    val dataDigest = {
      // hardened like duMb (r15 review): an EMPTY directory (interrupted
      // regeneration) made .max throw on an empty seq and an IO error
      // made listFiles() null — either would crash main AFTER every
      // query was timed, losing the summary line, bench_result.json and
      // the history append. A digest must never cost the run.
      def sig(f: java.io.File): String =
        try {
          if (f.isDirectory) {
            val kids = Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
            if (kids.isEmpty) "EMPTY"
            else s"${kids.map(_.length).sum}:${kids.map(_.lastModified).max}"
          } else s"${f.length}:${f.lastModified}"
        } catch { case _: Throwable => "UNREADABLE" }
      val parts = Tables.names.sorted
        .map { n => val f = new java.io.File(s"$sfDir/$n.parquet")
          s"$n:${if (f.exists) sig(f) else "ABSENT"}" }
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(parts.mkString(";").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
    }
    // "failed" makes a broken query IMPOSSIBLE to mistake for a fast one:
    // the summary total is only comparable round-over-round when
    // failed == 0 (a failed query's "timing" is its time-to-throw). The
    // name list is capped at 5 so the contractual final line stays inside
    // the driver's ~4 KB stdout-tail window even under mass breakage;
    // the full set is visible in the per-rep "err" lines above.
    // two renderings (r15 review): the FILE/history copy carries the
    // FULL failed list — the regression tripwire excludes historical
    // failed queries by parsing exactly that list, and a 5-name cap
    // would let the 6th+ failed query's time-to-throw pollute the
    // trailing-median baseline; the stdout line stays capped for the
    // driver's ~4 KB tail window.
    def failedField(cap: Int) =
      s""""failed":${failedQueries.size},"failed_queries":${
        failedQueries.take(cap).map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    // two renderings of the retest audit fields (ADVICE r12 items 2+3):
    // the FILE copy carries the full name lists; the contractual final
    // STDOUT line caps each list at 5 (failed_queries' precedent) plus a
    // count, so up to 20 retested names (~600 bytes) can't erode the
    // driver's ~4 KB stdout-tail margin.
    def namesJson(s: scala.collection.Iterable[String], cap: Int = Int.MaxValue) =
      s.take(cap).map("\"" + _ + "\"").mkString("[", ",", "]")
    val retestAuditFull =
      s""""retested_n":${retested.size},"retested":${namesJson(retested)},""" +
      s""""retest_failed":${retestFailed.size},"retest_failed_queries":${namesJson(retestFailed)}"""
    val retestAuditCapped =
      s""""retested_n":${retested.size},"retested":${namesJson(retested, 5)},""" +
      s""""retest_failed":${retestFailed.size},"retest_failed_queries":${namesJson(retestFailed, 5)}"""
    def telemetry(retestAudit: String, flagCap: Int) = s""""load":${r3(loadAvg)},"cpus":$hostCpus,"local_n":$localN,""" +
      s""""codegen_compiles":$codegenCompiles,""" +
      s""""run_epoch":$runEpoch,"data_digest":"$dataDigest",$retestAudit,${failedField(flagCap)},""" +
      s""""regression_flags_n":${regressionFlags.size},""" +
      s""""regression_flags":${namesJson(regressionFlags, flagCap)}"""
    val full =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","reps":$reps,${telemetry(retestAuditFull, Int.MaxValue)},"queries":$qs,"sf":$sfNum,"sf_dir":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    try Files.writeString(Paths.get(outPath), full + "\n")
    catch { case _: Throwable => () }
    // machine-readable bench history (VERDICT r11 item 6): one appended
    // line per run makes regression adjudication a one-line diff for every
    // future round instead of reconstructing from per-round snapshots.
    // Same full summary as bench_result.json (per-query dict included).
    try Files.writeString(Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "bench_history.jsonl")),
      full + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case _: Throwable => () }
    spark.stop()
    // the summary is the LAST line on stdout — after spark.stop() so no
    // shutdown logging can follow or interleave with it; total-only so the
    // whole line fits any tail capture (per-query detail: the streamed
    // lines above + the full copy in bench_result.json). build.sbt routes
    // forked stdout raw (StdoutOutput) and suppresses sbt's [success]
    // epilogue so this line reaches the driver unprefixed and last.
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","reps":$reps,${telemetry(retestAuditCapped, 5)},"sf":$sfNum,"sf_dir":"$sfDir"}""")
    System.out.flush()
    // strict mode (VERDICT r15 item 5): under SPARK_GRAFT_STRICT=1 —
    // builder/quiet closing-gate runs — surviving regression flags are a
    // GATE, not an advisory field: the r15 flag on q315 was correct and
    // actionable and still shipped unexamined. Exit AFTER every artifact
    // (bench_result.json, history append, summary line) is written, so a
    // gating run loses no data; flags here already survived their own
    // steady-state re-measure window. Driver runs leave the env unset
    // and stay non-fatal.
    if (sys.env.get("SPARK_GRAFT_STRICT").exists(s => s == "1" || s == "true")
        && regressionFlags.nonEmpty) {
      System.err.println(s"[bench] STRICT: regression flags survived the " +
        s"re-measure pass: ${regressionFlags.mkString(", ")}")
      sys.exit(1)
    }
  }
}
