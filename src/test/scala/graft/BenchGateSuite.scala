package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drives [[Bench.computeRegressionFlags]] — the tripwire that r15
  * proved works (it flagged the one real driver-run anomaly) and r16
  * promoted to a strict-mode gate — with fabricated history lines, so
  * the gate path itself is covered (VERDICT r15 item 5). */
class BenchGateSuite extends AnyFunSuite {
  private val sfDir = "/data/sf0.1"
  private val localN = 4
  private def line(queries: Seq[(String, Double)], failed: Seq[String] = Nil,
      dir: String = sfDir, n: Int = localN): String =
    s"""{"metric":"total","value":1.0,"unit":"sec","local_n":$n,"failed":${failed.size},""" +
      s""""failed_queries":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""queries":${queries.map { case (n, v) => s""""$n":$v""" }
        .mkString("{", ",", "}")},"sf":0.1,"sf_dir":"$dir"}"""

  private val cleanHist =
    Seq.fill(3)(line(Seq("q_a" -> 0.10, "q_b" -> 1.00)))

  test("a >3x, >0.3s reading over 3 healthy history runs is flagged") {
    val flags = Bench.computeRegressionFlags(cleanHist, sfDir, localN,
      Map("q_a" -> 0.90, "q_b" -> 1.05), Set.empty)
    assert(flags == Seq("q_a"))
  }

  test("the 0.3s absolute floor suppresses sub-threshold jitter") {
    val flags = Bench.computeRegressionFlags(cleanHist, sfDir, localN,
      Map("q_a" -> 0.29, "q_b" -> 1.0), Set.empty)
    assert(flags.isEmpty, "0.10->0.29 is jitter, not a regression")
  }

  test("a query that FAILED this run is excluded (time-to-throw)") {
    val flags = Bench.computeRegressionFlags(cleanHist, sfDir, localN,
      Map("q_a" -> 5.0), Set("q_a"))
    assert(flags.isEmpty)
  }

  test("historical failed runs don't feed the baseline (just-fixed query)") {
    // q_a failed in all 3 prior runs with a fast time-to-throw; its first
    // healthy run is SLOWER than the bogus baseline but must not flag
    val hist = Seq.fill(3)(line(Seq("q_a" -> 0.05), failed = Seq("q_a")))
    val flags = Bench.computeRegressionFlags(hist, sfDir, localN,
      Map("q_a" -> 0.9), Set.empty)
    assert(flags.isEmpty, "time-to-throw history must not act as a baseline")
  }

  test("fewer than 3 same-sf_dir history runs -> no flags (cold start)") {
    val mixed = Seq(line(Seq("q_a" -> 0.1)), line(Seq("q_a" -> 0.1)),
      line(Seq("q_a" -> 0.1), dir = "/data/sf0.01"))
    val flags = Bench.computeRegressionFlags(mixed, sfDir, localN,
      Map("q_a" -> 0.9), Set.empty)
    assert(flags.isEmpty)
  }

  test("trailing MEDIAN is the baseline, not the min or mean") {
    // history 0.1, 0.1, 10.0 (one historical spike): median 0.1 -> a
    // current 0.9 still flags; were the baseline the mean (~3.4) it would
    // not. Guards against a past transient poisoning future baselines.
    val hist = Seq(line(Seq("q_a" -> 0.1)), line(Seq("q_a" -> 0.1)),
      line(Seq("q_a" -> 10.0)))
    val flags = Bench.computeRegressionFlags(hist, sfDir, localN,
      Map("q_a" -> 0.9), Set.empty)
    assert(flags == Seq("q_a"))
  }

  test("history runs at another local[N], or with no N recorded, are not a baseline") {
    // three runs at local[32] with the fast timing, and one older line
    // from before N was recorded: none may flag a current local[4] run
    val other = Seq.fill(3)(line(Seq("q_a" -> 0.1), n = 32))
    val unstamped = line(Seq("q_a" -> 0.1)).replace(s""""local_n":$localN,""", "")
    val flags = Bench.computeRegressionFlags(other :+ unstamped, sfDir, localN,
      Map("q_a" -> 0.9), Set.empty)
    assert(flags.isEmpty, "timings at another N must not act as a baseline")
    // the same three runs at local[4] do flag it
    val same = Seq.fill(3)(line(Seq("q_a" -> 0.1)))
    assert(Bench.computeRegressionFlags(other ++ same, sfDir, localN,
      Map("q_a" -> 0.9), Set.empty) == Seq("q_a"))
  }

  test("history lines that record codegen_compiles after local_n are still a baseline") {
    val stamped = cleanHist.map(_.replace(s""""local_n":$localN,""",
      s""""local_n":$localN,"codegen_compiles":312,"""))
    assert(stamped.forall(_.contains("codegen_compiles")))
    assert(Bench.computeRegressionFlags(stamped, sfDir, localN,
      Map("q_a" -> 0.90, "q_b" -> 1.05), Set.empty) == Seq("q_a"))
  }

  test("SPARK_GRAFT_REPS must be a positive integer; unset means 3") {
    assert(Bench.reps(None) == 3)
    assert(Bench.reps(Some("1")) == 1 && Bench.reps(Some("5")) == 5)
    for (bad <- Seq("0", "-2", "abc", "1.5", "")) {
      val e = intercept[IllegalArgumentException](Bench.reps(Some(bad)))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_RETEST_SEC must be a number >= 0; unset means 1.5") {
    assert(Bench.retestSec(None) == 1.5)
    assert(Bench.retestSec(Some("0")) == 0.0 && Bench.retestSec(Some("2.5")) == 2.5)
    for (bad <- Seq("-1", "abc", "NaN", "")) {
      val e = intercept[IllegalArgumentException](Bench.retestSec(Some(bad)))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("the timing median: middle sample, or the mean of the two middles") {
    assert(Bench.median(Seq(3.0)) == 3.0)
    assert(Bench.median(Seq(5.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
