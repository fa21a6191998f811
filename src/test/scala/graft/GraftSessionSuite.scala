package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drives [[GraftSession.confs]], the pure conf derivation every runner's
  * session is built from, without starting a second SparkContext. */
class GraftSessionSuite extends AnyFunSuite {
  private val localKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.inMemoryColumnarStorage.compressed", "spark.shuffle.compress",
    "spark.shuffle.spill.compress", "spark.broadcast.compress")

  private def confMap(master: String, conf: Option[String] = None) =
    GraftSession.confs(master, 4, conf).toMap

  private def assertCommon(m: Map[String, String]): Unit = {
    assert(m("spark.sql.session.timeZone") == "UTC")
    assert(m("spark.ui.enabled") == "false")
    assert(m("spark.sql.cache.serializer") == "graft.plans.RowCacheSerializer")
  }

  test("a local master gets the single-node tunings") {
    val m = confMap("local[4]")
    assert(m("spark.sql.shuffle.partitions") == "4")
    assert(localKeys.tail.forall(k => m(k) == "false"), m)
    assertCommon(m)
  }

  test("a cluster master keeps Spark's defaults, and the common confs") {
    for (master <- Seq("yarn", "spark://h:7077")) {
      val m = confMap(master)
      assert(localKeys.forall(k => !m.contains(k)), s"$master: $m")
      assertCommon(m)
    }
  }

  test("SPARK_GRAFT_CONF is applied last and wins over a derived value") {
    val m = confMap("local[4]",
      Some("spark.shuffle.compress=true;spark.sql.shuffle.partitions=7"))
    assert(m("spark.shuffle.compress") == "true")
    assert(m("spark.sql.shuffle.partitions") == "7")
    assert(m("spark.broadcast.compress") == "false")
    // and over a caller's static conf
    val e = GraftSession.confs("yarn", 4, Some("k=from-env"), Seq("k" -> "from-caller"))
    assert(e.toMap.apply("k") == "from-env")
  }

  test("SPARK_GRAFT_CONF: malformed entries are rejected, empty ones skipped") {
    for (bad <- Seq("k", "=v", "a=1;k")) {
      val e = intercept[IllegalArgumentException](confMap("local[4]", Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CONF"), e.getMessage)
    }
    assert(GraftSession.parseConf(Some("k=v;;")) == Seq("k" -> "v"))
    // only the first '=' splits: a value may contain '='
    assert(GraftSession.parseConf(Some("a=b=c")) == Seq("a" -> "b=c"))
    assert(GraftSession.parseConf(None).isEmpty)
  }

  test("SPARK_GRAFT_CPUS must be a positive integer; unset means every core") {
    for (bad <- Seq("0", "-2", "abc", "*")) {
      val e = intercept[IllegalArgumentException](GraftSession.cpus(Some(bad)))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    assert(GraftSession.cpus(Some("3")) == 3)
    assert(GraftSession.cpus(None) == Runtime.getRuntime.availableProcessors)
  }

  test("the shared test session is built by GraftSession, rules installed") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.cache.serializer") == "graft.plans.RowCacheSerializer")
    assert(spark.experimental.extraOptimizations.contains(graft.plans.ProbeScanFanOut))
  }
}
