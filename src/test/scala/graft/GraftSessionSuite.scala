package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Drives [[GraftSession.confs]] and [[GraftSession.codegenCacheSize]],
  * the pure derivations every runner's session is built from, without
  * starting a second SparkContext; then checks the shared session. */
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
    assert(org.apache.logging.log4j.LogManager.getLogger(
      "org.apache.spark.sql.execution.window.WindowExec").getLevel ==
      org.apache.logging.log4j.Level.ERROR)
  }

  test("codegen cache size: 1024 unless the caller set one or codegen already ran") {
    assert(GraftSession.codegenCacheSize(None, 0) == Some(1024))
    assert(GraftSession.codegenCacheSize(Some("64"), 0).isEmpty, "a caller value is kept")
    assert(GraftSession.codegenCacheSize(None, 5).isEmpty, "the cache already exists")
  }

  test("generated classes are reused across a batch larger than 100 and across stage ids") {
    val spark = TestSpark.spark
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def proj(i: Int) = spark.range(4).selectExpr(s"id * 31 + $i")
    val c0 = compiles
    (1 to 150).foreach(i => proj(i).collect())
    // each projection is a class of its own: more than Spark's default 100 entries
    assert(compiles - c0 >= 150, s"${compiles - c0} compilations")
    val c1 = compiles
    proj(1).collect()
    assert(compiles == c1, s"the first projection compiled again: ${compiles - c1}")
    // a union's children are separate stages: the second child is proj(2)'s
    // body under stage id 2
    proj(2).union(proj(2)).collect()
    assert(compiles == c1, s"a known body under another stage id compiled: ${compiles - c1}")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024")
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }
}
