package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift tripwire (VERDICT r8 item 3). The driver regenerates
  * `/root/testdata` between rounds and has already changed a physical
  * type once (events.ts: timestamp[ns] → timestamp[us]), which surfaced
  * as 30 opaque analysis failures. This suite turns the next drift into
  * ONE readable failure naming the exact table.column and the type it
  * moved to, before any query runs.
  */
class SchemaSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  test("all 10 tables match the expected logical schema (drift tripwire)") {
    val drift = Tables.verifySchemas(spark, sf)
    assert(drift.isEmpty,
      "TESTDATA SCHEMA DRIFT — the driver regenerated parquet with a new " +
        "shape; adapt Tables (and FIXTURES.md) before trusting any result:\n  " +
        drift.mkString("\n  "))
  }

  test("ts_us is IDENTICAL under the ns and µs physical encodings (driver flip-back safety)") {
    // two committed fixtures hold the SAME 200 logical rows, one written
    // timestamp[ns] (rounds 1–7 encoding), one timestamp[us] (round 8+);
    // Tables.events must canonicalize both to the same bigint µs values —
    // the property that makes the engine independent of the driver's
    // parquet writer settings.
    def dirOf(sub: String): String = {
      val url = getClass.getResource(s"/$sub/events.parquet")
      assert(url != null, s"missing test fixture $sub/events.parquet")
      new java.io.File(url.toURI).getParentFile.getParent + s"/$sub"
    }
    val ns = Tables.events(spark, dirOf("events-ns"))
      .select("event_id", "ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val us = Tables.events(spark, dirOf("events-us"))
      .select("event_id", "ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ns.size == 200 && us.size == 200)
    assert(ns == us, {
      val diff = ns.collect { case (k, v) if us.get(k) != Some(v) =>
        s"event $k: ns-encoding → $v, µs-encoding → ${us.get(k)}" }
      s"canonicalization diverges between encodings:\n  ${diff.take(5).mkString("\n  ")}"
    })
  }

  test("events canonicalization is session-timezone independent (ADVICE r9)") {
    // Tables no longer pins spark.sql.session.timeZone (mutating a shared
    // session's global conf on every read was an ADVICE r9 finding); the
    // NTZ branch instead uses wall-clock arithmetic that must yield the
    // SAME naive-as-UTC µs whatever timezone the host session runs in.
    val before = spark.conf.get("spark.sql.session.timeZone")
    def tsOf(): Map[Long, Long] = Tables.events(spark, sf)
      .select("event_id", "ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val utc = tsOf()
      for (tz <- Seq("America/New_York", "Asia/Kathmandu", "Pacific/Chatham")) {
        spark.conf.set("spark.sql.session.timeZone", tz)
        assert(tsOf() == utc, s"ts_us canonicalization drifts under session tz $tz")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  test("Tables.apply leaves the session timezone untouched (ADVICE r9)") {
    val before = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      Tables(spark, sf, "events").schema // force the read path
      assert(spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo",
        "Tables.apply must not mutate spark.sql.session.timeZone")
    } finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  test("events canonicalization yields bigint µs under the current encoding") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts_us").dataType.simpleString == "bigint")
    assert(!ev.columns.contains("ts"), "raw ts must not leak past Tables.events")
    // sanity: values are plausibly µs-since-epoch for the 2024+ corpus
    // (a ns/ms mix-up would be off by 1000× in one direction or the other)
    val r = ev.selectExpr("min(ts_us) AS lo", "max(ts_us) AS hi").collect()(0)
    val us2020 = 1577836800000000L // 2020-01-01 in µs
    val us2100 = 4102444800000000L // 2100-01-01 in µs
    assert(r.getLong(0) >= us2020 && r.getLong(1) <= us2100,
      s"ts_us out of plausible µs range: [${r.getLong(0)}, ${r.getLong(1)}]")
  }

  // ---- Tables.apply's schema cache ----

  /** Write `df` as ONE parquet file at `path` (Tables caches only files). */
  private def writeFile(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val tmp = path + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** Jobs started by `body`, counted through a listener by job group. */
  private def jobsDuring(group: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => seen.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      // the listener bus is async and FIFO: once a sentinel job's start
      // arrives, every earlier start has been delivered
      spark.sparkContext.setJobGroup(group + "-sentinel", "drain")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.containsKey(group + "-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.containsKey(group + "-sentinel"), "listener bus failed to drain in 30 s")
      Option(seen.get(group)).map(_.intValue).getOrElse(0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("Tables.apply starts no Spark job after the first read of a file version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_cache").toString
    writeFile(spark.range(0, 50).selectExpr("id AS a", "CAST(id AS STRING) AS b"),
      s"$dir/t.parquet")
    val first = jobsDuring("schema-first-read")(Tables(spark, dir, "t").schema)
    assert(first >= 1, "the first read should infer the schema with a job")
    val second = jobsDuring("schema-second-read") {
      val df = Tables(spark, dir, "t")
      assert(df.schema.fieldNames.toSeq == Seq("a", "b"))
    }
    assert(second == 0, s"second read of an unchanged file started $second job(s)")
    assert(Tables(spark, dir, "t").count() == 50)
  }

  test("Tables.apply re-infers the schema of a rewritten file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_rewrite").toString
    writeFile(spark.range(0, 10).selectExpr("CAST(id AS INT) AS a"), s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").schema.map(_.dataType.simpleString) == Seq("int"))
    writeFile(spark.range(0, 20).selectExpr("id AS a", "CAST(id AS STRING) AS c"),
      s"$dir/t.parquet")
    val df = Tables(spark, dir, "t")
    assert(df.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("a" -> "bigint", "c" -> "string"))
    assert(df.count() == 20)
  }

  test("verifySchemas flags a drifted column even when the schema cache is warm and stale") {
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_drift").toString
    Tables.names.filter(_ != "lineitem").foreach { n =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$n.parquet"),
        java.nio.file.Paths.get(s"$dir/$n.parquet"))
    }
    val good = Tables(spark, sf, "lineitem")
    val path = s"$dir/lineitem.parquet"
    writeFile(good.withColumn("l_quantity", col("l_quantity").cast("int")), path)
    Tables(spark, dir, "lineitem") // warm the cache
    // a rewrite that keeps length and modification time would leave the
    // pre-drift schema cached under the drifted file's key
    Tables.schemas.put(Tables.schemaKey(spark, path).get, good.schema)
    assert(Tables(spark, dir, "lineitem").schema("l_quantity").dataType.simpleString == "double",
      "Tables.apply should answer from the (stale) cache here")
    val drift = Tables.verifySchemas(spark, dir)
    assert(drift == Seq("lineitem.l_quantity: type drifted to int (expected one of double)"),
      drift.mkString("\n"))
  }
}
