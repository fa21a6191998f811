package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DecimalType, LongType, StructType, TimestampNTZType, TimestampType}

/** Central table loader (SURVEY.md §7.1 M0).
  *
  * All queries read input exclusively through this object so that:
  *  - `spark.sql.legacy.parquet.nanosAsLong` is always set before touching
  *    `events.parquet` (its TIMESTAMP(NANOS) column kills the default
  *    Spark 4 reader — SURVEY.md §1.2); the driver's Verify session does
  *    not set it for us, and the conf is runtime-settable.
  *  - every table name maps to exactly one path convention
  *    (`<sfDir>/<name>.parquet`), matching TESTDATA.md.
  *
  * Scale notes (100 TB): the loader returns `spark.read.parquet`
  * DataFrames and caches no data, so Catalyst keeps full freedom for
  * predicate pushdown, column pruning and partition-aware planning. At
  * cluster scale the same code reads a directory of many files; nothing
  * here assumes a single file. Two things it does add: a single-file
  * table's inferred schema is cached (see [[apply]]), and the engine's
  * optimizer rules are installed, one of which (`ProbeScanFanOut`) may
  * repartition an under-split scan above the reader when it feeds a
  * broadcast hash join.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred schemas of single-file tables, keyed by file version and by
    * the session confs that change what parquet inference returns. */
  private[graft] val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Seq[String]), StructType]()
  private val inferenceConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** Read one table from `sfDir`. Sets the nanos conf on every call —
    * cheap, idempotent, and guarantees any session we are handed can read
    * a legacy TIMESTAMP(NANOS) `events` file. Deliberately does NOT touch
    * any other session conf: the TIMESTAMP_NTZ → epoch-µs canonicalization
    * in [[events]] is written timezone-independently (wall-clock
    * arithmetic on the naive value), so no global state such as
    * `spark.sql.session.timeZone` needs mutating here (ADVICE r9 — a
    * loader that resets session confs on every read silently changes
    * behavior for host code sharing the session). The only other confs
    * it may set, through `GraftRules.install` and once per JVM, are the
    * two that let generated classes be reused,
    * `spark.sql.codegen.cache.maxEntries` and
    * `spark.sql.codegen.useIdInClassName`, each only when the host left
    * it unset, the size only before anything was compiled
    * ([[GraftSession.prepareCodegenCache]]).
    *
    * A plain `spark.read.parquet` runs a one-task schema-inference job on
    * every call. When the table is one file, its inferred schema is
    * cached by (path, length, modification time) and later reads pass it
    * to `spark.read.schema`, so they start no job; a rewritten file is a
    * new key and is inferred again. Directories are inferred on every
    * read. [[verifySchemas]] never consults this cache. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // session-scoped optimizer rules (idempotent): every query reads its
    // inputs through here, so a driver-provided session gets the scale
    // governors (SimilarityBandRewrite et al.) without GraftExtensions
    graft.plans.GraftRules.install(spark)
    val path = s"$sfDir/$name.parquet"
    cachedSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  private def cachedSchema(spark: SparkSession, path: String): Option[StructType] =
    schemaKey(spark, path).map(schemas.computeIfAbsent(_, _ => inferredSchema(spark, path)))

  /** The schema parquet inference reads from the footers (one Spark job). */
  private def inferredSchema(spark: SparkSession, path: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(path).schema
  }

  /** The schema-cache key of a single-file table; None for a directory or
    * a path whose status cannot be read, which take the inferring read. */
  private[graft] def schemaKey(spark: SparkSession,
      path: String): Option[(String, Long, Long, Seq[String])] = {
    val status = try {
      val p = new org.apache.hadoop.fs.Path(path)
      Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
    } catch { case scala.util.control.NonFatal(_) => None }
    status.filter(_.isFile).map(st => (st.getPath.toString, st.getLen,
      st.getModificationTime, inferenceConfs.map(k => spark.conf.getOption(k).getOrElse(""))))
  }

  /** Canonical events accessor — the ONLY way event-time consumers read
    * the table. The driver has shipped `ts` under two different physical
    * encodings so far (round 1–7: `timestamp[ns]`, surfacing as BIGINT
    * nanos via `nanosAsLong`; round 8+: `timestamp[us]`, surfacing as
    * TIMESTAMP_NTZ, on which `nanosAsLong` no-ops). Rather than hard-code
    * either, this inspects the loaded dtype and exposes ONE canonical
    * column `ts_us: BIGINT` = microseconds since epoch — identical values
    * under both encodings — replacing raw `ts` so no query can
    * accidentally depend on the physical type again. Oracle SQL is
    * unaffected: DuckDB's `epoch_ns(ts)` accepts a plain TIMESTAMP.
    *
    * Scale notes: the projection is narrow and codegen'd (a cast/div on
    * the scan output); pushdown and pruning on the remaining columns are
    * untouched.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = apply(spark, sfDir, "events")
    import org.apache.spark.sql.functions.{col, expr}
    val tsUs = raw.schema("ts").dataType match {
      case LongType => // legacy nanos-as-bigint: ns → µs
        expr("ts DIV 1000")
      case TimestampNTZType =>
        // Naive-as-UTC µs via pure wall-clock arithmetic on the NTZ value
        // (date→unix_date, hour/minute, and extract-SECOND's exact
        // DECIMAL(8,6) fraction) — every piece is timezone-independent on
        // TIMESTAMP_NTZ, so the result matches DuckDB's epoch_ns(ts)//1000
        // regardless of the session timezone. (The previous CAST(ts AS
        // TIMESTAMP) route needed session.timeZone=UTC pinned globally.)
        expr("unix_date(CAST(ts AS DATE)) * 86400000000L" +
          " + hour(ts) * 3600000000L + minute(ts) * 60000000L" +
          " + CAST(date_part('SECOND', ts) * 1000000 AS BIGINT)")
      case TimestampType =>
        // LTZ is physically epoch-µs; unix_micros reads it back directly
        // (no timezone involved).
        expr("unix_micros(ts)")
      case other =>
        throw new IllegalStateException(
          s"events.ts arrived as unsupported type $other — " +
            "extend Tables.events for the new physical encoding")
    }
    raw.withColumn("ts_us", tsUs.cast(LongType)).drop("ts")
  }

  /** Cast to the mandated DECIMAL(18,4) intermediate for any double that
    * flows into a summed/averaged output (SURVEY.md §2.9 R1 — double
    * addition is not associative across partition merge order). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Portable 6-dp rounding for DOUBLE outputs: floor(x·1e6 + 0.5)/1e6 in
    * pure IEEE double ops, which both Spark and DuckDB evaluate
    * bit-identically. Spark's `round` (HALF_UP on the shortest decimal
    * string) and DuckDB's `round` (scaled-double) disagree whenever the
    * value sits near a .5 boundary at the target scale — verified on
    * 68210.43/32 (q32) and a scale-4 group mean (q45). Pair every use
    * with `r6sql` on the oracle side. */
  def r6(c: Column): Column = {
    import org.apache.spark.sql.functions.{floor, lit}
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
  }

  /** The SQL half of [[r6]] — same IEEE ops, same bits. Runs on BOTH
    * engines (oracle SQL, and the spark.sql-expressed queries q15/q17):
    * the outer CAST is a no-op in DuckDB (already DOUBLE) but essential in
    * Spark SQL, where FLOOR returns BIGINT and `1000000.0` parses as
    * DECIMAL(8,1), so the bare division would yield DECIMAL(30,9) — a
    * decimal output the driver's hash can't match (see r6). */
  def r6sql(e: String): String =
    s"CAST(FLOOR(($e) * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE)"

  /** Portable mean at 6 dp: exact DECIMAL sum → double ÷ count → [[r6]].
    * Avoids both engines' avg/cast paths (DuckDB AVG(DECIMAL) returns
    * DOUBLE; DuckDB decimal downcasts truncate while Spark's round
    * half-up). */
  def meanD(sum: Column, cnt: Column): Column = r6(sum.cast("double") / cnt)
  def meanDSql(sum: String, cnt: String): String =
    r6sql(s"CAST($sum AS DOUBLE) / $cnt")

  /** Schema-drift tripwire (VERDICT r8 item 3): the round-8 testdata
    * regeneration silently flipped `events.ts` from timestamp[ns] to
    * timestamp[us] and broke 30 queries, detectable only by cross-artifact
    * forensics. This is the cheap guard: the expected LOGICAL schema of
    * every table as Spark loads it (`dataType.simpleString`), with the
    * known-legitimate variants for `events.ts` (bigint = legacy ns under
    * `nanosAsLong`; timestamp_ntz/timestamp = µs encodings, both
    * canonicalized by [[events]]). SchemaSuite asserts [[verifySchemas]]
    * returns empty on every run, so the NEXT regeneration fails with one
    * readable message naming the drifted column instead of 30 analysis
    * errors. */
  private val expectedSchemas: Map[String, Seq[(String, Set[String])]] = {
    def one(pairs: (String, String)*): Seq[(String, Set[String])] =
      pairs.map { case (n, t) => n -> Set(t) }
    Map(
      "region" -> one("r_regionkey" -> "int", "r_name" -> "string"),
      "nation" -> one("n_nationkey" -> "int", "n_name" -> "string",
        "n_regionkey" -> "int"),
      "customer" -> one("c_custkey" -> "bigint", "c_name" -> "string",
        "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
      "supplier" -> one("s_suppkey" -> "bigint", "s_name" -> "string",
        "s_nationkey" -> "int", "s_acctbal" -> "double"),
      "part" -> one("p_partkey" -> "bigint", "p_name" -> "string",
        "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
        "p_retailprice" -> "double"),
      "orders" -> one("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
        "o_orderstatus" -> "string", "o_totalprice" -> "double",
        "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"),
      "lineitem" -> one("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
        "l_suppkey" -> "bigint", "l_linenumber" -> "int", "l_quantity" -> "double",
        "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
        "l_returnflag" -> "string", "l_linestatus" -> "string",
        "l_shipdate" -> "timestamp_ntz"),
      "events" -> Seq(
        "event_id" -> Set("bigint"),
        "ts" -> Set("bigint", "timestamp_ntz", "timestamp"),
        "user_id" -> Set("bigint"), "event_type" -> Set("string"),
        "value" -> Set("double"), "props" -> Set("string")),
      "documents" -> one("doc_id" -> "bigint", "text" -> "string",
        "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
      "embeddings" -> one("vec_id" -> "bigint", "embedding" -> "array<float>",
        "label" -> "int"))
  }

  /** Check every table under `sfDir` against [[expectedSchemas]]; returns
    * one human-readable message per drifted/missing/extra column (empty =
    * no drift). Metadata-only — reads parquet footers, never data. Always
    * infers from the files themselves, never from [[apply]]'s schema
    * cache: a tripwire answered from a cache could miss the drift it
    * exists to catch. */
  def verifySchemas(spark: SparkSession, sfDir: String): Seq[String] =
    names.flatMap { name =>
      // a MISSING/unreadable table is the loudest drift class of all —
      // it must become a tripwire MESSAGE, not an AnalysisException that
      // kills the whole Bench/Verify run before a single query executes
      // (r15 review: without the tripwire only the queries touching the
      // table would have failed; with an unguarded tripwire, none ran)
      val actualOrErr =
        try Right(inferredSchema(spark, s"$sfDir/$name.parquet")
          .map(f => f.name -> f.dataType.simpleString))
        catch { case e: Throwable =>
          Left(s"$name: TABLE MISSING/UNREADABLE (${e.getClass.getSimpleName})") }
      actualOrErr match {
        case Left(msg) => Seq(msg)
        case Right(actual) => checkColumns(name, actual)
      }
    }

  private def checkColumns(name: String,
      actual: Seq[(String, String)]): Seq[String] = {
      val expected = expectedSchemas(name)
      val actualM = actual.toMap
      val missing = expected.collect { case (n, _) if !actualM.contains(n) =>
        s"$name.$n: MISSING (driver dropped or renamed the column)" }
      val extra = actual.collect { case (n, t) if !expected.exists(_._1 == n) =>
        s"$name.$n: UNEXPECTED new column of type $t" }
      val drifted = expected.collect {
        case (n, ok) if actualM.contains(n) && !ok(actualM(n)) =>
          s"$name.$n: type drifted to ${actualM(n)} (expected one of ${ok.mkString("/")})" }
      missing ++ extra ++ drifted
    }

  /** Register `name` as a temp view over `sfDir` and return it — for the
    * operators exercised through `spark.sql` (GROUPING SETS etc.). */
  def view(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = apply(spark, sfDir, name)
    df.createOrReplaceTempView(name)
    df
  }
}
