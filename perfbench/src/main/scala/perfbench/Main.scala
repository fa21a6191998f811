package perfbench

import graft.{Graft, SparkEntry, Tables}
import graft.plans.{FrameMemo, GraftRules}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** The benchmark's JVM side: drives the engine from outside the way a
  * user's ETL driver does and writes raw records for `run.py`, which
  * checks the outputs and turns the records into metrics.
  *
  * Usage: perfbench.Main <mode> key=value...
  *   mode    batch | anon
  *   data    table directory; out: scratch and record directory
  *   cpus    N of local[N]; seed, warmup and passes (warm-up and warm
  *           pass counts), trace (0|1)
  *   queries comma-separated query names (batch mode)
  *
  * One client, one query at a time. Every pass starts from a released
  * session (`Graft.release`: FrameMemo entries and pins dropped), so each
  * pass pays the memo builds a pipeline run pays. */
object Main {
  /** One unit of work: `build` is the query function, `sink` materialises
    * its whole result as the workload does, and `keep` writes it as
    * parquet for the output check. */
  final case class Item(name: String, build: () => DataFrame,
      sink: DataFrame => Unit, keep: DataFrame => Unit)

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val kv = argv.tail.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val data = kv("data")
    val out = kv("out")
    val cpus = kv("cpus").toInt
    Files.createDirectories(Paths.get(out))
    val run = new Run(data, out, cpus)
    val seed = kv("seed").toLong
    val items = mode match {
      case "batch" => run.batchItems(kv("queries").split(',').toSeq)
      case "anon" => run.anonItems(seed)
    }
    run.measure(items, seed, kv("warmup").toInt, kv("passes").toInt, kv("trace") == "1",
      checkBatch = mode == "batch")
    run.spark.stop()
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
      .getCollectionTime).sum
  private def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  /** Spark's codegen counters: (compilations, estimated compile ms). The
    * histogram keeps a sample, so the total is count × sample mean. */
  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
  private def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
  }
  /** Heap in use right after a full collection: the live heap. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  private def wallMs(t0Ms: Long, t0Ns: Long): Double =
    t0Ms + (System.nanoTime() - t0Ns) / 1e6

  final class Run(data: String, out: String, cpus: Int) {
    private val epochMs0 = System.currentTimeMillis()
    private val nano0 = System.nanoTime()
    private def nowMs: Double = wallMs(epochMs0, nano0)
    /** Set-up time: from JVM start to the session ready (session built,
      * optimizer rules installed, table schemas verified). */
    val (spark: SparkSession, setupS: Double) = {
      val t0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.sql.cache.serializer", "graft.plans.RowCacheSerializer")
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        .config("spark.broadcast.compress", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      GraftRules.install(s)
      val drift = Tables.verifySchemas(s, data)
      require(drift.isEmpty, s"input tables drifted: ${drift.mkString("; ")}")
      (s, (nowMs - t0) / 1000)
    }

    private def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    private def parquet(path: String)(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(path)

    /** Batch queries materialise into the noop sink; the check pass
      * writes each result as one ordered parquet file, as graft.Verify
      * does, because the oracle comparison is row for row. */
    def batchItems(names: Seq[String]): Seq[Item] = {
      val all = SparkEntry.queries
      names.map { n =>
        val fn = all.getOrElse(n, sys.error(s"unknown query $n"))
        Item(n, () => fn(spark, data), noop, df => parquet(s"$out/check/$n")(df.coalesce(1)))
      }
    }

    /** anon_etl releases, written as parquet by every pass; the check pass
      * writes them to the directory the output check reads. */
    def anonItems(seed: Long): Seq[Item] = {
      def item(n: String, build: () => DataFrame) =
        Item(n, build, parquet(s"$out/sink/$n"), parquet(s"$out/check/$n"))
      Seq(item("order_lines", () => AnonEtl.orderLines(spark, data, seed)),
        item("events", () => AnonEtl.events(spark, data, seed)),
        item("dp_histogram", () => AnonEtl.dpHistogram(spark, data)))
    }

    private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    private var nextSpan = 0
    private def span[T](kind: String, name: String, parent: Int)(body: Int => T): T = {
      nextSpan += 1
      val id = nextSpan
      val start = nowMs
      try body(id)
      finally spans += Map("id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start_ms" -> start, "end_ms" -> nowMs)
    }
    private def tagJobs(spanId: Int): Unit =
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, spanId.toString)

    private def storageMb(): Double =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

    /** One pass: release, then every item once in the given order. The
      * check pass writes each result for the output check and reads the
      * live heap at each query end, before the sweep. */
    private def pass(order: Seq[Item], index: Int, kind: String,
        traced: Boolean): Map[String, Any] = {
      val check = kind == "check"
      Graft.release(spark)
      val (cg0, cgMs0) = codegen()
      val (cpu0, gc0, jit0) = (cpuNs(), gcMs(), jitMs())
      val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
      val t0 = System.nanoTime()
      span("pass", s"$kind-$index", 0) { passId =>
        order.foreach { it =>
          span("query", it.name, passId) { qId =>
            val memo0 = FrameMemo.ownedIds(spark)
            var err: Option[String] = None
            var constructS, actionS = 0.0
            try {
              val c0 = System.nanoTime()
              val df = span("construct", it.name, qId) { id => tagJobs(id); it.build() }
              val a0 = System.nanoTime()
              constructS = (a0 - c0) / 1e9
              span("action", it.name, qId) { id =>
                tagJobs(id)
                if (check) it.keep(df) else it.sink(df)
              }
              actionS = (System.nanoTime() - a0) / 1e9
            } catch {
              case e: Throwable =>
                err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}".take(300))
            }
            val pinned = storageMb()
            val heap = if (check) Some(liveHeapMb()) else None
            val memo1 = FrameMemo.ownedIds(spark)
            val s0 = System.nanoTime()
            span("sweep", it.name, qId) { id => tagJobs(id); FrameMemo.sweepOthers(spark) }
            val sweepS = (System.nanoTime() - s0) / 1e9
            spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
            queries += Map("name" -> it.name, "ok" -> err.isEmpty, "error" -> err,
              "construct_s" -> constructS, "action_s" -> actionS, "sweep_s" -> sweepS,
              "latency_s" -> (constructS + actionS), "pinned_mb" -> pinned,
              "heap_live_mb" -> heap,
              "memo_new_ids" -> (memo1 -- memo0).size, "memo_ids" -> memo1.toSeq.sorted)
          }
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val (cg1, cgMs1) = codegen()
      Map("kind" -> kind, "index" -> index, "traced" -> traced, "wall_s" -> wall,
        "cpu_s" -> (cpuNs() - cpu0) / 1e9, "gc_s" -> (gcMs() - gc0) / 1e3,
        "jit_ms" -> (jitMs() - jit0), "codegen_classes" -> (cg1 - cg0),
        "codegen_ms" -> (cgMs1 - cgMs0), "queries" -> queries.toSeq)
    }

    def measure(items: Seq[Item], seed: Long, warmupPasses: Int, warmPasses: Int,
        trace: Boolean, checkBatch: Boolean): Unit = {
      val tracer = new Tracer
      def traced[T](on: Boolean)(body: => T): T = {
        if (on) {
          spark.sparkContext.addSparkListener(tracer)
          spark.listenerManager.register(tracer)
        }
        try body
        finally if (on) {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          spark.listenerManager.unregister(tracer)
          spark.sparkContext.removeSparkListener(tracer)
        }
      }
      val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
      // the cold pass runs in list order, as a scheduled job would; warm
      // pass i runs a seed-shuffled base order rotated by i, so every
      // query leads a pass equally often and runs compare across seeds
      val base = new scala.util.Random(seed).shuffle(items)
      def rotated(i: Int): Seq[Item] = base.drop(i % base.size) ++ base.take(i % base.size)
      passes += traced(trace)(pass(items, 0, "cold", trace))
      // where the JIT is still busy through the passes after the cold one,
      // warm-up passes are recorded but not aggregated
      (1 to warmupPasses).foreach(i => passes += pass(rotated(i - 1), i, "warmup", traced = false))
      // a fixed number of warm passes, so every run samples the same
      // stretch of the JIT's warm-up; a traced run traces passes in the
      // pattern T U U T T U U T..., so a drift over the run weighs equally
      // on both sides of the overhead it reports. No clock cuts the
      // passes short: a run too slow for them fails on run.py's timeout.
      (1 to warmPasses).foreach { n =>
        val i = warmupPasses + n
        val on = trace && n % 4 < 2
        passes += traced(on)(pass(rotated(i - 1), i, "warm", on))
      }
      val rssMb = rssPeakMb()
      // the untimed check pass repeats the last warm pass's order; run.py
      // checks what it wrote after this JVM exits
      val last = warmupPasses + warmPasses
      passes += pass(rotated(last - 1), last + 1, "check", traced = false)
      val oracle = SparkEntry.oracleSql
      val checked = if (!checkBatch) Nil else items.map(it =>
        Map("name" -> it.name, "oracle" -> oracle.get(it.name)))
      val env = Map(
        "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "master" -> spark.sparkContext.master,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "available_processors" -> Runtime.getRuntime.availableProcessors)
      val record = Map("setup_s" -> setupS, "passes" -> passes.toSeq,
        "check" -> checked, "rss_peak_mb" -> rssMb, "env" -> env,
        "jobs" -> tracer.jobRecords, "executions" -> tracer.executionRecords)
      Files.writeString(Paths.get(s"$out/raw.json"), Json(record))
      if (trace) Files.writeString(Paths.get(s"$out/spans.jsonl"),
        (spans.map(Json(_)) ++ tracer.jobRecords.map(j => Json(j + ("kind" -> "job"))))
          .mkString("", "\n", "\n"))
    }
  }
}
