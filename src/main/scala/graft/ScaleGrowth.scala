package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scale-growth evidence for the heavy families (VERDICT r16
  * item 3): generate synthetic documents/embeddings/edges/events at
  * 1x/4x/16x the sf0.1 row volume IN-PROCESS — densities (dup rate,
  * avg degree, events per user, vocabulary-to-corpus ratio) held
  * CONSTANT as n grows, so the measurement isolates the ALGORITHM's
  * growth from data-shape drift — and time each family's public entry
  * point at each scale. Prints one JSON line per (family, scale) plus
  * a summary with the fitted growth exponent
  * ln(t16/t4)/ln(4) (the two warmest points; 1.0 = linear, 2.0 =
  * quadratic). Results are recorded in SCALING.md §r17.
  *
  * Dev tool, run manually at `local[SPARK_GRAFT_CPUS]` (the r17 figures
  * ran at 32):
  * {{{ SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleGrowth" }}} */
object ScaleGrowth {

  // deterministic token/float streams (no RNG — reruns are comparable)
  private def h(i: Long, j: Long): Long = {
    var x = i * 0x9E3779B97F4A7C15L + j * 0xC2B2AE3D27D4EB4FL
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
    math.abs(x)
  }

  /** n docs, ~40 tokens each over a vocabulary of 8n (constant
    * collision density), 2% planted near-dups (one token changed). */
  private[graft] def docs(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val vocab = (n * 8).toLong
    (0 until n).map { i =>
      val base = if (i % 50 == 1) i - 1 else i // 2% near-dup of predecessor
      val toks = (0 until 40).map { j =>
        if (i % 50 == 1 && j == 39) s"w${h(i, j) % vocab}" // the one edit
        else s"w${h(base, j) % vocab}"
      }
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text").repartition(32).localCheckpoint(true)
  }

  /** n 64-dim embeddings, 5 labels, 2% planted near-dups. */
  private[graft] def embeddings(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val base = if (i % 50 == 1) i - 1 else i
      val v = Array.tabulate(64) { d =>
        val raw = ((h(base, d) % 2001) - 1000) / 1000.0f
        if (i % 50 == 1 && d == 63) raw + 0.01f else raw
      }
      (i.toLong, s"l${i % 5}", v)
    }.toDF("vec_id", "label", "embedding").repartition(32).localCheckpoint(true)
  }

  /** n bipartite edges: |s| = n/50 (avg s-degree 50), |p| = n/25
    * (avg p-degree 25 — under bipartiteJaccard's default cap). */
  private[graft] def edges(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val ns = math.max(n / 50, 10).toLong
    val np = math.max(n / 25, 20).toLong
    (0 until n).map { i =>
      (s"s${h(i, 1) % ns}", s"p${h(i, 2) % np}")
    }.toDF("s", "p").repartition(32).localCheckpoint(true)
  }

  /** n directed edges over an n/10-node domain (avg degree 10). */
  private[graft] def digraph(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val nodes = math.max(n / 10, 20).toLong
    (0 until n).map { i =>
      (h(i, 3) % nodes, h(i, 4) % nodes)
    }.toDF("src", "dst").repartition(32).localCheckpoint(true)
  }

  /** n match-graph edges with component structure: chains of ~20 ids
    * (constant component size — candidate graphs from a fixed dup rate
    * look like this, never one giant component). */
  private[graft] def matchGraph(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val chain = i / 20L // 20 edges per chain
      val off = i % 20L
      (chain * 100L + off, chain * 100L + off + 1L)
    }.toDF("id_a", "id_b").repartition(32).localCheckpoint(true)
  }

  /** n events over n/20 users (constant 20 events/user), 40% click /
    * 40% view / 20% purchase, times uniform over one day. */
  private[graft] def events(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val users = math.max(n / 20, 5).toLong
    (0 until n).map { i =>
      val ty = (h(i, 5) % 5) match {
        case 0 | 1 => "click"; case 2 | 3 => "view"; case _ => "purchase"
      }
      (i.toLong, h(i, 6) % users, ty, h(i, 7) % 86400000000L)
    }.toDF("event_id", "user_id", "event_type", "ts_us")
      .repartition(32).localCheckpoint(true)
  }

  def main(args: Array[String]): Unit = {
    // optional args: [families-csv-substring-filter] [shufflePartitions]
    // (default: the session's, N of local[N])
    val famFilter = args.headOption.filter(_.nonEmpty)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    args.lift(1).foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p.toInt))
    graft.functions.VectorExpressions.register(spark)
    val r3 = (v: Double) => math.round(v * 1000) / 1000.0

    // sf0.1 row volumes × {1, 4, 16}
    val scales = Seq(1, 4, 16)
    val baseDocs = 5000; val baseEmb = 2000; val baseEdges = 100000
    val baseEvents = 100000

    case class Fam(name: String, gen: Int => DataFrame,
        op: DataFrame => DataFrame, base: Int)
    val fams = Seq(
      Fam("banded_minhash_q50_q76", n => docs(spark, n),
        d => Graft.minhashPairs(d), baseDocs),
      Fam("exact_simjoin_q269", n => docs(spark, n),
        d => Graft.similarityJoin(d, 0.6), baseDocs),
      Fam("ann_ivf_q63_q124", n => embeddings(spark, n),
        e => Graft.ivfTopK(spark, e, col("vec_id") < 50, nProbe = 4, topK = 10),
        baseEmb),
      Fam("graph_jaccard_q170", n => edges(spark, n),
        e => Graft.bipartiteJaccard(e, "s", "p"), baseEdges),
      Fam("graph_hits_q204", n => digraph(spark, n),
        e => Graft.hits(e, 3), baseEdges),
      Fam("cc_labels_q76_q240", n => matchGraph(spark, n),
        e => operators.LLMPipeline.ccLabels(e)._1, baseEdges),
      Fam("funnel_conversion_q177_q86", n => events(spark, n),
        e => Graft.conversionPairs(e, 3600000000L), baseEvents))

    val rows = scala.collection.mutable.ListBuffer.empty[String]
    fams.filter(f => famFilter.forall(f.name.contains)).foreach { f =>
      val times = scales.map { s =>
        // input generated + localCheckpoint-materialized OUTSIDE the
        // timer — the measurement is the operator, not the generator
        val input = f.gen(f.base * s)
        val t = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val cnt = f.op(input).count()
          val dt = (System.nanoTime() - t0) / 1e9
          // release GRAFT-owned caches only (pins + memo) so rep 2 pays
          // the operator again — a full RDD sweep would unpersist the
          // INPUT's localCheckpoint, which is unrecoverable
          Graft.release(spark)
          (dt, cnt)
        }.minBy(_._1)
        println(s"""{"family":"${f.name}","scale":$s,"rows_in":${f.base * s},"rows_out":${t._2},"sec":${r3(t._1)}}""")
        t._1
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val exp = math.log(times(2) / times(1)) / math.log(4.0)
      rows += s""""${f.name}":{"t1":${r3(times(0))},"t4":${r3(times(1))},"t16":${r3(times(2))},"exp":${r3(exp)}}"""
    }
    println(s"""{"metric":"scale_growth","families":{${rows.mkString(",")}}}""")
    spark.stop()
  }
}
