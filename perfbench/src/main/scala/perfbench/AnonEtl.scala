package perfbench

import graft.{Graft, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The paper's job as a user would write it: three releases composed only
  * from `Graft` facade calls over the engine's table loader, each written
  * as parquet. The DuckDB re-derivations of the same releases in
  * `perfbench/checks.py` must change together with this object. */
object AnonEtl {
  val K = 5
  val QuasiIds: Seq[String] = Seq("nation", "segment", "acct_bin", "order_month")
  val Eps = 0.5
  val Delta = 1e-6

  def salt(seed: Long): String = s"perfbench-$seed"

  /** Order lines: lineitem ⋈ orders ⋈ customer, identifiers pseudonymised
    * or masked, quasi-identifiers generalised, then cell suppression below
    * k on the generalised quasi-identifiers. Raw QI columns are dropped. */
  def orderLines(spark: SparkSession, dir: String, seed: Long): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
    val generalized = joined.select(
      Graft.pseudonym(col("c_name"), salt(seed)).as("customer_pseudonym"),
      Graft.maskKeepPrefix(col("c_name"), 9).as("customer_masked"),
      Graft.generalizeNumeric(col("l_extendedprice"), 10000).as("price_bin"),
      Graft.generalizeDate(col("l_shipdate")).as("ship_month"),
      col("l_quantity"), col("l_discount"),
      col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"),
      Graft.generalizeNumeric(col("c_acctbal"), 1000).as("acct_bin"),
      Graft.generalizeDate(col("o_orderdate")).as("order_month"))
    Graft.suppressBelowK(generalized, QuasiIds, K).drop(QuasiIds: _*)
  }

  /** Events: the user id pseudonymised, time and value binned; the
    * free-form `props` column is not released. */
  def events(spark: SparkSession, dir: String, seed: Long): DataFrame =
    binnedEvents(spark, dir).select(
      col("event_id"),
      Graft.pseudonym(col("user_id").cast("string"), salt(seed)).as("user_pseudonym"),
      col("event_type"), col("hour_s"),
      Graft.generalizeNumeric(col("value"), 10).as("value_bin"))

  /** DP histogram of events by (event_type, day). */
  def dpHistogram(spark: SparkSession, dir: String): DataFrame =
    Graft.dpGaussianRelease(binnedEvents(spark, dir), Seq("event_type", "day_s"), Eps, Delta)

  private def binnedEvents(spark: SparkSession, dir: String): DataFrame = {
    val seconds = col("ts_us") / 1000000
    Tables.events(spark, dir)
      .withColumn("hour_s", Graft.generalizeNumeric(seconds, 3600))
      .withColumn("day_s", Graft.generalizeNumeric(seconds, 86400))
  }
}
