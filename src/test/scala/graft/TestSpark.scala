package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (session startup ≈6 s; paying
  * it once keeps `sbt test` fast). Built by the runners' GraftSession, at
  * local[4], so the suites run the production confs and rules. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession(Seq("spark.sql.warehouse.dir" ->
      new java.io.File(sys.props("java.io.tmpdir"), "graft_warehouse").getAbsolutePath),
      cpus = Some(4))
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"
}
