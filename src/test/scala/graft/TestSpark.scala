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
    // DELIBERATE silence (VERDICT r16 item 8): several operators run
    // bounded global windows by design (KM risk tables, offset folds on
    // ≤ shuffle.partitions rows — SCALING.md documents each), and
    // WindowExec warns "No Partition Defined" on every one, burying real
    // warnings under dozens of known-benign lines in the suite log. The
    // frames are bounded by construction, so the warning carries no
    // information here; everything else stays at WARN.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  val sfDir = "/root/testdata/sf0.001"
}
