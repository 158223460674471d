package graft

import org.apache.spark.sql.SparkSession

/** The one session factory behind every main and the test suites, so
  * they all measure and verify the same configuration: `local[cpus]`,
  * `cpus` shuffle partitions, UTC session time zone, no UI, and log
  * level ERROR (WARN-level scans print stack traces to stderr that bury
  * the one-line JSON the driver parses from [[Bench]]). */
object Session {

  /** `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4 — the driver's
    * parallelism knob. */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
