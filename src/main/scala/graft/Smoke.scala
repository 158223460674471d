package graft

/** t1-style smoke: build a session the way the driver would, run
  * SparkEntry.entry, print the row count (must be > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val df = SparkEntry.entry(spark)
    println(s"[smoke] entry rows=${df.count()} cols=${df.columns.mkString(",")}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
