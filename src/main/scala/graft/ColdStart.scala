package graft

/** Fresh-JVM single-query cold-start timing — the measurement the
  * memoized-family table cannot show: [[Bench]] and [[ScaleProbe]] run
  * many queries in one process, so the FIRST query of a new session
  * (cold JIT, cold scan cache, empty [[graft.ext.Memo]]) never appears
  * as its own number. Each invocation runs EXACTLY ONE query in a
  * fresh forked JVM (sbt `run` forks) and prints one JSON line; the
  * cold-start arm in ARCHITECTURE.md reads straight off this output.
  *
  * Usage: `runMain graft.ColdStart <sfDir> <queryName>` — invoke once
  * per (query, scale); process reuse would defeat the point.
  */
object ColdStart {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ColdStart <sfDir> <queryName>")
    val dir = args(0)
    val name = args(1)
    val q = Queries.all.getOrElse(name,
      sys.error(s"unknown query $name"))
    // same session as Bench: the cold-start rows sit beside the bench
    // tables and must measure the same configuration
    val spark = Session.local()
    val t0 = System.nanoTime()
    val n = q(spark, dir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"coldstart":"$name","dir":"$dir","sec":$sec,"rows":$n}""")
    spark.stop()
  }
}
