package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

  /** One query's two timed runs; `None` is a run that threw. */
  type Runs = (String, Option[Double], Option[Double])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // JVM/codegen/scan warm-up outside the timed region: exercise agg,
    // window, join and the parquet reader once so the first timed query
    // doesn't absorb JIT/classloading cost
    spark.range(1000000).selectExpr("sum(id)").collect()
    val w = spark.range(10000).selectExpr("id", "id % 7 AS k")
    w.join(w.selectExpr("k AS k2", "id AS id2"),
        org.apache.spark.sql.functions.expr("k = k2 AND id2 < 20"))
      .selectExpr("k", "row_number() OVER (PARTITION BY k ORDER BY id) AS rn")
      .where("rn = 1").collect()
    // non-fatal: if the data dir itself is broken every query will
    // report "err" below — strictly more diagnostic than dying here
    try graft.sources.Tables.read(spark, sfDir, "region").collect()
    catch { case e: Throwable =>
      System.err.println(s"BENCH WARMUP ERROR: ${e.getMessage}") }
    // failure-honest timing: a query that throws yields None (reported as
    // "err" and EXCLUDED from the min and the total) instead of a
    // near-zero elapsed — a regression that breaks a query can only make
    // the bench worse, never faster
    def once(name: String, fn: (SparkSession, String) => DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"BENCH ERROR $name: ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    }
    // min-of-2 per query damps one-off JIT/page-cache/GC noise (a 3.5×
    // x02 swing in the round-2 driver run came from exactly that — the
    // code was unchanged); run 1 is also kept as the COLD time, because
    // the memoized families build their session artifacts there
    val runs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      (name, once(name, fn), once(name, fn))
    }
    report(sfDir, runs).foreach(println)
    spark.stop()
  }

  /** The bench's stdout, one JSON object per line, for the given runs.
    *
    * The driver parses the LAST line (`total_tail`) from the full
    * stream and archives only the last ~2000 bytes of stdout. So the
    * 10 KB `total` line comes first, then the per-query map again in
    * short `per_query_tail` chunks (20 queries each, ascending min
    * time, so the costliest sit nearest the end), then `cold_gap_tail`,
    * and `total_tail` last: any tail window keeps the headline plus the
    * most comparison-relevant chunks. `total_tail` has its own metric
    * name so a consumer summing `total` lines cannot double-count. */
  def report(sfDir: String, runs: Seq[Runs]): Seq[String] = {
    // min over SUCCESSFUL runs only; a query with none is an error
    val results = runs.map { case (name, r1, r2) =>
      name -> Seq(r1, r2).flatten.minOption
    }
    def entry(k: String, v: Option[Double], fmt: Double => String): String =
      s"\"$k\":" + v.fold("\"err\"")(fmt)
    def f3(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v) => entry(k, v, _.toString) }
      .mkString("{", ",", "}")
    val cold = runs.map { case (k, r1, _) => entry(k, r1, _.toString) }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val errored = results.count(_._2.isEmpty)
    // JSON consumers read the total line by key; "queries_cold" (the
    // run-1 times) sits between "queries" and "errors"
    val totalLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_cold":$cold,"errors":$errored,"sf":"$sfDir"}"""
    val parts = results.sortBy { case (k, v) => (v.getOrElse(-1.0), k) }
      .grouped(20).toVector
    val chunks = parts.zipWithIndex.map { case (grp, i) =>
      val m = grp.map { case (k, v) => entry(k, v, f3) }.mkString("{", ",", "}")
      s"""{"metric":"per_query_tail","part":${i + 1},"parts":${parts.size},"queries":$m}"""
    }
    // cold visibility: queries whose run-1 time is far above the
    // reported min — the session-memoized families (winnow / simhash
    // graphs, shared labelings) whose real first-touch cost min-of-2
    // hides. Compact [min, cold] pairs, largest gaps last.
    val gaps = runs.collect {
      case (k, Some(c), r2) if {
        val m = math.min(c, r2.getOrElse(c))
        c > 2 * m && c - m > 0.5
      } => (k, math.min(c, r2.getOrElse(c)), c)
    }.sortBy(t => t._3 - t._2).takeRight(20)
    val gapLine = Option.when(gaps.nonEmpty) {
      val m = gaps.map { case (k, mn, c) =>
        s"\"$k\":[" + f3(mn) + "," + f3(c) + "]"
      }.mkString("{", ",", "}")
      s"""{"metric":"cold_gap_tail","queries":$m}"""
    }
    val tail = s"""{"metric":"total_tail","value":$total,"unit":"sec","errors":$errored,"n_queries":${results.size},"sf":"$sfDir"}"""
    (totalLine +: chunks) ++ gapLine :+ tail
  }
}
