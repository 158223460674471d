package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Regenerates a pinned golden in `Oracles.scala`: `x55` prints the OPQ
  * rotation and codebook literals, `x66` the adaptive-LSH VALUES rows.
  * Both learn twice and compare bitwise first, which double-checks
  * that the pinned output is deterministic.
  *
  *  - x55's oracle is not a VALUES golden: DuckDB RE-COMPUTES the
  *    rotated encode of every sf0.01 embedding from the rotation matrix
  *    R and the codebooks emitted as SQL literals. Only the LEARN
  *    (driver-side Jacobi polar factor — not expressible in SQL) is
  *    pinned; the distributed rotate+encode path is verified end to
  *    end. The learn is deterministic by construction (id-seeded
  *    codebooks, exact-decimal codebook means and M aggregation,
  *    fixed-sweep Jacobi).
  *  - x66's random-hyperplane signatures are hash-specific — no SQL
  *    engine reproduces them — so x66 carries a deterministic golden
  *    output pinned to the driver's verify scale (the x04/x07
  *    discipline). The operator itself is validated hash-free in
  *    ScaleSpec (clustered-vs-uniform candidate volume, recall vs the
  *    base LSH pair set).
  *
  * Usage: `runMain graft.Pin <x55|x66> [sfDir]` (default sf0.01).
  */
object Pin {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && Set("x55", "x66")(args(0)),
      "usage: Pin <x55|x66> [sfDir]")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = Session.local()
    if (args(0) == "x55") opq(spark, dir) else adaptiveLsh(spark, dir)
    spark.stop()
  }

  private def fmt(d: Double) = java.lang.Double.toString(d)

  private def opq(spark: SparkSession, dir: String): Unit = {
    val base = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), slice(col("embedding"), 1, 16).as("v16"))
    def learnOnce() =
      graft.ext.Opq.learn(base, "vec_id", "v16", m = 4, k = 8, iters = 1)
    val m1 = learnOnce()
    val m2 = learnOnce()
    def flat(a: Array[Array[Double]]): Seq[Double] = a.toSeq.flatMap(_.toSeq)
    val same = flat(m1.rotation) == flat(m2.rotation) &&
      m1.codebooks.toSeq.flatMap(flat) == m2.codebooks.toSeq.flatMap(flat)
    println(s"-- deterministic relearn (must be true): $same")
    println("-- rotation literal (16x16):")
    println(m1.rotation.map(row =>
      "[" + row.map(fmt).mkString(",") + "]").mkString("[", ",\n ", "]"))
    println("-- codebook VALUES (s, code, cw):")
    m1.codebooks.zipWithIndex.foreach { case (sub, s) =>
      sub.zipWithIndex.foreach { case (cw, j) =>
        println(s"($s,$j,[${cw.map(fmt).mkString(",")}]),")
      }
    }
  }

  private def adaptiveLsh(spark: SparkSession, dir: String): Unit = {
    def runOnce(): Seq[(Long, Long, Double)] =
      Queries.x66AdaptiveLsh(spark, dir).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val a = runOnce()
    val b = runOnce()
    println(s"-- deterministic rerun (must be true): ${a == b}")
    println(s"-- rows: ${a.size}")
    println("-- VALUES rows (id_a, id_b, cosine):")
    // e0 suffix: DuckDB parses a bare decimal literal as DECIMAL and
    // casts (rounding through a scaled-integer division, off by an ulp
    // for some values); E-notation parses directly as DOUBLE
    a.foreach { case (ia, ib, c) => println(s" ($ia, $ib, ${fmt(c)}e0),") }
  }
}
