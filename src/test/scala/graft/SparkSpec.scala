package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  /** Fixture path, materialized from the main-resources bundle (a stale
    * test-classes directory can shadow the classpath resource, so resolve
    * through Fixtures rather than getResource). */
  def res(path: String): String = graft.sources.Fixtures.path(path)

  def d(s: String): java.sql.Date = java.sql.Date.valueOf(s)

  def dec(s: String): java.math.BigDecimal = new java.math.BigDecimal(s)

  def assertDecEq(got: java.math.BigDecimal, exp: String): Unit = {
    assert(got != null && got.compareTo(dec(exp)) == 0,
      s"expected $exp, got $got")
  }

  def rows(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq
}
