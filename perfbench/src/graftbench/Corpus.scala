package graftbench

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry

object Noop {
  /** Materializes every column of `df` and discards the rows. */
  def write(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Query-corpus ops: one op runs one registered query through the noop
  * sink. An observed (row count, sum of row hashes) fingerprint rides
  * along, so passes over the same data can be compared for identical
  * outputs without a second execution. */
final class Corpus(spark: SparkSession, dataDir: String) {

  private def hashable(df: DataFrame): Seq[Column] = df.schema.fields.toSeq.map { f =>
    f.dataType match {
      case _: MapType => map_entries(col(s"`${f.name}`"))
      case _ => col(s"`${f.name}`")
    }
  }

  def op(name: String, trace: Option[Trace], pass: Int): (Long, BigDecimal) = {
    def layer[T](n: String)(body: => T): T = trace.fold(body)(_.span(n, pass)(body))
    val df = layer(s"queries.Queries.$name")(SparkEntry.queries(name)(spark, dataDir))
    trace.foreach(_.addAnalysis(df.queryExecution))
    val obs = Observation()
    val observed = df.observe(obs, count(lit(1)).as("n"),
      sum(xxhash64(hashable(df): _*).cast("decimal(38,0)")).as("h"))
    layer("ext.execute")(Noop.write(observed))
    val r = Await.result(obs.future, 10.minutes)
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Untimed: writes `name`'s output over `dir` for the oracle compare. */
  def dump(name: String, dir: String, out: String): Unit =
    SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
      .parquet(s"$out/$name")
}
