package graftbench

import java.io.File
import java.math.{BigDecimal => JBig, RoundingMode}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.Schemas
import graft.operators.{Export, Upsert}
import graft.plans.ChainPipeline
import graft.sources.ChainJson

/** The `option_chain` table of one pass: current version and row count. */
final class ChainTable(val root: String) {
  var version = 0
  var rows = 0L
  def path(v: Int) = s"$root/option_chain/v$v"
}

/** Counts one chain op leaves for the checks and for `write_amp`. */
final case class OpOut(inserted: Long, rewritten: Long)

/** The daily options-chain load: one op loads one day folder into the
  * `option_chain` parquet table and exports that day's slice as CSV.
  * A pass loads every day in order into a fresh table, then replays
  * day 1 (which must insert nothing). */
final class ChainDaily(spark: SparkSession, dataDir: String, workDir: String) {
  val days: Seq[String] = new File(dataDir).listFiles().filter(_.isDirectory)
    .map(_.getName).sorted.toSeq
  val dayBytes: Map[String, Long] = days.map(d =>
    d -> new File(s"$dataDir/$d").listFiles().map(_.length).sum).toMap
  private val pk = Schemas.optionChainPk

  /** Days in op order: every day once, then day 1 again. */
  def opDays: Seq[String] = days :+ days.head

  def table(pass: Int) = new ChainTable(s"$workDir/chain/pass$pass")

  private def current(t: ChainTable): DataFrame =
    if (t.version == 0) spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Schemas.optionChain)
    else spark.read.parquet(t.path(t.version))

  /** Loads `day` into `t`; with a trace, each layer call is its own
    * span and the loaded day is persisted so later layers reuse it. */
  def op(t: ChainTable, day: String, trace: Option[Trace], pass: Int): Unit = {
    val date = java.sql.Date.valueOf(day)
    val dir = s"$dataDir/$day"
    val prices = spark.read.parquet(s"$dataDir/prices.parquet")
    def layer[T](name: String)(body: => T): T =
      trace.fold(body)(_.span(name, pass)(body))
    val loaded = trace match {
      case None => ChainPipeline.loadDay(spark, dir, prices, date)
      case Some(_) =>
        layer("sources.ChainJson.readDay") {
          Noop.write(ChainJson.toOptionChain(ChainJson.readDay(spark, dir), date))
        }
        val l = ChainPipeline.loadDay(spark, dir, prices, date)
          .persist(StorageLevel.MEMORY_AND_DISK)
        layer("plans.ChainPipeline.loadDay")(Noop.write(l))
        l
    }
    val next = t.version + 1
    layer("operators.Upsert.upsert") {
      Upsert.upsert(current(t), loaded, pk, preferExisting = true)
        .write.mode("overwrite").parquet(t.path(next))
    }
    if (trace.isDefined) loaded.unpersist(blocking = true)
    t.version = next
    layer("operators.Export.writeDailyCsv") {
      Export.writeDailyCsv(spark.read.parquet(t.path(next))
        .where(col("date") === lit(date)), s"${t.root}/csv/$day")
    }
  }

  /** Untimed bookkeeping after an op: the new table's row count. */
  def after(t: ChainTable): OpOut = {
    val rows = spark.read.parquet(t.path(t.version)).count()
    val out = OpOut(rows - t.rows, rows)
    t.rows = rows
    out
  }

  // ------------------------------------------------------------ checks

  /** Output checks on one finished pass; returns failure messages. */
  def check(t: ChainTable): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val table = spark.read.parquet(t.path(t.version))
    val dupPk = table.groupBy(pk.map(col): _*).count().where("count > 1").count()
    if (dupPk > 0) errs += s"$dupPk duplicate primary keys"
    val wide = table.groupBy("date", "act_symbol").count()
      .where(s"count > ${Reference.maxRowsPerSymbolDay}").count()
    if (wide > 0) errs += s"$wide symbol-days above ${Reference.maxRowsPerSymbolDay} rows"
    val rows = table.select("date", "act_symbol", "expiration", "strike",
      "call_put", "bid").collect()
    val got = rows.groupBy(_.getDate(0).toString)
    val marks = Reference.marks(spark.read.parquet(s"$dataDir/prices.parquet"))
    days.foreach { d =>
      val want = Reference.select(s"$dataDir/$d", LocalDate.parse(d), marks)
      val have = got.getOrElse(d, Array.empty[Row]).map { r =>
        (r.getString(1), r.getDate(2).toLocalDate, r.getDecimal(3).stripTrailingZeros,
          r.getString(4)) -> Option(r.getDecimal(5)).map(_.stripTrailingZeros)
      }.toMap
      if (have != want) {
        val miss = (want.keySet -- have.keySet).size
        val extra = (have.keySet -- want.keySet).size
        errs += s"$d: selection differs from the reference recomputation " +
          s"(${want.size} expected, ${have.size} loaded, $miss missing, $extra extra)"
      }
      val csvRows = new File(s"${t.root}/csv/$d").listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles())
        .filter(_.getName.endsWith(".csv"))
        .map(f => scala.io.Source.fromFile(f).getLines().size - 1 max 0).sum
      if (csvRows != have.size)
        errs += s"$d: CSV holds $csvRows rows, table day slice ${have.size}"
    }
    errs.result()
  }
}

/** Plain-Scala recomputation of the reference's daily selection
  * (transform-load.2025-08-19.rkt:102-152): as-of mark, 4 target
  * expirations, 27 target strikes, nearest real value with ties to the
  * smaller one, both sides kept, rows missing either option symbol
  * dropped. Shares no code with the engine. */
object Reference {
  type Key = (String, LocalDate, JBig, String)

  /** Target strikes as multiples of the mark, 70% to 130%
    * (transform-load.2025-08-19.rkt:114-122). */
  val multipliers: Seq[JBig] = Seq(
    "0.70", "0.75", "0.80", "0.825", "0.85", "0.875", "0.90", "0.92",
    "0.94", "0.96", "0.97", "0.98", "0.99", "1.00", "1.01", "1.02",
    "1.03", "1.04", "1.06", "1.08", "1.10", "1.125", "1.15", "1.175",
    "1.20", "1.25", "1.30").map(new JBig(_))

  /** 4 target expirations × 27 target strikes × 2 sides. */
  val maxRowsPerSymbolDay: Int = 4 * multipliers.size * 2

  /** Per symbol: (price date, close) sorted by date. */
  def marks(prices: DataFrame): Map[String, Seq[(LocalDate, JBig)]] =
    prices.collect().toSeq.map(r =>
      (r.getString(0), r.getDate(1).toLocalDate,
        new JBig(java.lang.Double.toString(r.getDouble(2)))))
      .groupBy(_._1).map { case (s, v) => s -> v.map(x => (x._2, x._3)).sortBy(_._1.toEpochDay) }

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  def select(dir: String, day: LocalDate,
      marks: Map[String, Seq[(LocalDate, JBig)]]): Map[Key, Option[JBig]] = {
    val out = Map.newBuilder[Key, Option[JBig]]
    new File(dir).listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
      val sym = f.getName.stripSuffix(".json")
      val mark = marks.getOrElse(sym, Nil).filter(!_._1.isAfter(day)).lastOption
        .map(_._2.setScale(4, RoundingMode.HALF_UP))
      val rows = mapper.readTree(f).elements().asScala.toSeq.filter(r =>
        !r.path("call_optionsymbol").isNull && !r.path("call_optionsymbol").isMissingNode &&
          !r.path("put_optionsymbol").isNull && !r.path("put_optionsymbol").isMissingNode)
      for (m <- mark if rows.nonEmpty) {
        val exps = rows.map(r => LocalDate.parse(r.get("expirationdate").asText)).distinct
        val selExps = Seq(2, 4, 6, 8).map(w => day.plusDays(7L * w)).map { t =>
          exps.minBy(e => (math.abs(e.toEpochDay - t.toEpochDay), e.toEpochDay))
        }.distinct
        selExps.foreach { e =>
          val atExp = rows.filter(r => LocalDate.parse(r.get("expirationdate").asText) == e)
          val strikes = atExp.map(_.get("strike").decimalValue).distinct
          val chosen = multipliers.map { k =>
            val target = m.multiply(k)
            strikes.minBy(s => (BigDecimal(s.subtract(target).abs), BigDecimal(s)))
          }.toSet
          atExp.filter(r => chosen(r.get("strike").decimalValue)).foreach { r =>
            val strike = r.get("strike").decimalValue.stripTrailingZeros
            Seq("call" -> "Call", "put" -> "Put").foreach { case (p, cp) =>
              val bid = Option(r.get(s"${p}_bid")).filterNot(_.isNull)
                .map(_.decimalValue.setScale(4, RoundingMode.HALF_UP).stripTrailingZeros)
              out += (sym, e, strike, cp) -> bid
            }
          }
        }
      }
    }
    out.result()
  }
}
