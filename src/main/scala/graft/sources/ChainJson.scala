package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.model.Schemas
import graft.functions.Cleansing

/** Chain JSON source — one file per symbol-day holding an array of
  * straddle rows (reference: transform-load.2025-08-19.rkt:158-161 scan,
  * :171 parse; column list from the fetch URL,
  * extract.2023-11-16.rkt:184-185).
  *
  * Spark-first: one `spark.read.json` over the whole day folder with an
  * explicit schema (no inference), symbol derived from the file name —
  * the engine loads a day in one distributed scan instead of the
  * reference's file-at-a-time loop. At scale the folder is a Hive
  * partition (`date=yyyy-MM-dd`) and partition pruning keeps this a
  * single-day scan.
  */
object ChainJson {

  /** Typed view of [[toOptionChain]]'s output — use where per-record
    * logic warrants compile-time field checks (SURVEY §1.3). */
  def toOptionQuotes(straddles: DataFrame, date: java.sql.Date)
      : org.apache.spark.sql.Dataset[graft.model.OptionQuote] = {
    val spark = straddles.sparkSession
    import spark.implicits._
    val df = toOptionChain(straddles, date)
    // scala.BigDecimal encodes as the system-default decimal(38,18)
    val widened = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case _: org.apache.spark.sql.types.DecimalType =>
          acc.withColumn(f.name, col(f.name).cast("decimal(38,18)"))
        case _ => acc
      }
    }
    widened.as[graft.model.OptionQuote]
  }

  /** Read every `*.json` under `dir`; adds `act_symbol` from the file
    * name (reference: transform-load.2025-08-19.rkt:160-161). */
  def readDay(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schemas.chainStraddleRow)
      .option("multiLine", "true")
      .json(s"$dir/*.json")
      .withColumn("act_symbol",
        regexp_extract(input_file_name(), "([^/]+)\\.json$", 1))

  private val D = Schemas.Dec

  /** Straddle rows whose both option symbols are listed — inner-join
    * semantics on side availability (reference:
    * transform-load.2025-08-19.rkt:128) — with `expiration` and `strike`
    * typed as in option_chain. One row per straddle, so selections that
    * keep both sides of a strike can run here, before [[unpivot]]. */
  def listedStraddles(straddles: DataFrame): DataFrame =
    straddles
      .where(col("call_optionsymbol").isNotNull &&
        col("put_optionsymbol").isNotNull)
      .withColumn("expiration", to_date(col("expirationdate")))
      .withColumn("strike", col("strike").cast(D))

  /** Listed straddle rows → option_chain rows.
    *
    * - Unpivot one straddle row into a Call and a Put row (reference:
    *   :128-142) via explode of a 2-element struct array.
    * - `vol` = ivint/100 truncated to scale 4; greeks truncated to scale
    *   4 (reference Q8 insert, :195-208). bid/ask/theoprice pass through.
    */
  def unpivot(listed: DataFrame, date: java.sql.Date): DataFrame = {
    def side(p: String) = struct(
      lit(if (p == "call") "Call" else "Put").as("call_put"),
      col(s"${p}_bid").as("bid"),
      col(s"${p}_ask").as("ask"),
      col(s"${p}_theoprice").as("model_value"),
      col(s"${p}_ivint").as("ivint"),
      col(s"${p}_delta").as("delta"),
      col(s"${p}_gamma").as("gamma"),
      col(s"${p}_theta").as("theta"),
      col(s"${p}_vega").as("vega"),
      col(s"${p}_rho").as("rho"))

    listed
      .select(col("act_symbol"), col("expiration"), col("strike"),
        explode(array(side("call"), side("put"))).as("o"))
      .select(
        lit(date).as("date"),
        col("act_symbol"), col("expiration"), col("strike"),
        col("o.call_put").as("call_put"),
        col("o.bid").cast(D).as("bid"),
        col("o.ask").cast(D).as("ask"),
        col("o.model_value").cast(D).as("model_value"),
        // vol is inserted as ivint/100 with NO trunc in the reference
        // (transform-load.2025-08-19.rkt:203 — trunc applies only to the
        // greeks, :204-208); the cast to scale 4 rounds half-up, a
        // deviation only for ivint with >2 decimals (not observed).
        (col("o.ivint").cast(DecimalType(38, 8)) /
          lit(BigDecimal(100))).cast(D).as("vol"),
        Cleansing.truncTo(col("o.delta"), 4).cast(D).as("delta"),
        Cleansing.truncTo(col("o.gamma"), 4).cast(D).as("gamma"),
        Cleansing.truncTo(col("o.theta"), 4).cast(D).as("theta"),
        Cleansing.truncTo(col("o.vega"), 4).cast(D).as("vega"),
        Cleansing.truncTo(col("o.rho"), 4).cast(D).as("rho"))
  }

  /** Straddle rows → option_chain rows: rows missing either option
    * symbol are dropped ([[listedStraddles]]), the rest [[unpivot]]ed. */
  def toOptionChain(straddles: DataFrame, date: java.sql.Date): DataFrame =
    unpivot(listedStraddles(straddles), date)
}
