package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.operators.{AsOf, NearestSelect, Upsert}
import graft.sources.ChainJson

/** The flagship E2 path — the reference's daily chain transform+load
  * (reference: transform-load.2025-08-19.rkt:102-152, orchestrated at
  * :158-225) re-expressed as ONE distributed dataflow:
  *
  *   read day folder → as-of mark price → closest expiration → closest
  *   strike (keep both sides) → Call/Put unpivot → PK dedup
  *
  * Shuffle budget: the day folder is scanned once and crosses one
  * exchange, keyed by `act_symbol`; both selection windows and the PK
  * dedup reuse that partitioning. The marks (one row per symbol, with
  * their 27 target strikes) are broadcast. At 100 TB the day folder is a
  * partition-pruned scan and AQE handles symbol skew.
  *
  * Selection semantics (:147-152): for each of 4 target expirations pick
  * the nearest REAL expiration; within it, for each of 27 target strikes
  * pick the nearest REAL strike and keep ALL rows (both sides) at it.
  * Duplicates across targets collapse in the PK dedup, exactly like the
  * reference's ON CONFLICT DO NOTHING (:209). Ties: the reference's fold
  * keeps the first-seen element; we break ties deterministically toward
  * the SMALLER expiration/strike and document that choice.
  */
object ChainPipeline {

  /** As-of mark price per symbol: close at the latest date ≤ folderDate
    * (reference: :104-113, the correlated subquery — here one window
    * pass, no correlated join). */
  def markPrices(prices: DataFrame, folderDate: java.sql.Date): DataFrame =
    AsOf.latestPerKeyUpTo(prices, Seq("act_symbol"), col("date"),
        lit(folderDate), Seq.empty)
      .select(col("act_symbol"), col("close").cast(Schemas.Dec).as("mark"))

  /** Target-grid selection over rows keyed by `act_symbol`, `expiration`
    * and `strike` — straddle rows or option_chain rows; every row at a
    * selected (expiration, strike) is kept, with the input's columns.
    * Symbols without a mark select nothing. Rows with a null expiration
    * or strike cannot satisfy the option_chain PK and are not candidates.
    *
    * Each argmin is a window `min(struct(distance, value))`, so equal
    * distances go to the smaller value: over `act_symbol` for the 4
    * target expirations (:51-58), then over (`act_symbol`, `expiration`)
    * for the 27 target strikes (:60-66). The second window reuses the
    * first one's partitioning. */
  def selectNearTheMoney(rows: DataFrame, marks: DataFrame,
      folderDate: java.sql.Date): DataFrame = {
    def nearest(distance: Column, value: Column, w: WindowSpec): Column =
      min(struct(distance.as("d"), value.as("v"))).over(w).getField("v")
    // 27 target strikes = mark × multipliers (:114-122), once per symbol
    val targets = marks.select(col("act_symbol"), array(
      NearestSelect.strikeMultipliers.map(m => col("mark") * lit(m)): _*)
      .as("__t_strikes"))
    val bySymbol = Window.partitionBy("act_symbol")
    val byExpiration = Window.partitionBy("act_symbol", "expiration")
    val selExps = NearestSelect.targetExpirations(lit(folderDate)).map(t =>
      nearest(abs(datediff(col("expiration"), t)), col("expiration"),
        bySymbol))
    val selStrikes = NearestSelect.strikeMultipliers.indices.map(i =>
      nearest(abs(col("strike") - col("__t_strikes")(i)), col("strike"),
        byExpiration))
    rows.where(col("expiration").isNotNull && col("strike").isNotNull)
      .withColumn("__sel", array(selExps: _*))
      .where(array_contains(col("__sel"), col("expiration")))
      // joined after the exchange, so the target arrays are never shuffled
      .join(broadcast(targets), Seq("act_symbol"))
      .withColumn("__sel", array(selStrikes: _*))
      .where(array_contains(col("__sel"), col("strike")))
      .select(rows.columns.toIndexedSeq.map(col): _*)
  }

  /** Full day pipeline: JSON folder → selected, PK-deduped option_chain
    * rows, in no particular order (callers that need one sort). The
    * selection runs on straddle rows, before the Call/Put unpivot. */
  def loadDay(spark: SparkSession, dayDir: String, prices: DataFrame,
      folderDate: java.sql.Date, allOptions: Boolean = false): DataFrame = {
    val straddles = ChainJson.listedStraddles(ChainJson.readDay(spark, dayDir))
    val selected =
      if (allOptions) straddles
      else selectNearTheMoney(straddles, markPrices(prices, folderDate),
        folderDate)
    // bid ASC NULLS LAST, spelled as plain columns (isNull sorts false
    // first) — keepFirst applies .asc itself, and a pre-wrapped SortOrder
    // would nest and kick the sort out of codegen.
    Upsert.keepFirst(ChainJson.unpivot(selected, folderDate),
      Schemas.optionChainPk, Seq(col("bid").isNull, col("bid")))
  }
}
