package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar cleansing functions from the reference's transform layer —
  * null sentinels, percent scaling, scale-truncation, side decode.
  * All compose built-in (codegen'd) Spark functions; no UDFs.
  */
object Cleansing {

  /** SQL `trunc(x, scale)` — truncation TOWARD ZERO at a decimal scale
    * (reference: transform-load.2025-08-19.rkt:204-208 `trunc($n, 4)`;
    * dump-dolt.rkt:60-67 `trunc(bid, 2)`). Spark's `round` rounds
    * half-up, so compose floor/ceil on exact Decimal input instead.
    * Input should already be DecimalType for exactness.
    */
  def truncTo(c: Column, scale: Int): Column = {
    val f = lit(BigDecimal(10).pow(scale))
    val scaled = c * f
    when(scaled >= 0, floor(scaled)).otherwise(ceil(scaled)) / f
  }

  /** 'N/A' / '0.00' (and friends) → NULL, else strip [,%] and cast to
    * decimal (reference: transform-load.2025-08-19.rkt:327-394 — the CASE
    * tables; :398-417 strips comma/percent). `sentinels` varies per
    * column in the reference, so it is a parameter here. */
  def nullSentinels(c: Column, sentinels: Seq[String]): Column =
    when(c.isin(sentinels: _*), lit(null))
      .otherwise(regexp_replace(c, "[,%]", ""))

  /** 'C'/'P' → 'Call'/'Put' (reference:
    * transform-load.2025-08-19.rkt:195-198). */
  def sideDecode(c: Column): Column =
    when(c === "C", "Call").when(c === "P", "Put").otherwise(lit(null))

  /** Hard symbol remap BRKB→BRK.B, RDSA→RDS.A (reference:
    * weeklies-transform-load.rkt:65-68) plus the '/'↔'.' API-key
    * normalization (reference: extract.2023-11-16.rkt:169-170). */
  def remapSymbol(c: Column): Column =
    when(c === "BRKB", "BRK.B").when(c === "RDSA", "RDS.A")
      .otherwise(translate(c, "/", "."))

  /** Sentinel pages that must be rejected wholesale (reference:
    * transform-load.2025-08-19.rkt:290-292). */
  val pageSentinels: Seq[String] =
    Seq("No Options found", "SEARCH RESULTS", "Server too busy. Try it later.")

  def isSentinelPage(page: Column): Column =
    pageSentinels.map(s => page.contains(s)).reduce(_ || _)
}
