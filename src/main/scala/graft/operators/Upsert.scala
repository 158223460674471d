package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Upsert semantics without a mutable store.
  *
  * The reference loads with `INSERT … ON CONFLICT (pk) DO NOTHING`
  * (keep-first; reference: transform-load.2025-08-19.rkt:209,394) for the
  * chain/volatility tables, and `ON CONFLICT DO UPDATE` (last-wins;
  * reference: weeklies-transform-load.rkt:52-64) for the weekly roster.
  * [[keepFirst]] and [[lastWins]] are one windowed dedup on the PK;
  * [[upsert]] keeps the preferred table whole and adds only the other
  * side's new keys. No driver-side state, idempotent by construction
  * (`load ∘ load = load`).
  */
object Upsert {

  /** Keep exactly one row per PK, preferring the smallest `precedence`
    * tuple (ASC). Deterministic for any input order. Pass plain columns,
    * not `.asc`/`.desc` — the sort direction is applied here, and a
    * nested SortOrder falls out of codegen. */
  def keepFirst(df: DataFrame, pk: Seq[String], precedence: Seq[Column])
      : DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*)
      .orderBy(precedence.map(_.asc): _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Keep one row per PK, preferring the LARGEST `ord` tuple (DESC) —
    * last-wins roster semantics (S10). */
  def lastWins(df: DataFrame, pk: Seq[String], ord: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*)
      .orderBy(ord.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Merge `incoming` into `existing` on `pk`. `preferExisting = true`
    * reproduces ON CONFLICT DO NOTHING; `false` reproduces DO UPDATE.
    *
    * The preferred side is kept whole: its rows stream to the writer with
    * no exchange or sort, so it must already be PK-unique (a table with
    * a PRIMARY KEY is, reference: schema.sql:7-27). The other side loses
    * the keys the preferred side holds — a null-safe anti-join against
    * the preferred side's PK columns only — and keeps one row per
    * remaining key (null PK parts compare equal). */
  def upsert(existing: DataFrame, incoming: DataFrame, pk: Seq[String],
      preferExisting: Boolean): DataFrame = {
    val (kept, other) =
      if (preferExisting) (existing, incoming) else (incoming, existing)
    val keys = kept.select(pk.map(k => col(k).as(s"__pk_$k")): _*)
    val taken = pk.map(k => col(k) <=> col(s"__pk_$k")).reduce(_ && _)
    kept.unionByName(
        other.join(keys, taken, "left_anti").dropDuplicates(pk))
      .select(existing.columns.toIndexedSeq.map(col): _*)
  }
}
