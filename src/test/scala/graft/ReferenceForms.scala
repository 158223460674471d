package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{NearestSelect, Upsert}

/** Straightforward formulations of operators the engine computes in
  * a fused form, kept as executable specs: property tests compare the
  * fused operators with these on generated inputs. */
object ReferenceForms {

  /** Spec for `ChainPipeline.selectNearTheMoney`: distinct expirations ×
    * broadcast targets, a row_number argmin per target, and a three-way
    * join back to the option_chain rows. Ties go to the smaller
    * expiration/strike. A null expiration or strike sorts first in its
    * argmin, so such rows must not be among the inputs. */
  def selectNearTheMoney(chain: DataFrame, marks: DataFrame,
      folderDate: java.sql.Date): DataFrame = {
    val teDf = chain.sparkSession.range(1).select(
      explode(array(NearestSelect.targetExpirations(lit(folderDate)): _*))
        .as("t_exp"))

    val exps = chain.select("act_symbol", "expiration").distinct()
    val wExp = Window.partitionBy("act_symbol", "t_exp")
      .orderBy(abs(datediff(col("expiration"), col("t_exp"))).asc,
        col("expiration").asc)
    val bestExp = exps.crossJoin(broadcast(teDf))
      .withColumn("__rn", row_number().over(wExp)).where(col("__rn") === 1)
      .select(col("act_symbol"), col("t_exp"),
        col("expiration").as("sel_exp"))

    val ts = marks.select(col("act_symbol"), explode(array(
        NearestSelect.strikeMultipliers.map(m =>
          (col("mark") * lit(m)).as("t")): _*)).as("t_strike"))

    val strikes = chain.join(bestExp, Seq("act_symbol"))
      .where(col("expiration") === col("sel_exp"))
      .select("act_symbol", "t_exp", "sel_exp", "strike").distinct()
    val wStrike = Window.partitionBy("act_symbol", "t_exp", "t_strike")
      .orderBy(abs(col("strike") - col("t_strike")).asc, col("strike").asc)
    val bestStrike = strikes.join(ts, Seq("act_symbol"))
      .withColumn("__rn", row_number().over(wStrike)).where(col("__rn") === 1)
      .select(col("act_symbol"), col("t_exp"), col("sel_exp"),
        col("strike").as("sel_strike")).distinct()

    val sel = bestStrike
      .select(col("act_symbol").as("s_sym"), col("sel_exp"), col("sel_strike"))
      .distinct()
    chain.join(broadcast(sel),
        chain("act_symbol") === sel("s_sym") &&
          chain("expiration") === sel("sel_exp") &&
          chain("strike") === sel("sel_strike"))
      .select(chain.columns.toIndexedSeq.map(chain(_)): _*)
  }

  /** Spec for `Upsert.upsert`: one windowed dedup over the tagged union
    * of both sides. Which of several rows sharing a key on the
    * non-preferred side survives is unspecified. */
  def upsert(existing: DataFrame, incoming: DataFrame, pk: Seq[String],
      preferExisting: Boolean): DataFrame = {
    val tagged = existing.withColumn("__src", lit(if (preferExisting) 0 else 1))
      .unionByName(incoming.withColumn("__src", lit(if (preferExisting) 1 else 0)))
    Upsert.keepFirst(tagged, pk, Seq(col("__src"))).drop("__src")
  }
}
