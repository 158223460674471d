package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextAnalysis}
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

  /** Spec for `Dedup.weightedSimhash`: the 32-decimal-sum form the
    * fixed-width aggregate replaced (ExtSpec pins row-identical
    * signatures on randomized corpora). */
  def weightedSimhashDecimal(docs: DataFrame, idCol: String,
      textCol: String, bits: Int = 32): DataFrame = {
    require(bits >= 1 && bits <= 60, s"weightedSimhash: bits=$bits not in [1,60]")
    import org.apache.spark.sql.types.DecimalType
    val toks = docs.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("long").as("n"))
    val idf = dfc.crossJoin(broadcast(n))
      .select(col("term"),
        log(col("n").cast("double") / col("df"))
          .cast(DecimalType(28, 12)).as("idf"))
    val wgt = tf.join(idf, Seq("term"))
      .select(col("id"),
        (Dedup.polyHash(col("term")) * lit(1073741824L) +
          Dedup.polyHashReversed(col("term"))).as("__h"),
        (when(col("tf") < lit(1000000000L), col("tf").cast(DecimalType(9, 0)))
          .otherwise(raise_error(concat(
            lit("weightedSimhash: term frequency "),
            col("tf").cast("string"),
            lit(" overflows the DECIMAL(9,0) tf bound")))
            .cast(DecimalType(9, 0)))
          * col("idf")).as("__w"))
    val sums = (0 until bits).map(j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1,
        col("__w")).otherwise(-col("__w"))).as(s"__s$j"))
    wgt.groupBy(col("id")).agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until bits).map(j =>
          when(col(s"__s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }
}
