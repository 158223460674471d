package graft

import org.apache.spark.sql.functions._
import graft.sources.{ChainJson, VolatilityHtml, WeekliesCsv}
import graft.plans.ChainPipeline

/** Domain sources against golden fixtures (FIXTURES.md §A): chain JSON
  * unpivot + missing-side drop, volatility HTML positional extraction +
  * sentinel pages, weeklies CSV remap + last-wins, and the full E2
  * selection pipeline. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val chainDir = res("chain/2024-01-15")
  private val day = java.sql.Date.valueOf("2024-01-15")

  test("chain json: straddle unpivot, missing side dropped, trunc scale") {
    val chain = ChainJson.toOptionChain(ChainJson.readDay(spark, chainDir), day)
    // AAA has 5 straddles, one missing call side → 4 × 2 rows; BBB 2 × 2
    assert(chain.count() == 12)
    assert(chain.where($"act_symbol" === "AAA").count() == 8)
    val r = rows(chain.where($"act_symbol" === "AAA" &&
      $"strike" === lit(BigDecimal(100)) && $"call_put" === "Call" &&
      $"expiration" === lit(d("2024-01-26"))))
    assert(r.length == 1)
    val row = r.head
    // vol = ivint 24.8 / 100 trunc 4 = 0.2480
    assertDecEq(row.getAs[java.math.BigDecimal]("vol"), "0.248")
    // model_value passes through untruncated
    assertDecEq(row.getAs[java.math.BigDecimal]("model_value"), "2.9012")
  }

  test("chain pipeline: near-the-money selection + PK dedup + idempotence") {
    val prices = Seq(("AAA", "2024-01-12", 101.0), ("AAA", "2024-01-20", 150.0),
      ("BBB", "2024-01-10", 6.0))
      .toDF("act_symbol", "ds", "close").withColumn("date", to_date($"ds"))
    val out = ChainPipeline.loadDay(spark, chainDir, prices, day)
    val got = rows(out.select("act_symbol", "expiration", "strike", "call_put"))
      .map(r => (r.getString(0), r.getDate(1).toString,
        r.getDecimal(2).stripTrailingZeros.toPlainString, r.getString(3)))
    // AAA mark=101 (as-of skips the 2024-01-20 price):
    //   t_exp 01-29→sel 01-26, 02-12→01-26(17d)<02-23(11d)? |01-26−02-12|=17,
    //   |02-23−02-12|=11 → 02-23; 02-26→02-23; 03-11→03-22(11d)<02-23(17d)
    //   strikes at 01-26: {95,100} (105 row was dropped — missing call);
    //   targets 70.7..131.3 → nearest ∈ {95,100} both selected
    //   at 02-23 and 03-22 only strike 100 exists
    // BBB mark=6: strikes {5, 7.5} both selected at 02-16
    val aaaExps = got.filter(_._1 == "AAA").map(_._2).distinct.sorted
    assert(aaaExps == Seq("2024-01-26", "2024-02-23", "2024-03-22"))
    val aaa0126 = got.filter(t => t._1 == "AAA" && t._2 == "2024-01-26")
    assert(aaa0126.map(_._3).distinct.sorted == Seq("100", "95"))
    assert(got.filter(t => t._1 == "BBB").map(_._3).distinct.sorted ==
      Seq("5", "7.5"))
    // both sides present wherever selected
    assert(aaa0126.count(_._4 == "Call") == aaa0126.count(_._4 == "Put"))
    // PK-dedup: no duplicate PKs even though multiple targets select the
    // same (expiration, strike)
    assert(got.distinct.length == got.length)
    // idempotence: re-running the pipeline yields identical output
    // (loadDay promises no order, so compare in PK order)
    val pk = graft.model.Schemas.optionChainPk.map(col)
    val again = ChainPipeline.loadDay(spark, chainDir, prices, day)
    assert(rows(again.orderBy(pk: _*)).toString ==
      rows(out.orderBy(pk: _*)).toString)
  }

  /** Writes one `<symbol>.json` per entry of `chains` (the JSON arrays'
    * elements, already rendered) into a fresh day folder. */
  private def writeDay(chains: Map[String, Seq[String]]): String = {
    val dir = java.nio.file.Files.createTempDirectory("chain-day")
    chains.foreach { case (sym, straddles) =>
      java.nio.file.Files.writeString(dir.resolve(s"$sym.json"),
        straddles.mkString("[\n", ",\n", "\n]\n"))
    }
    dir.toString
  }

  private def straddle(exp: String, strike: String, callBid: String = "1.00",
      putBid: String = "1.00", call: Boolean = true, put: Boolean = true)
      : String = {
    def sym(listed: Boolean) = if (listed) "\"X\"" else "null"
    s"""{"expirationdate": $exp, "strike": $strike, """ +
      s""""call_optionsymbol": ${sym(call)}, "call_bid": $callBid, """ +
      s""""put_optionsymbol": ${sym(put)}, "put_bid": $putBid}"""
  }

  test("chain pipeline: a null strike or expiration removes no candidates") {
    val base = Seq("95", "100", "105").map(k => straddle("\"2024-01-26\"", k))
    val dir = writeDay(Map(
      "AAA" -> (base :+ straddle("\"2024-01-26\"", "null")),
      "BBB" -> base,
      "CCC" -> (base :+ straddle("null", "100"))))
    val prices = Seq("AAA", "BBB", "CCC").map((_, "2024-01-12", 100.0))
      .toDF("act_symbol", "ds", "close").withColumn("date", to_date($"ds"))
    val got = rows(ChainPipeline.loadDay(spark, dir, prices, day)
        .select("act_symbol", "expiration", "strike"))
      .groupBy(_.getString(0)).map { case (sym, rs) =>
        sym -> rs.map(r => (r.getDate(1).toString,
          r.getDecimal(2).stripTrailingZeros.toPlainString)).sorted
      }
    val want = Seq("100", "105", "95").flatMap(k => Seq.fill(2)(("2024-01-26", k)))
    assert(got == Map("AAA" -> want, "BBB" -> want, "CCC" -> want))
  }

  test("chain pipeline plan: one JSON scan, no range-partitioning exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prices = Seq(("AAA", "2024-01-12", 101.0), ("BBB", "2024-01-10", 6.0))
      .toDF("act_symbol", "ds", "close").withColumn("date", to_date($"ds"))
    val out = ChainPipeline.loadDay(spark, chainDir, prices, day)
    assert(out.collect().nonEmpty)
    val plan = out.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val jsonScans = helper.collect(plan) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[JsonFileFormat] => s
    }
    val rangeExchanges = helper.collect(plan) {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(jsonScans.size == 1, plan.toString)
    assert(rangeExchanges.isEmpty, plan.toString)
  }

  test("property: fused selection equals the join-based spec on generated chains") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed

    final case class Quote(exp: Int, strike: BigDecimal, call: Boolean,
        put: Boolean, copies: Int) // 0: once, 1: exact copy, 2: rebid copy
    final case class Chain(mark: Option[Double], quotes: Seq[Quote])

    // days after the folder date; each pair around 14, 28, 42 and 56 is
    // equidistant from a target expiration
    val expOffsets = Seq(6, 13, 15, 21, 27, 29, 35, 41, 43, 49, 55, 57, 63, 70, 90)
    def quotesAt(exp: Int, mark: Double, step: Double): Gen[Seq[Quote]] = {
      val center = math.round(mark / step) * step
      val grid = (-12 to 12).map(k => center + k * step).filter(_ > 0)
        .map(BigDecimal(_))
      for {
        strikes <- Gen.atLeastOne(grid)
        sides <- Gen.listOfN(strikes.size, Gen.frequency(
          18 -> Gen.const((true, true)), 1 -> Gen.const((false, true)),
          1 -> Gen.const((true, false))))
        copies <- Gen.listOfN(strikes.size,
          Gen.frequency(8 -> Gen.const(0), 1 -> Gen.const(1), 1 -> Gen.const(2)))
      } yield strikes.toSeq.zip(sides).zip(copies).map {
        case ((k, (c, p)), n) => Quote(exp, k, c, p, n)
      }
    }
    // marks 100 (5-wide grid) and 102.5 put targets half-way between strikes
    val chainGen: Gen[Chain] = for {
      mark <- Gen.frequency(
        5 -> Gen.oneOf(100.0, 102.5, 50.0, 20.0, 7.5, 33.3).map(Option(_)),
        1 -> Gen.const(Option.empty[Double]))
      step <- Gen.oneOf(1.0, 2.5, 5.0)
      exps <- Gen.atLeastOne(expOffsets)
      quotes <- Gen.sequence[List[Seq[Quote]], Seq[Quote]](
        exps.toList.map(quotesAt(_, mark.getOrElse(100.0), step)))
    } yield Chain(mark, quotes.flatten)

    val folder = day.toLocalDate
    def render(c: Chain): Seq[String] = {
      var n = 0
      def bid(nullable: Boolean): String = {
        n += 1
        if (nullable && n % 11 == 0) "null" else f"${n / 100.0}%.2f"
      }
      c.quotes.flatMap { q =>
        val exp = "\"" + folder.plusDays(q.exp.toLong) + "\""
        def row(nullable: Boolean) = straddle(exp, q.strike.toString,
          bid(nullable), bid(nullable), q.call, q.put)
        val first = row(nullable = true)
        q.copies match {
          case 0 => Seq(first)
          case 1 => Seq(first, first)
          case _ => Seq(first, row(nullable = false))
        }
      }
    }

    val pk = graft.model.Schemas.optionChainPk
    val bidFirst = Seq(col("bid").isNull, col("bid"))
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val prop = Prop.forAllNoShrink(Gen.listOfN(12, chainGen)) { chains =>
      val named = chains.zipWithIndex.map { case (c, i) => s"S$i" -> c }
      val dir = writeDay(named.map { case (s, c) => s -> render(c) }.toMap)
      // a later close the as-of mark must skip; unmarked symbols have only that
      val prices = named.flatMap { case (s, c) =>
        (s, folder.plusDays(2).toString, 999.0) +:
          c.mark.toSeq.map(m => (s, folder.minusDays(3).toString, m))
      }.toDF("act_symbol", "ds", "close").withColumn("date", to_date($"ds"))
      val got = sorted(ChainPipeline.loadDay(spark, dir, prices, day))
      val spec = sorted(graft.operators.Upsert.keepFirst(
        ReferenceForms.selectNearTheMoney(
          ChainJson.toOptionChain(ChainJson.readDay(spark, dir), day),
          ChainPipeline.markPrices(prices, day), day), pk, bidFirst))
      Prop(spec.nonEmpty && got == spec) :|
        s"${got.size} rows, spec ${spec.size}; only here: " +
        s"${got.diff(spec).take(3)}; only in spec: ${spec.diff(got).take(3)}"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(4)
      .withInitialSeed(Seed(2024L)).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("chain html: positional call/put projection + OCC onmouseover decode") {
    val opts = graft.sources.ChainHtml.toOptions(
      graft.sources.ChainHtml.readDay(spark, res("chainhtml/2024-01-15")), day)
    // 2 expirations × (call + put); header/nav rows carry no OCC → dropped
    assert(opts.count() == 4)
    val call = rows(opts.where($"call_put" === "Call" &&
      $"expiration" === lit(d("2024-01-26")))).head
    assert(call.getAs[String]("act_symbol") == "AAA")
    assertDecEq(call.getAs[java.math.BigDecimal]("strike"), "95")
    assertDecEq(call.getAs[java.math.BigDecimal]("bid"), "6.10")
    assertDecEq(call.getAs[java.math.BigDecimal]("ask"), "6.30")
    // 25.50% → 0.2550 (no truncation in the HTML era)
    assertDecEq(call.getAs[java.math.BigDecimal]("vol"), "0.255")
    assertDecEq(call.getAs[java.math.BigDecimal]("theta"), "-0.045")
    // put rows read one td to the LEFT (offset −1)
    val put = rows(opts.where($"call_put" === "Put" &&
      $"expiration" === lit(d("2024-02-23")))).head
    assertDecEq(put.getAs[java.math.BigDecimal]("strike"), "100.5")
    assertDecEq(put.getAs[java.math.BigDecimal]("bid"), "3.90")
    assertDecEq(put.getAs[java.math.BigDecimal]("delta"), "-0.47")
    // number-or-false: 'N/A' rho → NULL, not an error
    assert(put.isNullAt(put.fieldIndex("rho")))
  }

  test("volatility html: positional extraction, sentinels, year attach") {
    val pages = VolatilityHtml.readDay(spark, res("vol"))
    val (good, bad) = VolatilityHtml.partitionSentinels(pages)
    assert(bad.count() == 1) // BAD.html
    val hist = VolatilityHtml.toHistory(good, day)
    val r = rows(hist).head
    assert(r.getAs[String]("act_symbol") == "AAA")
    assertDecEq(r.getAs[java.math.BigDecimal]("hv_current"), "0.2861")
    assertDecEq(r.getAs[java.math.BigDecimal]("hv_week_ago"), "0.2915")
    assertDecEq(r.getAs[java.math.BigDecimal]("hv_year_high"), "0.624")
    assert(r.getAs[java.sql.Date]("hv_year_high_date") == d("2023-03-05"))
    assertDecEq(r.getAs[java.math.BigDecimal]("hv_year_low"), "0.182")
    // 29-Feb coerced to 28-Feb, bound to prior year
    assert(r.getAs[java.sql.Date]("hv_year_low_date") == d("2023-02-28"))
    // comma-grouped percent
    assertDecEq(r.getAs[java.math.BigDecimal]("iv_current"), "12.3456")
    assert(r.getAs[java.math.BigDecimal]("iv_week_ago") == null)
    assert(r.getAs[java.math.BigDecimal]("iv_year_high") == null)
    assert(r.getAs[java.sql.Date]("iv_year_high_date") == null)
    assert(r.getAs[java.math.BigDecimal]("iv_year_low") == null)
    assert(r.getAs[java.sql.Date]("iv_year_low_date") == null)
    assert(r.getAs[java.math.BigDecimal]("hv_month_ago") == null)
  }

  test("weeklies csv: trim+remap, bad rows dropped, last-wins roster") {
    val f = WeekliesCsv.readFile(spark,
      res("weeklies/weeklyoptions.2024-01-15.csv"), day)
    // header row and bad-date row dropped; AAPL appears twice
    assert(f.count() == 4)
    assert(rows(f.where($"act_symbol" === "BRK.B")).nonEmpty)
    assert(rows(f.where($"act_symbol" === "RDS.A")).nonEmpty)
    val existing = Seq(("AAPL", "2023-12-01", "2023-12-01"), ("OLD", "2023-01-01", "2023-01-01"))
      .toDF("s", "e", "l")
      .select($"s".as("act_symbol"), to_date($"e").as("effective_date"),
        to_date($"l").as("last_seen"))
    val dedupFile = graft.operators.Upsert.lastWins(f, Seq("act_symbol"),
      Seq(col("effective_date")))
    val roster = WeekliesCsv.upsertRoster(existing, dedupFile)
    val aapl = rows(roster.where($"act_symbol" === "AAPL")).head
    // incoming wins; within the file the later effective date wins
    assert(aapl.getAs[java.sql.Date]("effective_date") == d("2024-01-13"))
    assert(aapl.getAs[java.sql.Date]("last_seen") == day)
    assert(roster.count() == 4) // AAPL, BRK.B, RDS.A, OLD (XYZ row dropped)
  }
}
