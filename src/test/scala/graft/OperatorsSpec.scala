package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOf, NearestSelect, Upsert}

/** As-of join (J2), nearest-select argmin (A3/A4), upsert dedup (A5/S10)
  * — including the reference's edge cases: no row before the cutoff,
  * deterministic tie-breaks, idempotence (`load ∘ load = load`). */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("as-of: latest row ≤ cutoff per key; keys with no prior row drop") {
    val prices = Seq(
      ("A", "2024-01-10", 10.0), ("A", "2024-01-12", 12.0),
      ("A", "2024-01-20", 20.0), // after cutoff
      ("B", "2024-02-01", 99.0)  // entirely after cutoff
    ).toDF("k", "ds", "v").withColumn("t", to_date($"ds"))
    val got = AsOf.latestPerKeyUpTo(prices, Seq("k"), col("t"),
      lit(d("2024-01-15")), Seq(col("v")))
    val r = rows(got.select("k", "ds", "v").orderBy("k"))
    assert(r.length == 1)
    assert(r(0).getString(0) == "A" && r(0).getString(1) == "2024-01-12")
  }

  test("as-of join attaches latest right ≤ left time per row") {
    val left = Seq(("A", "2024-01-15"), ("A", "2024-01-11"), ("C", "2024-01-15"))
      .toDF("k", "ls").withColumn("lt", to_date($"ls"))
    val right = Seq(("A", "2024-01-10", 1.0), ("A", "2024-01-12", 2.0))
      .toDF("k", "rs", "v").withColumn("rt", to_date($"rs"))
    val got = AsOf.asOfJoin(left, right, Seq("k"), col("lt"), col("asof_rt"))
    val r = rows(got.select($"k", $"ls", $"asof_v").orderBy("k", "ls"))
    assert(r(0).getString(1) == "2024-01-11" && r(0).getDouble(2) == 1.0)
    assert(r(1).getString(1) == "2024-01-15" && r(1).getDouble(2) == 2.0)
    assert(r(2).getString(0) == "C" && r(2).isNullAt(2)) // no match → null
  }

  test("nearest: argmin with deterministic first-wins tie-break") {
    // two candidates at equal distance from 10 → smaller tie-break wins
    val cand = Seq(("g", 8.0, 1L), ("g", 12.0, 2L), ("g", 30.0, 3L))
      .toDF("grp", "x", "id")
    val targets = Seq(10.0).toDF("target")
    val got = NearestSelect.nearest(cand, Seq("grp"), targets,
      abs(col("x") - col("target")), Seq(col("id")))
    val r = rows(got.select("id"))
    assert(r.map(_.getLong(0)) == Seq(1L))
  }

  test("nearestValueAll keeps every row at the winning value") {
    val cand = Seq(("g", 8.0, "call"), ("g", 8.0, "put"), ("g", 30.0, "x"))
      .toDF("grp", "x", "side")
    val targets = Seq(10.0).toDF("target")
    val got = NearestSelect.nearestValueAll(cand, Seq("grp"), targets,
      abs(col("x") - col("target")), col("x"))
    assert(rows(got.select("side")).map(_.getString(0)).sorted ==
      Seq("call", "put"))
  }

  test("keepFirst/lastWins: precedence and idempotence") {
    val df = Seq((1, "a", 1), (1, "b", 2), (2, "c", 1)).toDF("pk", "v", "seq")
    val first = Upsert.keepFirst(df, Seq("pk"), Seq(col("seq")))
    assert(rows(first.orderBy("pk").select("v")).map(_.getString(0)) ==
      Seq("a", "c"))
    val last = Upsert.lastWins(df, Seq("pk"), Seq(col("seq")))
    assert(rows(last.orderBy("pk").select("v")).map(_.getString(0)) ==
      Seq("b", "c"))
    // idempotence: applying keepFirst twice = once
    val twice = Upsert.keepFirst(first, Seq("pk"), Seq(col("seq")))
    assert(rows(twice.orderBy("pk", "v")).toString ==
      rows(first.orderBy("pk", "v")).toString)
  }

  test("upsert: DO NOTHING keeps existing, DO UPDATE takes incoming") {
    val existing = Seq((1, "old"), (2, "keep")).toDF("pk", "v")
    val incoming = Seq((1, "new"), (3, "ins")).toDF("pk", "v")
    val nothing = Upsert.upsert(existing, incoming, Seq("pk"),
      preferExisting = true)
    assert(rows(nothing.orderBy("pk").select("v")).map(_.getString(0)) ==
      Seq("old", "keep", "ins"))
    val update = Upsert.upsert(existing, incoming, Seq("pk"),
      preferExisting = false)
    assert(rows(update.orderBy("pk").select("v")).map(_.getString(0)) ==
      Seq("new", "keep", "ins"))

    // property: equals the union + keepFirst form on generated tables.
    // The preferred side is PK-unique; the other side repeats keys, and
    // both have null PK parts (nulls compare equal, as in the window).
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    type Key = (Option[Int], Option[String])
    val keyGen: Gen[Key] = for {
      a <- Gen.frequency(1 -> Gen.const(None), 4 -> Gen.choose(0, 3).map(Some(_)))
      b <- Gen.frequency(1 -> Gen.const(None), 3 -> Gen.oneOf("a", "b").map(Some(_)))
    } yield (a, b)
    // per case: the preferred side's keys, the other side's keys
    val caseGen = for {
      kept <- Gen.listOf(keyGen).map(_.distinct)
      other <- Gen.listOf(keyGen)
    } yield (kept, other)
    val pk = Seq("c", "k1", "k2")
    def table(keys: Seq[(Int, Key)], tag: String) = keys.zipWithIndex
      .map { case ((c, (a, b)), i) => (c, a, b, s"$tag$i") }
      .toDF("c", "k1", "k2", "v")
    def byKey(df: org.apache.spark.sql.DataFrame) = rows(df)
      .groupBy(r => Seq(r.get(0), r.get(1), r.get(2)))
    val prop = Prop.forAllNoShrink(Gen.listOfN(20, caseGen)) { cases =>
      val kept = table(cases.zipWithIndex.flatMap { case ((k, _), c) => k.map(c -> _) }, "k")
      val other = table(cases.zipWithIndex.flatMap { case ((_, o), c) => o.map(c -> _) }, "o")
      val keptRows = byKey(kept)
      val otherRows = byKey(other)
      Prop.all(Seq(true, false).map { preferExisting =>
        val (e, i) = if (preferExisting) (kept, other) else (other, kept)
        val got = byKey(Upsert.upsert(e, i, pk, preferExisting))
        val spec = byKey(ReferenceForms.upsert(e, i, pk, preferExisting))
        val bad = got.collect { case (k, rs) if rs.size != 1 ||
            !keptRows.get(k).fold(otherRows(k).contains(rs.head))(_ == rs) => k }
        Prop(bad.isEmpty && got.keySet == spec.keySet) :|
          s"preferExisting=$preferExisting: bad keys ${bad.take(3)}, " +
          s"key sets differ by ${(got.keySet diff spec.keySet) ++ (spec.keySet diff got.keySet)}"
      }: _*)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(3)
      .withInitialSeed(Seed(17L)).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("snapshot diff: classification and apply round-trip") {
    import graft.operators.Diff
    val old = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
      .toDF("pk", "x", "y")
    val nw = Seq((2L, 20.0, "b"), (3L, 31.0, "c"), (4L, 40.0, "d"))
      .toDF("pk", "x", "y")
    val diff = Diff.snapshotDiff(old, nw, Seq("pk"))
    val byPk = rows(diff).map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byPk == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    // unchanged key 2 emits nothing; the diff replays old → new exactly
    val replayed = Diff.applyDiff(old, diff, Seq("pk"))
    assert(rows(replayed.orderBy("pk")).map(_.toString) ==
      rows(nw.orderBy("pk")).map(_.toString))
    // diff of identical snapshots is empty (idempotence fixpoint)
    assert(rows(Diff.snapshotDiff(nw, nw, Seq("pk"))).isEmpty)
  }

  test("range join: equals the naive non-equi join, plans WITHOUT a " +
      "nested loop, handles negatives and bin edges") {
    import graft.operators.RangeJoin
    // points at bin edges, inside, outside, negative domain
    val points = Seq(-7L, -5L, -1L, 0L, 3L, 4L, 5L, 9L, 10L, 23L)
      .map(Tuple1(_)).toDF("p")
    val iv = Seq((1L, -6L, -2L), (2L, 0L, 4L), (3L, 4L, 9L),
      (4L, 20L, 21L)).toDF("ivid", "lo", "hi")
    for (bin <- Seq(1L, 3L, 4L, 100L)) {
      val got = RangeJoin.pointInInterval(points, col("p"), iv,
        col("lo"), col("hi"), bin)
      val naive = points.join(iv, col("p") >= col("lo") &&
        col("p") <= col("hi"))
      assert(rows(got.orderBy("ivid", "p")).map(_.toString) ==
        rows(naive.orderBy("ivid", "p")).map(_.toString),
        s"bin=$bin mismatch")
    }
    // the point of the operator: the physical plan is an equi-join on
    // the bin id, never BroadcastNestedLoopJoin
    val plan = RangeJoin.pointInInterval(points, col("p"), iv,
      col("lo"), col("hi"), 4L).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    val naivePlan = points.join(iv, col("p") >= col("lo") &&
      col("p") <= col("hi")).queryExecution.executedPlan.toString
    assert(naivePlan.contains("BroadcastNestedLoop"),
      "baseline should be the nested-loop plan this operator avoids")
  }

  test("interval overlap: bin ownership emits each pair exactly once " +
      "across bin sizes, long intervals and negatives included") {
    import graft.operators.RangeJoin
    val a = Seq((1L, -10L, 30L), (2L, 0L, 2L), (3L, 5L, 6L),
      (4L, 100L, 101L)).toDF("aid", "as_", "ae")
    val b = Seq((10L, -4L, -1L), (11L, 2L, 9L), (12L, 28L, 40L),
      (13L, 50L, 60L)).toDF("bid", "bs", "be")
    for (bin <- Seq(1L, 4L, 7L, 1000L)) {
      val got = RangeJoin.intervalOverlap(a, col("as_"), col("ae"),
        b, col("bs"), col("be"), bin)
      val naive = a.join(b, col("as_") <= col("be") &&
        col("bs") <= col("ae"))
      assert(rows(got.orderBy("aid", "bid")).map(_.toString) ==
        rows(naive.orderBy("aid", "bid")).map(_.toString),
        s"bin=$bin mismatch")
    }
    // interval 1 spans many bins and overlaps b=11 across several of
    // them at bin=4 — still exactly one output row for the pair
    val one = RangeJoin.intervalOverlap(a, col("as_"), col("ae"),
      b, col("bs"), col("be"), 4L)
      .where(col("aid") === 1L && col("bid") === 11L)
    assert(one.count() == 1L)
  }
}
