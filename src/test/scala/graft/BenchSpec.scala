package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench output contract: the driver parses the LAST stdout line. */
class BenchSpec extends AnyFunSuite {

  private val json = new ObjectMapper()

  private val runs: Seq[Bench.Runs] = Seq(
    ("q_both", Some(2.0), Some(1.5)),
    ("q_second_only", None, Some(0.25)),
    ("q_failed", None, None),
    ("q_first_only", Some(3.0), None),
    ("q_cold_gap", Some(5.0), Some(1.0))) ++
    (1 to 45).map(i => (f"x$i%02d", Some(0.01 * i), Some(0.01 * i + 1)))

  private val lines = Bench.report("/data/sf0.1", runs)
  private val parsed = lines.map(json.readTree)
  private def metric(i: Int): String = parsed(i).get("metric").asText()

  test("total_tail is the last line, after the total line and the tail chunks") {
    assert(metric(lines.size - 1) == "total_tail")
    assert(metric(0) == "total")
    val middle = lines.indices.drop(1).dropRight(1).map(metric)
    assert(middle.count(_ == "per_query_tail") == 3) // 50 queries / 20
    assert(middle.last == "cold_gap_tail")
    assert(parsed(lines.size - 2).get("queries").fieldNames.asScala.toSeq ==
      Seq("q_cold_gap"))
  }

  test("total_tail sums the successful min-of-2 times and counts the errors") {
    val tail = parsed.last
    val expected = 1.5 + 0.25 + 3.0 + 1.0 + (1 to 45).map(0.01 * _).sum
    assert(math.abs(tail.get("value").asDouble() - expected) < 1e-9)
    assert(tail.get("errors").asInt() == 1)
    assert(tail.get("n_queries").asInt() == runs.size)
    assert(tail.get("sf").asText() == "/data/sf0.1")
    val total = parsed.head
    assert(total.get("value").asDouble() == tail.get("value").asDouble())
    assert(total.get("queries").get("q_failed").asText() == "err")
    assert(total.get("queries").get("q_both").asDouble() == 1.5)
    assert(total.get("queries_cold").get("q_second_only").asText() == "err")
    assert(total.get("queries_cold").get("q_both").asDouble() == 2.0)
  }

  test("per_query_tail chunks carry every query once, costliest last") {
    val chunks = parsed.filter(_.get("metric").asText() == "per_query_tail")
    val names = chunks.flatMap(_.get("queries").fieldNames.asScala)
    assert(names.sorted == runs.map(_._1).sorted)
    assert(names.head == "q_failed") // errors sort first
    assert(names.last == "q_first_only")
  }
}
