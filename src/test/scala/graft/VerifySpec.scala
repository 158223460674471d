package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The oracle_sql.json `Verify` writes for the driver's DuckDB compare. */
class VerifySpec extends AnyFunSuite {

  private val json = new ObjectMapper()

  private def parse(s: String): Map[String, String] =
    json.readTree(s).properties.asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap

  test("oracle_sql.json drops the sf0.01-pinned oracles at other scales") {
    val atPinned = parse(Verify.oracleJson("/data/sf0.01", None))
    assert(atPinned == SparkEntry.oracleSql)
    val elsewhere = parse(Verify.oracleJson("/data/sf0.1", None))
    assert(elsewhere == SparkEntry.oracleSql -- Oracles.pinnedToSf001)
    assert(Oracles.pinnedToSf001.forall(SparkEntry.oracleSql.contains))
  }

  test("oracle_sql.json keeps only the requested subset") {
    val only = Some(Set("x04_simhash", "q02_asof_join", "no_such_query"))
    assert(parse(Verify.oracleJson("/data/sf0.01", only)).keySet ==
      Set("x04_simhash", "q02_asof_join"))
    assert(parse(Verify.oracleJson("/data/sf0.1", only)).keySet ==
      Set("q02_asof_join"))
  }

  test("control characters are escaped") {
    val raw = "a\tb\rc\u0001d\"e\\f\ng"
    val quoted = Verify.jsonString(raw)
    assert(quoted == "\"a\\tb\\rc\\u0001d\\\"e\\\\f\\ng\"")
    assert(!quoted.exists(_ < ' '))
    assert(json.readTree(quoted).asText() == raw)
  }
}
