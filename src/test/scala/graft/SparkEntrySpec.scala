package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The registry's contracts: the name-keyed views, the selector rule,
  * and the `oracle_sql.json` that Verify writes for `json.load` in
  * `tools/crosscheck.py`.
  */
class SparkEntrySpec extends AnyFunSuite {

  /** Parse an `oracle_sql.json` body back into (name, sql) members, in order. */
  private def parse(json: String): Seq[(String, String)] =
    new ObjectMapper().readTree(json).properties().iterator().asScala
      .map(e => e.getKey -> e.getValue.textValue()).toSeq

  test("oracle_sql.json: the whole registry parses back byte-equal") {
    val members = parse(Verify.oracleJson(SparkEntry.registry))
    assert(members.size == 279)
    assert(members.map(_._1).distinct.size == 279)
    val differ = members.zip(SparkEntry.registry).collect {
      case ((n, sql), g) if n != g.name || sql != g.oracleSql => n
    }
    assert(differ.isEmpty, s"not byte-equal after parsing: ${differ.mkString(",")}")
  }

  test("oracle_sql.json: control characters, quotes and backslashes round-trip") {
    val sql = "SELECT 'a\tb' AS \"x\",\r\n  '\u0001\\\\' AS y -- \u001f"
    val g = GateQuery("q0_synthetic", SparkEntry.queries("q01_pricing_summary"), sql)
    assert(parse(Verify.oracleJson(Seq(g))) == Seq("q0_synthetic" -> sql))
  }

  test("queries and oracleSql are views of the registry, in step") {
    assert(SparkEntry.registry.map(_.name) == SparkEntry.registry.map(_.name).sorted)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 279)
    SparkEntry.registry.foreach { g =>
      assert(SparkEntry.queries(g.name) eq g.build)
      assert(SparkEntry.oracleSql(g.name) == g.oracleSql)
    }
  }

  test("a selector names an exact short key or a full name") {
    def names(s: String) = SparkEntry.select(Some(s)).map(_.name)
    assert(names("q17") == Seq("q17_quality_score"))
    assert(names("q17_quality_score,q01") == Seq("q01_pricing_summary", "q17_quality_score"))
    assert(names("q17_quality") == Nil)
    assert(SparkEntry.select(None) == SparkEntry.registry)
  }
}
