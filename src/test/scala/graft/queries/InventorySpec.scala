package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

class InventorySpec extends AnyFunSuite {

  test("every query has exactly one Spark plan and one non-blank oracle: 152 names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 152)
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, blank.mkString(", "))
  }

  test("the registry refuses a name held twice, naming it") {
    val sql = "SELECT 1 AS x"
    def q(name: String) = Query(name, (s, _) => s.sql(sql), sql)
    val e = intercept[IllegalArgumentException](
      SparkEntry.byName(Seq(q("a_one"), q("b_twice"), q("c_three"), q("b_twice"))))
    assert(e.getMessage.contains("b_twice"), e.getMessage)
    assert(!e.getMessage.contains("a_one"), e.getMessage)
    assert(SparkEntry.byName(Seq(q("a_one"), q("b_twice"))).keySet == Set("a_one", "b_twice"))
  }
}
