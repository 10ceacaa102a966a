package graft

import org.scalatest.funsuite.AnyFunSuite

class MainsSpec extends AnyFunSuite {
  private val all = Map("q1_agg" -> 1, "q_tpch_q10" -> 2, "kv_v2_scan" -> 3)

  test("SPARK_GRAFT_ONLY keeps the named queries; unset keeps all") {
    assert(Mains.select(Some(" q1_agg,kv_v2_scan ,"), all) ===
      Map("q1_agg" -> 1, "kv_v2_scan" -> 3))
    assert(Mains.select(None, all) === all)
  }

  test("SPARK_GRAFT_ONLY with an unknown name fails and names it") {
    val e = intercept[IllegalArgumentException] {
      Mains.select(Some("q1_agg,q_tpch_q1,nope"), all)
    }
    assert(e.getMessage.contains("nope, q_tpch_q1"), e.getMessage)
  }
}
