package graft

import org.scalatest.funsuite.AnyFunSuite

/** ScaleTrend's name filter takes its dedup queries plus the `stream`
  * and `search` trends, reads an empty filter as none, and fails on an
  * unknown name by naming it instead of running nothing for it. */
class ScaleTrendSpec extends AnyFunSuite {

  test("the filter takes dedup queries and the trend names") {
    assert(ScaleTrend.filter(None).isEmpty && ScaleTrend.filter(Some("")).isEmpty)
    assert(ScaleTrend.filter(Some("q151_semantic_dedup,stream,search")) ==
      Some(Set("q151_semantic_dedup", "stream", "search")))
  }

  test("an unknown name fails and is named") {
    for ((f, bad) <- Seq("q29_lsh_near_dup,strem" -> "strem",
        "q01_pricing_summary" -> "q01_pricing_summary")) {
      val e = intercept[IllegalArgumentException](ScaleTrend.filter(Some(f)))
      assert(e.getMessage.contains(s"filter: $bad"), e.getMessage)
    }
  }
}
