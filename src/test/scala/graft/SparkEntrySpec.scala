package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_ONLY` parsing shared by Bench, Verify and the scale
  * board. */
class SparkEntrySpec extends AnyFunSuite {
  private val all = SparkEntry.queries.keys.toSeq.sorted

  test("unset SPARK_GRAFT_ONLY selects every query, in name order") {
    assert(SparkEntry.selected(None).map(_._1) == all)
  }

  test("empty SPARK_GRAFT_ONLY selects every query") {
    assert(SparkEntry.selected(Some("")).map(_._1) == all)
    assert(SparkEntry.selected(Some(" , ")).map(_._1) == all)
  }

  test("a two-name list selects exactly those queries") {
    assert(SparkEntry.selected(Some("q02_global_stats, q01_pricing_summary"))
      .map(_._1) == Seq("q01_pricing_summary", "q02_global_stats"))
  }
}
