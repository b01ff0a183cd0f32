package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.select` is the one name filter of Bench, Verify, Profile and
  * Explain: a misspelled name must fail loudly instead of timing or dumping
  * nothing (Bench once printed a plausible `"value":0.000` for `q_typo`).
  */
class SparkEntrySelectSpec extends AnyFunSuite {

  test("an unknown name throws, naming it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q1_pricing_summary", "q_typo")))
    assert(e.getMessage.contains("q_typo"))
    assert(!e.getMessage.contains("q1_pricing_summary"))
  }

  test("no names selects all 223 entries, sorted by name") {
    val names = SparkEntry.select(Nil).map(_._1)
    assert(names.size == 223)
    assert(names.toSet == SparkEntry.queries.keySet)
    assert(names == names.sorted)
  }

  test("a subset selects exactly that subset") {
    val want = Seq("q6_forecast_revenue", "dd_exact", "q1_pricing_summary")
    assert(SparkEntry.select(want).map(_._1) == want.sorted)
  }
}
