package graft

import org.scalatest.funsuite.AnyFunSuite

/** `bench_queries` companion lines: every successful query exactly once,
  * slowest-first order kept, no failed (-1) entry, each part within the
  * char budget. */
class BenchPartsSpec extends AnyFunSuite {

  private val timings: Seq[(String, Double)] =
    (0 until 200).map(i => (f"q$i%03d_some_query_name", 200.0 - i)) ++
      Seq("broken_a" -> -1.0, "broken_b" -> -1.0)

  test("failed queries are absent from every part") {
    val parts = Bench.queryParts(timings)
    assert(parts.size > 1)
    assert(parts.flatten.forall(e => !e.contains("broken")))
    assert(parts.flatten.forall(e => !e.endsWith(":-1.000")))
  }

  test("each part fits the budget and the parts keep every success in order") {
    val budget = 1500
    val parts = Bench.queryParts(timings, budget)
    parts.foreach(p => assert(p.map(_.length + 1).sum <= budget))
    val expected = timings.filter(_._2 >= 0).map { case (k, v) =>
      "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.US, v)
    }
    assert(parts.flatten == expected)
  }

  test("all queries failed yields no parts") {
    assert(Bench.queryParts(Seq("x" -> -1.0)).isEmpty)
  }
}
