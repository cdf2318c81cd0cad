package graft

import org.scalatest.funsuite.AnyFunSuite

/** The load fields, joint calm flag and core count every gated bench
  * reading carries ([[Calm.jsonFields]]): valid JSON whatever the host
  * reports. */
class CalmSpec extends AnyFunSuite {

  private val line = Calm.threshold
  private val cpus = Runtime.getRuntime.availableProcessors
  private def parse(fields: String): Map[String, String] =
    fields.split(",").map { kv =>
      val Array(k, v) = kv.split(":")
      k.stripPrefix("\"").stripSuffix("\"") -> v
    }.toMap

  test("an unreadable load renders null and makes the flag null") {
    assert(Calm.loadJson(Double.NaN) == "null")
    val out = parse(Calm.jsonFields("a_load" -> Double.NaN,
      "b_load" -> (line + 5)))
    assert(out == Map("a_load" -> "null",
      "b_load" -> Calm.loadJson(line + 5), "calm" -> "null",
      "cpus" -> cpus.toString))
  }

  test("calm only when every window starts below the line") {
    val below = line - 0.5
    val above = line + 0.5
    assert(parse(Calm.jsonFields("a_load" -> below, "b_load" -> below)) ==
      Map("a_load" -> Calm.loadJson(below), "b_load" -> Calm.loadJson(below),
        "calm" -> "true", "cpus" -> cpus.toString))
    assert(parse(Calm.jsonFields("a_load" -> below, "b_load" -> above))(
      "calm") == "false")
    // the line itself is not calm
    assert(parse(Calm.jsonFields("a_load" -> line))("calm") == "false")
  }

  test("loads print with two decimals in a locale-free format, in the " +
    "order given") {
    assert(Calm.loadJson(1.0 / 3) == "0.33")
    assert(Calm.jsonFields("pinned_load" -> 1.5, "foldin_load" -> 0.25) ==
      s""""pinned_load":1.50,"foldin_load":0.25,"calm":${0.25 < line &&
        1.5 < line},"cpus":$cpus""")
  }
}
