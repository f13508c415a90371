package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** Bench's result lines: a failed query (read as -1) is counted, never
  * summed into the headline, and the stdout line stays inside its budget. */
class BenchSpec extends AnyFunSuite {
  private val results = Seq("q_a" -> 1.5, "q_b" -> -1.0, "q_c" -> 2.0)

  test("total sums only successful readings and counts the failures") {
    assert(Bench.total(results) === ((3.5, 1)))
    assert(Bench.total(Seq("q_a" -> 0.25)) === ((0.25, 0)))
    assert(Bench.total(Seq.empty) === ((0.0, 0)))
  }

  test("both result lines carry the successful-only total and the failed count") {
    val (full, line) = Bench.render(results, Seq("q_c" -> 7L), runs = 2,
      load = (0.5, 1.25), sfDir = "/data/sf")
    for (json <- Seq(parse(full), parse(line))) {
      assert((json \ "metric") === JString("total"))
      assert((json \ "value") === JDouble(3.5))
      assert((json \ "failed") === JInt(1))
      assert((json \ "runs") === JInt(2))
      assert((json \ "sf") === JString("/data/sf"))
    }
    val f = parse(full)
    assert((f \ "queries" \ "q_b") === JDouble(-1.0))
    assert((f \ "rows" \ "q_c") === JInt(7))
    assert((f \ "env" \ "load_start") === JDouble(0.5))
    assert((parse(line) \ "omitted") === JInt(0))
  }

  test("the stdout line stays within its budget, most expensive queries kept") {
    // equal-width names and readings: every entry costs the same, so the
    // kept set is exactly the top of the cost order
    val many = (1 to 300).map(i => f"q_some_long_query_name_$i%03d" -> (100.0 + i))
    val (full, line) = Bench.render(many, Seq.empty, runs = 2,
      load = (0.0, 0.0), sfDir = "/data/sf")
    assert(line.length <= 1700, s"stdout line is ${line.length} chars")
    val kept = (parse(line) \ "queries").asInstanceOf[JObject].obj.map(_._1)
    assert(kept.nonEmpty)
    assert((parse(line) \ "omitted") === JInt(300 - kept.size))
    // the kept entries are the costliest ones
    assert(kept.toSet === many.sortBy(-_._2).take(kept.size).map(_._1).toSet)
    assert((parse(full) \ "queries").asInstanceOf[JObject].obj.size === 300)
  }
}
