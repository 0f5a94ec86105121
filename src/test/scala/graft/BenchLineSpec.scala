package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver stdout contract: the ONE JSON line Bench prints last
  * must fit the driver's ~2 KB stdout-tail capture (r15–r18 all came back
  * `parsed:null` because a ~6 KB line was cut mid-line) while still
  * carrying the `queries` map shape the parser keys on. */
class BenchLineSpec extends AnyFunSuite {

  private def fakeResults(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => f"q_some_rather_long_query_name_$i%03d" -> i * 0.037)

  test("short line fits the 2 KB tail with 273 worst-case-name queries") {
    val line = Bench.shortLine(total = 275.164889767,
      results = fakeResults(273), sfDir = "/root/testdata/sf0.1", runs = 2,
      canary = 0.099123, canaryExpected = 0.15, contended = false,
      contendedQs = Nil, floorViol = Nil, healedN = 10,
      recordPath = "target/bench.json")
    assert(line.getBytes("UTF-8").length <= 1900,
      s"line is ${line.getBytes("UTF-8").length} bytes")
    assert(!line.contains("\n"))
    // parser-shape keys
    assert(line.startsWith("""{"metric":"total","value":275.165,"unit":"sec""""))
    assert(line.contains(""""n_queries":273"""))
    assert(line.contains(""""queries":{"""))
    assert(line.contains(""""sf":"/root/testdata/sf0.1""""))
    // the 30 slowest made it in (2-decimal rounding)
    assert(line.contains(""""q_some_rather_long_query_name_273":10.1"""))
    assert(line.contains(""""q_some_rather_long_query_name_244":9.03"""))
    assert(!line.contains("q_some_rather_long_query_name_001"))
  }

  test("short line shrinks itself under adversarial flag lists") {
    val line = Bench.shortLine(total = 99.9, results = fakeResults(273),
      sfDir = "/root/testdata/sf0.1", runs = 2, canary = 0.2,
      canaryExpected = 0.15, contended = true,
      contendedQs = fakeResults(40).map(_._1),
      floorViol = fakeResults(40).map(_._1), healedN = 40,
      recordPath = "target/bench.json")
    assert(line.getBytes("UTF-8").length <= 1900,
      s"line is ${line.getBytes("UTF-8").length} bytes")
    assert(line.contains(""""contended":true"""))
  }

  test("a byte budget below any line still keeps the single slowest query") {
    val line = Bench.shortLine(total = 99.9, results = fakeResults(273),
      sfDir = "/root/testdata/sf0.1", runs = 2, canary = 0.2,
      canaryExpected = 0.15, contended = false, contendedQs = Nil,
      floorViol = Nil, healedN = 0, recordPath = "target/bench.json",
      maxBytes = 100)
    assert(line.contains(""""queries":{"q_some_rather_long_query_name_273":10.1}"""),
      line)
  }

  test("failed queries (-1 sentinel) never displace real slow entries") {
    val rs = fakeResults(50) ++ Seq("q_dead" -> -1.0)
    val line = Bench.shortLine(total = 10.0, results = rs,
      sfDir = "sf", runs = 2, canary = 0.1, canaryExpected = 0.15,
      contended = false, contendedQs = Nil, floorViol = Nil, healedN = 0,
      recordPath = "t.json")
    assert(!line.contains("q_dead"))
    assert(line.contains(""""n_queries":51"""))
  }
}
