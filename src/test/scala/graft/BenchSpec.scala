package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s compact last line: bounded in length whatever the registry
  * holds, with the totals the full line carries. */
class BenchSpec extends AnyFunSuite {

  test("compact line: 199 long query names stay within 1,500 characters") {
    val results = (0 until 199).map(i => (f"q$i%03d_" + "x" * 300) -> (0.5 + i / 100.0))
    val full = "/data/" + "deep/" * 100 + "bench_full.json"
    val line = Bench.compactLine(results, 0.115, 0.12, "ab" * 20,
      "/data/sf\"0.1\\", full)
    assert(line.length <= 1500, s"${line.length} characters")
    assert(!line.contains("xxx"), "query names belong in the full line only")
    val total = results.map(_._2).sum
    val geomean = math.exp(results.map(r => math.log(r._2)).sum / results.size)
    assert(line.startsWith(s"""{"metric":"total","value":$total,"unit":"sec","""))
    assert(line.contains(s""""n":199,"""))
    assert(line.contains(s""""geomean":$geomean,"""))
    assert(line.contains(""""sf":"/data/sf\"0.1\\","""), line)
    assert(line.endsWith("""deep/bench_full.json"}"""))
  }

  test("compact line: the calibration and commit fields are the arguments") {
    val line = Bench.compactLine(Seq("q01" -> 1.0, "q02" -> 1.0), 0.1, 0.2, "c0ffee",
      "sf0.1", "bench_full.json")
    assert(line == """{"metric":"total","value":2.0,"unit":"sec","calibration":0.1,""" +
      """"calibration_end":0.2,"commit":"c0ffee","n":2,"sf":"sf0.1","geomean":1.0,""" +
      """"full":"bench_full.json"}""")
  }
}
