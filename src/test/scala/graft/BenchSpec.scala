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

  test("a throwing query is listed as failed, in both lines, and not counted") {
    var runs = 0
    val (results, failed) = Bench.sweep(Seq(
      "q01_ok" -> (() => ()),
      "q02_boom" -> (() => { runs += 1; throw new IllegalStateException("boom") }),
      "q03_ok" -> (() => ())))
    assert(results.map(_._1) == Seq("q01_ok", "q03_ok"))
    assert(failed == Seq("q02_boom"))
    assert(runs == 1, "a failed query is not run again")
    val compact = Bench.compactLine(results, 0.1, 0.2, "c0ffee", "sf0.1", "f.json", failed)
    val total = results.map(_._2).sum
    assert(compact.startsWith(s"""{"metric":"total","value":$total,"""))
    assert(compact.contains(""""n":2,"""))
    assert(compact.endsWith(""","failed_n":1,"failed":["q02_boom"]}"""), compact)
    val full = Bench.fullLine(results, 0.1, 0.2, "c0ffee", "sf0.1", failed)
    assert(full.contains(s""""value":$total,"""))
    assert(full.contains(""""failed":["q02_boom"]"""), full)
    assert(!full.contains(""""q02_boom":"""), "a failed query has no time")
  }

  test("compact line: 199 failed long query names stay within 1,500 characters") {
    val failed = (0 until 199).map(i => f"q$i%03d_" + "x" * 300)
    val line = Bench.compactLine(Seq("q999" -> 1.0), 0.115, 0.12, "ab" * 20,
      "/data/" + "sf/" * 100, "/data/" + "deep/" * 100 + "bench_full.json", failed)
    assert(line.length <= 1500, s"${line.length} characters")
    assert(line.contains(""""n":1,"""))
    assert(line.contains(""""failed_n":199,"failed":["..."""), line)
    assert(line.endsWith("]}"))
  }
}
