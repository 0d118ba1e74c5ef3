package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class DumpPlansSpec extends AnyFunSuite {

  test("stable: run-specific tokens become placeholders; expression ids " +
      "and other @ text stay") {
    val plan =
      "Arguments: graft.functions.GramMatrix@463e0b6a, " +
        "graft.functions.GeoMean$@68df83fc\n" +
        "Input [2]: [graft.multimodal.Multimodal$$$Lambda$7020/" +
        "0x00007f589d88fb50@5b669fbe, vec#123]\n" +
        "Location: InMemoryFileIndex [file:/tmp/graft-scratch6528811380209770428/pq-index-1]\n" +
        "Arguments: hashpartitioning(p#5, 4), ENSURE_REQUIREMENTS, [plan_id=10014]\n" +
        "Arguments: [pid#7L], MapPartitionsRDD[3346] at createDataFrame\n" +
        "Condition : rlike(text#17750, [a-z0-9]+@[a-z0-9]+\\.[a-z]+), @example.com"
    assert(DumpPlans.stable(plan) ==
      "Arguments: graft.functions.GramMatrix@<hash>, " +
        "graft.functions.GeoMean$@<hash>\n" +
        "Input [2]: [graft.multimodal.Multimodal$$$Lambda@<hash>, vec#123]\n" +
        "Location: InMemoryFileIndex [file:/tmp/graft-scratch<n>/pq-index-1]\n" +
        "Arguments: hashpartitioning(p#5, 4), ENSURE_REQUIREMENTS, [plan_id=<n>]\n" +
        "Arguments: [pid#7L], MapPartitionsRDD[<n>] at createDataFrame\n" +
        "Condition : rlike(text#17750, [a-z0-9]+@[a-z0-9]+\\.[a-z]+), @example.com")
  }
}
