package graft.tools

import graft.SparkSpec

class DumpPlansSpec extends SparkSpec {

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

  test("renumberIds: expression ids and lambda variables renumber in " +
      "order of first appearance; equal ids stay equal") {
    val section =
      "Output [2]: [pid#7718L, sim#7721]\n" +
        "Input [3]: [pid#7718L, vec_id#11708L, code_0#96]\n" +
        "Condition : (pid#7718L <> vec_id#11708L)\n" +
        "transform(embedding#12, lambdafunction(cast(lambda x_88#1937 as " +
        "double), lambda x_88#1937, false)), zip_with(a#3, b#4, " +
        "lambdafunction((lambda x_91#1940 * lambda y_92#1941), " +
        "lambda x_91#1940, lambda y_92#1941, false))"
    assert(DumpPlans.renumberIds(section, _ => true) ==
      "Output [2]: [pid#0L, sim#1]\n" +
        "Input [3]: [pid#0L, vec_id#2L, code_0#3]\n" +
        "Condition : (pid#0L <> vec_id#2L)\n" +
        "transform(embedding#4, lambdafunction(cast(lambda x_0#5 as " +
        "double), lambda x_0#5, false)), zip_with(a#6, b#7, " +
        "lambdafunction((lambda x_1#8 * lambda y_2#9), " +
        "lambda x_1#8, lambda y_2#9, false))")
  }

  test("renumberIds: a #n that is not an expression id stays as printed, " +
      "so a literal such as 'Brand#4' comes through; subquery plan ids " +
      "renumber on their own") {
    val section =
      "PushedFilters: [IsNotNull(p_brand), EqualTo(p_brand,Brand#4)]\n" +
        "Condition : ((p_brand#384 = Brand#4) AND might_contain(Subquery " +
        "subquery#399, [id=#532], xxhash64(p_partkey#382L, 42)))\n" +
        "Output [2]: [p_partkey#382L, p_brand#384]"
    val renumbered =
      "PushedFilters: [IsNotNull(p_brand), EqualTo(p_brand,Brand#4)]\n" +
        "Condition : ((p_brand#0 = Brand#4) AND might_contain(Subquery " +
        "subquery#1, [id=#0], xxhash64(p_partkey#2L, 42)))\n" +
        "Output [2]: [p_partkey#2L, p_brand#0]"
    assert(DumpPlans.renumberIds(section, Set(382L, 384L, 399L)) == renumbered)
    // 4 is also an expression id here; the literal still stays
    assert(DumpPlans.renumberIds(section.replace("382", "4"),
      Set(4L, 384L, 399L), Seq("Brand#4")) == renumbered)
  }

  test("printed + renumberIds on q101's plan: the literal Brand#4 stays, " +
      "every expression and plan id is renumbered") {
    val qe = graft.queries.Relational.q101(spark, sf0001).queryExecution
    val (ids, literals) = DumpPlans.printed(qe.executedPlan)
    assert(literals.contains("Brand#4"))
    val text = DumpPlans.renumberIds(DumpPlans.stable(qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))),
      ids, literals)
    assert(text.contains("EqualTo(p_brand,Brand#4)"))
    assert(text.contains("= Brand#4)"))
    val nums = """(?<!Brand)#(\d+)""".r.findAllMatchIn(text)
      .map(_.group(1).toInt).toSeq
    assert(nums.nonEmpty && nums.max < nums.distinct.size, text)
  }
}
