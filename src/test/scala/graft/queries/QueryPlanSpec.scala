package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

import graft.SparkSpec

/** Physical-plan shape assertions (SURVEY.md §4 / the 100 TB posture):
  * filters reach the parquet scan, scans prune columns, dimension joins
  * broadcast, top-k plans as TakeOrdered / WindowGroupLimit, ingest is
  * shuffle-free. These guard the *plan*, not the output — a correctness-
  * preserving change that regresses the plan fails here. */
class QueryPlanSpec extends SparkSpec {

  private def finalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p: SparkPlan             => p
    }

  private def planString(df: DataFrame): String =
    // formatted mode prints PushedFilters/ReadSchema untruncated
    finalPlan(df).toString + "\n" + df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q01: shipdate filter pushes down to parquet scan; columns pruned") {
    val p = planString(Relational.q01(spark, sf0001))
    assert(p.contains("LessThanOrEqual(l_shipdate"), s"missing pushdown:\n$p")
    // scan must not read the unused l_partkey/l_suppkey columns
    assert(!p.split("ReadSchema")(1).split("\n")(0).contains("l_partkey"),
      s"column pruning failed:\n$p")
  }

  test("q02: all four predicates push to the scan") {
    val p = planString(Relational.q02(spark, sf0001))
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity", "In(l_returnflag"))
      assert(p.contains(f), s"predicate $f not pushed:\n$p")
  }

  test("q03: all three dimension joins are broadcast — fact side never shuffles") {
    val p = planString(Relational.q03(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, s"expected 3 BHJ:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ in star join:\n$p")
  }

  test("q04: fact-to-fact join is sort-merge on the shuffle key") {
    val p = planString(Relational.q04(spark, sf0001))
    assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
  }

  test("q18: rn<=3 plans as WindowGroupLimit (per-group top-k pushdown)") {
    val p = planString(Relational.q18(spark, sf0001))
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("q21: order+limit plans as TakeOrderedAndProject, not global sort") {
    val p = planString(Relational.q21(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  test("q34: probe side is broadcast (nested-loop over broadcast probes)") {
    val p = planString(LlmOps.q34(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected BNLJ:\n$p")
  }

  test("q58: the calendar spine and grid stay broadcast — the fact side never shuffles for the join") {
    val p = planString(Analytics.q58(spark, sf0001))
    // spine (30 rows) joins the user set via broadcast nested-loop; the
    // daily aggregate joins the grid via broadcast hash — no SMJ anywhere
    assert(p.contains("BroadcastNestedLoopJoin"), s"spine not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ in gap-fill:\n$p")
  }

  test("q62: DF is a term window over the TF relation (no df join, one " +
      "TF subtree); corpus size broadcasts; top-3 plans as WindowGroupLimit") {
    val p = planString(LlmOps.q62(spark, sf0001))
    // r20: the df-arm join re-executed the whole explode+TF subtree and
    // shuffled both sides by term; df is now a count window over TF —
    // exactly one hash/sort/object aggregate pair chain, no equi-join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"df must not be an equi-join over a second TF subtree:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"corpus size must enter as the 1-row cross broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("q35: self-join sides share one exchange (ReusedExchange, no double pipeline)") {
    // the shingle pipeline (scan → explode → distinct → df/nsh windows) is
    // the expensive subtree; both self-join sides must replay ONE shuffle
    // of it, not compute it twice — at 100 TB this halves the dominant cost.
    // Asserted on the plan builder: q35 itself now reads the memoized
    // scratch materialization, which hides the subtree it was built from
    val df = LlmOps.jaccardPairsPlan(spark, sf0001)
    df.collect() // finalize AQE stages
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"self-join does not reuse the shingle exchange:\n$p")
  }

  test("q65: benchmark grams broadcast; corpus side never sort-merge joins") {
    val p = planString(LlmOps.q65(spark, sf0001))
    // the contamination gate must be a broadcast semi-join — a shuffled
    // join here would move the whole corpus n-gram stream at 100 TB
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"bench-gram gate is not a broadcast semi-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side shuffled for the gate:\n$p")
  }

  test("q70: corpus stats broadcast into the scoring join") {
    val p = planString(LlmOps.q70(spark, sf0001))
    // df (per query term) and the one-row avgdl must both broadcast; the
    // posting stream shuffles only by doc for the final score sum
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1 &&
      p.contains("BroadcastNestedLoopJoin"),
      s"BM25 stats not broadcast:\n$p")
  }

  test("curation plans: policy/mixture sides broadcast; span dedup never goes pairwise") {
    // q78: a domain blocklist must gate as a broadcast ANTI join — a
    // shuffled join would move the whole corpus for a policy lookup
    val p78 = planString(Curation.q78(spark, sf0001))
    assert(p78.contains("BroadcastHashJoin") && p78.contains("LeftAnti"),
      s"blocklist gate is not a broadcast anti-join:\n$p78")
    // q82: targets and the grand total are |langs|-row sides — broadcast
    val p82 = planString(Curation.q82(spark, sf0001))
    assert(p82.contains("BroadcastHashJoin") &&
      !p82.contains("CartesianProduct"), s"mixture sides not broadcast:\n$p82")
    // q76: first-occurrence is a min-struct AGGREGATION + equi-join
    // (commit 8b56516) — a viral span collapses map-side via partial_min
    // and the join is AQE-skew-splittable, whereas a window over the span
    // key would put the hot key on one unsplittable sort task. Guard the
    // agg shape and that no window/cartesian/nested-loop crept back in.
    val p76 = planString(Curation.q76(spark, sf0001))
    assert(p76.contains("partial_min(struct("),
      s"span dedup lost its map-side partial min-struct agg:\n$p76")
    assert(!p76.contains("Window") && !p76.contains("CartesianProduct") &&
      !p76.contains("BroadcastNestedLoopJoin"),
      s"span dedup regressed to a window/pairwise shape:\n$p76")
    // q86: rank<=3 per source must push into the shuffle as a group limit
    val p86 = planString(Curation.q86(spark, sf0001))
    assert(p86.contains("WindowGroupLimit"),
      s"per-source top-k does not plan as WindowGroupLimit:\n$p86")
    // q81: the curriculum rank must NOT plan as an unpartitioned window
    // (Exchange SinglePartition = whole corpus on one task); GlobalOrder
    // ranks range-partitions in parallel
    val p81 = planString(Curation.q81(spark, sf0001))
    assert(!p81.contains("SinglePartition"),
      s"curriculum rank collapsed to a single partition:\n$p81")
    // q54: the vocab dense-id rank must NOT plan as an unpartitioned
    // window either (r13 verdict wrong #1) — the vocab ranks through
    // GlobalOrder and the query reads the landed relation
    val p54 = planString(LlmOps.q54(spark, sf0001))
    assert(!p54.contains("SinglePartition"),
      s"q54 vocab rank collapsed to a single partition:\n$p54")
  }

  test("q61 CC rounds read materialized labels + scratch pairs, never the shingle pipeline") {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import graft.operators.{ConnectedComponents, Scratch}
    import spark.implicits._
    // two components: {1,2,3} (diameter 2) and {10,11}
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Scratch.materialize(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db"), "plantest")
    var rounds = 0
    var planSizes = List.empty[Int]
    // localMaxEdges = -1 pins the distributed loop — this test guards the
    // large-graph regime's plan shape, which the size dispatch would skip
    val labels = ConnectedComponents.minLabelPropagation(pairs, localMaxEdges = -1, onRound = { next =>
      rounds += 1
      val lp = next.queryExecution.optimizedPlan
      assert(lp.collect { case g: Generate => g }.isEmpty,
        s"round $rounds re-derives a generator pipeline:\n$lp")
      // the previous round arrives as a flat scratch-parquet scan — the
      // lineage cut; a cache-based loop keeps the full logical plan and
      // grows it ~4× per round (>14 min of plan stringification by round
      // ~10, measured), so constant round-plan size IS the guarantee
      planSizes ::= lp.collectLeaves().size + lp.collect { case n => n }.size
    })
    assert(rounds >= 2, "expected at least two propagation rounds")
    assert(planSizes.distinct.size == 1,
      s"round plan size must stay constant (lineage cut per round): $planSizes")
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // delta vs suite start: other suites may hold test-scoped caches in
    // the shared session — CC itself must add none
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"CC left persisted state behind: $leaked")
  }

  test("connected components: empty edge set converges to empty labels") {
    import graft.operators.{ConnectedComponents, Scratch}
    import spark.implicits._
    val empty = Scratch.materialize(
      Seq.empty[(Long, Long)].toDF("da", "db"), "cc-empty")
    val labels = ConnectedComponents.minLabelPropagation(empty)
    assert(labels.collect().isEmpty)
  }

  test("q89: both retrieval arms are distributed partial top-k, never a corpus window") {
    val p = planString(LlmOps.q89(spark, sf0001))
    // each system's top-100 (and the final top-20) must plan as
    // TakeOrderedAndProject; the only Window nodes allowed are the rank
    // assignments OVER the ≤100-row top lists (post-TakeOrdered)
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 3,
      s"expected 3 TakeOrderedAndProject (lex top, dense top, final):\n$p")
  }

  test("q92: the increment side broadcasts; best-match is a group limit") {
    // the registered query reads the memoized verdict parquet — the plan
    // under guard is the BUILD's, surfaced via the planProbe hook (drop
    // ONLY q92's memo so the build runs without forcing every other
    // memoized relation for the dataset to rebuild after this test)
    LlmOps.invalidateQ92Memo(sf0001)
    var probed = false
    LlmOps.q92VerdictPath(spark, sf0001, planProbe = (cand, verdict) => {
      probed = true
      val pc = planString(cand)
      // block join: tiny increment shingles build-side, corpus streamed —
      // and NO corpus-wide window computing per-doc counts up front
      assert(pc.contains("BroadcastHashJoin"), s"block join not broadcast:\n$pc")
      assert(!pc.contains("CartesianProduct"), s"pairwise blowup:\n$pc")
      // the increment-side n_new window (partitioned by new_id) is fine;
      // a doc_id-partitioned window would be the corpus-wide count trap
      assert(!pc.contains("windowspecdefinition(doc_id"),
        s"corpus-wide per-doc count window in build:\n$pc")
      // rn==1 best-match must push as WindowGroupLimit, not window+filter
      val pv = planString(verdict)
      assert(pv.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$pv")
    })
    assert(probed, "planProbe never fired — memo was not invalidated")
  }

  test("q93: centroids broadcast; the corpus never shuffles for scoring") {
    val p = planString(LlmOps.q93(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"centroid join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for scoring join:\n$p")
  }

  test("q107: pair expansion is map-side — no positions self-join; unigram sides broadcast") {
    val p = planString(LlmOps.q107(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"unigram joins not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"co-occurrence must not self-join token positions:\n$p")
  }

  test("q108: chunking is map-side — exactly one aggregation exchange, no window/join") {
    val p = planString(LlmOps.q108(spark, sf0001))
    assert(!p.contains("Window") && !p.contains("Join"),
      s"CDC chunking must not window or join token positions:\n$p")
    // two hash exchanges is the count-distinct expansion — partial agg
    // keyed (chunk_hash, doc_id), final keyed chunk_hash — BOTH carry
    // only chunk-level rows, never token positions; anything more means
    // the map-side chunking leaked a corpus-scale shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"expected at most the two dedup-aggregation exchanges, got $exchanges:\n$p")
    assert(p.contains("hashpartitioning(chunk_hash"),
      s"dedup aggregation must shuffle on chunk_hash:\n$p")
  }

  test("q109: vocab size broadcasts; no cartesian beyond the 1-row cross") {
    val p = planString(LlmOps.q109(spark, sf0001))
    // the 1-row vocab-count cross MUST plan as a broadcast nested loop
    // specifically — a BroadcastHashJoin elsewhere in the plan must not
    // mask its regression to a non-broadcast cartesian
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"vocab-size cross join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"non-broadcast cartesian in the scoring join:\n$p")
  }

  test("q110: serving scans the landed index — probes broadcast, no distance exprs") {
    val p = planString(LlmOps.q110(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"probe relation not broadcast:\n$p")
    // all SquaredDistance work happens in the one-time index build; the
    // serving plan is codes-scan + table lookups + per-probe top-k
    assert(!p.toLowerCase.contains("squareddistance"),
      s"distance expressions leaked into the serving plan:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-probe top-3 must plan as a group limit:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"cell join must not sort-merge (probes are broadcast-sized):\n$p")
  }

  test("ANN/IVF probe-set family: probes broadcast into the cell or " +
      "signature join, no cartesian, every per-probe top-k a group limit") {
    val family = Seq[(String, (SparkSession, String) => DataFrame)](
      "q34c" -> LlmOps.q34c, "q34d" -> LlmOps.q34d, "q149" -> LlmOps.q149,
      "q160" -> LlmOps.q160, "q167" -> LlmOps.q167, "q176" -> LlmOps.q176,
      "q181" -> LlmOps.q181)
    // the recall reports (q167/q176/q181) join their arms to the exact
    // top-3 on (pid, id) by sort-merge; only the serves are SMJ-free
    val reports = Set("q167", "q176", "q181")
    val blockKey = "(cell|sig)#\\d+L?"
    for ((name, q) <- family) {
      val df = q(spark, sf0001)
      val p = planString(df)
      assert(s"BroadcastHashJoin \\[$blockKey\\], \\[$blockKey\\], Inner, BuildRight"
        .r.findFirstIn(p).isDefined,
        s"$name: probes must broadcast into the candidate join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: no cartesian:\n$p")
      if (reports(name))
        assert(s"SortMergeJoin \\[$blockKey".r.findFirstIn(p).isEmpty,
          s"$name: the candidate join must not sort-merge:\n$p")
      else
        assert(!p.contains("SortMergeJoin"), s"$name: no sort-merge join:\n$p")
      val windows = finalPlan(df).collect { case w: WindowExec => w }
      assert(windows.nonEmpty && windows.forall(
          _.child.isInstanceOf[WindowGroupLimitExec]),
        s"$name: every per-probe top-k must plan as a WindowGroupLimit:\n$p")
    }
  }

  test("q111: span corruption is pure map-side — no join, window, or aggregation") {
    val p = planString(Curation.q111(spark, sf0001))
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("HashAggregate"),
      s"span corruption must be a map-only transform:\n$p")
  }

  test("q101: bloom probe filters the fact side BELOW its shuffle (runtime-filter shape)") {
    val p = planString(Relational.q101(spark, sf0001))
    assert(p.contains("might_contain"), s"bloom probe missing:\n$p")
    assert(p.contains("SortMergeJoin"), s"expected SMJ fact join:\n$p")
    // the probe must sit in the lineitem scan stage, i.e. the formatted
    // plan's Filter step whose Condition carries might_contain must come
    // before (= plan-below) the fact-side Exchange: assert the subtree
    // order Scan lineitem → Filter(might_contain) → Exchange
    val fmt = p.substring(p.indexOf("== Physical Plan =="))
    val scanIdx = fmt.indexOf("lineitem.parquet")
    val probeIdx = fmt.indexOf("might_contain", scanIdx)
    val exchIdx = fmt.indexOf("hashpartitioning(l_partkey", scanIdx)
    assert(scanIdx >= 0 && probeIdx >= 0 && exchIdx >= 0,
      s"missing scan/probe/exchange markers:\n$fmt")
    assert(probeIdx < exchIdx,
      s"bloom probe is ABOVE the fact shuffle — reduction lost:\n$fmt")
  }

  test("q112: line stream is map-side; the df-gate joins back with no cartesian/window") {
    val p = planString(Curation.q112(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"cartesian in line dedup:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
    // two Generate sides only (line stream + df build), never more
    assert(p.contains("Generate"), s"expected posexplode line stream:\n$p")
  }

  test("q113: scoring re-scans the scratch features — no corpus explode in the query plan") {
    val p = planString(Curation.q113(spark, sf0001))
    // the (doc,bucket) relation is scratch-materialized at build; the
    // query plan itself must carry no Generate and no documents scan
    assert(!p.contains("Generate"), s"corpus explode leaked into q113 plan:\n$p")
    assert(!p.contains("documents.parquet"),
      s"q113 replans the corpus instead of the scratch features:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"threshold must be distributed top-k:\n$p")
  }

  test("q114: phrase argmax is distributed top-k; adjacency is pure equi-join") {
    val p = planString(LlmOps.q114(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-1 trigram:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in phrase join:\n$p")
    // pos-shift makes adjacency equi-joinable: no nested-loop anywhere
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NL join in phrase match:\n$p")
  }

  test("q115: canonicalization is map-side string work — no explode, window, or cartesian") {
    val p = planString(Curation.q115(spark, sf0001))
    assert(!p.contains("Generate") && !p.contains("Window") &&
      !p.contains("CartesianProduct"), s"q115 plan regressed:\n$p")
  }

  test("q116: island-merge windows are per-doc partitioned; no cartesian") {
    val p = planString(Curation.q116(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"cartesian in span merge:\n$p")
    assert(p.contains("Window"), s"expected per-doc merge windows:\n$p")
    // the merge windows must carry a partition key (a keyless window is a
    // single unsplittable task at scale)
    assert(p.contains("windowspecdefinition(doc_id"),
      s"window lost its doc partition key:\n$p")
  }

  test("q117: serving reads the landed HITS scores — no graph replay in the query plan") {
    val p = planString(Analytics.q117(spark, sf0001))
    // checkpointed regime: the iteration landed to scratch at build; the
    // registered query's own plan must not re-derive the trade graph
    assert(!p.contains("lineitem.parquet"),
      s"q117 replays the edge derivation instead of the landed scores:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"unexpected non-equi join serving landed scores:\n$p")
  }

  test("q118: the per-prefix top-3 plans as WindowGroupLimit") {
    val p = planString(LlmOps.q118(spark, sf0001))
    assert(p.contains("WindowGroupLimit"),
      s"per-prefix rank limit must push into the shuffle:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q119: the report replans over the landed top-5 relation — no corpus rescoring") {
    val p = planString(LlmOps.q119(spark, sf0001))
    // the scoring pass (one candidate stream, width explode BEFORE the
    // cosine) landed to scratch at build; the four report consumers must
    // re-read the tiny ranked relation, never the embeddings
    assert(!p.contains("embeddings.parquet"),
      s"q119 rescores the corpus instead of the landed ranks:\n$p")
    assert(!p.contains("cosine_similarity"),
      s"distance exprs leaked into the report plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("q121: serving joins the landed token and rank relations — no corpus replay") {
    val p = planString(Curation.q121(spark, sf0001))
    assert(!p.contains("documents.parquet"),
      s"q121 replays the corpus instead of the landed SA:\n$p")
    assert(!p.contains("Generate"), s"unexpected explode at serve time:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q125: NB model joins broadcast — no sort-merge join in train or score") {
    val p = planString(Modeling.q125(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"model must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vocab-bounded model relations must never SMJ:\n$p")
  }

  test("q128: weighted sample plans as TakeOrderedAndProject, not global sort") {
    val p = planString(Modeling.q128(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  test("q130: kNN graph blocks on cells — no cartesian, windows partitioned") {
    val p = planString(LlmOps.q130(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"cell join must be equi:\n$p")
    // the 1-row corpus count (cell-count scaling) legitimately plans as
    // Exchange SinglePartition; what must NOT appear is an UNPARTITIONED
    // window (empty partition spec prints as `], [], [`)
    assert(!p.contains("], [], ["),
      s"windows must be cell/vec partitioned, never global:\n$p")
  }

  test("q134: unigram model joins broadcast; the DP adds no join or window") {
    val p = planString(Modeling.q134(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"piece model must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-scale join exists:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q136: triangle closure is a semi-join; degree lookups broadcast") {
    val p = planString(Analytics.q136(spark, sf0001))
    assert(p.contains("LeftSemi"), s"closure must be a semi-join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"degree joins broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q137: prefix-filter candidates come from an equi-join — no cartesian") {
    val p = planString(LlmOps.q137(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"blocking must be equi-join:\n$p")
  }

  test("q139: both BM25 rounds gate the posting stream with broadcast semi-joins") {
    val p = planString(LlmOps.q139(spark, sf0001))
    assert("BroadcastHashJoin.*LeftSemi".r.findAllIn(p).size >= 2,
      s"term sets must broadcast-semi-gate both rounds:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q140: skyline verdict broadcasts back — the corpus never sorts pre-join") {
    val p = planString(Curation.q140(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"verdict must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle to join:\n$p")
  }

  test("whole-stage codegen covers the custom expressions (no fallback)") {
    // ParseFlexTimestamp / CosineSimilarityExpr implement doGenCode — the
    // stages containing them must be inside WholeStageCodegen (the `*(n)`
    // markers / codegen ids in formatted explain)
    def codegenStages(df: DataFrame): Int = {
      df.collect() // materialize AQE query stages first — an unexecuted
      // AdaptiveSparkPlanExec hides the stages behind the first Exchange
      val s = org.apache.spark.sql.execution.debug.codegenString(
        df.queryExecution.executedPlan)
      "Found (\\d+) WholeStageCodegen".r.findFirstMatchIn(s)
        .map(_.group(1).toInt).getOrElse(0)
    }
    assert(codegenStages(Scalars.q24(spark, sf0001)) >= 1, "q24 lost codegen")
    assert(codegenStages(LlmOps.q34(spark, sf0001)) >= 1, "q34 lost codegen")
    assert(codegenStages(Relational.q94(spark, sf0001)) >= 1, "q94 lost codegen")
  }

  test("q150: model gates broadcast; the perplexity stage reads the memoized " +
      "rank, not a second corpus scan; no cartesian") {
    val p = planString(LlmOps.q150(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"NB model / gate joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the tercile gate must come from q124's memoized scratch relation
    // (the GlobalOrder-ranked parquet), not a rebuilt LM pipeline: the
    // scan Location shows the global-rank-out dir
    assert(p.contains("global-rank-out"),
      s"perplexity gate must read the memoized rank relation:\n$p")
  }

  test("q171: append touches only probe-cell partitions — touched split " +
      "broadcasts, landed graph never globally re-windowed") {
    val p = planString(LlmOps.q171(spark, sf0001))
    // keep/touched split: the touched-node set broadcasts into an anti
    // and a semi join against the landed graph
    assert("BroadcastHashJoin.*LeftAnti".r.findAllIn(p).nonEmpty,
      s"untouched pass-through must be a broadcast anti-join:\n$p")
    assert("BroadcastHashJoin.*LeftSemi".r.findAllIn(p).nonEmpty,
      s"touched selection must be a broadcast semi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("], [], ["),
      s"windows must be node-partitioned, never global:\n$p")
  }

  test("q172: delete is broadcast tombstone anti-joins; repair windows " +
      "stay node-partitioned") {
    val p = planString(LlmOps.q172(spark, sf0001))
    assert("BroadcastHashJoin.*LeftAnti".r.findAllIn(p).size >= 2,
      s"owner drop and live filter must be broadcast anti-joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("], [], ["),
      s"windows must be node-partitioned, never global:\n$p")
  }

  test("q173: serve walk is equi-joins only — probes broadcast, corpus " +
      "never cartesians, beams window per probe") {
    val p = planString(LlmOps.q173(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"probe rows must broadcast into the cell join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("], [], ["),
      s"windows must be probe-partitioned, never global:\n$p")
  }

  test("q187: the serve plan is PURE — equi-joins/broadcast only, ZERO " +
      "cross or nested-loop joins (both index layers read landed, the " +
      "entry is persisted serve state), every window probe-partitioned") {
    val p = planString(LlmOps.q187(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"walk joins must broadcast the beam side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // r19: the r18 plan carried the (n/8)^2 layer-1 build as a
    // BroadcastNestedLoopJoin — landing the layer moved it out of the
    // serve path entirely; any cross-shaped join reappearing here means
    // an index layer is being rebuilt at serve time again
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"serve must not rebuild any index layer (no cross joins):\n$p")
    assert(!p.contains("], [], ["),
      s"windows must be probe-partitioned, never global:\n$p")
  }

  test("q190: the spliced hierarchical serve is as pure as q187's — both " +
      "spliced layers read landed, re-elected entry is persisted state, " +
      "zero cross/nested-loop joins, windows probe-partitioned") {
    val p = planString(LlmOps.q190(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"walk joins must broadcast the beam side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"serve must not recompute any splice (no cross joins):\n$p")
    assert(!p.contains("], [], ["),
      s"windows must be probe-partitioned, never global:\n$p")
  }

  test("q188: the layer-1 insert routes by beam walk — equi-joins and " +
      "broadcasts only, never a cartesian, windows node-partitioned") {
    val p = planString(LlmOps.q188(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"insert routing must walk the landed layer, not rebuild it:\n$p")
    assert(!p.contains("], [], ["),
      s"windows must be node-partitioned, never global:\n$p")
  }

  test("q189: the layer-1 delete repair rides broadcasts (the layer's " +
      "own exact discipline below the crossover) — never a cartesian, " +
      "windows node-partitioned") {
    val p = planString(LlmOps.q189(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("], [], ["),
      s"windows must be node-partitioned, never global:\n$p")
  }

  test("q185: the banded-Hamming join is an equi-join on (band, chunk) — " +
      "no cartesian, radius filter before the pair dedup") {
    val p = planString(LlmOps.q185(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      s"fingerprint blocking must be an equi-join:\n$p")
    // the ≤7 radius verify runs in the join/filter stage, BEFORE the
    // distinct's exchange — the map-side-verify discipline
    assert(p.contains("bit_count"), s"radius verify missing:\n$p")
    assert(p.contains("HashAggregate") || p.contains("Aggregate"),
      s"pair dedup missing:\n$p")
  }

  test("q186: the closure audit joins the bounded label relation — the " +
      "documents side never cartesians or re-sorts pre-join") {
    val p = planString(LlmOps.q186(spark, sf0001))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded label relation must broadcast into the audit:\n$p")
  }
}
