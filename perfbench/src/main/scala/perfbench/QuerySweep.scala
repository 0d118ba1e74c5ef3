package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, sum, xxhash64}

import graft.queries._

/** Registered queries from every module of `graft.SparkEntry`, over the
  * registry's own small tables (`--data`), in an order the seed permutes.
  * Pass 1 is cold. Pass 2 only warms the JIT compiler further (pass
  * times still fall by a tenth or more from pass 2 to pass 3); a fixed
  * number of warm passes follows, and each query's warm time is its
  * median over them.
  *
  * Each query is materialized through a digest over all output columns,
  * not `count()`, which would let the optimizer prune projections and
  * UDFs users pay for. The digest is the row count, the sum of the row
  * hashes as a decimal and their bit-xor, so it cannot overflow under
  * ANSI mode. Each digest is compared with `--expected`; a query whose
  * digest did not repeat across two runs of the parent tree is compared
  * by row count alone (its line there says `rows`). */
final class QuerySweep(ctx: Ctx) extends Workload {

  /** The sweep is a fixed subset: one full pass of the 199 queries takes
    * minutes, more than a run can spend. Each module's query nearest its
    * median warm time, a second relational one (the largest module after
    * LLM-ops), and for LLM-ops the TF-IDF build, a shuffle query of the
    * kind its slow tail is made of. The kNN-graph and serve queries cost
    * 1.5-5 s a run each, too much for passes that must repeat. */
  val Selected: Seq[String] = Seq(
    "q04_join_sortmerge", "q18_window_rank", // relational
    "q24_flex_timestamp",                     // scalars
    "q32_session_window",                     // temporal
    "q62_tfidf",                              // llmops
    "q58_gapfill",                            // analytics
    "q77_normalize",                          // curation
    "q144_alpha_mixture")                     // modeling

  private val moduleOf: Map[String, String] = Seq(
    "relational" -> Relational.defs, "scalars" -> Scalars.defs,
    "temporal" -> Temporal.defs, "llmops" -> LlmOps.defs,
    "analytics" -> Analytics.defs, "curation" -> Curation.defs,
    "modeling" -> Modeling.defs).flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap
  private val fns = graft.SparkEntry.queries
  // the program reads a copy, so nothing it does can touch the fixtures
  private val tables = ctx.args.work.resolve("tables")
  private val dir = tables.toString
  require(Selected.forall(fns.contains), "unknown query in the sweep")

  /** name → (mode, value): mode `digest` or `rows`. */
  private lazy val expected: Map[String, (String, String)] =
    if (!Files.exists(ctx.args.expected)) Map.empty
    else Files.readAllLines(ctx.args.expected, StandardCharsets.UTF_8).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
        val Array(n, mode, v) = l.split('\t'); n -> (mode, v)
      }.toMap

  def headline: String = "sweep_s"

  def generate(): Double = {
    val t0 = System.nanoTime()
    Files.createDirectories(tables)
    Files.list(ctx.args.data).iterator().asScala.foreach(f =>
      Files.copy(f, tables.resolve(f.getFileName)))
    (System.nanoTime() - t0) / 1e9
  }

  def setup(): Unit = {
    val spark = ctx.session()
    // untimed warm-up: two queries outside the sweep
    Seq("q01_pricing_summary", "q03_join_broadcast").foreach(q =>
      digestPlan(fns(q)(spark, dir)).collect())
  }

  def teardown(): Unit = ctx.session().stop()

  /** One row: count, decimal sum and bit-xor of the row hashes of `df`. */
  private def digestPlan(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    named.select(xxhash64(named.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(20,0)")), bit_xor(col("h")))
  }
  import QuerySweep.Run

  private def runOne(spark: SparkSession, name: String, scope: String): Run =
    ctx.tracer.span(s"query.$name") {
      val t0 = System.nanoTime()
      try {
        val d = ctx.tracer.span("plan")(Scope(spark, scope, "plan") {
          val d = digestPlan(fns(name)(spark, dir))
          d.queryExecution.executedPlan
          d
        })
        val t1 = System.nanoTime()
        val r = ctx.tracer.span("exec")(Scope(spark, scope)(d.collect()(0)))
        val t2 = System.nanoTime()
        Run((t1 - t0) / 1e9, (t2 - t1) / 1e9, r.getLong(0),
          s"${r.getLong(0)}:${r.get(1)}:${r.getLong(2)}", null)
      } catch {
        case e: Exception =>
          Run((System.nanoTime() - t0) / 1e9, 0.0, -1L, null, e.toString.take(300))
      }
    }

  private def wrong(name: String, r: Run): Option[String] =
    if (r.error != null) Some(s"$name failed: ${r.error}")
    else expected.get(name) match {
      case Some(("digest", v)) if v == r.digest     => None
      case Some(("rows", v)) if v == r.rows.toString => None
      case Some(e) => Some(s"$name: got ${r.digest}, expected $e")
      case None    => Some(s"$name: no expected digest")
    }

  def measure(seconds: Int): () => Measured = {
    val spark = ctx.session()
    val order = new scala.util.Random(ctx.args.seed).shuffle(Selected)
    val passes = ArrayBuffer.empty[Map[String, Run]]
    val passS = ArrayBuffer.empty[Double]
    // cold and burn-in passes, then a fixed count of warm passes that takes
    // about `seconds` on 4 cores
    while (passes.size < 2 + math.max(3, seconds / 4)) {
      val scope = passes.size match { case 0 => "cold"; case 1 => "burn"; case _ => "warm" }
      val p0 = System.nanoTime()
      passes += ctx.tracer.span(s"pass.$scope") {
        order.map(q => q -> runOne(spark, q, s"$scope:$q")).toMap
      }
      passS += (System.nanoTime() - p0) / 1e9
    }
    () => check(spark, order, passes.toSeq, passS.toSeq)
  }

  private def check(spark: SparkSession, order: Seq[String], passes: Seq[Map[String, Run]],
      passS: Seq[Double]): Measured = {
    val warm = passes.drop(2)
    val problems = passes.flatMap(p => order.flatMap(q => wrong(q, p(q)))).distinct
    val failed = passes.map(p => order.count(q => wrong(q, p(q)).isDefined)).sum
    def warmMedian(q: String, f: Run => Double) = Stats.median(warm.map(p => f(p(q))).toSeq)
    val perQuery = order.map(q => q -> warmMedian(q, r => r.plan + r.exec)).toMap
    val times = perQuery.values.toSeq
    val rows = warm.last.values.map(r => math.max(r.rows, 0L)).sum
    val e2e = Map(
      "rows_per_s" -> rows / Stats.median(passS.drop(2)),
      "latency_p50_ms" -> Stats.median(times) * 1e3,
      "latency_p99_ms" -> Stats.quantile(times.toArray, 0.99) * 1e3,
      "drain_s" -> Stats.median(passS.drop(2)),
      "sweep_s" -> Stats.median(passS.drop(2)),
      "sweep_cold_s" -> passS.head,
      "query_geomean_s" -> Stats.geomean(times),
      "query_p95_s" -> Stats.quantile(times.toArray, 0.95))

    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      ctx.engine.sync(spark)
      val n = warm.size.toDouble
      def agg(q: String) = ctx.engine.agg(s"warm:$q")
      val perModule = Metrics.Modules.flatMap { m =>
        val qs = order.filter(moduleOf(_) == m)
        def total(f: String => Double) = qs.map(f).sum
        Seq(
          s"queries.$m.s" -> total(perQuery),
          s"queries.$m.plan_s" -> total(q => warmMedian(q, _.plan)),
          s"queries.$m.exec_s" -> total(q => warmMedian(q, _.exec)),
          s"queries.$m.jobs" -> total(q => agg(q).jobs / n),
          s"queries.$m.tasks" -> total(q => agg(q).tasks / n),
          s"queries.$m.task_s" -> total(q => agg(q).taskS / n),
          s"queries.$m.shuffle_mb" -> total(q => agg(q).shuffleMb / n))
      }
      (perModule :+ ("queries.plan_jobs" -> order.map(q => agg(q).planJobs / n).sum) :+
        ("check.error_frac" -> failed.toDouble / (passes.size * order.size))).toMap
    }
    val detail = order.map { q =>
      q -> Map("module" -> moduleOf(q), "cold_s" -> (passes.head(q).plan + passes.head(q).exec),
        "warm_s" -> perQuery(q), "plan_s" -> warmMedian(q, _.plan),
        "exec_s" -> warmMedian(q, _.exec), "rows" -> passes.head(q).rows,
        "digests" -> passes.map(_(q).digest).distinct.toSeq,
        "expected" -> expected.get(q).map { case (m, v) => s"$m:$v" })
    }.toMap
    Measured(e2e, layers, (passes.size * order.size).toLong, failed.toLong, problems.toSeq,
      Map("order" -> order, "pass_s" -> passS, "queries" -> detail))
  }

  def layers(problems: scala.collection.mutable.Buffer[String]): Map[String, Double] = Map.empty
}

object QuerySweep {
  final case class Run(plan: Double, exec: Double, rows: Long, digest: String, error: String)
}
