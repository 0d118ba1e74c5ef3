package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per process:
  *
  * {{{
  * Main --workload <cli_gz|cli_plain|stream_gz|query_sweep> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <file>
  *      --data <query tables dir> --expected <digests file> [--commit <id>]
  * }}}
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (end-to-end metrics with `--trace 0`, per-layer
  * metrics with `--trace 1`). Everything else goes to the `--out` record.
  *
  * With `--trace 1` the measured part runs twice in the same process:
  * first untraced, then with the listeners attached and spans recorded.
  * The per-layer metrics come from the second run; the record states the
  * difference between the two as the tracing overhead. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path, data: Path, expected: Path, commit: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Paths.get(req("work")), Paths.get(req("out")), Paths.get(req("data")),
      Paths.get(req("expected")), m.getOrElse("commit", "unknown"))
  }

  val Cores = 4
  /** Setups per run; `setup_s` is their median. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    // exit explicitly: a thread left running must not keep the run alive
    val code = try { run(parse(argv)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  private def run(args: Args): Unit = {
    val ctx = new Ctx(args)
    val wl: Workload = args.workload match {
      case "cli_gz"      => new CliWorkload(ctx, gzip = true)
      case "cli_plain"   => new CliWorkload(ctx, gzip = false)
      case "stream_gz"   => new StreamWorkload(ctx)
      case "query_sweep" => new QuerySweep(ctx)
      case other         => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "commit" -> args.commit, "cpus" -> Cores,
      "host_cpus" -> Runtime.getRuntime.availableProcessors(), "run_id" -> ctx.runId)
    try {
      val genS = wl.generate()
      // the first setup counts from JVM start, input generation excluded
      val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
      wl.setup()
      val setups = ((System.currentTimeMillis() - jvmStart) / 1e3 - genS) +:
        (1 until Setups).map { _ =>
          wl.teardown()
          val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
        }
      record("generate_s") = genS
      record("setup_runs_s") = setups
      val calBefore = ctx.calibrate()

      val m0 = System.nanoTime()
      val plain = ctx.measure(wl, args.seconds)
      record("measure_s") = (System.nanoTime() - m0) / 1e9
      val e2e = plain.e2e + ("setup_s" -> Stats.median(setups))
      val runs = if (!args.trace) Seq(plain) else {
        ctx.traced = true
        val traced = ctx.measure(wl, args.seconds)
        val problems = scala.collection.mutable.ArrayBuffer.from(traced.problems)
        val extra = wl.layers(problems)
        val (before, after) = (plain.e2e(wl.headline), traced.e2e(wl.headline))
        record("trace_overhead") = Map("metric" -> wl.headline, "untraced" -> before,
          "traced" -> after, "delta" -> (after - before), "frac" -> (after / before - 1))
        record("traced_e2e") = traced.e2e
        record("spans") = ctx.tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run" -> ctx.runId))
        Seq(plain, traced.copy(problems = problems.toSeq,
          layers = traced.layers ++ extra + ("trace.overhead_frac" -> (after / before - 1))))
      }
      record("calibration") = Map("before_s" -> calBefore, "after_s" -> ctx.calibrate())
      wl.teardown()

      val attempted = runs.map(_.attempted).sum
      val failed = runs.map(_.failed).sum
      val problems = runs.flatMap(_.problems).distinct
      val correct = failed == 0 && problems.isEmpty
      val allE2e = e2e + ("correct_frac" -> (1.0 - failed.toDouble / math.max(1L, attempted)))
      record ++= Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "problems" -> problems, "e2e" -> allE2e, "layers" -> runs.last.layers,
        "detail" -> runs.map(_.detail))
      Files.createDirectories(args.out.getParent)
      Files.write(args.out, Json(record).getBytes(StandardCharsets.UTF_8))

      val metrics =
        if (args.trace) Metrics.perLayer.map(m => m -> runs.last.layers.getOrElse(m, 0.0))
        else Metrics.endToEnd.map(m => m -> allE2e(m))
      println(Json(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> ListMap(metrics.map { case (k, v) =>
          k -> Map("value" -> v, "unit" -> Metrics.unit(k)) }: _*))))
    } finally wl.close()
  }
}

/** What one measured part produced. `layers` are per-layer metrics
  * (filled only when traced); `detail` goes to the record as is. */
final case class Measured(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, problems: Seq[String], detail: Map[String, Any])

/** One benchmark workload. `setup` brings the session up and runs the
  * untimed warm-up; `teardown` undoes it, so setup can be timed again. */
trait Workload extends AutoCloseable {
  /** Writes the inputs; returns the seconds it took. */
  def generate(): Double
  def setup(): Unit
  def teardown(): Unit
  /** The timed part: runs for about `seconds`. Returns the checks and
    * figures to make after it, outside its timing and heap peak. */
  def measure(seconds: Int): () => Measured
  /** Extra per-layer probes made after the traced run; a wrong result
    * is added to `problems`. */
  def layers(problems: scala.collection.mutable.Buffer[String]): Map[String, Double]
  /** The end-to-end metric the tracing overhead is stated for. */
  def headline: String
  override def close(): Unit = ()
}

/** Shared run state: the session factory, listeners and tracer. */
final class Ctx(val args: Main.Args) {
  val runId: String = java.util.UUID.randomUUID().toString
  val engine = new EngineListener
  val progress = new StreamProgress
  var traced = false
  def tracer: Tracer = if (traced) tracerOn else tracerOff
  private val tracerOn = new Tracer(true)
  private val tracerOff = new Tracer(false)
  private val attached = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])

  /** The program's own local session (`SparkEnv.local`), with the
    * listeners attached when traced. */
  def session(): SparkSession = {
    val s = graft.SparkEnv.local("csv-loader")
    if (traced && attached.add(s.sparkContext)) {
      s.sparkContext.addSparkListener(engine)
      s.streams.addListener(progress)
    }
    s
  }

  /** Machine-speed probe: a 1e8-row codegen'd range aggregation (the
    * same probe as `graft.Bench`), timed after one warm-up. */
  def calibrate(): Double = {
    val spark = session()
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(100000000L).selectExpr("sum(id % 7)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }

  /** Runs the workload's timed part with peak heap and engine counters,
    * then its checks, outside both. */
  def measure(wl: Workload, seconds: Int): Measured = {
    val heap = new HeapMeter
    heap.start()
    val before = engineTotals()
    val t0 = System.nanoTime()
    val check = wl.measure(seconds)
    val wall = (System.nanoTime() - t0) / 1e9
    val peakMb = heap.stop()
    heap.close()
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val after = engineTotals()
        val d = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        d ++ Map(
          "engine.max_task_s" -> after("engine.max_task_s"),
          "engine.idle_core_frac" -> (1.0 - d("engine.task_s") / (Main.Cores * wall)))
      }
    val m = check()
    m.copy(e2e = m.e2e + ("peak_heap_mb" -> peakMb), layers = layers ++ m.layers)
  }

  /** Engine counters summed over every scope except listener markers and
    * the per-layer probes. */
  private def engineTotals(): Map[String, Double] = {
    if (!traced) return Map.empty
    engine.sync(session())
    val aggs = engine.scopes.filterNot(s => s.startsWith("sync-") || s.startsWith("probe."))
      .map(engine.agg)
    def sum(f: engine.Agg => Double) = aggs.map(a => a.synchronized(f(a))).sum
    Map(
      "engine.jobs" -> sum(_.jobs.toDouble),
      "engine.stages" -> sum(_.stages.toDouble),
      "engine.tasks" -> sum(_.tasks.toDouble),
      "engine.task_s" -> sum(_.taskS),
      "engine.cpu_s" -> sum(_.cpuNs / 1e9),
      "engine.gc_s" -> sum(_.gcMs / 1e3),
      "engine.max_task_s" -> aggs.map(a => a.synchronized(a.maxTaskMs / 1e3)).foldLeft(0.0)(math.max),
      "engine.shuffle_read_mb" -> sum(_.shuffleRead / 1e6),
      "engine.shuffle_write_mb" -> sum(_.shuffleWrite / 1e6),
      "engine.spill_mb" -> sum(_.spill / 1e6))
  }
}
