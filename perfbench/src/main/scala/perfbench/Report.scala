package perfbench

/** Metric names and units, in the order the summary line lists them.
  * They must match `BENCHMARK.json`. */
object Metrics {
  val endToEnd: Seq[String] = Seq("setup_s", "peak_heap_mb", "correct_frac",
    "rows_per_s", "latency_p50_ms", "latency_p99_ms", "drain_s", "sweep_s",
    "sweep_cold_s", "query_geomean_s", "query_p95_s")

  val Modules: Seq[String] = Seq("relational", "scalars", "temporal", "llmops",
    "analytics", "curation", "modeling")
  val QueryParts: Seq[String] = Seq("s", "plan_s", "exec_s", "jobs", "tasks",
    "task_s", "shuffle_mb")

  val perLayer: Seq[String] = Seq(
    "engine.jobs", "engine.stages", "engine.tasks", "engine.task_s",
    "engine.cpu_s", "engine.gc_s", "engine.max_task_s", "engine.idle_core_frac",
    "engine.shuffle_read_mb", "engine.shuffle_write_mb", "engine.spill_mb",
    "ingest.read_s", "ingest.read_tasks", "ingest.rows_dropped",
    "ingest.split_per_s", "functions.ts_parse_per_s", "functions.id_parse_per_s",
    "streaming.encode_mb_per_s", "streaming.bytes_per_row",
    "http.posts", "http.mb", "http.max_inflight", "http.first_post_s",
    "http.non2xx", "http.duplicates", "http.missing",
    "sources.latest_offset_ms", "sources.add_batch_ms",
    "engine.query_planning_ms", "engine.wal_commit_ms",
    "engine.commit_offsets_ms", "engine.trigger_ms", "engine.batches",
    "engine.rows_per_batch",
    "check.error_frac", "trace.overhead_frac") ++
    Modules.flatMap(m => QueryParts.map(p => s"queries.$m.$p")) :+ "queries.plan_jobs"

  def unit(name: String): String = name match {
    case "peak_heap_mb" | "http.mb"          => "MB"
    case "streaming.bytes_per_row"           => "B"
    case n if n.endsWith("_mb_per_s")        => "MB/s"
    case n if n.endsWith("_per_s")           => "1/s"
    case n if n.endsWith("_ms")              => "ms"
    case n if n.endsWith("_s") || n.endsWith(".s") => "s"
    case n if n.endsWith("_mb")              => "MB"
    case n if n.endsWith("_frac")            => "frac"
    case _                                   => "count"
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs.toArray, 0.5)

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Array[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.clone(); java.util.Arrays.sort(s)
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null                 => sb.append("null")
    case s: String            => str(sb, s)
    case b: Boolean           => sb.append(b)
    case d: Double            => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float             => write(sb, f.toDouble)
    case n: Int               => sb.append(n)
    case n: Long              => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(','); first = false
        str(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; write(sb, x) }
      sb.append(']')
    case a: Array[_]          => write(sb, a.toSeq)
    case Some(x)              => write(sb, x)
    case None                 => sb.append("null")
    case other                => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"')
  }
}
