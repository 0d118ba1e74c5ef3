package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.StreamingQuery

/** `readStream.format("graft-vehicle-csv")` → `writeStream.format(
  * "graft-http-sink")` with a checkpoint and a delivery ledger, fed by an
  * open-loop generator: a thread writes one small gz file every
  * [[IntervalMs]] on a fixed schedule, whether or not the query keeps up,
  * and stamps every row of a file with the file's creation time.
  *
  * The timed part is a series of phases on a fixed schedule: each phase
  * generates files for [[GenMs]], and at [[BurstAtMs]], when the query
  * has delivered them and is idle, writes a burst of [[BurstFiles]] at
  * once. The drain is the time from the burst to its last delivered row,
  * so it grows with the backlog, and the burst's rows over it are the
  * query's throughput; latencies are taken over the scheduled files only,
  * pooled over the warm phases.
  * The JIT compiler is still working on the per-batch path for the first
  * [[WarmupPhases]] (their batch times fall phase by phase); they are
  * reported as the cold figure and the warm figures come from the phases
  * after them. */
final class StreamWorkload(ctx: Ctx) extends Workload {
  private val IntervalMs = 20L
  private val GenMs = 1200L
  private val BurstAtMs = 1500L
  private val PhaseMs = 2000L
  private val RowsPerFile = 400
  private val WarmupPhases = 4
  private val BurstFiles = 20
  private val root = ctx.args.work.resolve("stream")
  private var receiver: Receiver = _
  private var query: StreamingQuery = _
  private var inDir: Path = _
  private var setups = 0
  private var files = 0
  private var lastFile: Path = _
  // everything written into the current input directory
  private var expectDir: PingGen.Expect = _

  def headline: String = "latency_p50_ms"

  // inputs are made while the timed part runs: the stream has none beforehand
  def generate(): Double = 0.0

  /** Writes the next file, stamped with its creation time, which it
    * returns. */
  private def writeFile(expect: PingGen.Expect): Long = {
    lastFile = inDir.resolve(f"ping-$files%06d.csv.gz")
    val rng = new SplittableRandom(ctx.args.seed * 1000003L + files)
    files += 1
    val created = System.currentTimeMillis()
    PingGen.writeFile(lastFile, RowsPerFile, rng, expect, gzip = true, stampMs = Some(created))
    created
  }

  def setup(): Unit = {
    if (receiver == null) receiver = new Receiver
    setups += 1
    inDir = root.resolve(s"in-$setups")
    Files.createDirectories(inDir)
    val spark = ctx.session()
    query = Scope(spark, "stream") {
      spark.readStream.format("graft-vehicle-csv").load(inDir.toString)
        .writeStream.format("graft-http-sink")
        .option("url", receiver.url).option("sourceId", "7")
        .option("ledgerDir", root.resolve(s"ledger-$setups").toString)
        .option("checkpointLocation", root.resolve(s"checkpoint-$setups").toString)
        .start()
    }
    // warm-up: a few files through the whole pipeline, one batch each
    expectDir = new PingGen.Expect
    for (_ <- 1 to 5) {
      writeFile(expectDir)
      query.processAllAvailable()
    }
    receiver.take()
  }

  def teardown(): Unit = {
    if (query != null) { query.stop(); query = null }
    ctx.session().stop()
  }

  def measure(seconds: Int): () => Measured = {
    ctx.progress.clear()
    val expect = new PingGen.Expect
    val phases = WarmupPhases + math.max(3, (seconds * 1000L / PhaseMs).toInt)
    val perPhase = (GenMs / IntervalMs).toInt
    val created = ArrayBuffer.empty[StreamWorkload.File]
    var maxLateMs = 0L
    val startNs = System.nanoTime()
    val t0 = System.currentTimeMillis() + 50
    ctx.tracer.span("stream.generate") {
      for (p <- 0 until phases; k <- 0 until perPhase + BurstFiles) {
        // the phase's files on the schedule, then a burst written at once
        val due = t0 + p * PhaseMs + (if (k < perPhase) k * IntervalMs else BurstAtMs)
        val now = System.currentTimeMillis()
        if (due > now) Thread.sleep(due - now)
        maxLateMs = math.max(maxLateMs, System.currentTimeMillis() - due)
        val valid0 = expect.valid
        val ms = writeFile(expect)
        created += StreamWorkload.File(p, k >= perPhase, ms, expect.valid - valid0)
      }
    }
    ctx.tracer.span("stream.drain")(query.processAllAvailable())
    val endMs = System.currentTimeMillis()
    val delivery = receiver.take()
    () => check(phases, created.toSeq, expect, delivery, startNs, endMs, maxLateMs)
  }

  private def check(phases: Int, created: Seq[StreamWorkload.File], expect: PingGen.Expect,
      delivery: Receiver.Delivery, startNs: Long, endMs: Long, maxLateMs: Long): Measured = {
    expectDir.merge(expect)
    val c = ctx.tracer.span("receiver.check")(Receiver.check(expect.hashes, delivery))

    val lastArrival = scala.collection.mutable.Map.empty[Long, Long]
    c.tsMs.indices.foreach { i =>
      lastArrival(c.tsMs(i)) = math.max(lastArrival.getOrElse(c.tsMs(i), 0L), c.arrivalMs(i)) }
    // a file's delivery: creation → its last row's arrival
    def done(f: StreamWorkload.File): Long = lastArrival.getOrElse(PingGen.stampValue(f.ms), endMs)
    def files(p: Int, burst: Boolean) = created.filter(f => f.phase == p && f.burst == burst)
    val warmPhases = WarmupPhases until phases
    // a message's latency: arrival minus the creation time its row carries,
    // over the scheduled files of every warm phase; burst files only time
    // the drain
    val warmStamps = warmPhases.flatMap(files(_, burst = false)).map(f => PingGen.stampValue(f.ms)).toSet
    val latency = c.tsMs.indices.filter(i => warmStamps.contains(c.tsMs(i)))
      .map(i => (c.arrivalMs(i) - c.tsMs(i)).toDouble).toArray
    val drains = (0 until phases).map { p =>
      val b = files(p, burst = true); (b.map(done).max - b.last.ms) / 1e3 }
    // the rows of a burst over the time the query took to deliver them
    val burstRate = (0 until phases).map(p => files(p, burst = true).map(_.valid).sum / drains(p))
    val fileS = (0 until phases).map(p => files(p, burst = false).map(f => (done(f) - f.ms) / 1e3))
    def overPhases(f: Int => Double) = Stats.median(warmPhases.map(f))
    val e2e = Map(
      "rows_per_s" -> overPhases(burstRate),
      "latency_p50_ms" -> Stats.quantile(latency, 0.5),
      "latency_p99_ms" -> Stats.quantile(latency, 0.99),
      "drain_s" -> overPhases(drains),
      "sweep_s" -> overPhases(p => fileS(p).sum),
      "sweep_cold_s" -> Stats.mean((0 until WarmupPhases).map(fileS(_).sum)),
      "query_geomean_s" -> Stats.geomean(warmPhases.flatMap(fileS)),
      "query_p95_s" -> Stats.quantile(warmPhases.flatMap(fileS).toArray, 0.95))
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      val b = ctx.progress.withData
      def med(key: String) = if (b.isEmpty) 0.0 else Stats.median(b.map(_.durations.getOrElse(key, 0L).toDouble))
      IngestLayers.http(c, startNs) ++ Map(
        "check.error_frac" -> c.errorFrac,
        "sources.latest_offset_ms" -> med("latestOffset"),
        "sources.add_batch_ms" -> med("addBatch"),
        "engine.query_planning_ms" -> med("queryPlanning"),
        "engine.wal_commit_ms" -> med("walCommit"),
        "engine.commit_offsets_ms" -> med("commitOffsets"),
        "engine.trigger_ms" -> med("triggerExecution"),
        "engine.batches" -> b.size.toDouble,
        "engine.rows_per_batch" -> (if (b.isEmpty) 0.0 else Stats.median(b.map(_.rows.toDouble))))
    }
    val problems = if (c.sourceIds == 1) Nil else Seq(s"${c.sourceIds} sourceIds")
    Measured(e2e, layers, expect.valid, c.errors, problems,
      Map("phases" -> phases, "files" -> created.size, "rows_per_file" -> RowsPerFile,
        "interval_ms" -> IntervalMs, "generator_max_late_ms" -> maxLateMs, "drain_s" -> drains, "burst_rows_per_s" -> burstRate,
        "phase_file_s" -> fileS.map(_.sum), "dropped" -> expect.dropped.toMap))
  }

  def layers(problems: scala.collection.mutable.Buffer[String]): Map[String, Double] =
    IngestLayers(ctx, inDir, lastFile, expectDir, problems)

  override def close(): Unit = {
    if (query != null) query.stop()
    if (receiver != null) receiver.close()
  }
}

object StreamWorkload {
  /** One generated file: its phase, whether it was part of the burst,
    * its creation time (epoch ms) and its valid rows. */
  final case class File(phase: Int, burst: Boolean, ms: Long, valid: Long)
}
