package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.GZIPInputStream

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BigIntLow64, FlexTimestamp}
import graft.ingest.CsvFields
import graft.streaming.{ProtoEnvelope, VehicleLocation, VehicleMessage}

/** Per-layer probes of the ingest path, made on a workload's own files:
  * a `graft-vehicle-csv` read with no delivery, and single-thread rates
  * of the parse kernels and the envelope encoder. */
object IngestLayers {

  def apply(ctx: Ctx, path: Path, sample: Path, expect: PingGen.Expect,
      problems: scala.collection.mutable.Buffer[String]): Map[String, Double] = {
    val spark = ctx.session()
    val t0 = System.nanoTime()
    val rows = ctx.tracer.span("ingest.read") {
      Scope(spark, "probe.read") {
        spark.read.format("graft-vehicle-csv").load(path.toString).count()
      }
    }
    val readS = (System.nanoTime() - t0) / 1e9
    ctx.engine.sync(spark)
    val dropped = expect.lines - rows
    if (dropped != expect.droppedTotal)
      problems += s"graft-vehicle-csv dropped $dropped rows, generator made ${expect.droppedTotal} malformed"
    Map("ingest.read_s" -> readS,
      "ingest.read_tasks" -> ctx.engine.agg("probe.read").tasks.toDouble,
      "ingest.rows_dropped" -> dropped.toDouble) ++
      ctx.tracer.span("kernels")(kernels(readLines(sample, 100000)))
  }

  def readLines(file: Path, max: Int): Array[String] = {
    val raw = Files.newInputStream(file)
    val in = if (file.toString.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16) else raw
    val br = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try Iterator.continually(br.readLine()).takeWhile(_ != null).take(max).toArray
    finally br.close()
  }

  /** Calls `f` over `n` inputs repeatedly for about 0.4 s; inputs per second. */
  private def rate(n: Int)(f: Int => Long): Double = {
    var sink = 0L
    var done = 0L
    var i = 0
    while (i < n) { sink += f(i); i += 1 } // warm-up pass
    val t0 = System.nanoTime()
    var el = 0L
    while (el < 400000000L) {
      i = 0
      while (i < n) { sink += f(i); i += 1 }
      done += n
      el = System.nanoTime() - t0
    }
    if (sink == 42) print("") // keeps the calls observable
    done / (el / 1e9)
  }

  def kernels(lines: Array[String]): Map[String, Double] = {
    val utf = lines.map(UTF8String.fromString)
    val fields = utf.map(CsvFields.split)
    val ts = fields.map(f => f.getUTF8String(0))
    val ids = fields.filter(_.numElements() > 1).map(f => f.getUTF8String(1))
    val split = rate(utf.length)(i => CsvFields.split(utf(i)).numElements().toLong)
    val tsRate = rate(ts.length) { i =>
      val v = FlexTimestamp.parseToMillis(ts(i)); if (v == null) 0L else v.longValue }
    val idRate = rate(ids.length) { i =>
      val v = BigIntLow64.low64(ids(i)); if (v == null) 0L else v.longValue }
    // one message per row, as the sink sends them, in 10k-message envelopes
    val rng = new SplittableRandom(lines.length.toLong)
    val msgs = Array.tabulate(10000)(i => VehicleMessage(rng.nextLong(),
      Seq(VehicleLocation(rng.nextDouble() * 90, rng.nextDouble() * 180,
        1423872000000L + rng.nextInt(1 << 30)))))
    val batch = msgs.toSeq
    val bytes = ProtoEnvelope.encodeEnvelope(7L, batch).length
    val envPerS = rate(1)(_ => ProtoEnvelope.encodeEnvelope(7L, batch).length.toLong)
    Map("ingest.split_per_s" -> split, "functions.ts_parse_per_s" -> tsRate,
      "functions.id_parse_per_s" -> idRate,
      "streaming.encode_mb_per_s" -> envPerS * bytes / 1e6,
      "streaming.bytes_per_row" -> bytes.toDouble / msgs.length)
  }

  /** Receiver counters of one check, as per-layer metrics. */
  def http(c: Receiver.Check, startNs: Long): Map[String, Double] = Map(
    "http.posts" -> c.delivery.posts.toDouble, "http.mb" -> c.delivery.bytes / 1e6,
    "http.max_inflight" -> c.delivery.maxInflight.toDouble,
    "http.first_post_s" -> (if (c.delivery.posts == 0) 0.0 else (c.delivery.firstPostNs - startNs) / 1e9),
    "http.non2xx" -> c.delivery.non2xx.toDouble, "http.duplicates" -> c.duplicates.toDouble,
    "http.missing" -> c.missing.toDouble)
}

/** The reference's own job: `graft.CsvLoaderCli.main(-f file -u url)`,
  * in-process, over one large generated file. Each call gets a session
  * built beforehand, outside its timing (the CLI stops the session when
  * it returns). */
final class CliWorkload(ctx: Ctx, gzip: Boolean) extends Workload {
  private val dir = ctx.args.work.resolve("cli")
  private val ext = if (gzip) ".csv.gz" else ".csv"
  private val file = dir.resolve("pings" + ext)
  private val warmFile = dir.resolve("warmup" + ext)
  // sized so one call takes a few seconds on 4 cores
  private val rows = if (gzip) 100000 else 400000
  private var expect: PingGen.Expect = _
  private var receiver: Receiver = _
  private val Loaded = """Loaded (\d+) records \((\d+) unique vehicles, (\d+) unique ids\).*""".r

  def headline: String = "rows_per_s"

  def generate(): Double = {
    val t0 = System.nanoTime()
    Files.createDirectories(dir)
    expect = new PingGen.Expect
    PingGen.writeFile(file, rows, new SplittableRandom(ctx.args.seed), expect, gzip)
    PingGen.writeFile(warmFile, 30000, new SplittableRandom(~ctx.args.seed),
      new PingGen.Expect, gzip)
    (System.nanoTime() - t0) / 1e9
  }

  def setup(): Unit = {
    if (receiver == null) receiver = new Receiver
    ctx.session()
    cli(warmFile)
  }

  def teardown(): Unit = ctx.session().stop()

  /** One CLI call on a session built beforehand. */
  private def cli(f: Path): CliWorkload.Call = {
    val out = new java.io.ByteArrayOutputStream
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      graft.CsvLoaderCli.main(Array("-f", f.toString, "-u", receiver.url))
    }
    CliWorkload.Call((System.nanoTime() - t0) / 1e9, startMs, t0, out.toString("UTF-8"),
      receiver.take())
  }

  def measure(seconds: Int): () => Measured = {
    // a cold call, then warm ones: a fixed count that takes about
    // `seconds` on 4 cores, so every run does the same work
    val calls = (0 to math.max(4, seconds / 2)).map(_ =>
      ctx.tracer.span("cli.call")(Scope(ctx.session(), "cli")(cli(file))))
    () => check(calls)
  }

  private def check(calls: Seq[CliWorkload.Call]): Measured = {
    val problems = ArrayBuffer.empty[String]
    val checks = ctx.tracer.span("receiver.check") {
      calls.map { call =>
        call.stdout.linesIterator.collectFirst { case Loaded(n, u, v) => (n.toLong, u.toLong, v.toLong) } match {
          case Some(got) =>
            val want = (expect.valid, expect.uniqueVehicles, expect.uniqueIds)
            if (got != want) problems += s"CLI summary $got, expected $want"
          case None => problems += "CLI printed no 'Loaded N records' line"
        }
        val c = Receiver.check(expect.hashes, call.delivery)
        if (c.sourceIds != 1) problems += s"${c.sourceIds} sourceIds in one CLI call"
        c
      }
    }
    val walls = calls.map(_.wallS)
    val rates = calls.zip(checks).map { case (k, c) => (expect.valid - c.missing) / k.wallS }
    // the whole file is readable when the call starts
    val lat = calls.zip(checks).map { case (k, c) => c.arrivalMs.map(a => (a - k.startMs).toDouble) }
    val warm = walls.drop(1)
    val warmLat = lat.drop(1).toArray.flatten
    val failed = checks.map(_.errors).sum
    val attempted = expect.valid * calls.size
    val e2e = Map(
      "rows_per_s" -> Stats.median(rates.drop(1)),
      "latency_p50_ms" -> Stats.quantile(warmLat, 0.5),
      "latency_p99_ms" -> Stats.quantile(warmLat, 0.99),
      "drain_s" -> Stats.median(lat.drop(1).map(_.max / 1e3)),
      "sweep_s" -> Stats.median(warm),
      "sweep_cold_s" -> walls.head,
      "query_geomean_s" -> Stats.geomean(warm),
      "query_p95_s" -> Stats.quantile(warm.toArray, 0.95))
    val layers = if (!ctx.traced) Map.empty[String, Double] else
      IngestLayers.http(checks.last, calls.last.startNs) +
        ("check.error_frac" -> failed.toDouble / attempted)
    Measured(e2e, layers, attempted, failed, problems.distinct.toSeq,
      Map("rows" -> rows, "valid" -> expect.valid, "dropped" -> expect.dropped.toMap,
        "call_s" -> walls, "rows_per_s" -> rates,
        "unique_vehicles" -> expect.uniqueVehicles, "unique_ids" -> expect.uniqueIds))
  }

  def layers(problems: scala.collection.mutable.Buffer[String]): Map[String, Double] =
    IngestLayers(ctx, file, file, expect, problems)

  override def close(): Unit = if (receiver != null) receiver.close()
}

object CliWorkload {
  /** One CLI call: wall seconds, start (epoch ms and nanos), what it
    * printed and what the receiver got. */
  final case class Call(wallS: Double, startMs: Long, startNs: Long, stdout: String,
      delivery: Receiver.Delivery)
}
