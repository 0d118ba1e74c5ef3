package graft.tools

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.CsvLoaderCli
import graft.ingest.IngestFiles
import graft.streaming.ProtoEnvelope

/** Ingest throughput benchmark: the reference's own workload shape (GPS
  * CSV → parse → transform → batched HTTP POST) measured end to end
  * through [[CsvLoaderCli.load]], the path the CLI runs, and split by
  * stage over the same files:
  *
  *  - `read`: decompress and cut lines, one task per file, no parse;
  *  - `parse`: a `graft-vehicle-csv` read (decompress, parse, drop);
  *  - `encode`: the parsed rows through one
  *    [[ProtoEnvelope.EnvelopeWriter]] in 10,000-message envelopes, on
  *    one thread (a per-core rate; the other stages use every core);
  *  - `e2e`: the CLI's one pass (parse, POST, summary), with the jobs,
  *    stages and tasks it ran (`e2e_jobs`, `e2e_stages`, `e2e_tasks`).
  *
  * Each stage runs once untimed, then once timed, over all the files.
  *
  * The reference is a single-threaded record loop; this pipeline
  * parallelizes the scan+parse across cores and posts per partition, so
  * single-node throughput should exceed it and scale with executors.
  *
  * Usage: runMain graft.tools.IngestBench [rows] — prints one JSON line.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toInt else 1000000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // deterministic synthetic pings across several files (parallel scan)
    val dir = Files.createTempDirectory("ingest-bench")
    val nFiles = 8
    for (f <- 0 until nFiles) {
      val out = new GZIPOutputStream(
        new FileOutputStream(dir.resolve(s"pings_$f.csv.gz").toFile))
      val sb = new java.lang.StringBuilder
      var i = f
      while (i < rows) {
        val sec = 40 + (i % 20)
        sb.setLength(0)
        sb.append("2015-02-14 23:51:").append(sec).append(".")
          .append(i % 1000).append("+05,").append(i % 50000).append(",")
          .append(23.0 + (i % 997) / 1000.0).append(",")
          .append(90.0 + (i % 991) / 1000.0).append("\n")
        out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
        i += nFiles
      }
      out.close()
    }

    // swallow-everything local receiver
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val received = new java.util.concurrent.atomic.AtomicLong(0)
    server.createContext("/u", (ex: com.sun.net.httpserver.HttpExchange) => {
      received.addAndGet(ex.getRequestBody.readAllBytes().length.toLong)
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/u"

    val glob = dir.toString + "/*.csv.gz"
    // every stage runs once untimed over all files, then once timed, so
    // no stage pays JIT warm-up that a later one does not
    def timed[T](stage: => T): (T, Double) = {
      stage
      val t = System.nanoTime()
      val r = stage
      (r, (System.nanoTime() - t) / 1e9)
    }

    // read only: decompress and cut lines, one task per file
    val conf = spark.sparkContext.hadoopConfiguration
    val files = IngestFiles.listInputFiles(glob, conf)
    val props = IngestFiles.confProps(conf)
    val (nLines, tRead) = timed {
      spark.sparkContext.parallelize(files, files.size).map { f =>
        val reader = new LineReader(
          IngestFiles.openDecompressed(f, IngestFiles.taskConf(props)), 1 << 16)
        val line = new Text()
        var n = 0L
        try while (reader.readLine(line) > 0) n += 1
        finally reader.close()
        n
      }.sum().toLong
    }

    // parse only: the source read, no delivery
    val (nParsed, tParse) =
      timed(spark.read.format("graft-vehicle-csv").load(glob).count())

    // encode only: the parsed rows, held as primitives, on one thread
    val n = nParsed.toInt
    val ids = new Array[Long](n)
    val lats = new Array[Double](n)
    val lons = new Array[Double](n)
    val tss = new Array[Long](n)
    var k = 0
    spark.read.format("graft-vehicle-csv").load(glob)
      .select("vehicle_id", "lat", "lon", "ts_ms").toLocalIterator()
      .forEachRemaining { r =>
        ids(k) = r.getLong(0); lats(k) = r.getDouble(1)
        lons(k) = r.getDouble(2); tss(k) = r.getLong(3)
        k += 1
      }
    val envelope = new ProtoEnvelope.EnvelopeWriter(1L, 10000)
    def encodeAll(): Long = {
      var bytes = 0L
      var i = 0
      while (i < n) {
        envelope.add(ids(i), lats(i), lons(i), tss(i))
        if (envelope.messages == 10000) { bytes += envelope.size; envelope.clear() }
        i += 1
      }
      bytes += envelope.size
      envelope.clear()
      bytes
    }
    val (encodedBytes, tEncode) = timed(encodeAll())

    // the path users run: CsvLoaderCli's one pass (parse, POST, summary),
    // with the jobs, stages and tasks of the timed pass
    CsvLoaderCli.load(spark, glob, url, 1L)
    received.set(0)
    val jobs, jobsEnded, stages, tasks = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(e.stageInfo.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(counter)
    val t1 = System.nanoTime()
    val summary = CsvLoaderCli.load(spark, glob, url, 1L)
    val tSink = (System.nanoTime() - t1) / 1e9
    // listener events arrive asynchronously, each job's stages before
    // its end: wait for the ends
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((jobs.get() == 0 || jobsEnded.get() < jobs.get()) && System.nanoTime() < deadline)
      Thread.sleep(10)
    spark.sparkContext.removeSparkListener(counter)
    require(summary.records == nParsed,
      s"CLI loaded ${summary.records} records, the source read $nParsed")

    server.stop(0)
    pool.shutdownNow() // non-daemon pool would keep the JVM alive
    // Bench.scala's driver-visible shape: one JSON line, "metric"/"value"/
    // "unit" first so round-over-round tooling can track the ST1-ST2 ingest
    // path (the reference's actual workload) like the relational surface
    println(f"""{"metric":"ingest_rows_per_s","value":${nParsed / tSink}%.0f,"unit":"rows/s","rows":$nParsed,"lines":$nLines,"read_s":$tRead%.2f,"read_lines_per_s":${nLines / tRead}%.0f,"parse_s":$tParse%.2f,"parse_rows_per_s":${nParsed / tParse}%.0f,"encode_s":$tEncode%.3f,"encode_rows_per_s":${nParsed / tEncode}%.0f,"encode_mb_per_s":${encodedBytes / tEncode / 1e6}%.0f,"e2e_s":$tSink%.2f,"e2e_jobs":${jobs.get},"e2e_stages":${stages.get},"e2e_tasks":${tasks.get},"sink_bytes":${received.get()}}""")
    spark.stop()
  }
}
