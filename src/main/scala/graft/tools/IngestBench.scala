package graft.tools

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.SparkSession

import graft.CsvLoaderCli

/** Ingest throughput benchmark: the reference's own workload shape (GPS
  * CSV → parse → transform → batched HTTP POST) measured end to end
  * through [[CsvLoaderCli.load]], the path the CLI runs, plus a
  * parse-only read of the same files through `graft-vehicle-csv`.
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
    // warm-up: one file through the whole path
    CsvLoaderCli.load(spark, dir.toString + "/pings_0.csv.gz", url, 1L)
    received.set(0)

    // parse only: the source read, no delivery
    val t0 = System.nanoTime()
    val nParsed = spark.read.format("graft-vehicle-csv").load(glob).count()
    val tParse = (System.nanoTime() - t0) / 1e9

    // the path users run: CsvLoaderCli's one pass (parse, POST, summary)
    val t1 = System.nanoTime()
    val summary = CsvLoaderCli.load(spark, glob, url, 1L)
    val tSink = (System.nanoTime() - t1) / 1e9
    require(summary.records == nParsed,
      s"CLI loaded ${summary.records} records, the source read $nParsed")

    server.stop(0)
    pool.shutdownNow() // non-daemon pool would keep the JVM alive
    // Bench.scala's driver-visible shape: one JSON line, "metric"/"value"/
    // "unit" first so round-over-round tooling can track the ST1-ST2 ingest
    // path (the reference's actual workload) like the relational surface
    println(f"""{"metric":"ingest_rows_per_s","value":${nParsed / tSink}%.0f,"unit":"rows/s","rows":$nParsed,"parse_s":$tParse%.2f,"parse_rows_per_s":${nParsed / tParse}%.0f,"e2e_s":$tSink%.2f,"sink_bytes":${received.get()}}""")
    spark.stop()
  }
}
