package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.ingest.CsvVehicleReader
import graft.streaming.ProtoEnvelope

/** The CLI's one-pass load: what reaches the receiver and the printed
  * summary both match the Column reader on plain, gz and zip inputs, and
  * the load reads its input once, without caching it. */
class CsvLoaderCliSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val rows = 25000

  /** Pings with every drop reason, blank lines, ids at and past 2^63 and
    * 2^64 (wrapping to the low 64 bits), and zero-padded aliases of plain
    * ids (one id, two strings). */
  private lazy val csv: String = {
    val rng = new scala.util.Random(7L)
    val sb = new StringBuilder
    for (i <- 0 until rows) {
      val ts = i % 3 match {
        case 0 => f"2015-02-14 23:${i / 60 % 60}%02d:${i % 60}%02d+05"
        case 1 => f"2015-02-14T18:51:${i % 60}%02d.${i % 1000}%03dZ"
        case _ => f"2015-02-14 18:51:${i % 60}%02d"
      }
      val k = rng.nextInt(50)
      val id = i % 10 match {
        case 0 => (BigInt(2).pow(64) + k).toString
        case 1 => (BigInt(2).pow(63) + k).toString
        case 2 => f"$k%05d"
        case _ => k.toString
      }
      val lat = 23.0 + rng.nextInt(1000) / 1000.0
      val lon = 90.0 + rng.nextInt(1000) / 1000.0
      sb ++= (i % 97 match {
        case 0 => "short,row"
        case 1 => s"$ts,$id,not_a_number,$lon"
        case 2 => s"garbage-ts,$id,$lat,$lon"
        case 3 => s"$ts,x$id,$lat,$lon"
        case 4 => ""
        case _ => s"$ts,$id,$lat,$lon"
      })
      sb ++= "\n"
    }
    sb.toString
  }

  private def fixtures(): Seq[Path] = {
    val dir = Files.createTempDirectory("graft-cli")
    val bytes = csv.getBytes(StandardCharsets.UTF_8)
    val plain = dir.resolve("pings.csv")
    Files.write(plain, bytes)
    val gz = dir.resolve("pings.csv.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    out.write(bytes); out.close()
    val zip = dir.resolve("pings.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zip))
    zos.putNextEntry(new ZipEntry("pings.csv"))
    zos.write(bytes)
    zos.closeEntry(); zos.close()
    Seq(plain, gz, zip)
  }

  /** Bodies POSTed to a local receiver while `body` runs. */
  private def received[T](body: String => T): (T, Seq[Array[Byte]]) = {
    val got = ArrayBuffer.empty[Array[Byte]]
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/locationUpdate", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = ex.getRequestBody.readAllBytes()
      got.synchronized { got += b }
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    server.start()
    try {
      val r = body(s"http://127.0.0.1:${server.getAddress.getPort}/locationUpdate")
      (r, got.synchronized(got.toSeq))
    } finally { server.stop(0); pool.shutdownNow() }
  }

  /** Delivered envelopes against the Column reader's rows of `file`. */
  private def checkDelivery(file: String, sourceId: Long, bodies: Seq[Array[Byte]]): Unit = {
    val envelopes = bodies.map(ProtoEnvelope.decodeEnvelope)
    assert(envelopes.map(_._1).distinct == Seq(sourceId), "one sourceId per load")
    assert(envelopes.forall(e => e._2.nonEmpty && e._2.size <= 10000),
      s"envelope sizes ${envelopes.map(_._2.size)}")
    val delivered = envelopes.flatMap(_._2).map { m =>
      assert(m.locations.size == 1)
      val l = m.locations.head
      s"${m.vehicleId}|${l.lat}|${l.lon}|${l.timestamp}"
    }.sorted
    val want = CsvVehicleReader.read(spark, file)
      .select(concat_ws("|", col("vehicle_id"), col("lat"), col("lon"), col("ts_ms")))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(delivered == want, s"$file: delivered multiset differs from the reader's rows")
  }

  test("load: summary and delivered messages equal the Column reader on " +
      "plain, gz and zip; envelopes hold at most 10,000 messages") {
    for (f <- fixtures()) {
      val file = f.toString
      val (summary, bodies) = received(url => CsvLoaderCli.load(spark, file, url, 42L))
      val r = CsvVehicleReader.read(spark, file).agg(count(lit(1)),
        countDistinct(col("vehicle_id_str")), countDistinct(col("vehicle_id")))
        .collect()(0)
      assert(summary == CsvLoaderCli.Summary(r.getLong(0), r.getLong(1), r.getLong(2)),
        s"$file: summary")
      assert(summary.records > rows * 9 / 10 && summary.records < rows)
      assert(summary.uniqueVehicles > summary.uniqueIds, "aliased ids collapse")
      checkDelivery(file, 42L, bodies)
      // one task reads the file, so its chunks are 10k, 10k, then the rest
      assert(bodies.size == (summary.records + 9999) / 10000, s"$file: envelopes")
    }
  }

  test("load over a plain file read in byte ranges: each task chunks its " +
      "own rows, nothing lost or duplicated") {
    val plain = fixtures().head.toString
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, (200 * 1024).toString)
    try {
      val (summary, bodies) = received(url => CsvLoaderCli.load(spark, plain, url, -3L))
      assert(summary.records == CsvVehicleReader.read(spark, plain).count())
      assert(bodies.size > 3, "several read tasks, each with its partial tail")
      checkDelivery(plain, -3L, bodies)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("load plan: one scan of the input, no cached relation") {
    val gz = fixtures()(1).toString
    val (plan, bodies) = received { url =>
      val df = CsvLoaderCli.summaryFrame(spark, gz, url, 5L)
      df.collect()
      df.queryExecution.executedPlan
    }
    val scans = collectWithSubqueries(plan) { case b: BatchScanExec => b }
    assert(scans.size == 1 && scans.head.scan.description().startsWith("graft-vehicle-csv"),
      s"expected one graft-vehicle-csv scan:\n$plan")
    assert(collectWithSubqueries(plan) { case m: InMemoryTableScanExec => m }.isEmpty,
      s"the load caches its input:\n$plan")
    checkDelivery(gz, 5L, bodies)
  }
}
