package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streaming.ProtoEnvelope

/** The DSv2 HTTP sink (`writeStream.format("graft-http-sink")`), the one
  * streaming delivery path: the csv stream's messages on the wire under
  * the declared sourceId, reference chunking semantics, batch-mode
  * write, loud-at-start validation of options and input schema, and the
  * `ledgerDir` replay rule both DSv2 sinks share ([[SinkStreamingWrite]],
  * [[graft.streaming.FileBatchLedger]]). */
class HttpSinkSourceSpec extends SparkSpec {

  private def withServer[T](body: (String, ArrayBuffer[Array[Byte]]) => T): T = {
    val received = ArrayBuffer.empty[Array[Byte]]
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/u", (ex: com.sun.net.httpserver.HttpExchange) => {
      received.synchronized { received += ex.getRequestBody.readAllBytes() }
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/u", received)
    finally server.stop(0)
  }

  private val csv =
    "2015-02-14 23:51:40+05,42,23.7689,90.3886\n" +
      "2015-02-14 23:51:41+05,43,23.7690,90.3890\n" +
      "2015-02-14 23:51:42+05,42,23.7691,90.3891\n"

  test("streaming e2e: csv stream → DSv2 http sink delivers the same " +
      "messages as the foreachBatch path, under the declared sourceId") {
    val dir = Files.createTempDirectory("graft-httpsink-in")
    Files.write(dir.resolve("part1.csv"), csv.getBytes(StandardCharsets.UTF_8))
    withServer { (url, received) =>
      val q = spark.readStream.format("graft-vehicle-csv")
        .load(dir.toString)
        .writeStream.format("graft-http-sink")
        .option("url", url).option("sourceId", 7L)
        .option("checkpointLocation",
          Files.createTempDirectory("graft-httpsink-ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val envelopes = received.map(ProtoEnvelope.decodeEnvelope)
      assert(envelopes.forall(_._1 == 7L), "wrong sourceId on the wire")
      val msgs = envelopes.flatMap(_._2)
      // one single-location message per ping (reference parity)
      assert(msgs.map(_.vehicleId).sorted == ArrayBuffer(42L, 42L, 43L))
      assert(msgs.forall(_.locations.size == 1))
      assert(msgs.forall(_.locations.head.timestamp > 0))
    }
  }

  test("batch write: df.write.format(graft-http-sink) delivers every row; " +
      "chunking flushes at batchSize with a final partial flush") {
    withServer { (url, received) =>
      graft.Tables.events(spark, sf0001)
        .select(col("user_id").as("vehicle_id"),
          col("value").as("lat"), col("value").as("lon"),
          col("event_id").as("ts_ms"))
        .limit(10).repartition(1)
        .write.format("graft-http-sink")
        .option("url", url).option("sourceId", 3L)
        .option("batchSize", 3)
        .mode("append").save()
      val envelopes = received.map(ProtoEnvelope.decodeEnvelope)
      assert(envelopes.forall(_._1 == 3L))
      // 10 rows at batchSize=3 in one partition: 3 full POSTs + 1 partial
      assert(received.size == 4, s"expected 4 POSTs, got ${received.size}")
      assert(envelopes.map(_._2.size).sorted == ArrayBuffer(1, 3, 3, 3))
      assert(envelopes.flatMap(_._2).size == 10)
    }
  }

  test("usable from SQL: CREATE TABLE ... USING graft-http-sink + INSERT INTO") {
    withServer { (url, received) =>
      spark.sql("DROP TABLE IF EXISTS http_sink_sql")
      try {
        spark.sql(s"""CREATE TABLE http_sink_sql
          |USING `graft-http-sink`
          |OPTIONS (url '$url', sourceId '11')""".stripMargin)
        spark.sql(
          """INSERT INTO http_sink_sql
            |SELECT id AS vehicle_id, CAST(1.5 AS DOUBLE) AS lat,
            |       CAST(2.5 AS DOUBLE) AS lon, id AS ts_ms
            |FROM range(5)""".stripMargin)
        val envelopes = received.map(ProtoEnvelope.decodeEnvelope)
        assert(envelopes.forall(_._1 == 11L))
        assert(envelopes.flatMap(_._2).map(_.vehicleId).sorted ==
          ArrayBuffer(0L, 1L, 2L, 3L, 4L))
      } finally spark.sql("DROP TABLE IF EXISTS http_sink_sql")
    }
  }

  test("missing url/sourceId options and missing/mistyped ping columns " +
      "fail at query start, not per-task") {
    val df = spark.range(3).select(col("id").as("vehicle_id"),
      lit(1.0).as("lat"), lit(2.0).as("lon"), col("id").as("ts_ms"))
    val noUrl = intercept[Exception] {
      df.write.format("graft-http-sink").option("sourceId", 1L)
        .mode("append").save()
    }
    assert(noUrl.getMessage.contains("url"))
    val noCol = intercept[Exception] {
      df.drop("lon").write.format("graft-http-sink")
        .option("url", "http://127.0.0.1:1/u").option("sourceId", 1L)
        .mode("append").save()
    }
    assert(noCol.getMessage.contains("lon"))
    val badType = intercept[Exception] {
      df.withColumn("lat", lit("oops")).write.format("graft-http-sink")
        .option("url", "http://127.0.0.1:1/u").option("sourceId", 1L)
        .mode("append").save()
    }
    assert(badType.getMessage.contains("lat"))
  }

  /** Forces the exact window Structured Streaming replays: the epoch
    * ran to completion (data delivered, offsets durable) but the
    * checkpoint commit marker is missing — deleting `commits/0` after a
    * clean run reproduces a crash between delivery and marker write. */
  private def replayEpoch0(inDir: java.nio.file.Path, url: String,
      ckpt: String, ledgerDir: Option[String]): Unit = {
    def run(): Unit = {
      val w = spark.readStream.format("graft-vehicle-csv")
        .load(inDir.toString)
        .writeStream.format("graft-http-sink")
        .option("url", url).option("sourceId", 9L)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
      val q = ledgerDir.fold(w)(d => w.option("ledgerDir", d)).start()
      q.awaitTermination()
    }
    run()
    val marker = java.nio.file.Paths.get(ckpt, "commits", "0")
    assert(Files.exists(marker), "first run should have committed epoch 0")
    Files.delete(marker)
    // Hadoop ChecksumFs keeps a sidecar; leaving it breaks the re-commit
    Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
    run() // engine replays epoch 0 with the same id and content
    assert(Files.exists(marker), "restart should have re-committed epoch 0")
  }

  test("ledgerDir upgrades the streaming sink to effectively-once: a " +
      "replayed epoch POSTs nothing; without a ledger the same replay " +
      "re-delivers (the documented at-least-once floor)") {
    val dir = Files.createTempDirectory("graft-httpsink-replay")
    Files.write(dir.resolve("part1.csv"), csv.getBytes(StandardCharsets.UTF_8))
    // arm 1: ledger on — replay delivers nothing new
    withServer { (url, received) =>
      replayEpoch0(dir, url,
        Files.createTempDirectory("graft-replay-ck1").toString,
        Some(Files.createTempDirectory("graft-replay-led").toString))
      val msgs = received.map(ProtoEnvelope.decodeEnvelope).flatMap(_._2)
      assert(msgs.map(_.vehicleId).sorted == ArrayBuffer(42L, 42L, 43L),
        s"ledger arm re-delivered on replay: ${msgs.size} messages")
    }
    // arm 2: no ledger — the replayed epoch re-POSTs everything
    withServer { (url, received) =>
      replayEpoch0(dir, url,
        Files.createTempDirectory("graft-replay-ck2").toString, None)
      val msgs = received.map(ProtoEnvelope.decodeEnvelope).flatMap(_._2)
      assert(msgs.size == 6,
        s"at-least-once arm should double-deliver on replay, got ${msgs.size}")
    }
  }

  test("a ledger's per-epoch writer factory has one size for 1 and for " +
      "100,000 committed epochs, in both DSv2 sinks; epochs at or below " +
      "the ledger's maximum are skipped") {
    def ledgerDir(epochs: Int): String = {
      val dir = Files.createTempDirectory("graft-ledger-size").toString
      val ledger = new graft.streaming.FileBatchLedger(dir)
      (0 until epochs).foreach(e => ledger.commit(e.toLong))
      dir
    }
    def serializedSize(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(o); out.close()
      bytes.size
    }
    val idx = PingIndices(0, 1, 2, 3)
    val http = HttpSinkWriterFactory(
      new graft.streaming.HttpSink("http://127.0.0.1:1/u", 1L), idx)
    val kinesis = KinesisWriterFactory("s", 1L,
      () => new graft.streaming.InMemoryKinesis(1, "t-ledger-size"), 500, idx)
    def perEpoch(factory: org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory, dir: String) =
      new SinkStreamingWrite(SinkLabel("t", "sends"), factory, Some(dir))
        .createStreamingWriterFactory(null)
    val factories = Seq(ledgerDir(1), ledgerDir(100000)).map { dir =>
      (perEpoch(http, dir), perEpoch(kinesis, dir))
    }
    val Seq((http1, kin1), (httpMany, kinMany)) = factories
    assert(serializedSize(http1) == serializedSize(httpMany))
    assert(serializedSize(kin1) == serializedSize(kinMany))
    for (f <- Seq(httpMany, kinMany)) {
      assert(f.createWriter(0, 0L, 99999L).isInstanceOf[SkippedEpochWriter])
      assert(!f.createWriter(0, 0L, 100000L).isInstanceOf[SkippedEpochWriter])
    }
  }

  test("a ledger reloaded from a file of epochs 0..N reports N as its " +
      "high-water mark: N is committed, N+1 is not") {
    val dir = Files.createTempDirectory("graft-ledger-reload")
    val n = 41L
    // the ledger's append-only file: one committed epoch id per line
    Files.write(dir.resolve("committed_batches"),
      (0L to n).map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))
    val reloaded = new graft.streaming.FileBatchLedger(dir.toString)
    assert(reloaded.committedThrough == n)
    assert(reloaded.committed(n) && reloaded.committed(0L))
    assert(!reloaded.committed(n + 1))
    assert(new graft.streaming.FileBatchLedger(
      Files.createTempDirectory("graft-ledger-empty").toString).committedThrough == -1L)
  }
}
