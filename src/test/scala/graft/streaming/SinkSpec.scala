package graft.streaming

import java.io.IOException
import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.SparkSpec

/** HTTP sink semantics vs the reference contract (behavior of
  * opentraffic/csv-loader CsvLoader.java:196-235): batch envelope encode,
  * at-least-once retry on IOException, non-200 accepted without retry. */
class SinkSpec extends SparkSpec {

  private def withServer(status: Int)(f: (String, ArrayBuffer[Array[Byte]], AtomicInteger) => Unit): Unit = {
    val received = ArrayBuffer.empty[Array[Byte]]
    val hits = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/locationUpdate", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        hits.incrementAndGet()
        val body = ex.getRequestBody.readAllBytes()
        received.synchronized { received += body }
        ex.sendResponseHeaders(status, -1)
        ex.close()
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/locationUpdate", received, hits)
    finally server.stop(0)
  }

  private val msgs = (1 to 5).map(i =>
    VehicleMessage(i.toLong, Seq(VehicleLocation(i + 0.5, -i - 0.25, 1000L * i))))

  test("proto envelope round-trips (varint/fixed64/length-delimited)") {
    val bytes = ProtoEnvelope.encodeEnvelope(77L, msgs)
    val (sid, decoded) = ProtoEnvelope.decodeEnvelope(bytes)
    assert(sid == 77L)
    assert(decoded == msgs)
  }

  test("200 OK: one POST per batch, envelope carries sourceId + messages") {
    withServer(200) { (url, received, hits) =>
      val sink = new HttpSink(url, sourceId = 42L, batchSize = 10000)
      sink.post(msgs)
      assert(hits.get() == 1)
      val (sid, decoded) = ProtoEnvelope.decodeEnvelope(received(0))
      assert(sid == 42L && decoded == msgs)
    }
  }

  test("non-200 response: logged, treated as sent, NOT retried") {
    withServer(500) { (url, _, hits) =>
      val sink = new HttpSink(url, sourceId = 1L)
      val attempts = sink.post(msgs)
      assert(attempts == 1 && hits.get() == 1)
    }
  }

  test("IOException: bounded retry exhausts with the right error") {
    val sink = new HttpSink("http://127.0.0.1:1/locationUpdate",
      sourceId = 1L, maxRetries = 2, backoffMs = 10)
    val e = intercept[IOException](sink.post(msgs))
    assert(e.getMessage.contains("giving up after 3 attempts"))
  }

  test("IOException: retries until the endpoint recovers (at-least-once delivery)") {
    // rogue socket: accepts and slams connections shut (client IOException)
    val rogue = new java.net.ServerSocket(0, 50, java.net.InetAddress.getByName("127.0.0.1"))
    val port = rogue.getLocalPort
    val slammed = new AtomicInteger(0)
    val slammer = new Thread(() => {
      try {
        while (slammed.get() < 2) { rogue.accept().close(); slammed.incrementAndGet() }
      } catch { case _: Exception => } finally rogue.close()
    })
    slammer.start()
    val received = ArrayBuffer.empty[Array[Byte]]
    val sinkThread = new Thread(() => {
      val sink = new HttpSink(s"http://127.0.0.1:$port/locationUpdate",
        sourceId = 5L, maxRetries = 100, backoffMs = 50)
      sink.post(msgs)
    })
    // once the rogue socket has slammed 2 connections, bind the real server
    // on the same port; the sink's next retry succeeds
    val recoverer = new Thread(() => {
      slammer.join()
      // slammed sockets may sit in TIME_WAIT; retry the bind instead of
      // dying (an uncaught BindException here would masquerade as a
      // delivery failure)
      var server: HttpServer = null
      var tries = 0
      while (server == null && tries < 100) {
        try server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
        catch { case _: java.net.BindException => tries += 1; Thread.sleep(100) }
      }
      server.createContext("/locationUpdate", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          received.synchronized { received += ex.getRequestBody.readAllBytes() }
          ex.sendResponseHeaders(200, -1); ex.close()
        }
      })
      server.start()
      sinkThread.join()
      server.stop(0)
    })
    recoverer.start()
    sinkThread.start()
    sinkThread.join(30000)
    recoverer.join(30000)
    assert(slammed.get() >= 2, "rogue socket never exercised the failure path")
    assert(received.size == 1, "batch not delivered after recovery")
    val (sid, decoded) = ProtoEnvelope.decodeEnvelope(received(0))
    assert(sid == 5L && decoded == msgs)
  }

  test("kinesis sink: per-vehicle shard affinity and PutRecords batching") {
    val kin = new InMemoryKinesis(numShards = 4, name = "t-affinity")
    val sink = new KinesisSink("vehicles", kin, maxBatch = 500)
    val many = (1 to 1200).map(i =>
      VehicleMessage(i.toLong % 37, Seq(VehicleLocation(1, 2, i.toLong))))
    sink.sendMessages(sourceId = 9L, many)
    // API limit honored: 1200 records → calls of 500/500/200
    assert(kin.callSizes == Seq(500, 500, 200))
    assert(kin.records.size == 1200)
    // one vehicle never straddles shards (ordering guarantee), and the
    // key space actually spreads over >1 shard (routing isn't degenerate)
    val shardsPerKey = kin.records.groupBy(_._2.partitionKey)
      .view.mapValues(_.map(_._1).distinct.size)
    assert(shardsPerKey.values.forall(_ == 1), "a vehicle straddled shards")
    assert(kin.records.map(_._1).distinct.size > 1, "all records on one shard")
    // each record decodes independently with the envelope source id
    val (sid, decoded) = ProtoEnvelope.decodeEnvelope(kin.records.head._2.data)
    assert(sid == 9L && decoded.size == 1)
  }

  test("kinesis sink: partial failure resubmits only the failed records") {
    val kin = new InMemoryKinesis(numShards = 2, name = "t-partial")
    val failedOnce = scala.collection.mutable.Set.empty[String]
    // vehicle 7's records fail on first sight, succeed on resubmit
    kin.setFailNext(r =>
      r.partitionKey == "7" && failedOnce.synchronized(failedOnce.add(r.data.toSeq.toString)))
    val sink = new KinesisSink("vehicles", kin, maxBatch = 500, backoffMs = 1)
    val batch = (1 to 50).map(i =>
      VehicleMessage(i.toLong % 10, Seq(VehicleLocation(0, 0, i.toLong))))
    sink.sendMessages(sourceId = 3L, batch)
    // all 50 records delivered exactly once despite the injected failures…
    assert(kin.records.size == 50)
    // …via one full call + one resubmit round carrying ONLY the 5 failures
    assert(kin.callSizes == Seq(50, 5))
  }

  test("kinesis sink: any recoverable failure pattern delivers all records, " +
      "per-shard order preserved for first-attempt records (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // deterministic sampling from a fixed seed (house pattern — see
    // ExpressionsSpec): each trial draws a record count, a shard count, a
    // batch cap, and a per-record failure count strictly below maxRetries,
    // i.e. any *recoverable* injection pattern
    val maxRetries = 5
    val trialGen = for {
      n      <- Gen.chooseNum(1, 700) // >500 exercises PutRecords chunking
      shards <- Gen.chooseNum(1, 8)
      batch  <- Gen.chooseNum(1, 500)
      fails  <- Gen.listOfN(n, Gen.frequency(
        (5, Gen.const(0)), (2, Gen.chooseNum(1, maxRetries - 1))))
    } yield (n, shards, batch, fails)
    for (trial <- 0 until 12) {
      val (n, shards, batch, fails) =
        trialGen.apply(Gen.Parameters.default, Seed(7000L + trial)).get
      val name = s"t-prop-$trial"
      InMemoryKinesis.reset(name)
      val kin = new InMemoryKinesis(numShards = shards, name = name)
      // record i carries payload [i]; remaining(i) injected failures
      val remaining = fails.map(new java.util.concurrent.atomic.AtomicInteger(_))
      kin.setFailNext { r =>
        val i = java.nio.ByteBuffer.wrap(r.data).getInt
        remaining(i).getAndDecrement() > 0
      }
      val sink = new KinesisSink("vehicles", kin,
        maxBatch = batch, maxRetries = maxRetries, backoffMs = 0)
      val records = (0 until n).map(i => KinesisRecord(
        partitionKey = (i % (shards * 3)).toString,
        data = java.nio.ByteBuffer.allocate(4).putInt(i).array()))
      sink.putAll(records)

      val stored = kin.records
      val storedIdx = stored.map(r => java.nio.ByteBuffer.wrap(r._2.data).getInt)
      // at-least-once: every record delivered (transport stores only
      // accepted records, so here delivery is also exactly-once)
      assert(storedIdx.sorted == (0 until n),
        s"trial $trial: delivered ${storedIdx.size}/$n")
      // API limit: no call exceeds maxBatch
      assert(kin.callSizes.forall(_ <= batch), s"trial $trial: oversize call")
      // resubmit rounds carry exactly the prior round's failures: total
      // records-on-the-wire = n + Σ injected failures
      assert(kin.callSizes.sum == n + fails.sum,
        s"trial $trial: wire count ${kin.callSizes.sum} != ${n + fails.sum}")
      // per-shard order: records that never failed are appended in their
      // chunk's round 0 and chunks run sequentially, so per shard their
      // stored subsequence must be in original send order (the resubmit
      // loop may legitimately reorder *failed* records after later
      // successes — Kinesis's documented retry semantics)
      for (shard <- 0 until shards) {
        val firstTry = stored.collect {
          case (s, r) if s == shard &&
            fails(java.nio.ByteBuffer.wrap(r.data).getInt) == 0 =>
            java.nio.ByteBuffer.wrap(r.data).getInt
        }
        assert(firstTry == firstTry.sorted,
          s"trial $trial shard $shard: first-attempt order violated")
      }
      InMemoryKinesis.reset(name)
    }
  }

  test("kinesis sink: gives up after maxRetries resubmit rounds") {
    val kin = new InMemoryKinesis(numShards = 2, name = "t-giveup")
    kin.setFailNext(_.partitionKey == "1")
    val sink = new KinesisSink("vehicles", kin, maxRetries = 2, backoffMs = 1)
    val ex = intercept[IOException] {
      sink.sendMessages(sourceId = 1L,
        Seq(VehicleMessage(1L, Seq(VehicleLocation(0, 0, 1L)))))
    }
    assert(ex.getMessage.contains("still failing"))
    assert(kin.callSizes.size == 3) // initial + 2 resubmit rounds
  }
}
