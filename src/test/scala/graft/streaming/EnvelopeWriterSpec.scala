package graft.streaming

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** [[ProtoEnvelope.EnvelopeWriter]] writes the bytes of the nested
  * encoding (each location and message encoded into its own buffer, then
  * length-prefixed into its parent), which is kept here as the oracle,
  * and the HTTP sink's chunk POSTs full envelopes of it. */
class EnvelopeWriterSpec extends AnyFunSuite {

  /** The nested encoder the writer replaced, unchanged. */
  private object Nested {
    private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) {
        out.write(((v & 0x7f) | 0x80).toInt)
        v >>>= 7
      }
      out.write(v.toInt)
    }
    private def writeTag(out: ByteArrayOutputStream, field: Int, wireType: Int): Unit =
      writeVarint(out, (field.toLong << 3) | wireType)
    private def writeDouble(out: ByteArrayOutputStream, field: Int, d: Double): Unit = {
      writeTag(out, field, 1)
      val bits = java.lang.Double.doubleToLongBits(d)
      var i = 0
      while (i < 8) { out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    private def writeInt64(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
      writeTag(out, field, 0)
      writeVarint(out, v)
    }
    private def writeBytes(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
      writeTag(out, field, 2)
      writeVarint(out, b.length.toLong)
      out.write(b, 0, b.length)
    }
    def location(l: VehicleLocation): Array[Byte] = {
      val out = new ByteArrayOutputStream(32)
      writeDouble(out, 1, l.lat)
      writeDouble(out, 2, l.lon)
      writeInt64(out, 3, l.timestamp)
      out.toByteArray
    }
    def message(m: VehicleMessage): Array[Byte] = {
      val out = new ByteArrayOutputStream(64)
      writeInt64(out, 1, m.vehicleId)
      m.locations.foreach(l => writeBytes(out, 2, location(l)))
      out.toByteArray
    }
    def envelope(sourceId: Long, messages: Seq[VehicleMessage]): Array[Byte] = {
      val out = new ByteArrayOutputStream(64 * (messages.size + 1))
      writeInt64(out, 1, sourceId)
      messages.foreach(m => writeBytes(out, 2, message(m)))
      out.toByteArray
    }
  }

  private val specialDoubles = Seq(Double.NaN, -0.0, 0.0,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue,
    Double.MaxValue, -Double.MaxValue,
    java.lang.Double.longBitsToDouble(0x7ff8000000000001L)) // a non-canonical NaN
  private val specialLongs = Seq(0L, 1L, -1L, 127L, 128L, 16383L, 16384L,
    Long.MaxValue, Long.MinValue, -1423872000000L, 1423872000000L)

  private def double(rng: SplittableRandom): Double = rng.nextInt(4) match {
    case 0 => specialDoubles(rng.nextInt(specialDoubles.size))
    case 1 => java.lang.Double.longBitsToDouble(rng.nextLong())
    case _ => (rng.nextDouble() - 0.5) * 360
  }

  private def long(rng: SplittableRandom): Long = rng.nextInt(4) match {
    case 0 => specialLongs(rng.nextInt(specialLongs.size))
    case 1 => rng.nextLong()
    case 2 => rng.nextLong() >>> rng.nextInt(64) // every varint length
    case _ => rng.nextInt(100000).toLong
  }

  private def message(rng: SplittableRandom, maxLocations: Int): VehicleMessage =
    VehicleMessage(long(rng), Seq.fill(rng.nextInt(maxLocations + 1))(
      VehicleLocation(double(rng), double(rng), long(rng))))

  test("encodeEnvelope is byte-identical to the nested encoder on random " +
      "envelopes: empty, multi-location, negative ids and timestamps, " +
      "NaN, -0.0 and infinities") {
    val rng = new SplittableRandom(20150214L)
    for (round <- 0 until 2000) {
      val sid = long(rng)
      val n = if (round % 10 == 0) 0 else rng.nextInt(40)
      // up to 12 locations: messages longer than 127 bytes take a 2-byte length
      val msgs = Seq.fill(n)(message(rng, if (round % 2 == 0) 1 else 12))
      val want = Nested.envelope(sid, msgs)
      assert(ProtoEnvelope.encodeEnvelope(sid, msgs).sameElements(want),
        s"round $round: sourceId $sid, ${msgs.size} messages")
      assert(ProtoEnvelope.decodeEnvelope(want)._1 == sid)
    }
  }

  test("primitive adds equal one-location messages, a cleared writer " +
      "starts over, and a writer sized for one message grows") {
    val rng = new SplittableRandom(7L)
    val sid = -3L
    val small = new ProtoEnvelope.EnvelopeWriter(sid, 1)
    val big = new ProtoEnvelope.EnvelopeWriter(sid, 10000)
    for (round <- 0 until 50) {
      val msgs = Seq.fill(rng.nextInt(300))(VehicleMessage(long(rng),
        Seq(VehicleLocation(double(rng), double(rng), long(rng)))))
      small.clear()
      big.clear()
      msgs.foreach { m =>
        val l = m.locations.head
        small.add(m.vehicleId, l.lat, l.lon, l.timestamp)
        big.add(m)
      }
      val want = Nested.envelope(sid, msgs)
      assert(small.messages == msgs.size && small.size == want.length)
      assert(small.toByteArray.sameElements(want), s"round $round")
      val out = new ByteArrayOutputStream
      big.writeTo(out)
      assert(out.toByteArray.sameElements(want), s"round $round")
    }
  }

  test("a chunk fed 25,001 primitive adds POSTs 10,000, 10,000 and 5,001 " +
      "messages, and delivers exactly its input") {
    val received = ArrayBuffer.empty[Array[Byte]]
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/locationUpdate", (ex: HttpExchange) => {
      val body = ex.getRequestBody.readAllBytes()
      received.synchronized { received += body }
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    server.start()
    try {
      val sink = new HttpSink(
        s"http://127.0.0.1:${server.getAddress.getPort}/locationUpdate", 11L)
      val rng = new SplittableRandom(25001L)
      val input = Seq.fill(25001)((long(rng), double(rng), double(rng), long(rng)))
      val chunk = new sink.Chunk
      input.foreach { case (id, lat, lon, ts) => chunk.add(id, lat, lon, ts) }
      assert(chunk.posts == 2)
      chunk.flush()
      assert(chunk.posts == 3)
      val envelopes = received.toSeq.map(ProtoEnvelope.decodeEnvelope)
      assert(envelopes.map(_._1).forall(_ == 11L))
      assert(envelopes.map(_._2.size) == Seq(10000, 10000, 5001))
      // compare by bits: NaN != NaN as a double
      def key(id: Long, lat: Double, lon: Double, ts: Long) = (id,
        java.lang.Double.doubleToLongBits(lat), java.lang.Double.doubleToLongBits(lon), ts)
      val delivered = envelopes.flatMap(_._2).map { m =>
        assert(m.locations.size == 1)
        val l = m.locations.head
        key(m.vehicleId, l.lat, l.lon, l.timestamp)
      }
      def counts[K](xs: Seq[K]): Map[K, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)
      assert(counts(delivered) == counts(input.map((key _).tupled)))
    } finally server.stop(0)
  }
}
