package perfbench

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{HttpSink, VehicleLocation, VehicleMessage}

class ReceiverSpec extends AnyFunSuite {

  private val rng = new SplittableRandom(5L)
  private val msgs = Seq.fill(1000)(VehicleMessage(rng.nextLong(),
    Seq(VehicleLocation(rng.nextDouble(), rng.nextDouble(), rng.nextLong()))))
  private val expected = msgs.map { m =>
    val l = m.locations.head
    PingGen.rowHash(m.vehicleId, l.lat, l.lon, l.timestamp)
  }.toArray
  private val envelopes = msgs.grouped(100).toSeq

  private def deliver(batches: Seq[Seq[VehicleMessage]]): Receiver.Check = {
    val rx = new Receiver
    try {
      val sink = new HttpSink(rx.url, 7L)
      batches.foreach(sink.post)
      Receiver.check(expected, rx.take())
    } finally rx.close()
  }

  test("a complete delivery has no errors") {
    val c = deliver(envelopes)
    assert(c.delivered == 1000 && c.errors == 0 && c.errorFrac == 0.0)
    assert(c.sourceIds == 1 && c.delivery.posts == 10)
  }

  test("a lost and a duplicated envelope give error_frac > 0") {
    val c = deliver(envelopes.patch(3, Nil, 1) :+ envelopes(5))
    assert(c.missing == 100)
    assert(c.duplicates == 100)
    assert(c.wrong == 0)
    assert(c.errorFrac > 0)
  }

  test("a changed message counts as wrong and its original as missing") {
    val m = msgs.head
    val bad = m.copy(locations = Seq(m.locations.head.copy(lat = m.locations.head.lat + 1)))
    val c = deliver((bad +: msgs.tail).grouped(100).toSeq)
    assert(c.wrong == 1 && c.missing == 1 && c.errorFrac > 0)
  }

  test("a request that is not a POST to /locationUpdate counts as non-2xx") {
    val rx = new Receiver
    try {
      def send(path: String, method: String): Int = {
        val c = new java.net.URL(rx.url.replace("/locationUpdate", path))
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod(method)
        try c.getResponseCode finally c.disconnect()
      }
      assert(send("/locationUpdate", "GET") == 405)
      assert(send("/elsewhere", "POST") == 404)
      val d = rx.take()
      assert(d.non2xx == 2 && d.posts == 0)
    } finally rx.close()
  }
}
