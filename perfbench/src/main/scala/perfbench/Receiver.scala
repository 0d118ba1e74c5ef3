package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.streaming.ProtoEnvelope

/** Local HTTP endpoint that stands in for the reference's location
  * service. The handler only stores each POST body with its arrival time
  * and acknowledges it; decoding and checking happen in
  * [[Receiver.check]], after the timed part, so the receiver takes as
  * little CPU as possible from the pipeline it measures. At most
  * [[Receiver.Threads]] requests are served at once. A request that is
  * not a POST to `/locationUpdate` gets a 404 or 405 and is counted in
  * `non2xx`. */
final class Receiver extends AutoCloseable {
  private val pool = Executors.newFixedThreadPool(Receiver.Threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-receiver"); t.setDaemon(true); t
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val bodies = new ConcurrentLinkedQueue[(Long, Array[Byte])]
  private val inflight = new AtomicInteger
  private val maxInflight = new AtomicInteger
  private val posts = new AtomicLong
  private val bytes = new AtomicLong
  private val non2xx = new AtomicLong
  private val firstPostNs = new AtomicLong(Long.MaxValue)

  private def reject(ex: HttpExchange, code: Int): Unit = {
    non2xx.incrementAndGet()
    ex.getRequestBody.readAllBytes()
    ex.sendResponseHeaders(code, -1)
    ex.close()
  }

  server.createContext("/", (ex: HttpExchange) => reject(ex, 404))
  server.createContext("/locationUpdate", (ex: HttpExchange) =>
    if (ex.getRequestURI.getPath != "/locationUpdate") reject(ex, 404)
    else if (ex.getRequestMethod != "POST") reject(ex, 405)
    else {
      maxInflight.accumulateAndGet(inflight.incrementAndGet(), math.max)
      try {
        val body = ex.getRequestBody.readAllBytes()
        firstPostNs.accumulateAndGet(System.nanoTime(), math.min)
        bodies.add((System.currentTimeMillis(), body))
        posts.incrementAndGet()
        bytes.addAndGet(body.length.toLong)
        ex.sendResponseHeaders(200, -1)
      } finally {
        inflight.decrementAndGet()
        ex.close()
      }
    })
  server.setExecutor(pool)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/locationUpdate"

  /** Everything received since the last call, which starts a new count. */
  def take(): Receiver.Delivery = synchronized {
    val d = Receiver.Delivery(bodies.asScala.toVector, posts.get(), bytes.get(),
      maxInflight.get(), if (posts.get() == 0) 0L else firstPostNs.get(), non2xx.get())
    bodies.clear(); posts.set(0); bytes.set(0); maxInflight.set(0); non2xx.set(0)
    firstPostNs.set(Long.MaxValue)
    d
  }

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Receiver {

  val Threads = 4

  /** Bodies with their arrival time (epoch ms), and the counters. */
  final case class Delivery(bodies: Seq[(Long, Array[Byte])], posts: Long,
      bytes: Long, maxInflight: Int, firstPostNs: Long, non2xx: Long)

  /** Delivered vs expected. `wrong` counts messages that match no
    * expected row. `tsMs` and `arrivalMs` hold, per delivered message, the
    * timestamp it carries and when it arrived (epoch ms). */
  final case class Check(expected: Long, delivered: Long, missing: Long,
      duplicates: Long, wrong: Long, sourceIds: Int,
      tsMs: Array[Long], arrivalMs: Array[Long], delivery: Delivery) {
    def errors: Long = missing + duplicates + wrong
    def errorFrac: Double = errors.toDouble / math.max(1L, expected)
  }

  /** Decodes every envelope of `d` and compares the delivered multiset
    * with `expected` (one [[PingGen.rowHash]] per valid row), by sorting
    * both and merging. */
  def check(expected: Array[Long], d: Delivery): Check = {
    val rx = new LongBuf
    val ts = new LongBuf
    val arrival = new LongBuf
    val sourceIds = scala.collection.mutable.Set.empty[Long]
    d.bodies.foreach { case (at, body) =>
      val (sourceId, msgs) = ProtoEnvelope.decodeEnvelope(body)
      sourceIds += sourceId
      msgs.foreach { m =>
        m.locations.foreach { l =>
          rx += PingGen.rowHash(m.vehicleId, l.lat, l.lon, l.timestamp)
          ts += l.timestamp
          arrival += at
        }
      }
    }
    val e = expected.clone(); java.util.Arrays.sort(e)
    val r = rx.toArray; java.util.Arrays.sort(r)
    var i = 0; var j = 0
    var missing = 0L; var dups = 0L; var wrong = 0L
    while (i < e.length || j < r.length) {
      val v = if (j >= r.length || (i < e.length && e(i) <= r(j))) e(i) else r(j)
      var ne = 0; while (i < e.length && e(i) == v) { ne += 1; i += 1 }
      var nr = 0; while (j < r.length && r(j) == v) { nr += 1; j += 1 }
      if (ne == 0) wrong += nr
      else if (nr < ne) missing += ne - nr
      else dups += nr - ne
    }
    Check(e.length.toLong, r.length.toLong, missing, dups, wrong, sourceIds.size,
      ts.toArray, arrival.toArray, d)
  }
}

/** Growable array of longs. */
final class LongBuf {
  private var a = new Array[Long](1024)
  private var n = 0
  def +=(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
    a(n) = v; n += 1
  }
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
}
