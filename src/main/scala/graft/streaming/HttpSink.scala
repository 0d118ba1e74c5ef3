package graft.streaming

import java.io.IOException
import java.net.{HttpURLConnection, URI}

import org.apache.spark.internal.Logging
import org.apache.spark.sql.Dataset

/** Batched, retrying HTTP POST sink with the reference's delivery contract
  * (behavior of opentraffic/csv-loader CsvLoader.java:160-166, 196-235):
  *
  *  - messages are chunked into batches of `batchSize` (reference flushes
  *    at >10,000, CsvLoader.java:160) and each batch is POSTed as one
  *    protobuf `VehicleMessageEnvelope`;
  *  - network error (`IOException`) → sleep `backoffMs`, retry the same
  *    batch (reference: infinite 5 s retry, CsvLoader.java:226-233;
  *    `maxRetries` makes that bound testable) ⇒ at-least-once, duplicates
  *    possible on retry after a received-but-unacked POST;
  *  - non-2xx HTTP status → logged and treated as SENT, not retried
  *    (CsvLoader.java:217-218, 224) — idempotency is the receiver's job.
  *
  * One connection per POST via the JDK client (the reference builds a new
  * pooled client per attempt, CsvLoader.java:202-204 — effectively the
  * same). Runs inside executors via `foreachPartition`/`foreachBatch`;
  * the driver never sees message data.
  */
class HttpSink(
    url: String,
    sourceId: Long,
    val batchSize: Int = 10000,
    maxRetries: Int = Int.MaxValue,
    backoffMs: Long = 5000,
    connectTimeoutMs: Int = 10000) extends Serializable with Logging {

  /** POST one envelope; retries on IOException per the contract above.
    * Returns the number of attempts made; throws after maxRetries. */
  def post(messages: Seq[VehicleMessage]): Int = {
    val w = new ProtoEnvelope.EnvelopeWriter(sourceId, messages.size)
    messages.foreach(w.add)
    post(w)
  }

  /** POST the envelope `w` holds, straight from its buffer. Each
    * attempt's connection is released before the next one starts. */
  private def post(w: ProtoEnvelope.EnvelopeWriter): Int = {
    var attempts = 0
    var sent = false
    while (!sent) {
      attempts += 1
      var conn: HttpURLConnection = null
      val failure: IOException = try {
        conn = URI.create(url).toURL.openConnection()
          .asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.setConnectTimeout(connectTimeoutMs)
        conn.setReadTimeout(connectTimeoutMs)
        conn.setRequestProperty("Content-Type", "application/octet-stream")
        conn.setFixedLengthStreamingMode(w.size)
        val os = conn.getOutputStream
        try { w.writeTo(os); os.flush() } finally os.close()
        val code = conn.getResponseCode
        if (code < 200 || code >= 300) {
          // reference semantics: log, do NOT retry, count as sent
          logWarning(s"HTTP $code from $url for batch of ${w.messages}; not retried")
        }
        null
      } catch {
        case e: IOException => e
      } finally {
        if (conn != null) conn.disconnect()
      }
      if (failure == null) sent = true
      else {
        if (attempts > maxRetries)
          throw new IOException(
            s"giving up after $attempts attempts posting to $url", failure)
        logWarning(s"POST to $url failed (${failure.getMessage}); retrying in ${backoffMs}ms")
        Thread.sleep(backoffMs)
      }
    }
    attempts
  }

  /** Sink a (batch) Dataset: per partition, [[postThrough]] drained. */
  def write(ds: Dataset[VehicleMessage]): Unit = {
    val sink = this
    ds.foreachPartition { (it: Iterator[VehicleMessage]) =>
      sink.postThrough(it)(_ add _).foreach(_ => ())
    }
  }

  /** Deliver `rows` as they stream past and yield them unchanged: `add`
    * puts each row's message into the current chunk, a full chunk of
    * `batchSize` is POSTed before the next row is pulled
    * (CsvLoader.java:160-166), and the partial tail is POSTed when `rows`
    * runs out (CsvLoader.java:169). Memory holds one chunk; a consumer
    * that stops early leaves the tail unsent. */
  def postThrough[T](rows: Iterator[T])(add: (Chunk, T) => Unit): Iterator[T] =
    new Iterator[T] {
      private val chunk = new Chunk
      override def hasNext: Boolean = rows.hasNext || { chunk.flush(); false }
      override def next(): T = {
        val r = rows.next()
        add(chunk, r)
        r
      }
    }

  /** The chunk-and-POST loop over one reused [[ProtoEnvelope.EnvelopeWriter]]:
    * `add` encodes the message into the chunk's envelope and POSTs it once
    * it holds `batchSize` messages, `flush` POSTs what is left. */
  final class Chunk {
    private val envelope = new ProtoEnvelope.EnvelopeWriter(sourceId, batchSize)
    private var sent = 0L
    /** Envelopes POSTed so far. */
    def posts: Long = sent
    /** Add the one-location message of one record. */
    def add(vehicleId: Long, lat: Double, lon: Double, timestamp: Long): Unit = {
      envelope.add(vehicleId, lat, lon, timestamp)
      if (envelope.messages >= batchSize) flush()
    }
    def add(m: VehicleMessage): Unit = {
      envelope.add(m)
      if (envelope.messages >= batchSize) flush()
    }
    def flush(): Unit = if (envelope.messages > 0) {
      post(envelope)
      sent += 1
      envelope.clear()
    }
    /** Drop the unsent tail. */
    def clear(): Unit = envelope.clear()
  }
}
