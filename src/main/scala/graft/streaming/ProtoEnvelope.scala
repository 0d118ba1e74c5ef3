package graft.streaming

/** Hand-rolled protobuf wire-format encoder for the two-message envelope
  * (shape from opentraffic/csv-loader CsvLoader.java:150-156, 206-211; the
  * reference delegates to a generated `ExchangeFormat` class — we mirror
  * the schema clean-room with our own field numbering, documented here):
  *
  * ```proto
  * message VehicleLocation { double lat = 1; double lon = 2; int64 timestamp = 3; }
  * message VehicleMessage  { int64 vehicleId = 1; repeated VehicleLocation locations = 2; }
  * message VehicleMessageEnvelope { int64 sourceId = 1; repeated VehicleMessage messages = 2; }
  * ```
  *
  * Zero dependencies (the container has no protobuf-java / spark-protobuf
  * descriptor tooling); the wire format of varint + fixed64 + length-
  * delimited fields is public protobuf spec. Every field is written, in
  * field order, defaults included.
  *
  * Encoding goes through one [[EnvelopeWriter]] per envelope: it appends
  * each message to a single growable byte array, computing the nested
  * length prefixes from the field values instead of buffering the inner
  * messages, so a message costs no temporary arrays. The HTTP sink's
  * chunk keeps one writer per task and POSTs straight from its buffer;
  * [[encodeEnvelope]] is a thin wrapper over it. The bytes are those of
  * the nested encoding (each message and location encoded on its own,
  * then length-prefixed into its parent), which `EnvelopeWriterSpec`
  * keeps as its oracle and compares byte for byte.
  */
object ProtoEnvelope {

  /** Most bytes one single-location message adds to an envelope: tag,
    * length and body, with 10-byte varints for a negative id and
    * timestamp. */
  private final val MaxSingleMessageBytes = 44

  /** Bytes of `v` as a protobuf varint (a negative value takes 10). */
  private def varintSize(v: Long): Int =
    (63 - java.lang.Long.numberOfLeadingZeros(v | 1L)) / 7 + 1

  /** Body length of one `VehicleLocation`: two fixed64 fields and a varint
    * field, each behind a one-byte tag. */
  private def locationSize(timestamp: Long): Int = 19 + varintSize(timestamp)

  /** Appends envelopes to one growable, unsynchronized byte array. The
    * envelope header (`sourceId`) is written once; each `add` appends one
    * `messages` entry. The first buffer holds `expectedMessages`
    * single-location messages without growing, so a one-message envelope
    * gets a 55-byte array and a 10,000-message chunk never grows. Not
    * thread-safe. */
  final class EnvelopeWriter(sourceId: Long, expectedMessages: Int) {
    private var buf = new Array[Byte](
      11 + MaxSingleMessageBytes * math.max(expectedMessages, 1))
    private var pos = 0
    private var count = 0
    // header: sourceId = 1 (varint)
    putByte(0x08)
    putVarint(sourceId)
    private val headerBytes = pos

    /** Messages appended since construction or the last [[clear]]. */
    def messages: Int = count

    /** Encoded length of the envelope so far. */
    def size: Int = pos

    /** Append `VehicleMessage{vehicleId, [VehicleLocation{lat, lon, ts}]}`,
      * the reference's one-location message per record. */
    def add(vehicleId: Long, lat: Double, lon: Double, timestamp: Long): Unit = {
      val loc = locationSize(timestamp)
      val msg = 1 + varintSize(vehicleId) + 2 + loc
      ensure(MaxSingleMessageBytes)
      putByte(0x12) // messages = 2 (length-delimited)
      putVarint(msg)
      putByte(0x08) // vehicleId = 1 (varint)
      putVarint(vehicleId)
      putLocation(loc, lat, lon, timestamp)
      count += 1
    }

    /** Append a message with any number of locations. */
    def add(m: VehicleMessage): Unit = {
      var msg = 1 + varintSize(m.vehicleId)
      m.locations.foreach { l =>
        val loc = locationSize(l.timestamp)
        msg += 1 + varintSize(loc) + loc
      }
      ensure(1 + varintSize(msg) + msg)
      putByte(0x12)
      putVarint(msg)
      putByte(0x08)
      putVarint(m.vehicleId)
      m.locations.foreach(l => putLocation(locationSize(l.timestamp), l.lat, l.lon, l.timestamp))
      count += 1
    }

    /** The envelope so far, as a new array. */
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, pos)

    /** Write the envelope so far to `out`, with no copy. */
    def writeTo(out: java.io.OutputStream): Unit = out.write(buf, 0, pos)

    /** Drop every message, keep the header and the buffer. */
    def clear(): Unit = {
      pos = headerBytes
      count = 0
    }

    private def putLocation(loc: Int, lat: Double, lon: Double, timestamp: Long): Unit = {
      putByte(0x12) // locations = 2 (length-delimited); loc < 128
      putByte(loc)
      putByte(0x09) // lat = 1 (fixed64)
      putFixed64(java.lang.Double.doubleToLongBits(lat))
      putByte(0x11) // lon = 2 (fixed64)
      putFixed64(java.lang.Double.doubleToLongBits(lon))
      putByte(0x18) // timestamp = 3 (varint)
      putVarint(timestamp)
    }

    private def ensure(more: Int): Unit =
      if (buf.length - pos < more)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + more))

    private def putByte(b: Int): Unit = { buf(pos) = b.toByte; pos += 1 }

    private def putVarint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) {
        buf(pos) = ((v & 0x7f) | 0x80).toByte
        pos += 1
        v >>>= 7
      }
      buf(pos) = v.toByte
      pos += 1
    }

    private def putFixed64(bits: Long): Unit = {
      var i = 0
      while (i < 8) { buf(pos + i) = (bits >>> (8 * i)).toByte; i += 1 }
      pos += 8
    }
  }

  /** `VehicleMessageEnvelope{sourceId, messages}` → wire bytes. */
  def encodeEnvelope(sourceId: Long, messages: Seq[VehicleMessage]): Array[Byte] = {
    val w = new EnvelopeWriter(sourceId, messages.size)
    messages.foreach(w.add)
    w.toByteArray
  }

  // ---- minimal decoder (tests + receiver stubs) ----

  final case class Reader(buf: Array[Byte], var pos: Int = 0) {
    def hasMore: Boolean = pos < buf.length
    def readVarint(): Long = {
      var shift = 0; var result = 0L
      var b = 0
      do {
        b = buf(pos) & 0xff; pos += 1
        result |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }
    def readDouble(): Double = {
      var bits = 0L
      var i = 0
      while (i < 8) { bits |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8
      java.lang.Double.longBitsToDouble(bits)
    }
    def readBytes(): Array[Byte] = {
      val len = readVarint().toInt
      val b = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len
      b
    }
  }

  def decodeEnvelope(bytes: Array[Byte]): (Long, Seq[VehicleMessage]) = {
    val r = Reader(bytes)
    var sourceId = 0L
    val msgs = Seq.newBuilder[VehicleMessage]
    while (r.hasMore) {
      val tag = r.readVarint()
      (tag >> 3).toInt match {
        case 1 => sourceId = r.readVarint()
        case 2 => msgs += decodeMessage(r.readBytes())
        case _ => throw new IllegalArgumentException(s"unknown field ${tag >> 3}")
      }
    }
    (sourceId, msgs.result())
  }

  private def decodeMessage(bytes: Array[Byte]): VehicleMessage = {
    val r = Reader(bytes)
    var vid = 0L
    val locs = Seq.newBuilder[VehicleLocation]
    while (r.hasMore) {
      val tag = r.readVarint()
      (tag >> 3).toInt match {
        case 1 => vid = r.readVarint()
        case 2 => locs += decodeLocation(r.readBytes())
        case _ => throw new IllegalArgumentException(s"unknown field ${tag >> 3}")
      }
    }
    VehicleMessage(vid, locs.result())
  }

  private def decodeLocation(bytes: Array[Byte]): VehicleLocation = {
    val r = Reader(bytes)
    var lat = 0.0; var lon = 0.0; var ts = 0L
    while (r.hasMore) {
      val tag = r.readVarint()
      (tag >> 3).toInt match {
        case 1 => lat = r.readDouble()
        case 2 => lon = r.readDouble()
        case 3 => ts = r.readVarint()
        case _ => throw new IllegalArgumentException(s"unknown field ${tag >> 3}")
      }
    }
    VehicleLocation(lat, lon, ts)
  }
}
