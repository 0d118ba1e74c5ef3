package perfbench

import java.io.{BufferedOutputStream, OutputStream}
import java.math.BigInteger
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Seeded vehicle-ping CSV generator with the outputs the loader must
  * produce. Every row is one of a fixed set of kinds, drawn with fixed
  * shares (per mille, [[Shares]]):
  *
  *  - valid narrow rows `(ts, vid, lat, lon)` in each of the three
  *    accepted timestamp formats (zoned `+05`, zoneless UTC, ISO `Z`),
  *    every one with a fractional-seconds run of 1 to 6 digits;
  *  - valid wide taxi rows (12 columns; lat/lon read from columns 9/10);
  *  - valid rows whose id is at least 2^63 and wraps to its low 64 bits,
  *    and rows whose id is 2^64 + k, an alias of the plain id k, so the
  *    loader's two distinct counts differ;
  *  - malformed rows, one kind per drop reason: arity (3 columns, or 10
  *    columns with no column 10), lat, lon, timestamp and id.
  *
  * The expected values are computed here from the values the generator
  * chose, not by calling the loader's parsers. The one deliberate echo
  * of the loader is the fraction arithmetic the reference defines,
  * `(long)(parseDouble("0.fff") * 1000)` milliseconds. */
object PingGen {

  /** Row kinds and their shares per 1000 rows. */
  val Shares: Seq[(String, Int)] = Seq(
    "zoned" -> 280, "zoneless" -> 200, "iso" -> 200, "wide" -> 100,
    "wrap_id" -> 60, "alias_id" -> 40,
    "bad_arity" -> 20, "bad_wide_arity" -> 10, "bad_lat" -> 20,
    "bad_lon" -> 10, "bad_ts" -> 20, "bad_id" -> 40)
  require(Shares.map(_._2).sum == 1000)

  /** Drop reason of each malformed kind. */
  val DropReason: Map[String, String] = Map(
    "bad_arity" -> "arity", "bad_wide_arity" -> "arity",
    "bad_lat" -> "latlon", "bad_lon" -> "latlon",
    "bad_ts" -> "timestamp", "bad_id" -> "id")

  private val kindOf: Array[String] =
    Shares.flatMap { case (k, n) => Seq.fill(n)(k) }.toArray

  private val Two63 = BigInteger.ONE.shiftLeft(63)
  private val Two64 = BigInteger.ONE.shiftLeft(64)
  private val Vehicles = 5000
  private val BaseEpochSec = 1423872000L // 2015-02-14T00:00:00Z
  private val SpanSec = 30L * 24 * 3600
  private val Dt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Plus5 = ZoneOffset.ofHours(5)

  /** Order-insensitive identity of one delivered message. */
  def rowHash(vid: Long, lat: Double, lon: Double, ts: Long): Long = {
    var h = mix(vid ^ 0x9e3779b97f4a7c15L)
    h = mix(h ^ java.lang.Double.doubleToLongBits(lat))
    h = mix(h ^ java.lang.Double.doubleToLongBits(lon))
    mix(h ^ ts)
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def fracMs(frac: String): Long =
    (java.lang.Double.parseDouble("0." + frac) * 1000).toLong
  private def stampFrac(ms: Long): String = f"${Math.floorMod(ms, 1000L)}%03d"

  /** The timestamp the loader returns for a row stamped with `ms`. */
  def stampValue(ms: Long): Long = Math.floorDiv(ms, 1000L) * 1000 + fracMs(stampFrac(ms))

  /** What the loader must return for a generated input. `hashes` holds
    * one [[rowHash]] per valid row (a multiset, unsorted). */
  final class Expect {
    private val hs = new LongBuf
    var valid = 0L
    var lines = 0L
    var digest = 0L
    val dropped = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    private val idStrings = new java.util.HashSet[String]
    private val ids = new java.util.HashSet[java.lang.Long]

    def addValid(idStr: String, vid: Long, lat: Double, lon: Double, ts: Long): Unit = {
      val h = rowHash(vid, lat, lon, ts)
      hs += h
      valid += 1
      digest += h
      idStrings.add(idStr)
      ids.add(vid)
    }
    def addDropped(reason: String): Unit = dropped(reason) += 1
    def droppedTotal: Long = dropped.values.sum
    def uniqueVehicles: Long = idStrings.size.toLong
    def uniqueIds: Long = ids.size.toLong
    def hashes: Array[Long] = hs.toArray

    def merge(o: Expect): Unit = {
      o.hashes.foreach(hs += _)
      valid += o.valid
      lines += o.lines
      digest += o.digest
      o.dropped.foreach { case (k, v) => dropped(k) += v }
      idStrings.addAll(o.idStrings)
      ids.addAll(o.ids)
    }
  }

  /** Writes `rows` lines drawn from `rng` to `out`. With `stampMs`, every
    * row's timestamp is that instant (the streaming workload stamps each
    * file's creation time); otherwise timestamps are random. */
  def writeRows(out: OutputStream, rows: Int, rng: SplittableRandom,
      expect: Expect, stampMs: Option[Long] = None): Unit = {
    val sb = new java.lang.StringBuilder(128)
    var i = 0
    while (i < rows) {
      sb.setLength(0)
      row(sb, rng, expect, stampMs)
      sb.append('\n')
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
      expect.lines += 1
      i += 1
    }
  }

  /** One file, written under a hidden name and renamed into place, so a
    * directory watcher never sees a partial file. */
  def writeFile(path: Path, rows: Int, rng: SplittableRandom, expect: Expect,
      gzip: Boolean, stampMs: Option[Long] = None): Unit = {
    val tmp = path.resolveSibling("." + path.getFileName + ".tmp")
    val raw = Files.newOutputStream(tmp)
    val out = new BufferedOutputStream(
      if (gzip) new GZIPOutputStream(raw, 1 << 16) else raw, 1 << 16)
    try writeRows(out, rows, rng, expect, stampMs) finally out.close()
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
  }

  private def row(sb: java.lang.StringBuilder, rng: SplittableRandom,
      e: Expect, stampMs: Option[Long]): Unit = {
    val kind = kindOf(rng.nextInt(1000))
    val k = rng.nextInt(Vehicles)
    // plain decimal text (never exponent form), parsed back for the value
    val latStr = java.math.BigDecimal.valueOf(rng.nextInt(1800000) - 900000L, 4).toPlainString
    val lonStr = java.math.BigDecimal.valueOf(rng.nextInt(3600000) - 1800000L, 4).toPlainString
    val lat = java.lang.Double.parseDouble(latStr)
    val lon = java.lang.Double.parseDouble(lonStr)
    val (sec, frac) = stampMs match {
      case Some(ms) => (Math.floorDiv(ms, 1000L), stampFrac(ms))
      case None =>
        val digits = 1 + rng.nextInt(6)
        val f = (0 until digits).map(_ => ('0' + rng.nextInt(10)).toChar).mkString
        (BaseEpochSec + (rng.nextLong() & Long.MaxValue) % SpanSec, f)
    }
    val tsMs = sec * 1000 + fracMs(frac)
    val inst = Instant.ofEpochSecond(sec)
    def zoned: String = Dt.format(inst.atOffset(Plus5)) + "." + frac + "+05"
    val ts = kind match {
      case "zoneless" => Dt.format(inst.atOffset(ZoneOffset.UTC)) + "." + frac
      case "iso" =>
        Dt.format(inst.atOffset(ZoneOffset.UTC)).replace(' ', 'T') + "." + frac + "Z"
      case _ => zoned
    }
    val idStr = kind match {
      case "wrap_id"  => Two63.add(BigInteger.valueOf(k.toLong)).toString
      case "alias_id" => Two64.add(BigInteger.valueOf(k.toLong)).toString
      case _          => k.toString
    }
    def narrow(t: String, id: String, la: String, lo: String): Unit =
      sb.append(t).append(',').append(id).append(',').append(la).append(',').append(lo)
    def wide(cols: Int): Unit = {
      sb.append(ts).append(',').append(idStr)
      var c = 2
      while (c < cols) {
        sb.append(',')
        if (c == 9) sb.append(latStr) else if (c == 10) sb.append(lonStr)
        else sb.append("x").append(c)
        c += 1
      }
    }
    kind match {
      case "wide"           => wide(12)
      case "bad_wide_arity" => wide(10)
      case "bad_arity" =>
        sb.append(ts).append(',').append(idStr).append(',').append(latStr)
      case "bad_lat" => narrow(ts, idStr, "n/a", lonStr)
      case "bad_lon" => narrow(ts, idStr, latStr, "abc")
      case "bad_ts"  => narrow("not-a-time", idStr, latStr, lonStr)
      case "bad_id"  => narrow(ts, "v" + k, latStr, lonStr)
      case _         => narrow(ts, idStr, latStr, lonStr)
    }
    DropReason.get(kind) match {
      case Some(reason) => e.addDropped(reason)
      case None =>
        e.addValid(idStr, new BigInteger(idStr).longValue(), lat, lon, tsMs)
    }
  }
}
