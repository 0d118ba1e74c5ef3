package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Unit + property tests for the custom Catalyst expressions (SURVEY.md
  * §2.7 F-TS/F1, §2.9). Reference-format cases mirror
  * opentraffic/csv-loader CsvLoader.java:237-273 semantics. Property
  * checks sample ScalaCheck generators from a fixed seed (the
  * scalatestplus bridge isn't in the offline cache). */
class ExpressionsSpec extends SparkSpec {

  /** Deterministic generator sampling (fixed seed, n cases). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  import spark.implicits._

  private def parse(s: String): Option[Long] = {
    val r = Seq(s).toDF("s")
      .select(ParseFlexTimestamp(col("s")).as("ms"))
      .collect()(0)
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  test("flex timestamp: zoned yyyy-MM-dd HH:mm:ssX") {
    // 2015-02-14 23:51:40+05 == 18:51:40 UTC
    assert(parse("2015-02-14 23:51:40+05").contains(1423939900000L))
  }

  test("flex timestamp: bare yyyy-MM-dd HH:mm:ss is UTC") {
    assert(parse("2015-02-14 18:51:40").contains(1423939900000L))
  }

  test("flex timestamp: ISO-8601 with T and Z") {
    assert(parse("2015-02-14T18:51:40Z").contains(1423939900000L))
  }

  test("flex timestamp: fraction snipped and re-added as millis") {
    assert(parse("2015-02-14 18:51:40.5").contains(1423939900500L))
    assert(parse("2015-02-14 23:51:40.5+05").contains(1423939900500L))
    assert(parse("2015-02-14T18:51:40.250Z").contains(1423939900250L))
  }

  test("flex timestamp: fraction re-add is bit-identical Java double math") {
    // contract: millis = (long)(Double.parseDouble("0"+frac) * 1000) — the
    // reference's exact arithmetic incl. any IEEE-754 truncation
    val base = 1423939900000L
    for (frac <- Seq(".29", ".57", ".111", ".9999999999999999")) {
      val expected = base + (java.lang.Double.parseDouble("0" + frac) * 1000).toLong
      assert(parse(s"2015-02-14 18:51:40$frac").contains(expected), s"frac=$frac")
    }
  }

  test("flex timestamp: garbage → null; lenient field rollover accepted") {
    assert(parse("garbage-timestamp").isEmpty)
    assert(parse("").isEmpty)
    assert(parse("14/02/2015").isEmpty)
    // SimpleDateFormat leniency (reference default): out-of-range fields
    // roll over rather than fail — kept for behavioral fidelity
    assert(parse("2015-99-99 99:99:99").isDefined)
  }

  test("flex timestamp: property — fast path equals the format cascade") {
    val years = Seq("1582", "1583", "1599", "1600", "1900", "1970", "2000",
      "2015", "2016", "2100", "9999", "0001", "015", "20155")
    val months = Seq("01", "02", "06", "11", "12", "00", "13", "99", "2")
    val days = Seq("01", "14", "28", "29", "30", "31", "00", "32", "99", "7")
    val hours = Seq("00", "09", "18", "23", "24", "99", "5")
    val minsecs = Seq("00", "07", "51", "59", "60", "99")
    val seps = Seq(" ", "T", "  ", "t", "_")
    val fracs = Seq("", ".5", ".29", ".57", ".05", ".123", ".999", ".1234",
      ".000001", ".123456", ".999999", ".1000005", ".987654321", ".1234567891",
      ".9999999999999999", ".", ".x")
    val zones = Seq("", "Z", "+05", "-05", "+00", "-00", "+23", "+24", "+5",
      "+0530", "+05:30", "-0800", "-08:00", "z", "UTC", "+5Z")
    val pads = Seq("", " ", "\t", " \n")
    val junk = Seq("", "x", "0", " 1", "Z")
    val rng = new scala.util.Random(20150214L)
    def pick(xs: Seq[String]): String = xs(rng.nextInt(xs.size))
    def ts(y: String, mo: String, d: String, h: String, mi: String, s: String,
        sep: String, frac: String, zone: String): String =
      s"$y-$mo-$d$sep$h:$mi:$s$frac$zone"
    // every accepted shape (each separator and suffix, with fractions)
    val shapes = for {
      sep <- Seq(" ", "T"); frac <- fracs; zone <- zones
    } yield ts("2015", "02", "14", "18", "51", "40", sep, frac, zone)
    // calendar edges: leap days, month ends, the Gregorian cutover years
    val edges = for {
      y <- years; mo <- Seq("02", "04", "12"); d <- Seq("28", "29", "30", "31")
      sep <- Seq(" ", "T"); zone <- Seq("", "Z", "-05")
    } yield ts(y, mo, d, "23", "59", "59", sep, "", zone)
    val fuzz = Seq.fill(20000) {
      pick(pads) + ts(pick(years), pick(months), pick(days), pick(hours),
        pick(minsecs), pick(minsecs), pick(seps), pick(fracs), pick(zones)) +
        pick(junk) + pick(pads)
    }
    val inputs = shapes ++ edges ++ fuzz
    var parsed = 0
    for (s <- inputs) {
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      val fast = FlexTimestamp.parseToMillis(u)
      assert(fast == FlexTimestamp.parseToMillisCascade(u), s"input '$s'")
      if (fast != null) parsed += 1
    }
    // the property is not vacuous: many inputs parse, many do not
    assert(parsed > inputs.size / 10 && parsed < inputs.size * 9 / 10,
      s"$parsed of ${inputs.size} parsed")
  }

  test("flex timestamp: property — arbitrary strings never throw") {
    val strs = samples(Gen.asciiPrintableStr, 50) ++
      Seq(".", "+", "Z", "...", "2015-02-14.", ".5+Z", "2015-02-14 18:51:40.")
    import spark.implicits._
    // run through the full expression path in one pass (exercises codegen)
    strs.toDF("s").select(ParseFlexTimestamp(col("s"))).collect() // must not throw
  }

  test("biginteger low-64 cast: in-range, leading zeros, >64-bit wrap") {
    val df = Seq("42", "00042", "18446744073709551617", "-7", "x42")
      .toDF("s").select(BigIntLow64Expr(col("s")).as("v"))
    val rows = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    // 2^64 + 1 wraps to 1 (BigInteger.longValue semantics)
    assert(rows.toSeq == Seq(Some(42L), Some(42L), Some(1L), Some(-7L), None))
  }

  test("biginteger low-64: property — fast path equals the BigInteger parse") {
    val digits18 = "123456789012345678"
    val bodies = Seq("0", "7", "42", "00042", "-0", "+0", "-7", "+7",
      digits18, "-" + digits18, "+" + digits18, "999999999999999999",
      "-999999999999999999", "1" + digits18, "9" + digits18, // 19 digits
      "9223372036854775807", "9223372036854775808", "-9223372036854775808",
      "-9223372036854775809", "18446744073709551615", "18446744073709551616",
      "12" + digits18, "000000000000000000042", "0" * 18, "0" * 19,
      "", "+", "-", "+-1", "--1", "1-", "4 2", "4,2", "x42", "42x", "1e5",
      "0x1F", "1.0", "٤٢", "４２", "42 ", " 42")
    val pads = Seq("", " ", "\t", "\n", "\u0001", " \u001f", "\u007f", "\u0000 ")
    val edges = for (b <- bodies; l <- pads; r <- pads) yield l + b + r
    val rng = new scala.util.Random(64L)
    val alphabet = "0123456789000+- \t\u0001x.é"
    val fuzz = Seq.fill(20000) {
      val s = Seq.fill(rng.nextInt(24))(alphabet(rng.nextInt(alphabet.length))).mkString
      if (rng.nextBoolean()) s.filter(c => c.isDigit && c < 128) else s
    }
    val inputs = edges ++ fuzz
    var parsed = 0
    for (s <- inputs) {
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      val fast = BigIntLow64.low64(u)
      assert(fast == BigIntLow64.low64Fallback(u), s"input '$s'")
      if (fast != null) parsed += 1
    }
    // the property is not vacuous: many inputs parse, many do not
    assert(parsed > inputs.size / 10 && parsed < inputs.size * 9 / 10,
      s"$parsed of ${inputs.size} parsed")
  }

  test("cosine similarity: identical=1, orthogonal=0, opposite=-1, zero→0") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(1f, 1f, 0f), Array(-1f, -1f, 0f)),
      (Array(0f, 0f, 0f), Array(1f, 2f, 3f))
    ).toDF("a", "b").select(round(CosineSimilarityExpr(col("a"), col("b")), 9).as("sim"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.0, 0.0, -1.0, 0.0))
  }

  test("cosine similarity: property — symmetric and within [-1,1]") {
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-100f, 100f)).map(_.toArray)
    val pairs = samples(Gen.zip(vecGen, vecGen), 30)
    val sims = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("x", "y")
      .select(CosineSimilarityExpr(col("x"), col("y")))
      .collect().map(_.getDouble(0)).toSeq
    sims.grouped(2).foreach { case Seq(ab, ba) =>
      assert(math.abs(ab - ba) < 1e-12)
      assert(ab >= -1.0 - 1e-9 && ab <= 1.0 + 1e-9)
    }
  }

  test("ngram generator: trigrams with positions; short text → no rows") {
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, null: String))
      .toDF("id", "text")
      .select(col("id"), NGramExplode(col("text"), 3).as(Seq("pos", "ngram")))
    val rows = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, 0, "a b c"), (1L, 1, "b c d")))
  }

  test("geomean aggregator matches exp(avg(ln(x))); ignores non-positive") {
    val df = Seq(2.0, 8.0, -1.0, 0.0).toDF("x")
    val got = df.agg(GeoMean.agg(col("x"))).collect()(0).getDouble(0)
    assert(math.abs(got - 4.0) < 1e-12) // geomean(2,8)=4; -1,0 ignored
  }

  test("zorder: property — deinterleave inverts interleave; key is bit-exact") {
    val pairGen = for {
      x <- Gen.chooseNum(0L, 0xFFFFFFFFL)
      y <- Gen.chooseNum(0L, 0xFFFFFFFFL)
    } yield (x, y)
    for ((x, y) <- samples(pairGen, 200) ++ Seq(
        (0L, 0L), (0xFFFFFFFFL, 0xFFFFFFFFL), (1L, 0L), (0L, 1L))) {
      val z = ZOrder.interleave(x, y)
      assert(ZOrder.deinterleave(z) == (x, y), s"roundtrip failed for ($x, $y)")
      // x occupies even bits, y odd bits — reconstruct by definition
      val manual = (0 until 32).map { i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
      assert(z == manual, s"interleave mismatch for ($x, $y)")
    }
    // expression evaluates the same as the helper (codegen path)
    val row = Seq((37L, 1000L)).toDF("x", "y")
      .select(ZOrderKeyExpr(col("x"), col("y")).as("z")).collect()(0)
    assert(row.getLong(0) == ZOrder.interleave(37L, 1000L))
    // the documented layout bound: keys stay non-negative (signed order
    // == Morton order) through 31-bit dimensions, and the top of the
    // 31-bit range sorts AFTER zero — while a 32-bit y demonstrably
    // wraps negative, which is why the scaladoc caps layout dims at 31
    val maxDim = (1L << 31) - 1
    assert(ZOrder.interleave(maxDim, maxDim) > 0)
    assert(ZOrder.interleave(0L, maxDim) > ZOrder.interleave(0L, 0L))
    assert(ZOrder.interleave(0L, 1L << 31) < 0, "doc claim no longer holds")
  }

  test("zorder: curve locality — quadrant prefix order is preserved") {
    // the defining property the layout relies on: the top interleaved
    // bits form the quadrant index, so any two points in different
    // quadrants sort strictly by quadrant — range stats per file stay
    // tight on BOTH dims
    val pts = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val sorted = pts.sortBy { case (x, y) => ZOrder.interleave(x, y) }
    val quadrant = sorted.map { case (x, y) => ((x >> 4) << 1) | (y >> 4) }
    // quadrant ids must appear in Morton order of the quadrant's own key
    val quadKeys = sorted.map { case (x, y) => ZOrder.interleave(x >> 4, y >> 4) }
    assert(quadKeys == quadKeys.sorted, "points from different quadrants interleave")
    assert(quadrant.distinct.size == 4)
  }

  test("approx_count_distinct within 5% of exact (q12's no-oracle contract)") {
    val events = graft.Tables.events(spark, sf0001)
    val exact = events.select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    val approx = events.select(approx_count_distinct(col("user_id"), 0.02))
      .collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.05)
  }

  test("poly_hash: codegen'd fold equals the interpreted HOF formulation") {
    // PolyHashExpr replaced aggregate(split(s,''), 0, (a,c) => (a*b +
    // ascii(c)) % m) in the near-dup hot path; the two must stay
    // bit-identical over the printable-ASCII universe the corpus and the
    // DuckDB oracles use (plus edge cases: empty string, repeats)
    val gen = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    val strs = (samples(gen, 300) ++ Seq("", " ", "  ", "aaa", "a b c",
      // non-ASCII: the byte fast path must bail to the code-point walk,
      // and supplementary-plane chars (surrogate pairs) must fold as ONE
      // code point — the split("")+ascii semantics (Java split never
      // separates a surrogate pair)
      "café", "über", "中文 tokens",
      "a😀b", "😀", "x 🚀🚀 y")).distinct
    for ((base, mod) <- Seq((31L, 1000000007L), (131L, 998244353L))) {
      val df = strs.toDF("s")
      val got = df.select(PolyHashExpr(col("s"), base, mod)).collect().map(_.getLong(0))
      val want = df.select(
        aggregate(split(col("s"), ""), lit(0L),
          (acc, c) => (acc * base + ascii(c)) % mod)).collect().map(_.getLong(0))
      assert(got.toSeq == want.toSeq, s"divergence at base=$base mod=$mod")
    }
  }

  test("dot_product: codegen'd loop equals the interpreted HOF formulation") {
    // DotProductExpr replaced aggregate(zip_with(a, b, _*_), 0.0, _+_) in
    // the sign-LSH signature; both must produce the same IEEE double
    // BIT-FOR-BIT (same sequential summation order), not just approximately
    val gen = Gen.listOfN(64, Gen.choose(-1e3, 1e3))
    val pairs = samples(gen.flatMap(a => gen.map(b => (a, b))), 100)
    val df = pairs.toDF("a", "b")
    val got = df.select(DotProductExpr(col("a"), col("b"))).collect().map(_.getDouble(0))
    val want = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)).collect().map(_.getDouble(0))
    assert(got.toSeq.map(java.lang.Double.doubleToLongBits) ==
      want.toSeq.map(java.lang.Double.doubleToLongBits))
  }
}
