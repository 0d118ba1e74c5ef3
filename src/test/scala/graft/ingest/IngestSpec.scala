package graft.ingest

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** CSV ingest fidelity vs the reference's accepted inputs (FIXTURES.md §B;
  * behavior of opentraffic/csv-loader CsvLoader.java:84-148). Every case
  * runs over both readers with the same assertions: the
  * `graft-vehicle-csv` source, the path users run, and
  * [[CsvVehicleReader]], the Column pipeline it replaced, kept as the
  * test oracle. Fixtures are generated deterministically at test time. */
class IngestSpec extends SparkSpec {

  private val narrowCsv =
    """2015-02-14 23:51:40+05,42,23.7689,90.3886
      |2015-02-14 23:51:41,42,23.7690,90.3890
      |2015-02-14T18:51:42.123Z,7,23.7701,90.3901
      |2015-02-14 23:51:43.500+05,99,23.7712,90.3912""".stripMargin

  private val wideCsv =
    """2015-02-14 23:51:40+05,42,x,x,x,x,x,x,x,23.7689,90.3886,extra
      |2015-02-14 23:51:41+05,43,x,x,x,x,x,x,x,23.7690,90.3890""".stripMargin

  private val malformedCsv =
    """2015-02-14 23:51:40+05,42,23.7689,90.3886
      |short,row
      |2015-02-14 23:51:41,42,not_a_number,90.3890
      |garbage-timestamp,42,23.7689,90.3886
      |2015-02-14 23:51:42,00042,23.7689,90.3886
      |2015-02-14 23:51:43,18446744073709551617,23.7689,90.3886""".stripMargin

  private val readers: Seq[(String, String => DataFrame)] = Seq(
    "graft-vehicle-csv" -> (p => spark.read.format("graft-vehicle-csv").load(p)),
    "CsvVehicleReader" -> (p => CsvVehicleReader.read(spark, p)))

  /** `body` once per reader, failures labelled with the reader's name. */
  private def eachReader(body: (String => DataFrame) => Unit): Unit =
    readers.foreach { case (name, read) => withClue(s"[$name] ")(body(read)) }

  private def tmpDir: Path = Files.createTempDirectory("graft-ingest")

  private def writeFile(dir: Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("narrow 4-col CSV: all timestamp shapes parse; code column order (ts,vid,lat,lon)") {
    eachReader { read =>
      val path = writeFile(tmpDir, "narrow.csv", narrowCsv)
      val rows = read(path)
        .orderBy(col("ts_ms")).collect()
      assert(rows.length == 4)
      // zoned +05 == 18:51:40 UTC; column order from code NOT README
      assert(rows(0).getAs[Long]("vehicle_id") == 42L)
      assert(rows(0).getAs[Long]("ts_ms") == 1423939900000L)
      assert(math.abs(rows(0).getAs[Double]("lat") - 23.7689) < 1e-12)
      assert(math.abs(rows(0).getAs[Double]("lon") - 90.3886) < 1e-12)
      // bare timestamp row parses as UTC 23:51:41
      assert(rows.exists(_.getAs[Long]("ts_ms") == 1423957901000L))
      // ISO row with .123 fraction
      assert(rows.exists(r => r.getAs[Long]("vehicle_id") == 7L &&
        r.getAs[Long]("ts_ms") == 1423939902123L))
      // zoned fraction .500
      assert(rows.exists(r => r.getAs[Long]("vehicle_id") == 99L &&
        r.getAs[Long]("ts_ms") == 1423939903500L))
    }
  }

  test("wide >9-col taxi CSV: lat/lon from cols 9,10") {
    eachReader { read =>
      val path = writeFile(tmpDir, "wide.csv", wideCsv)
      val rows = read(path).orderBy(col("vehicle_id")).collect()
      assert(rows.length == 2)
      assert(math.abs(rows(0).getAs[Double]("lat") - 23.7689) < 1e-12)
      assert(math.abs(rows(1).getAs[Double]("lon") - 90.3890) < 1e-12)
    }
  }

  test("10-col row (wide dispatch, missing lon) drops permissively") {
    eachReader { read =>
      val path = writeFile(tmpDir, "tencol.csv",
        "2015-02-14 23:51:40+05,42,x,x,x,x,x,x,x,23.7689")
      assert(read(path).count() == 0)
    }
  }

  test("gz CSV reads transparently") {
    eachReader { read =>
      val dir = tmpDir
      val gz = dir.resolve("narrow.csv.gz")
      val out = new GZIPOutputStream(new FileOutputStream(gz.toFile))
      out.write(narrowCsv.getBytes(StandardCharsets.UTF_8)); out.close()
      assert(read(gz.toString).count() == 4)
    }
  }

  test("UPPERCASE .GZ extension still decompresses (reference lowercases " +
      "before the extension test, CsvLoader.java:84)") {
    eachReader { read =>
      val dir = tmpDir
      val gz = dir.resolve("NARROW.CSV.GZ")
      val out = new GZIPOutputStream(new FileOutputStream(gz.toFile))
      out.write(narrowCsv.getBytes(StandardCharsets.UTF_8)); out.close()
      assert(read(gz.toString).count() == 4)
    }
  }

  test("zip CSV reads FIRST entry only (second entry is poison)") {
    eachReader { read =>
      val dir = tmpDir
      val zip = dir.resolve("narrow.zip")
      val zos = new ZipOutputStream(new FileOutputStream(zip.toFile))
      zos.putNextEntry(new ZipEntry("first.csv"))
      zos.write(narrowCsv.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
      zos.putNextEntry(new ZipEntry("poison.csv"))
      zos.write("2015-02-14 23:51:40+05,666,1.0,1.0\n".getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
      zos.close()
      val rows = read(zip.toString).collect()
      assert(rows.length == 4)
      assert(!rows.exists(_.getAs[Long]("vehicle_id") == 666L))
    }
  }

  test("UPPERCASE .ZIP extension still opens as archive through read() " +
      "(reference lowercases before the extension test, CsvLoader.java:84)") {
    eachReader { read =>
      val dir = tmpDir
      val zip = dir.resolve("NARROW.CSV.ZIP")
      val zos = new ZipOutputStream(new FileOutputStream(zip.toFile))
      zos.putNextEntry(new ZipEntry("first.csv"))
      zos.write(narrowCsv.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
      zos.close()
      assert(read(zip.toString).count() == 4)
    }
  }

  test("malformed rows drop; good rows keep dual id semantics") {
    eachReader { read =>
      val path = writeFile(tmpDir, "malformed.csv", malformedCsv)
      val df = read(path)
      val rows = df.collect()
      assert(rows.length == 3) // rows 2-4 dropped (arity, double-cast, ts)
      // dual distinct semantics (CsvLoader.java:105-106): 3 distinct strings,
      // 2 distinct longs ("00042"→42; 2^64+1 wraps to 1)
      val distinct = df.agg(
        countDistinct(col("vehicle_id_str")).as("s"),
        countDistinct(col("vehicle_id")).as("l")).collect()(0)
      assert(distinct.getLong(0) == 3L)
      assert(distinct.getLong(1) == 2L)
    }
  }

  test("quoted RFC-4180 fields with embedded commas survive") {
    eachReader { read =>
      val path = writeFile(tmpDir, "quoted.csv",
        "\"2015-02-14 23:51:40+05\",\"42\",\"23.7689\",\"90.3886\"")
      val rows = read(path).collect()
      assert(rows.length == 1 && rows(0).getAs[Long]("vehicle_id") == 42L)
    }
  }

  test("RFC-4180 edge cases: escaped quotes, empty fields, trailing comma") {
    import graft.ingest.CsvFields
    import org.apache.spark.unsafe.types.UTF8String
    def split(s: String): Seq[String] = {
      val a = CsvFields.split(UTF8String.fromString(s))
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
    }
    assert(split("""a,"b""c",d""") == Seq("a", "b\"c", "d"))
    assert(split("a,,c") == Seq("a", "", "c"))
    assert(split("a,b,") == Seq("a", "b", ""))
    assert(split("") == Seq(""))
    assert(split("\"\"") == Seq(""))
    assert(split("\"unterminated") == Seq("unterminated")) // permissive
    assert(split("\"a,b\",c") == Seq("a,b", "c"))
    // Stray quote mid-field is literal (commons-csv): must NOT open quoted
    // mode and swallow the following comma.
    assert(split("""ab"c,d""") == Seq("ab\"c", "d"))
    assert(split("""a""b,c""") == Seq("a\"\"b", "c"))
  }

  test("property: arbitrary garbage input never throws — parse-or-drop, bounded output") {
    eachReader { read =>
      // the reference is a PERMISSIVE loader (CsvLoader.java:131-143 catches
      // per-row and continues); our distributed counterpart must hold that
      // under fuzz: any byte salad either parses into a row or drops — a
      // single poison line must never fail the job
      import org.scalacheck.Gen
      import org.scalacheck.rng.Seed
      val weird = Gen.oneOf(',', '"', '\t', '\\', '0', '9', '.', '-', '+', ':',
        'Z', 'T', 'x', 'é', '日', ' ')
      val lineGen = Gen.oneOf(
        Gen.listOf(weird).map(_.mkString),                       // byte salad
        Gen.listOfN(12, Gen.oneOf(Gen.const(""), Gen.numStr.map(_.take(25)),
          Gen.alphaStr.map(_.take(8)))).map(_.mkString(",")),    // csv-ish arity soup
        Gen.const("2015-02-14 23:51:40+05,42,23.7689,90.3886"))  // known-good
      (0 until 6).foreach { i =>
        val lines = Gen.listOfN(40, lineGen)
          .apply(Gen.Parameters.default, Seed(9900L + i))
          .getOrElse(fail(s"gen failed at seed $i"))
        val path = writeFile(tmpDir, s"fuzz$i.csv", lines.mkString("\n"))
        val rows = read(path).collect() // must not throw
        assert(rows.length <= lines.length, "more rows out than lines in")
        val good = lines.count(_ == "2015-02-14 23:51:40+05,42,23.7689,90.3886")
        assert(rows.length >= good, s"dropped known-good rows (seed $i)")
        // whatever survived is fully typed — no nulls leak through the gate
        rows.foreach { r =>
          assert(!r.isNullAt(r.fieldIndex("ts_ms")) &&
            !r.isNullAt(r.fieldIndex("vehicle_id")) &&
            !r.isNullAt(r.fieldIndex("lat")) && !r.isNullAt(r.fieldIndex("lon")))
        }
      }
    }
  }

  test("ingest plan: no shuffle — scan→project→filter is one codegen stage") {
    eachReader { read =>
      val path = writeFile(tmpDir, "narrow2.csv", narrowCsv)
      val plan = read(path)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle in ingest plan:\n$plan")
    }
  }
}
