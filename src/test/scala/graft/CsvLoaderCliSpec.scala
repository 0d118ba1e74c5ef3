package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.CsvVehicleReader
import graft.streaming.ProtoEnvelope

/** The CLI's one-pass load: what reaches the receiver and the printed
  * summary both match the Column reader on plain, gz and zip inputs, and
  * the load is one job that reads its input once, without caching it. */
class CsvLoaderCliSpec extends SparkSpec {

  private val rows = 25000

  /** Pings with every drop reason, blank lines, ids at and past 2^63 and
    * 2^64 (wrapping to the low 64 bits), and zero-padded aliases of plain
    * ids (one id, two strings). */
  private lazy val csv: String = {
    val rng = new scala.util.Random(7L)
    val sb = new StringBuilder
    for (i <- 0 until rows) {
      val ts = i % 3 match {
        case 0 => f"2015-02-14 23:${i / 60 % 60}%02d:${i % 60}%02d+05"
        case 1 => f"2015-02-14T18:51:${i % 60}%02d.${i % 1000}%03dZ"
        case _ => f"2015-02-14 18:51:${i % 60}%02d"
      }
      val k = rng.nextInt(50)
      val id = i % 10 match {
        case 0 => (BigInt(2).pow(64) + k).toString
        case 1 => (BigInt(2).pow(63) + k).toString
        case 2 => f"$k%05d"
        case _ => k.toString
      }
      val lat = 23.0 + rng.nextInt(1000) / 1000.0
      val lon = 90.0 + rng.nextInt(1000) / 1000.0
      sb ++= (i % 97 match {
        case 0 => "short,row"
        case 1 => s"$ts,$id,not_a_number,$lon"
        case 2 => s"garbage-ts,$id,$lat,$lon"
        case 3 => s"$ts,x$id,$lat,$lon"
        case 4 => ""
        case _ => s"$ts,$id,$lat,$lon"
      })
      sb ++= "\n"
    }
    sb.toString
  }

  private def fixtures(): Seq[Path] = {
    val dir = Files.createTempDirectory("graft-cli")
    val bytes = csv.getBytes(StandardCharsets.UTF_8)
    val plain = dir.resolve("pings.csv")
    Files.write(plain, bytes)
    val gz = dir.resolve("pings.csv.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    out.write(bytes); out.close()
    val zip = dir.resolve("pings.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zip))
    zos.putNextEntry(new ZipEntry("pings.csv"))
    zos.write(bytes)
    zos.closeEntry(); zos.close()
    Seq(plain, gz, zip)
  }

  /** Bodies POSTed to a local receiver while `body` runs. */
  private def received[T](body: String => T): (T, Seq[Array[Byte]]) = {
    val got = ArrayBuffer.empty[Array[Byte]]
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/locationUpdate", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = ex.getRequestBody.readAllBytes()
      got.synchronized { got += b }
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    server.start()
    try {
      val r = body(s"http://127.0.0.1:${server.getAddress.getPort}/locationUpdate")
      (r, got.synchronized(got.toSeq))
    } finally { server.stop(0); pool.shutdownNow() }
  }

  /** Delivered envelopes against the Column reader's rows of `file`. */
  private def checkDelivery(file: String, sourceId: Long, bodies: Seq[Array[Byte]]): Unit = {
    val envelopes = bodies.map(ProtoEnvelope.decodeEnvelope)
    assert(envelopes.map(_._1).distinct == Seq(sourceId), "one sourceId per load")
    assert(envelopes.forall(e => e._2.nonEmpty && e._2.size <= 10000),
      s"envelope sizes ${envelopes.map(_._2.size)}")
    val delivered = envelopes.flatMap(_._2).map { m =>
      assert(m.locations.size == 1)
      val l = m.locations.head
      s"${m.vehicleId}|${l.lat}|${l.lon}|${l.timestamp}"
    }.sorted
    val want = CsvVehicleReader.read(spark, file)
      .select(concat_ws("|", col("vehicle_id"), col("lat"), col("lon"), col("ts_ms")))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(delivered == want, s"$file: delivered multiset differs from the reader's rows")
  }

  /** The Column reader's count and dual distinct counts over `file`. */
  private def readerSummary(file: String): CsvLoaderCli.Summary = {
    val r = CsvVehicleReader.read(spark, file).agg(count(lit(1)),
      countDistinct(col("vehicle_id_str")), countDistinct(col("vehicle_id")))
      .collect()(0)
    CsvLoaderCli.Summary(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Runs `body` with the session conf `key` set to `value`, then restores it. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("load: summary and delivered messages equal the Column reader on " +
      "plain, gz and zip; envelopes hold at most 10,000 messages") {
    for (f <- fixtures()) {
      val file = f.toString
      val (summary, bodies) = received(url => CsvLoaderCli.load(spark, file, url, 42L))
      assert(summary == readerSummary(file), s"$file: summary")
      assert(summary.records > rows * 9 / 10 && summary.records < rows)
      assert(summary.uniqueVehicles > summary.uniqueIds, "aliased ids collapse")
      checkDelivery(file, 42L, bodies)
      // one task reads the file, so its chunks are 10k, 10k, then the rest
      assert(bodies.size == (summary.records + 9999) / 10000, s"$file: envelopes")
    }
  }

  test("load over a plain file read in byte ranges: each task chunks its " +
      "own rows, nothing lost or duplicated") {
    val plain = fixtures().head.toString
    withConf("spark.sql.files.maxPartitionBytes", (200 * 1024).toString) {
      val (summary, bodies) = received(url => CsvLoaderCli.load(spark, plain, url, -3L))
      assert(summary.records == CsvVehicleReader.read(spark, plain).count())
      assert(bodies.size > 3, "several read tasks, each with its partial tail")
      checkDelivery(plain, -3L, bodies)
    }
  }

  test("load summary is exact when one id's alias strings are split across " +
      "byte-range tasks, at 1 and 7 shuffle partitions") {
    val plain = fixtures().head.toString
    val want = readerSummary(plain)
    assert(want.uniqueVehicles > want.uniqueIds, "the fixture aliases ids")
    withConf("spark.sql.files.maxPartitionBytes", (100 * 1024).toString) {
      for (p <- Seq(1, 7)) withConf("spark.sql.shuffle.partitions", p.toString) {
        val (summary, bodies) = received(url => CsvLoaderCli.load(spark, plain, url, 11L))
        assert(summary == want, s"$p shuffle partitions")
        assert(bodies.size > 3, "several read tasks")
        checkDelivery(plain, 11L, bodies)
      }
    }
  }

  test("load over a file whose rows all drop: summary (0, 0, 0), nothing POSTed") {
    val f = Files.createTempDirectory("graft-cli").resolve("dropped.csv")
    Files.write(f, ("short,row\n2015-02-14 18:51:00,7,not_a_number,90.0\n" +
      "garbage-ts,7,23.0,90.0\n2015-02-14 18:51:00,x7,23.0,90.0\n\n")
      .getBytes(StandardCharsets.UTF_8))
    val (summary, bodies) = received(url => CsvLoaderCli.load(spark, f.toString, url, 1L))
    assert(summary == CsvLoaderCli.Summary(0L, 0L, 0L))
    assert(summary == readerSummary(f.toString))
    assert(bodies.isEmpty)
  }

  test("load plan: one scan of the input, no cached relation") {
    // one load is one job of two stages (scan with map-side combine, then
    // the reducers); its RDD scopes name exactly one graft-vehicle-csv
    // scan and no in-memory relation
    val gz = fixtures()(1).toString
    val tag = "graft.spec.load"
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
    val jobsEnded = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]
    val listener = new SparkListener {
      private def tagged(p: java.util.Properties) = p != null && p.getProperty(tag) != null
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (tagged(js.properties)) jobs.add(js.jobId)
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobsEnded.add(je.jobId)
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (tagged(ss.properties)) stages.add(ss.stageInfo)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(tag, "1")
    val (_, bodies) = try received(url => CsvLoaderCli.load(spark, gz, url, 5L))
    finally spark.sparkContext.setLocalProperty(tag, null)
    // listener events arrive asynchronously: wait for the job's end
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while ((jobs.isEmpty || !jobsEnded.containsAll(jobs)) && System.nanoTime() < deadline)
      Thread.sleep(50)
    spark.sparkContext.removeSparkListener(listener)
    val infos = stages.toArray(Array.empty[StageInfo]).toSeq
    val scopes = infos.flatMap(_.rddInfos).flatMap(_.scope).map(s => s.id -> s.name).distinct
    assert(jobs.size == 1 && infos.size == 2,
      s"${jobs.size} jobs, ${infos.size} stages: ${infos.map(_.name)}")
    val scans = scopes.filter(_._2.startsWith("BatchScan"))
    assert(scans.size == 1 && scans.head._2.contains("graft-vehicle-csv"),
      s"expected one graft-vehicle-csv scan: $scopes")
    assert(!scopes.exists(_._2.startsWith("InMemoryTableScan")),
      s"the load caches its input: $scopes")
    checkDelivery(gz, 5L, bodies)
  }

  /** A plain CSV of `lines` in a fresh directory. */
  private def csvOf(lines: Seq[String]): String = {
    val f = Files.createTempDirectory("graft-cli").resolve("ids.csv")
    Files.write(f, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  /** Records, distinct strings and distinct low-64 ids of `ids`, each
    * string counted `times` times, by the reference's BigInteger rule. */
  private def expected(ids: Seq[String], times: Int): CsvLoaderCli.Summary =
    CsvLoaderCli.Summary(ids.size.toLong * times, ids.distinct.size.toLong,
      ids.map(s => new java.math.BigInteger(s.trim).longValue).distinct.size.toLong)

  private val two63 = BigInt(2).pow(63)
  private val two64 = BigInt(2).pow(64)

  /** Alias strings of 7 (a leading space and non-ASCII digits, which
    * `new BigInteger(s.trim)` accepts: U+0667 ARABIC-INDIC and U+FF17
    * FULLWIDTH DIGIT SEVEN), of -1 and of Long.MinValue, and ids at and
    * past 2^63. */
  private val aliasIds = Seq("7", "007", " 7", (two64 + 7).toString, "\u0667", "\uFF17",
    two63.toString, (-two63).toString, (two63 + 5).toString, (two64 - 1).toString, "-1",
    "12", "0012")

  test("load summary: alias strings of one id count apart as vehicles and " +
      "once as an id, for ids below, at and past 2^63 and non-ASCII digits") {
    val lines = for (t <- 0 until 3; id <- aliasIds)
      yield f"2015-02-14 18:51:${t}%02d,$id,23.5,90.25"
    val file = csvOf(lines)
    val want = readerSummary(file)
    assert(want == expected(aliasIds, 3), "the reader keeps every alias row")
    assert(want.uniqueIds == 5, "7, -1, Long.MinValue, 2^63 + 5 and 12")
    val (summary, bodies) = received(url => CsvLoaderCli.load(spark, file, url, 9L))
    assert(summary == want)
    checkDelivery(file, 9L, bodies)
  }

  test("load summary is exact when one id's rows and alias strings are spread " +
      "over several byte-range tasks, at 1 and 7 shuffle partitions") {
    val ids = Seq("7", "007", " 7", (two64 + 7).toString, "\u0667", (two63 + 7).toString)
    val lines = (0 until 6000).map(i => f"2015-02-14 18:${i / 60 % 60}%02d:${i % 60}%02d," +
      s"${ids(i % ids.size)},23.5,90.25")
    val file = csvOf(lines)
    val want = readerSummary(file)
    assert(want == CsvLoaderCli.Summary(6000, 6, 2))
    withConf("spark.sql.files.maxPartitionBytes", (32 * 1024).toString) {
      for (p <- Seq(1, 7)) withConf("spark.sql.shuffle.partitions", p.toString) {
        val (summary, bodies) = received(url => CsvLoaderCli.load(spark, file, url, 13L))
        assert(summary == want, s"$p shuffle partitions")
        assert(bodies.size > 3, "several read tasks")
        checkDelivery(file, 13L, bodies)
      }
    }
  }

  test("id table: past its flush cap and several resizes, the entries merged " +
      "by id equal a plain count, though every input row reuses one buffer") {
    // an UnsafeProjection returns the same row, rewritten, for each input
    val proj = UnsafeProjection.create(Array[DataType](StringType, LongType))
    val rng = new scala.util.Random(3L)
    val input = (0 until 60000).map { _ =>
      val k = rng.nextInt(20000)
      val s = rng.nextInt(3) match {
        case 0 => k.toString
        case 1 => f"$k%07d"
        case _ => (two64 + k).toString
      }
      (s, k.toLong)
    }
    val table = new CsvLoaderCli.IdTable(cap = 5000)
    val rows = input.iterator.map { case (s, id) =>
      proj(InternalRow(UTF8String.fromString(s), id))
    }
    val entries = CsvLoaderCli.countIds(rows, table).toVector
    assert(table.size == 0, "the table is empty once drained")
    // 16 slots at the start, doubled while at most half full up to the cap
    assert(table.slots == 16384, s"${table.slots} slots")
    assert(entries.size > 20000 && entries.size >= 3 * 5000,
      s"${entries.size} entries: several flushes, ids repeat across them")
    val merged = entries.groupMapReduce(_._1)(_._2)(_ merge _)
    val want = input.groupBy(_._2).map { case (id, xs) => id -> (xs.size.toLong, xs.map(_._1).toSet) }
    assert(merged.keySet == want.keySet)
    for ((id, c) <- merged) {
      assert(c.rows == want(id)._1, s"id $id")
      assert(c.strings.map(_.toString).toSet == want(id)._2, s"id $id")
      assert(c.strings.length == want(id)._2.size, s"id $id: a string twice")
    }
  }
}
