package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.CsvVehicleReader

/** The DataSourceV2 vehicle-CSV source: row-for-row equality with the
  * Column-pipeline reader on every fixture class (the two share the
  * exact parsing functions, so divergence means the DSv2 plumbing broke
  * semantics), column-pruning pushdown, and catalog/SQL usability. */
class VehicleCsvSourceSpec extends SparkSpec {

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

  private def tmpDir: Path = Files.createTempDirectory("graft-dsv2")

  private def writeFile(dir: Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  private def viaDsv2(path: String): DataFrame =
    spark.read.format("graft-vehicle-csv").load(path)

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(col("vehicle_id_str"), col("ts_ms"), col("lat"))
      .collect().map(_.toSeq).toSeq

  test("DSv2 source equals the Column-pipeline reader on narrow, wide, " +
      "and malformed fixtures") {
    val dir = tmpDir
    for ((name, content) <- Seq(("narrow.csv", narrowCsv),
        ("wide.csv", wideCsv), ("malformed.csv", malformedCsv))) {
      val path = writeFile(dir, name, content)
      val d = viaDsv2(path)
      assert(d.schema == CsvVehicleReader.read(spark, path).schema,
        s"$name: schema diverged")
      assert(sortedRows(d) == sortedRows(CsvVehicleReader.read(spark, path)),
        s"$name: rows diverged from CsvVehicleReader")
    }
  }

  test("DSv2 source reads .gz transparently and .zip FIRST entry only") {
    val dir = tmpDir
    val gz = dir.resolve("narrow.csv.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    out.write(narrowCsv.getBytes(StandardCharsets.UTF_8)); out.close()
    assert(sortedRows(viaDsv2(gz.toString)) ==
      sortedRows(CsvVehicleReader.read(spark, gz.toString)))

    val zip = dir.resolve("narrow.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zip))
    zos.putNextEntry(new ZipEntry("first.csv"))
    zos.write(narrowCsv.getBytes(StandardCharsets.UTF_8))
    zos.closeEntry()
    zos.putNextEntry(new ZipEntry("poison.csv"))
    zos.write("2015-02-14 23:51:40+05,666,1.0,1.0"
      .getBytes(StandardCharsets.UTF_8))
    zos.closeEntry(); zos.close()
    val z = viaDsv2(zip.toString)
    assert(z.count() == 4)
    assert(!z.select(col("vehicle_id_str")).collect()
      .exists(_.getString(0) == "666"), "second zip entry leaked")
  }

  test("column pruning reaches the scan, and rows are identical under " +
      "any projection") {
    val path = writeFile(tmpDir, "narrow.csv", narrowCsv)
    val pruned = viaDsv2(path).select(col("vehicle_id"), col("ts_ms"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("vehicle_id") && !plan.contains("lat_str"),
      s"unexpected plan:\n$plan")
    // the scan's readSchema is the pruned struct, not all 5 columns
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty, s"no BatchScanExec in:\n$plan")
    assert(scans.head.scan.readSchema().fieldNames.toSeq ==
      Seq("vehicle_id", "ts_ms"),
      s"pruning did not reach the scan: ${scans.head.scan.readSchema()}")
    // drop semantics survive pruning: row COUNT must match the full scan
    // (rows are defined by the full-record parse, not the projection)
    val full = viaDsv2(writeFile(tmpDir, "malformed.csv", malformedCsv))
    assert(full.select(col("vehicle_id")).count() == full.count())
    // and values match the unpruned read
    assert(pruned.orderBy(col("ts_ms")).collect().map(_.toSeq).toSeq ==
      viaDsv2(path).select(col("vehicle_id"), col("ts_ms"))
        .orderBy(col("ts_ms")).collect().map(_.toSeq).toSeq)
  }

  test("filter pushdown reaches the scan, results are identical to the " +
      "residual-filter plan, and unsupported filters stay residual") {
    val path = writeFile(tmpDir, "narrow.csv", narrowCsv)
    val filtered = viaDsv2(path)
      .filter(col("vehicle_id") === 42L && col("lat") > 23.7689)
    val scans = filtered.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty)
    val desc = scans.head.scan.description()
    assert(desc.contains("PushedFilters") && desc.contains("42") &&
      desc.contains("lat"), s"filters did not reach the scan: $desc")
    // semantics: identical to evaluating the predicate above the scan
    val want = viaDsv2(path).collect()
      .filter(r => r.getLong(1) == 42L && r.getDouble(2) > 23.7689)
      .map(_.toSeq).toSeq
    assert(filtered.collect().map(_.toSeq).toSeq.sortBy(_.toString) ==
      want.sortBy(_.toString))
    // three-valued edges evaluated exactly: IsNull never matches an
    // emitted row, IsNotNull always does, In and Not compose
    assert(viaDsv2(path).filter(col("lat").isNull).count() == 0)
    assert(viaDsv2(path).filter(col("lat").isNotNull).count() == 4)
    assert(viaDsv2(path)
      .filter(col("vehicle_id").isin(7L, 99L)).count() == 2)
    assert(viaDsv2(path)
      .filter(!col("vehicle_id_str").startsWith("4") ||
        col("ts_ms") > 0L).count() == 4)
    // an expression the source cannot evaluate exactly stays residual
    // and still computes correctly
    assert(viaDsv2(path)
      .filter(abs(col("lat") - 23.7690) < 1e-9).count() == 1)
  }

  test("pushed double equality matches Spark's -0.0 = 0.0 semantics") {
    // a field parsing to -0.0 must pass a pushed `lat = 0.0` exactly like
    // the residual plan would (Spark normalizes -0.0; Double.compare
    // alone would order -0.0 < 0.0 and silently drop the row)
    val path = writeFile(tmpDir, "negzero.csv",
      "2015-02-14 23:51:40+05,42,-0.0,90.3886\n" +
        "2015-02-14 23:51:41+05,43,0.0,90.3886\n" +
        "2015-02-14 23:51:42+05,44,1.5,90.3886")
    val pushedEq = viaDsv2(path).filter(col("lat") === 0.0)
    val scans = pushedEq.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.head.scan.description().contains("lat"),
      "lat = 0.0 did not push")
    assert(pushedEq.count() == 2, "-0.0 row must match a pushed lat = 0.0")
    assert(viaDsv2(path).filter(col("lat").isin(0.0, 1.5)).count() == 3)
    // ordering comparisons also see -0.0 as equal to 0.0, not below it
    assert(viaDsv2(path).filter(col("lat") < 0.0).count() == 0)
    assert(viaDsv2(path).filter(col("lat") >= 0.0).count() == 3)
  }

  test("reported statistics feed the optimizer: sizeInBytes equals the " +
      "summed file length (compression-factor scaled for .gz)") {
    val dir = tmpDir
    val plain = writeFile(dir, "narrow.csv", narrowCsv)
    val plainLen = Files.size(java.nio.file.Paths.get(plain))
    val rel = viaDsv2(plain)
    val stats = rel.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes == BigInt(plainLen),
      s"stats ${stats.sizeInBytes} != file $plainLen")

    val gz = dir.resolve("narrow.csv.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    out.write(narrowCsv.getBytes(StandardCharsets.UTF_8)); out.close()
    val gzLen = Files.size(gz)
    spark.conf.set("spark.sql.sources.fileCompressionFactor", "4.0")
    try {
      val gstats = viaDsv2(gz.toString).queryExecution.optimizedPlan.stats
      assert(gstats.sizeInBytes == BigInt(gzLen * 4),
        s"gz stats ${gstats.sizeInBytes} != ${gzLen * 4}")
    } finally spark.conf.unset("spark.sql.sources.fileCompressionFactor")
  }

  test("directory paths expand to their files through BOTH ingest " +
      "paths, and an empty zip yields zero rows, not a failure") {
    val dir = tmpDir
    writeFile(dir, "a.csv", narrowCsv)
    writeFile(dir, "b.csv", wideCsv)
    writeFile(dir, "_hidden.csv", narrowCsv) // skipped like spark.read
    val viaDir = viaDsv2(dir.toString)
    assert(viaDir.count() == 6, "4 narrow + 2 wide rows via the directory")
    assert(sortedRows(viaDir) ==
      sortedRows(CsvVehicleReader.read(spark, dir.toString + "/[ab]*")))

    val emptyZip = dir.resolve("empty.zip")
    new ZipOutputStream(Files.newOutputStream(emptyZip)).close()
    assert(viaDsv2(emptyZip.toString).count() == 0)
    assert(CsvVehicleReader.read(spark, emptyZip.toString).count() == 0)
  }

  // ---- MICRO_BATCH_READ (r16 verdict gap #2): the streaming side of the
  // source — same parse/drop/decompression as batch, durable file-log
  // offsets, admission control, restart without re-reads.

  private def streamCollect(dir: String, ckpt: String,
      maxFilesPerTrigger: Int): Seq[(Long, Seq[Seq[Any]])] = {
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Seq[Any]])]
    val q = spark.readStream.format("graft-vehicle-csv")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val rows = b.collect().map(_.toSeq).toSeq
        batches.synchronized { batches += id -> rows }
        ()
      }.start()
    q.awaitTermination()
    batches.toSeq
  }

  private def canon(rows: Seq[Seq[Any]]): Seq[String] =
    rows.map(_.mkString("|")).sorted

  test("MICRO_BATCH_READ: AvailableNow drains a mixed-compression directory " +
      "(plain, .gz, uppercase .ZIP) with row parity vs the batch source") {
    val dir = tmpDir
    writeFile(dir, "a_narrow.csv", narrowCsv)
    val out = new GZIPOutputStream(
      Files.newOutputStream(dir.resolve("b_wide.csv.gz")))
    out.write(wideCsv.getBytes(StandardCharsets.UTF_8)); out.close()
    val zos = new ZipOutputStream(
      Files.newOutputStream(dir.resolve("C_EXTRA.CSV.ZIP")))
    zos.putNextEntry(new ZipEntry("inner.csv"))
    zos.write("2015-02-14 23:51:50+05,7777,11.5,12.5\n"
      .getBytes(StandardCharsets.UTF_8))
    zos.closeEntry(); zos.close()

    val ckpt = Files.createTempDirectory("graft-mbs-ckpt").toString
    val batches = streamCollect(dir.toString, ckpt, maxFilesPerTrigger = 1)
    val streamed = batches.flatMap(_._2)
    val batch = viaDsv2(dir.toString).collect().map(_.toSeq).toSeq
    assert(canon(streamed) == canon(batch),
      "streaming rows diverged from the batch scan on the same directory")
    // uppercase .ZIP decompressed on the STREAMING path (the readStream
    // .text detour could never serve zip at all)
    assert(streamed.exists(_.head == "7777"), "zip row missing from stream")
    // admission control: 3 files at maxFilesPerTrigger=1 → 3 non-empty
    // micro-batches, each exactly one file's worth of rows
    assert(batches.count(_._2.nonEmpty) == 3,
      s"expected one micro-batch per file, got $batches")
  }

  test("MICRO_BATCH_READ: restart from the checkpoint resumes WITHOUT " +
      "re-reading processed files; late-arriving .zip served") {
    val dir = tmpDir
    writeFile(dir, "a.csv",
      "2015-02-14 23:51:40+05,1,1.0,1.0\n2015-02-14 23:51:41+05,2,1.0,1.0\n")
    val ckpt = Files.createTempDirectory("graft-mbs-restart").toString
    val first = streamCollect(dir.toString, ckpt, maxFilesPerTrigger = 10)
      .flatMap(_._2)
    assert(first.map(_.head).toSet == Set("1", "2"))

    // new files land AFTER the first run drained — incl. a zip archive
    writeFile(dir, "b.csv", "2015-02-14 23:51:42+05,3,1.0,1.0\n")
    val zos = new ZipOutputStream(Files.newOutputStream(dir.resolve("c.zip")))
    zos.putNextEntry(new ZipEntry("late.csv"))
    zos.write("2015-02-14 23:51:43+05,4,1.0,1.0\n"
      .getBytes(StandardCharsets.UTF_8))
    zos.closeEntry(); zos.close()

    val second = streamCollect(dir.toString, ckpt, maxFilesPerTrigger = 10)
      .flatMap(_._2)
    // ONLY the new files' pings — a.csv is behind the committed offset
    assert(second.map(_.head).toSet == Set("3", "4"),
      s"restart re-read or skipped data: ${second.map(_.head)}")
    // union across runs = the batch read: each ping exactly once
    assert(canon(first ++ second) ==
      canon(viaDsv2(dir.toString).collect().map(_.toSeq).toSeq))
  }

  test("MICRO_BATCH_READ: streaming and batch apply identical drop " +
      "semantics and pushed filters") {
    val dir = tmpDir
    writeFile(dir, "m.csv", malformedCsv)
    val ckpt = Files.createTempDirectory("graft-mbs-filter").toString
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val q = spark.readStream.format("graft-vehicle-csv")
      .load(dir.toString)
      .filter(col("vehicle_id") === 42L) // pushable → reader-side in stream too
      .select(col("vehicle_id_str"), col("ts_ms"))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect().map(_.toSeq).toSeq
        batches.synchronized { batches += rows }
        ()
      }.start()
    q.awaitTermination()
    val want = viaDsv2(dir.toString)
      .filter(col("vehicle_id") === 42L)
      .select(col("vehicle_id_str"), col("ts_ms"))
      .collect().map(_.toSeq).toSeq
    assert(canon(batches.flatten.toSeq) == canon(want))
  }

  test("file log compacts after N appends, reloads identically, and " +
      "ignores stale pre-compact segments (crash mid-delete)") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("graft-filelog").toString)
    val fs = dir.getFileSystem(conf)
    val log = new VehicleCsvFileLog(dir, conf)
    val files = (0 until 25).map(i => f"/data/part-$i%03d.csv.gz")
    files.foreach(f => log.append(Seq(f -> 1000L))) // 25 appends, interval 10
    assert(log.size == 25 && log.slice(0, 25) == files)
    // compaction bounded the on-disk segment count (2 compactions at 10
    // and 20, then 5 plain segments): never 25 files
    val onDisk = fs.listStatus(dir).filter(_.isFile).map(_.getPath.getName)
    assert(onDisk.length <= VehicleCsvFileLog.CompactInterval + 1,
      s"log did not compact: ${onDisk.mkString(", ")}")
    assert(onDisk.count(_.endsWith(".compact")) == 1,
      "older compacts must be deleted")
    // a reload sees the identical log through the compact + tail segments
    val reloaded = new VehicleCsvFileLog(dir, conf)
    assert(reloaded.size == 25 && reloaded.slice(0, 25) == files)
    assert(files.forall(reloaded.contains))
    // stale overlap: a pre-compact plain segment surviving a crash
    // mid-delete is ignored by the loader, not double-counted
    val stale = new org.apache.hadoop.fs.Path(dir, "3")
    val out = fs.create(stale, true)
    out.write("/data/part-003.csv.gz\n".getBytes(StandardCharsets.UTF_8))
    out.close()
    val again = new VehicleCsvFileLog(dir, conf)
    assert(again.size == 25 && again.slice(0, 25) == files,
      "stale pre-compact segment leaked into the reloaded log")
  }

  test("file log bounds driver memory: committed-prefix trim keeps " +
      "offsets valid, compaction spans the un-expired log, eviction " +
      "shrinks the dedup map only below the age cutoff") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("graft-filelog-trim").toString)
    val log = new VehicleCsvFileLog(dir, conf)
    val files = (0 until 10).map(i => f"/data/t-$i%02d.csv")
    // 5 appends, commit to offset 3, then 5 more appends so the 10th
    // triggers compaction with a committed prefix — nothing expired, so
    // the compact must still span [0, size) for the loader
    files.take(5).foreach(f => log.append(Seq(f -> (2000L + files.indexOf(f)))))
    log.trimCommitted(3)
    assert(log.size == 5 && log.slice(3, 5) == files.slice(3, 5))
    intercept[IllegalArgumentException](log.slice(2, 5)) // below the trim
    files.drop(5).foreach(f => log.append(Seq(f -> (2000L + files.indexOf(f)))))
    assert(log.size == 10 && log.slice(3, 10) == files.slice(3, 10))
    val reloaded = new VehicleCsvFileLog(dir, conf)
    assert(reloaded.size == 10 && reloaded.slice(0, 10) == files,
      "compaction with a committed prefix lost entries")
    // eviction: cutoff 2005 forgets the 5 older files, keeps the rest;
    // re-appending an evicted path is the caller's age filter's job —
    // the map answers contains() only for retained entries
    assert(reloaded.knownSize == 10)
    reloaded.expireBelow(2005L)
    assert(reloaded.knownSize == 5)
    assert(!reloaded.contains(files.head) && reloaded.contains(files.last))
  }

  test("file log retention: a compact after age expiry drops only " +
      "committed+expired entries, preserves real modTimes for the " +
      "retained window, persists the watermark, and restart keeps the " +
      "dropped prefix un-plannable and un-re-admittable") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("graft-filelog-retain").toString)
    val log = new VehicleCsvFileLog(dir, conf)
    val files = (0 until 12).map(i => f"/data/r-$i%02d.csv")
    log.recordWatermark(3011L) // newest modTime the discovery loop saw
    // 9 appends below the compact interval, commit 6, expire below 3004:
    // indices 0-3 are committed AND expired -> leave memory; 4-5 are
    // expired from the dedup map only (uncommitted entries never leave)
    (0 until 9).foreach(i => log.append(Seq(files(i) -> (3000L + i))))
    log.trimCommitted(6)
    log.expireBelow(3004L)
    assert(log.retainedFrom == 4L && log.size == 9)
    assert(log.knownSize == 5) // modTimes 3004..3008
    // the 10th append triggers the compact: it must retain [4, 10) with
    // real modTimes and a base=4 marker, never a full-history rewrite
    log.append(Seq(files(9) -> 3009L))
    val fs = dir.getFileSystem(conf)
    val compactName = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".compact"))
    assert(compactName.toSeq == Seq("10.compact"))
    val reloaded = new VehicleCsvFileLog(dir, conf)
    assert(reloaded.size == 10 && reloaded.retainedFrom == 4L)
    assert(reloaded.slice(4, 10) == files.slice(4, 10))
    // dropped prefix is un-plannable after restart (never re-planned:
    // those offsets were committed before they expired)
    intercept[IllegalArgumentException](reloaded.slice(3, 10))
    // real modTimes survived the compact: expiring at 3007 drops exactly
    // 3004..3006 — a 0L-modTime fallback would drop everything
    reloaded.trimCommitted(10)
    reloaded.expireBelow(3007L)
    assert(reloaded.retainedFrom == 7L,
      "compact lost real modTimes (0L fallback?)")
    // the watermark survived restart via the segment/compact headers, so
    // a discovery whose listing regressed cannot lower the age cutoff
    assert(reloaded.persistedWatermark == 3011L)
    // appends continue seamlessly above the retained window
    reloaded.append(Seq(files(10) -> 3010L, files(11) -> 3011L))
    assert(reloaded.size == 12 && reloaded.slice(10, 12) == files.slice(10, 12))
    val again = new VehicleCsvFileLog(dir, conf)
    assert(again.size == 12 && again.slice(7, 12) == files.slice(7, 12))
  }

  test("MICRO_BATCH_READ maxFileAge: files older than the watermark-age " +
      "cutoff are ignored at start and never re-admitted after eviction") {
    val dir = tmpDir
    val old = Paths.get(writeFile(dir, "old.csv",
      "2015-02-14 23:51:40+05,111,1.0,1.0\n"))
    Files.setLastModifiedTime(old, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 10L * 24 * 3600 * 1000))
    writeFile(dir, "fresh.csv", "2015-02-14 23:51:41+05,222,1.0,1.0\n")

    val ckpt = Files.createTempDirectory("graft-mbs-age").toString
    val first = streamCollect(dir.toString, ckpt, maxFilesPerTrigger = 10)
      .flatMap(_._2)
    // default maxFileAge=7d: the 10-day-old file is out of window
    assert(first.map(_.head).toSet == Set("222"),
      s"aged-out file leaked into the stream: ${first.map(_.head)}")

    // second run: a newer file arrives; the old file stays ignored and
    // fresh.csv (processed, evicted or not) is not re-read
    writeFile(dir, "newer.csv", "2015-02-14 23:51:42+05,333,1.0,1.0\n")
    val second = streamCollect(dir.toString, ckpt, maxFilesPerTrigger = 10)
      .flatMap(_._2)
    assert(second.map(_.head).toSet == Set("333"),
      s"restart re-read or admitted aged files: ${second.map(_.head)}")

    // maxFileAge=off admits everything (fresh checkpoint)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val q = spark.readStream.format("graft-vehicle-csv")
      .option("maxFileAge", "off")
      .load(dir.toString)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-mbs-age-off").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect().map(_.toSeq).toSeq
        batches.synchronized { batches += rows }
        ()
      }.start()
    q.awaitTermination()
    assert(batches.flatten.map(_.head).toSet == Set("111", "222", "333"))
  }

  test("e2e retention: an AvailableNow-per-run stream expires committed " +
      "aged entries, the checkpoint compact carries base>0 with real " +
      "modTimes, and restarts neither re-read nor re-admit anything") {
    val dir = tmpDir
    val ckpt = Files.createTempDirectory("graft-mbs-retain").toString
    val base = System.currentTimeMillis() - 14L * 60_000
    val all = scala.collection.mutable.ArrayBuffer.empty[String]
    // 14 runs, one new file per run, modTimes one minute apart;
    // maxFileAge=150s keeps only the ~2 newest in the age window, so by
    // the 10th append the compact must drop a committed+expired prefix
    for (i <- 0 until 14) {
      val f = Paths.get(writeFile(dir, f"r$i%02d.csv",
        s"2015-02-14 23:51:40+05,${100 + i},1.0,1.0\n"))
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
        .fromMillis(base + i * 60_000))
      val got = streamCollectAged(dir.toString, ckpt, "150s")
      all ++= got
    }
    assert(all.sorted == (0 until 14).map(i => (100 + i).toString).sorted,
      s"each file must deliver exactly once across runs: $all")

    // the source checkpoint's file log compacted with a retained window,
    // not a full-history rewrite
    val logDir = Files.walk(Paths.get(ckpt)).filter(_.getFileName.toString
      == "graft-file-log").findFirst().orElseThrow()
    val compacts = Files.list(logDir).filter(_.getFileName.toString
      .endsWith(".compact")).toArray
    assert(compacts.length == 1, s"expected one compact: ${compacts.toSeq}")
    val reloaded = new VehicleCsvFileLog(
      new org.apache.hadoop.fs.Path(logDir.toString),
      spark.sparkContext.hadoopConfiguration)
    assert(reloaded.size == 14, "log lost admitted entries")
    assert(reloaded.retainedFrom > 0,
      "retention never fired in the live stream — every compact is a " +
        "full-history rewrite (the pre-r18 behavior)")
    assert(reloaded.persistedWatermark == base + 13 * 60_000,
      "discovery watermark not persisted through the live stream")

    // a run with nothing new delivers nothing (no re-read of dropped
    // entries: their modTimes sit below the persisted-watermark cutoff)
    assert(streamCollectAged(dir.toString, ckpt, "150s").isEmpty,
      "restart re-read files whose entries left the retained window")
  }

  test("a restart that WIDENS maxFileAge (or disables it) cannot re-admit " +
      "retention-dropped files: admission clamps at the persisted drop " +
      "cutoff (r18 advice — pre-r19 this re-delivered every dropped file)") {
    val dir = tmpDir
    val ckpt = Files.createTempDirectory("graft-mbs-widen").toString
    val base = System.currentTimeMillis() - 14L * 60_000
    for (i <- 0 until 14) {
      val f = Paths.get(writeFile(dir, f"w$i%02d.csv",
        s"2015-02-14 23:51:40+05,${200 + i},1.0,1.0\n"))
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
        .fromMillis(base + i * 60_000))
      streamCollectAged(dir.toString, ckpt, "150s")
    }
    // precondition: retention actually dropped delivered entries and
    // persisted the cutoff it dropped at
    val logDir = Files.walk(Paths.get(ckpt)).filter(_.getFileName.toString
      == "graft-file-log").findFirst().orElseThrow()
    val reloaded = new VehicleCsvFileLog(
      new org.apache.hadoop.fs.Path(logDir.toString),
      spark.sparkContext.hadoopConfiguration)
    assert(reloaded.retainedFrom > 0, "retention never fired — vacuous")
    assert(reloaded.persistedDropCutoff > Long.MinValue,
      "drop cutoff not persisted in the file-log headers")
    // the hazard runs: files dropped from the log are still in the input
    // dir and now fall inside the widened (or disabled) age window —
    // contains() is false for them, so only the clamp stands between a
    // restart and wholesale re-delivery
    assert(streamCollectAged(dir.toString, ckpt, "off").isEmpty,
      "maxFileAge=off re-delivered retention-dropped files")
    assert(streamCollectAged(dir.toString, ckpt, "14d").isEmpty,
      "a widened maxFileAge re-delivered retention-dropped files")
  }

  private def streamCollectAged(dir: String, ckpt: String,
      maxFileAge: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.format("graft-vehicle-csv")
      .option("maxFileAge", maxFileAge)
      .load(dir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.collect().map(_.getString(0)).toSeq
        out.synchronized { out ++= ids }
        ()
      }.start()
    q.awaitTermination()
    out.toSeq
  }

  test("maxFileAge option: valid durations parse; empty, bare-unit, and " +
      "non-numeric values fail loudly NAMING the option") {
    import VehicleCsvSource.parseMaxFileAge
    assert(parseMaxFileAge("45s") == Some(45000L))
    assert(parseMaxFileAge("30m") == Some(30L * 60 * 1000))
    assert(parseMaxFileAge("12h") == Some(12L * 3600 * 1000))
    assert(parseMaxFileAge("7d") == Some(7L * 24 * 3600 * 1000))
    assert(parseMaxFileAge("1500") == Some(1500L))
    assert(parseMaxFileAge(null) == Some(7L * 24 * 3600 * 1000)) // default
    assert(parseMaxFileAge("off").isEmpty && parseMaxFileAge("NONE").isEmpty)
    for (bad <- Seq("", "  ", "d", "xh", "1.5d", "-3h", "0")) {
      val e = intercept[IllegalArgumentException](parseMaxFileAge(bad))
      assert(e.getMessage.contains("maxFileAge"),
        s"'$bad' error does not name the option: ${e.getMessage}")
    }
  }

  test("scan value-equality: identical scans dedupe (exchange reuse), " +
      "differing spec or runtime mutation does not corrupt the key") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val req = VehicleCsvSource.Schema
    def mk(push: Array[org.apache.spark.sql.sources.Filter]) =
      new VehicleCsvScan("/data/in", req, push, None, Some(1000L))
    val a = mk(Array(EqualTo("vehicle_id", 42L)))
    val b = mk(Array(EqualTo("vehicle_id", 42L)))
    assert(a == b && a.hashCode == b.hashCode,
      "identical scans must be equal or BatchScanExec never dedupes them")
    // runtime-filter mutation must NOT change equality/hash — it arrives
    // after canonicalization keys are computed
    b.filter(Array[org.apache.spark.sql.sources.Filter](
      In("vehicle_id", Array(1L, 2L))))
    assert(a == b && a.hashCode == b.hashCode)
    assert(a != mk(Array(EqualTo("vehicle_id", 43L))))
    assert(a != new VehicleCsvScan("/data/other", req,
      Array(EqualTo("vehicle_id", 42L)), None, Some(1000L)))
  }

  test("runtime filtering: injected IN filters reach the reader; " +
      "unsupported runtime filters are ignored without losing rows") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    spark.sparkContext // init the shared session (the scan reads SparkSession.active)
    val path = writeFile(tmpDir, "narrow.csv", narrowCsv)
    def readAll(scan: VehicleCsvScan): Seq[Long] = {
      val factory = scan.createReaderFactory()
      scan.planInputPartitions().toSeq.flatMap { p =>
        val r = factory.createReader(p)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        try { while (r.next()) buf += r.get().getLong(1) } finally r.close()
        buf
      }
    }
    def freshScan(): VehicleCsvScan =
      new VehicleCsvScanBuilder(path,
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .build().asInstanceOf[VehicleCsvScan]

    // the engine injects join-derived IN sets through filter(); the
    // reader must then emit only matching rows
    val filtered = freshScan()
    assert(filtered.filterAttributes().map(_.toString).toSet ==
      VehicleCsvSource.Schema.fieldNames.toSet)
    filtered.filter(Array[org.apache.spark.sql.sources.Filter](In("vehicle_id", Array(42L))))
    assert(readAll(filtered).sorted == Seq(42L, 42L),
      "runtime IN filter did not reach the reader")
    assert(filtered.description().contains("RuntimeFilters: [In(vehicle_id"))

    // an inexactly-evaluable runtime filter is dropped, never applied
    // wrong: runtime filters are an optimization, the join re-checks
    val ignored = freshScan()
    ignored.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("vehicle_id", "not-a-long")))
    assert(readAll(ignored).sorted == Seq(7L, 42L, 42L, 99L))
  }

  test("dynamic pruning e2e: a broadcast join's build-side keys are " +
      "injected into the scan as a runtime IN filter") {
    val dir = tmpDir
    val rows = (0 until 1000).map(i =>
      s"2015-02-14 23:51:40+05,$i,1.0,2.0").mkString("\n")
    writeFile(dir, "pings.csv", rows)
    val fact = viaDsv2(dir.toString)
    val dim = spark.range(1000).select(col("id").as("vehicle_id"),
      (col("id") % 100).as("grp"))
    val joined = fact.join(dim.filter(col("grp") === 3), Seq("vehicle_id"))
    val got = joined.collect()
    // 10 of 1000 ids satisfy id % 100 = 3 — row parity first
    assert(got.length == 10)
    assert(got.map(_.getLong(0)).sorted.toSeq ==
      (0 until 10).map(i => i * 100L + 3))
    // the executed scan carries the engine-derived runtime IN set (the
    // build side's 10 keys) — the DSv2 dynamic-pruning contract working
    // end to end, not just the direct filter() API
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [In(vehicle_id"),
      s"no runtime IN filter reached the scan:\n${plan.take(2000)}")
  }

  test("usable from SQL as a catalog table (CREATE TABLE ... USING)") {
    val path = writeFile(tmpDir, "narrow.csv", narrowCsv)
    spark.sql("DROP TABLE IF EXISTS vehicle_pings_dsv2")
    try {
      spark.sql(s"""CREATE TABLE vehicle_pings_dsv2
        |USING `graft-vehicle-csv` OPTIONS (path '$path')""".stripMargin)
      val got = spark.sql(
        """SELECT vehicle_id, count(*) AS n FROM vehicle_pings_dsv2
          |GROUP BY vehicle_id ORDER BY vehicle_id""".stripMargin).collect()
      assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((7L, 1L), (42L, 2L), (99L, 1L)))
    } finally spark.sql("DROP TABLE IF EXISTS vehicle_pings_dsv2")
  }

  /** Runs `body` with `spark.sql.files.maxPartitionBytes` at `bytes`, the
    * shared session's setting restored afterwards. */
  private def withMaxPartitionBytes[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def plannedScan(path: String): VehicleCsvScan =
    new VehicleCsvScanBuilder(path,
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().asInstanceOf[VehicleCsvScan]

  // LF, CRLF and lone-CR endings, blank lines (both kinds), a wide row,
  // malformed rows, ids at 2^63 and 2^64 + 1, and no final newline
  private val rangeCsv = Seq(
    "2015-02-14 23:51:40+05,42,23.7689,90.3886\n",
    "\n",
    "2015-02-14 23:51:41,43,23.7690,90.3890\r\n",
    "\r\n",
    "2015-02-14T18:51:42.123Z,18446744073709551617,23.7701,90.3901\r\n",
    "short,row\n",
    "2015-02-14 23:51:43.500+05,9223372036854775808,23.7712,90.3912\n",
    "2015-02-14 23:51:40+05,44,x,x,x,x,x,x,x,23.7689,90.3886,extra\r",
    "2015-02-14 23:51:44,45,not_a_number,90.3890\n",
    "\"2015-02-14 23:51:45\",\"46\",1.5,2.5\r\n",
    "2015-02-14 23:51:46,47,1.5,2.5").mkString

  test("byte-range splits: a plain file read in ranges of every size from " +
      "1 byte up equals the Column reader") {
    spark.sparkContext // the scan reads SparkSession.active
    val path = writeFile(tmpDir, "ranges.csv", rangeCsv)
    val want = canon(CsvVehicleReader.read(spark, path).collect().map(_.toSeq).toSeq)
    assert(want.size == 7)
    val len = rangeCsv.getBytes(StandardCharsets.UTF_8).length.toLong
    // every size puts a range boundary inside, before and after each
    // line ending, so each line straddles some boundary
    for (size <- 1L to len + 1) withMaxPartitionBytes(size) {
      val scan = plannedScan(path)
      val parts = scan.planInputPartitions()
      assert(parts.length == math.max(1L, (len + size - 1) / size), s"size $size")
      val factory = scan.createReaderFactory()
      val got = parts.toSeq.flatMap { p =>
        val r = factory.createReader(p)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
        try while (r.next()) {
          val row = r.get()
          buf += Seq(row.getUTF8String(0).toString, row.getLong(1),
            row.getDouble(2), row.getDouble(3), row.getLong(4))
        } finally r.close()
        buf
      }
      assert(canon(got) == want, s"ranges of $size bytes")
    }
    // the same through a real query: several read tasks, same rows
    withMaxPartitionBytes(40) {
      val df = viaDsv2(path)
      assert(df.rdd.getNumPartitions == (len + 39) / 40)
      assert(canon(df.collect().map(_.toSeq).toSeq) == want)
    }
  }

  test("byte-range splits: .gz and .zip stay one partition per file, and " +
      "micro-batches still read whole files") {
    val dir = tmpDir
    writeFile(dir, "a_plain.csv", rangeCsv)
    val gz = new GZIPOutputStream(Files.newOutputStream(dir.resolve("b.csv.GZ")))
    gz.write(rangeCsv.getBytes(StandardCharsets.UTF_8)); gz.close()
    val zos = new ZipOutputStream(Files.newOutputStream(dir.resolve("c.zip")))
    zos.putNextEntry(new ZipEntry("inner.csv"))
    zos.write(rangeCsv.getBytes(StandardCharsets.UTF_8))
    zos.closeEntry(); zos.close()
    withMaxPartitionBytes(16) {
      val parts = plannedScan(dir.toString).planInputPartitions()
        .map(_.asInstanceOf[VehicleCsvPartition])
      val perFile = parts.groupBy(p => p.file.substring(p.file.lastIndexOf('/') + 1))
        .map { case (f, ps) => f -> ps.length }
      val plainLen = rangeCsv.getBytes(StandardCharsets.UTF_8).length
      assert(perFile == Map("a_plain.csv" -> (plainLen + 15) / 16,
        "b.csv.GZ" -> 1, "c.zip" -> 1))
      assert(parts.filter(_.file.endsWith(".GZ")).forall(p =>
        p.start == 0 && p.end == Long.MaxValue))
      val batch = canon(viaDsv2(dir.toString).collect().map(_.toSeq).toSeq)
      assert(batch.size == 21)

      // the streaming scan plans one whole-file partition per file
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Seq[Any]])]
      val q = spark.readStream.format("graft-vehicle-csv").load(dir.toString)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          Files.createTempDirectory("graft-ranges-ckpt").toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect().map(_.toSeq).toSeq
          seen.synchronized { seen += b.rdd.getNumPartitions -> rows }
          ()
        }.start()
      q.awaitTermination()
      assert(seen.filter(_._2.nonEmpty).map(_._1).toSeq == Seq(3))
      assert(canon(seen.flatMap(_._2).toSeq) == batch)
    }
  }

  test("parseLine: property — the ASCII fast path equals the CsvFields.split " +
      "fallback, drops included") {
    import org.apache.spark.unsafe.types.UTF8String
    val digits18 = "123456789012345678"
    val stamps = Seq("2015-02-14 23:51:40+05", " 2015-02-14T18:51:42.123Z ",
      "2015-02-14 23:51:41", "2015-02-14 23:51:43.500+05", "garbage", "")
    val ids = Seq("42", " 00042 ", "-7", "+7", "-0", digits18, "-" + digits18,
      "9" + digits18, "18446744073709551617", "000000000000000000042", "+", "-",
      "", "x42", "\t42\u0001", "4 2")
    val coords = Seq("23.7689", " 90.3886 ", "\t-90.5\n", "\u0001 12.5\u0007",
      "+5", "-5", "5.", ".5", "-.5", ".", "-0", "-0.000", "+0.0", "0", "007.25",
      "9007199254740992", "9007199254740993", "-9007199254740992",
      "0.9007199254740992", "0.9007199254740993", "900719925474099.2",
      "9007199254740992.0", "90071992547409920",
      "0." + "0" * 21 + "1", "0." + "0" * 22 + "1", "1." + "0" * 22, "1." + "0" * 23,
      "1.2345678901234567890123", "123.4567890123456789012",
      "1e5", "1E-3", "-1.5e+2", "NaN", "-NaN", "Infinity", "-Infinity",
      "+Infinity", "0x1p3", "0x1.8p1", "1.5d", "1.5f", "1.5D", "2F",
      "", " ", "-", "+", "--1", "+-1", "1.2.3", "1 2", "1_0", "12\u007f")
    val rng = new scala.util.Random(9007199254740993L)
    def pick(xs: Seq[String]): String = xs(rng.nextInt(xs.size))
    // a decimal with a mantissa on both sides of 2^53 and 0-24 fraction digits
    def decimal(): String = {
      val m = ((rng.nextLong() >>> 10) >>> rng.nextInt(54)).toString
      val k = rng.nextInt(25)
      val d = "0" * math.max(0, k + 1 - m.length) + m
      val body = d.substring(0, d.length - k) + "." + d.substring(d.length - k)
      (if (rng.nextBoolean()) "-" else "") +
        (if (k == 0 && rng.nextBoolean()) body.dropRight(1) else body)
    }
    def narrow(ts: String, id: String, lat: String, lon: String): String =
      Seq(ts, id, lat, lon).mkString(",")
    def wide(n: Int, ts: String, id: String, lat: String, lon: String,
        filler: String = "x"): String =
      (Seq(ts, id) ++ Seq.fill(7)(filler) ++ Seq(lat, lon) ++
        Seq.fill(n - 11)("extra")).take(n).mkString(",")
    val edges = coords.flatMap(c => Seq(
      narrow(stamps(0), "42", c, "90.1"), narrow(stamps(1), "7", "23.5", c),
      wide(11, stamps(2), "42", c, "90.1"), wide(12, stamps(0), "9", "23.5", c))) ++
      ids.flatMap(id => stamps.map(ts => narrow(ts, id, "23.5", "90.1"))) ++
      Seq(
        "", ",,,", "a,b,c", "2015-02-14 23:51:40,42,23.5", // too few fields
        narrow(stamps(0), "42", "23.5", "90.1") + ",", // 5 fields, last empty
        wide(10, stamps(0), "42", "23.5", "90.1"), // lat but no lon
        wide(11, stamps(0), "42", "23.5", "90.1"),
        wide(11, stamps(0), "42", "23.5", "90.1", filler = "caf\u00e9"),
        wide(12, stamps(0), "42", "23.5", "90.1", filler = "\"q,u\""),
        narrow(stamps(0), "\"42\"", "23.5", "90.1"),
        narrow(stamps(0), "42", "\"23.5\"", "90.1"),
        narrow(stamps(0), "42", "23\"5", "90.1"),
        narrow(stamps(0), "42", "\"2,3\"", "90.1"),
        narrow(stamps(0), "4\u00e92", "23.5", "90.1"),
        narrow(stamps(0), "42", "\u0662\u0663", "90.1"))
    val fuzz = Seq.fill(20000) {
      val lat = if (rng.nextInt(3) == 0) pick(coords) else decimal()
      val lon = if (rng.nextInt(3) == 0) pick(coords) else decimal()
      val ts = pick(stamps)
      val id = pick(ids)
      rng.nextInt(10) match {
        case 0 => wide(10 + rng.nextInt(3), ts, id, lat, lon)
        case 1 => narrow(ts, id, lat, lon).patch(rng.nextInt(12), pick(Seq(",", "\"", "\u00e9")), 0)
        case _ => narrow(ts, id, lat, lon)
      }
    }
    def canonical(rec: Array[Any]): Seq[Any] =
      if (rec == null) null
      else rec.toSeq.map {
        case d: java.lang.Double => ("bits", java.lang.Double.doubleToRawLongBits(d))
        case x => x
      }
    val inputs = edges ++ fuzz
    var kept = 0
    for (line <- inputs) {
      // the reader hands parseLine a view into its line buffer
      val bytes = ("#" + line + "#").getBytes(StandardCharsets.UTF_8)
      val view = UTF8String.fromBytes(bytes, 1, bytes.length - 2)
      val fast = canonical(VehicleCsvSource.parseLine(view))
      assert(fast == canonical(VehicleCsvSource.parseLineFallback(view)),
        s"line '$line'")
      if (fast != null) kept += 1
    }
    // the property is not vacuous: many lines parse, many drop
    assert(kept > inputs.size / 10 && kept < inputs.size * 9 / 10,
      s"$kept of ${inputs.size} kept")
  }
}
