package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.HttpSink

/** The reference's CLI surface (behavior of opentraffic/csv-loader
  * CsvLoader.java:31-70 `main`): `-f <csv>` (required) and `-u <url>`
  * (default `http://localhost:4567/locationUpdate`), load the file, POST
  * protobuf envelopes. A reference user can run the same command against
  * this engine:
  *
  * {{{
  * sbt "runMain graft.CsvLoaderCli -f pings.csv.gz -u http://host/locationUpdate"
  * }}}
  *
  * One pass, like the reference's record loop (CsvLoader.java:110-169):
  * [[load]] reads the input once through `graft-vehicle-csv`, and each
  * task POSTs its rows in envelopes of up to 10,000 messages as they
  * stream out of the parser ([[HttpSink.postThrough]]); the same rows
  * then feed the run summary's count and dual distinct counts, so
  * nothing is cached and the first POST leaves after the first chunk's
  * parse, not after the whole file's. Delivery is at-least-once, as in
  * the reference: a chunk that is POSTed is not recalled, so a retried
  * task or a recomputed stage POSTs its chunks again, as the reference's
  * retry of a received-but-unacknowledged POST can.
  *
  * Differences from the reference, all deliberate: the load parallelizes
  * across cores/executors (the reference is a single-threaded loop; a
  * plain file is read in byte ranges, a `.gz`/`.zip` by one task per
  * file); a bad vehicle id drops the row instead of aborting the load;
  * the run summary reports the dual distinct counts from a distributed
  * aggregate, not driver-side HashSets. The random per-run sourceId
  * (CsvLoader.java:63) is minted here at the process boundary — never
  * inside query logic, so all registered queries stay deterministic. */
object CsvLoaderCli {

  /** The run summary: valid records delivered, distinct raw vehicle-id
    * strings, distinct low-64 vehicle ids (CsvLoader.java:105-106). */
  final case class Summary(records: Long, uniqueVehicles: Long, uniqueIds: Long)

  /** POST every valid record of `csv` to `url` under `sourceId` and
    * return the run summary, in one read of the input. */
  def load(spark: SparkSession, csv: String, url: String, sourceId: Long): Summary = {
    val row = summaryFrame(spark, csv, url, sourceId).collect()(0)
    Summary(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** The one-row summary whose execution is the whole load: scan, POST
    * pass-through, then the count and distinct counts. */
  private[graft] def summaryFrame(spark: SparkSession, csv: String, url: String,
      sourceId: Long): DataFrame = {
    import spark.implicits._
    val sink = new HttpSink(url, sourceId)
    spark.read.format("graft-vehicle-csv").load(csv)
      .select("vehicle_id_str", "vehicle_id", "lat", "lon", "ts_ms")
      .as[(String, Long, Double, Double, Long)]
      .mapPartitions { rows =>
        // one single-location message per record (CsvLoader.java:152)
        sink.postThrough(rows) { (chunk, r) => chunk.add(r._2, r._3, r._4, r._5) }
          .map(r => (r._1, r._2))
      }
      .toDF("vehicle_id_str", "vehicle_id")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("vehicle_id_str")).as("uniq_str"),
        countDistinct(col("vehicle_id")).as("uniq_id"))
  }

  def main(args: Array[String]): Unit = {
    var file: Option[String] = None
    var url = "http://localhost:4567/locationUpdate"
    var i = 0
    def usageExit(msg: String): Nothing = {
      System.err.println(msg)
      System.err.println("usage: CsvLoaderCli -f <csv[.gz|.zip]> [-u <url>]")
      sys.exit(2)
    }
    while (i < args.length) {
      args(i) match {
        case "-f" if i + 1 < args.length => file = Some(args(i + 1)); i += 2
        case "-u" if i + 1 < args.length => url = args(i + 1); i += 2
        case flag @ ("-f" | "-u") => usageExit(s"missing value for $flag")
        case other                => usageExit(s"unknown argument: $other")
      }
    }
    val csv = file.getOrElse(usageExit("option -f <csv> is required"))
    if (!new java.io.File(csv).exists()) {
      System.err.println(s"file not found: $csv")
      sys.exit(1)
    }

    val spark = SparkEnv.local("csv-loader")
    try {
      // per-run lineage tag, minted at the process boundary only
      // (CsvLoader.java:63 semantics)
      val sourceId = java.util.UUID.randomUUID().getLeastSignificantBits
      val s = load(spark, csv, url, sourceId)
      // run summary — reference's progress line (CsvLoader.java:161-165)
      println(s"Loaded ${s.records} records " +
        s"(${s.uniqueVehicles} unique vehicles, ${s.uniqueIds} unique ids) " +
        s"sourceId=$sourceId -> $url")
    } finally spark.stop()
  }
}
