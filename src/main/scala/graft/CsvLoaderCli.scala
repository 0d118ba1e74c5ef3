package graft

import org.apache.spark.Partitioner
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

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
  * parse, not after the whole file's. The rows are the scan's own
  * `InternalRow`s, read in place: no JVM object per row. Each task
  * counts them in an [[IdTable]] keyed on the primitive low-64 id, the
  * reference's two `HashSet`s (CsvLoader.java:105-106, 147-148) made
  * per-task, and shuffles one entry per distinct id to a reducer chosen
  * by that id, in the same job as the scan (see [[load]]). Delivery is
  * at-least-once, as in the reference: a chunk that is POSTed is not
  * recalled, so a retried task or a recomputed stage POSTs its chunks
  * again, as the reference's retry of a received-but-unacknowledged POST
  * can.
  *
  * Differences from the reference, all deliberate: the load parallelizes
  * across cores/executors (the reference is a single-threaded loop; a
  * plain file is read in byte ranges, a `.gz`/`.zip` by one task per
  * file); a bad vehicle id drops the row instead of aborting the load;
  * the run summary reports the dual distinct counts from a distributed
  * aggregate, not driver-side HashSets: each reducer holds the ids of its
  * share of the key space, so no one set spans the input. The random
  * per-run sourceId (CsvLoader.java:63) is minted here at the process
  * boundary — never inside query logic, so all registered queries stay
  * deterministic. */
object CsvLoaderCli {

  /** The run summary: valid records delivered, distinct raw vehicle-id
    * strings, distinct low-64 vehicle ids (CsvLoader.java:105-106). */
  final case class Summary(records: Long, uniqueVehicles: Long, uniqueIds: Long) {
    def +(o: Summary): Summary = Summary(records + o.records,
      uniqueVehicles + o.uniqueVehicles, uniqueIds + o.uniqueIds)
  }

  /** One id's share of the summary: its row count and its distinct raw
    * strings, each a copy that owns its bytes. Two strings are one
    * vehicle when their bytes are equal: an id that parsed is valid
    * UTF-8, so that is `String` equality. */
  private[graft] final class IdCount(val rows: Long, val strings: Array[UTF8String])
      extends Serializable {
    def merge(o: IdCount): IdCount =
      new IdCount(rows + o.rows, (strings ++ o.strings).distinct)
  }

  /** Sends a low-64 id to its partition, so every entry of an id, from
    * any task, meets the others in one reducer. */
  private final case class IdPartitioner(numPartitions: Int) extends Partitioner {
    override def getPartition(key: Any): Int = key match {
      case id: Long => Math.floorMod(java.lang.Long.hashCode(id), numPartitions)
    }
  }

  /** Entries an [[IdTable]] holds before it is emitted and cleared. At
    * the cap its arrays have 2^17 slots (2.5 MB) and each entry holds one
    * copied id string and its one-element array (~100 B for an id of up to
    * 20 digits), ~9 MB in all: the map side's memory bound per task. */
  private[graft] final val TableCap = 1 << 16

  /** One scan task's ids: an open-addressing table (linear probing, at
    * most half full) from the low-64 id to its row count and its distinct
    * raw strings. A slot with a zero count is empty. Strings are copied
    * on first sight, since the scan reuses its rows' buffers; a repeat is
    * compared byte for byte with the id's few strings. */
  private[graft] final class IdTable(cap: Int = TableCap) {
    private var keys = new Array[Long](16)
    private var counts = new Array[Long](16)
    private var strings = new Array[Array[UTF8String]](16)
    private var n = 0

    def size: Int = n
    def full: Boolean = n >= cap
    /** Slots allocated; grows by doubling. */
    def slots: Int = keys.length

    private def slot(id: Long): Int = {
      // murmur3's 64-bit finalizer: ids that differ only in high bits
      // (2^63 + k and k) land apart
      var h = id
      h = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
      h = (h ^ (h >>> 33)) * 0xc4ceb9a3fe1a85ecL
      (h ^ (h >>> 33)).toInt & (keys.length - 1)
    }

    /** Count one row of id `id` and raw string `s`. */
    def add(id: Long, s: UTF8String): Unit = {
      var i = slot(id)
      while (counts(i) != 0 && keys(i) != id) i = (i + 1) & (keys.length - 1)
      if (counts(i) == 0) {
        keys(i) = id
        counts(i) = 1
        strings(i) = Array(s.copy())
        n += 1
        if (2 * n > keys.length) grow()
      } else {
        counts(i) += 1
        val have = strings(i)
        var j = 0
        while (j < have.length && !have(j).equals(s)) j += 1
        if (j == have.length) strings(i) = have :+ s.copy()
      }
    }

    private def grow(): Unit = {
      val (k, c, s) = (keys, counts, strings)
      keys = new Array[Long](k.length * 2)
      counts = new Array[Long](k.length * 2)
      strings = new Array[Array[UTF8String]](k.length * 2)
      for (i <- k.indices if c(i) != 0) {
        var j = slot(k(i))
        while (counts(j) != 0) j = (j + 1) & (keys.length - 1)
        keys(j) = k(i); counts(j) = c(i); strings(j) = s(i)
      }
    }

    /** The entries, one per id; the table is empty once the iterator is
      * exhausted, and must not be added to before. */
    def drain(): Iterator[(Long, IdCount)] = new Iterator[(Long, IdCount)] {
      private var i = 0
      override def hasNext: Boolean = {
        while (i < counts.length && counts(i) == 0) i += 1
        i < counts.length || { n = 0; false }
      }
      override def next(): (Long, IdCount) = {
        if (!hasNext) throw new NoSuchElementException
        val e = (keys(i), new IdCount(counts(i), strings(i)))
        counts(i) = 0
        strings(i) = null
        i += 1
        e
      }
    }
  }

  /** The entries of `rows` (column 0 the raw id string, column 1 the
    * low-64 id) folded in `table`, emitted each time it fills and when
    * `rows` runs out. An id may therefore repeat; its entries merge on
    * the reduce side. */
  private[graft] def countIds(rows: Iterator[InternalRow],
      table: IdTable): Iterator[(Long, IdCount)] =
    new Iterator[(Long, IdCount)] {
      private var out: Iterator[(Long, IdCount)] = Iterator.empty
      override def hasNext: Boolean = out.hasNext || {
        while (rows.hasNext && !table.full) {
          val r = rows.next()
          table.add(r.getLong(1), r.getUTF8String(0))
        }
        out = table.drain()
        out.hasNext
      }
      override def next(): (Long, IdCount) =
        if (hasNext) out.next() else throw new NoSuchElementException
    }

  /** POST every valid record of `csv` to `url` under `sourceId` and
    * return the run summary, in one read of the input and one job of two
    * stages. Each scan task POSTs its rows, reading the four message
    * fields from the scan's `InternalRow` in place, and folds the same
    * rows into an [[IdTable]] ([[countIds]]). One shuffle without
    * map-side combine, partitioned on the low-64 id
    * (`spark.sql.shuffle.partitions` reducers), merges each id's entries
    * in Spark's spillable map; each reducer counts (records, strings,
    * ids) over its merged entries, and the driver adds the reducers'
    * triples. */
  def load(spark: SparkSession, csv: String, url: String, sourceId: Long): Summary = {
    val sink = new HttpSink(url, sourceId)
    val byId = IdPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    spark.read.format("graft-vehicle-csv").load(csv)
      .select("vehicle_id_str", "vehicle_id", "lat", "lon", "ts_ms")
      .queryExecution.toRdd
      .mapPartitions { rows =>
        // one single-location message per record (CsvLoader.java:152)
        val sent = sink.postThrough(rows) { (chunk, r) =>
          chunk.add(r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))
        }
        countIds(sent, new IdTable)
      }
      .combineByKey[IdCount](c => c, _ merge _, _ merge _, byId, mapSideCombine = false)
      .mapPartitions { entries =>
        var records, strings, ids = 0L
        entries.foreach { case (_, c) => records += c.rows; strings += c.strings.length; ids += 1 }
        Iterator(Summary(records, strings, ids))
      }
      .reduce(_ + _)
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
