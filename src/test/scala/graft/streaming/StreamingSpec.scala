package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

case class CrawlDoc(doc_id: Long, url: String, ts: Timestamp)

/** Structured Streaming semantics (SURVEY.md §2.8 ST3-ST8): watermarked
  * dedup, tumbling windows with late-data drop, stateful running
  * distinct, checkpoint recovery of the `graft-vehicle-csv` stream.
  * Deterministic via MemoryStream + processAllAvailable. The ingest →
  * sink e2e and replay cases run on the DSv2 sinks, in
  * HttpSinkSourceSpec and KinesisSinkSourceSpec. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  /** transformWithState needs the RocksDB provider (multiple column
    * families) — also the right state store at 100 TB (spillable,
    * changelog-checkpointed), vs the default in-memory HDFS-backed one.
    * Changelog checkpointing on: commits upload the delta, not a full
    * snapshot — the setting a large-state production cluster runs with.
    * Unset even on failure: a leaked provider conf would silently switch
    * the state store under every later streaming test in this JVM. */
  private def withRocksDbStateStore[T](body: => T): T = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    try body
    finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
  }

  test("ST7: streaming dedup drops in-watermark duplicate event ids") {
    val input = MemoryStream[Ev]
    val q = StreamIngest.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(1), 1, "view", 2.0))
    q.processAllAvailable()
    input.addData(Ev(1, ts(0), 1, "click", 1.0), Ev(3, ts(2), 2, "click", 3.0))
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L, 3L)) // duplicate id=1 dropped
  }

  test("ST7b: dedup state is TTL-bounded — a duplicate past the watermark re-admits") {
    // the 100 TB contract behind dropDuplicatesWithinWatermark: dedup
    // state is EVICTED once the watermark passes, so state size is
    // bounded by the delay window, not the stream's lifetime — at the
    // price that a duplicate arriving after eviction re-admits. This
    // proves the eviction actually happens (the ST7 in-watermark test
    // above only proves the in-window drop).
    val input = MemoryStream[Ev]
    val q = StreamIngest.dedupStream(input.toDF(), "5 minutes")
      .writeStream.format("memory").queryName("dedup_ttl_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(Ev(1, ts(0), 1, "click", 1.0))
    q.processAllAvailable()
    // advance event time far past id=1's state TTL (watermark → ~35 min)
    input.addData(Ev(2, ts(40), 1, "view", 2.0))
    q.processAllAvailable()
    // same event_id, fresh in-watermark timestamp: state was evicted,
    // so it must be re-admitted
    input.addData(Ev(1, ts(41), 1, "click", 1.0))
    q.processAllAvailable()
    val n1 = spark.table("dedup_ttl_out")
      .filter(col("event_id") === 1).count()
    q.stop()
    assert(n1 == 2, "expired dedup state must re-admit (bounded-state contract)")
  }

  test("streaming URL-canonical admission: a resubmission under a different " +
      "surface form is rejected across micro-batches; TTL evicts") {
    // the q115 rule on the crawl frontier — four surface forms of the
    // same canonical url, arriving in separate micro-batches
    val input = MemoryStream[CrawlDoc]
    val q = StreamIngest.urlDedupStream(input.toDF(), "5 minutes")
      .writeStream.format("memory").queryName("url_dedup_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(CrawlDoc(1, "https://site1.example.com/doc/9", ts(0)))
    q.processAllAvailable()
    // batch 2: same canonical url, three different surface forms + one
    // genuinely new url
    input.addData(
      CrawlDoc(2, "HTTPS://WWW.SITE1.EXAMPLE.COM/DOC/9", ts(1)),
      CrawlDoc(3, "https://site1.example.com:443/doc/9/", ts(1)),
      CrawlDoc(4, "https://site1.example.com/doc/9?utm_source=feed#frag", ts(1)),
      CrawlDoc(5, "https://site2.example.com/doc/7", ts(1)))
    q.processAllAvailable()
    val admitted1 = spark.table("url_dedup_out").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted1 == Seq(1L, 5L),
      s"resubmissions must be rejected across batches: $admitted1")
    // TTL: advance event time far past the watermark, then resubmit the
    // same canonical url — state evicted, re-admits (the ST7b contract:
    // frontier memory = the delay window, re-crawls re-admit)
    input.addData(CrawlDoc(6, "https://other.example.com/x", ts(40)))
    q.processAllAvailable()
    input.addData(CrawlDoc(7, "https://www.site1.example.com/doc/9", ts(41)))
    q.processAllAvailable()
    val admitted2 = spark.table("url_dedup_out").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(admitted2.contains(7L),
      s"expired canon-url state must re-admit: $admitted2")
  }

  test("streaming PII redaction: per-batch masking + audit counts equal " +
      "the batch chain on the same planted corpus") {
    // planted rows covering every class, multi-class docs, and a
    // no-PII doc — delivered across TWO micro-batches to prove the
    // stateless chain is batch-boundary-invariant
    val batch1 = Seq(
      (1L, "reach me at user1@example.com for details", ts(0)),
      (2L, "call 555-123-0042 today", ts(0)),
      (3L, "server 10.0.4.17 responded", ts(1)))
    val batch2 = Seq(
      (4L, "user4@example.com or 555-123-9999 from 192.168.1.1", ts(2)),
      (5L, "no pii in this document at all", ts(2)),
      (6L, "two mails a@b.co c.d@e.org one ip 8.8.8.8", ts(3)))
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = StreamIngest.piiRedactStream(
        input.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("pii_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.table("pii_out")
      .select("doc_id", "n_emails", "n_phones", "n_ips",
        "n_chars_before", "n_chars_after", "redacted")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    q.stop()
    // the batch arm: the SAME shared expression chain over a static DF
    // of the same rows (what q163 runs on the documents table)
    val expected = (batch1 ++ batch2).toDF("doc_id", "text", "ts")
      .select(col("doc_id") +:
        graft.functions.TextRules.piiAuditCols(col("text")): _*)
      .withColumn("n_chars_after", length(col("redacted")).cast("long"))
      .select("doc_id", "n_emails", "n_phones", "n_ips",
        "n_chars_before", "n_chars_after", "redacted")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(streamed == expected,
      "stream and batch PII audits diverged on identical rows")
    // spot-pin the semantics: masking happened, counts audit the finds
    assert(expected(4L).head == 1L) // one email
    assert(expected(4L)(1) == 1L) // one phone
    assert(expected(4L)(2) == 1L) // one ip
    assert(expected(6L).head == 2L, "two emails in doc 6")
    val red6 = expected(6L).last.asInstanceOf[String]
    assert(red6.contains("<EMAIL>") && red6.contains("<IP>") &&
      !red6.contains("8.8.8.8"))
    assert(expected(5L).take(3) == Seq(0L, 0L, 0L))
  }

  test("streaming line-dedup: a line recurring across distinct docs flags " +
      "from its second doc on; TTL evicts line state") {
    withRocksDbStateStore {
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = StreamIngest.lineDedupStream(spark,
      input.toDF().toDF("doc_id", "text", "ts"), ttlMs = 5 * 60 * 1000L)
    val q = out.toDF("doc_id", "line", "is_boiler")
      .writeStream.format("memory").queryName("line_dedup_out")
      .outputMode(OutputMode.Append()).start()
    // doc 1: two 5-token lines (the second will become boilerplate)
    input.addData((1L, "alpha beta gamma delta eps cookie banner click accept now", ts(0)))
    q.processAllAvailable()
    // doc 2 repeats the cookie-banner line + adds a unique one
    input.addData((2L, "cookie banner click accept now fresh unique words here two", ts(1)))
    q.processAllAvailable()
    // doc 3 repeats it again — still flagged (state persists within TTL)
    input.addData((3L, "cookie banner click accept now", ts(2)))
    q.processAllAvailable()
    val banner = "cookie banner click accept now"
    val rows1 = spark.table("line_dedup_out")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(rows1.filter(_._2 == banner).toSeq.sortBy(_._1).map(x => (x._1, x._3))
        == Seq((1L, false), (2L, true), (3L, true)),
      s"line must flag from its second distinct doc on: ${rows1.toSeq}")
    assert(rows1.filter(_._1 == 1L).filterNot(_._2 == banner).forall(!_._3),
      "doc 1's unique lines must not flag")
    assert(rows1.filter(_._2.startsWith("fresh unique")).forall(!_._3),
      "doc 2's unique line must not flag")
    // in-batch determinism: two docs sharing a line arrive in ONE
    // micro-batch — the (ts, doc_id)-sorted fold makes the lower ts the
    // unflagged "first" and flags the later one, on every run
    input.addData(
      (10L, "same batch shared line here", ts(3)),
      (11L, "same batch shared line here", ts(4)))
    q.processAllAvailable()
    val batchRows = spark.table("line_dedup_out")
      .filter(col("line") === "same batch shared line here")
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sorted.toSeq
    assert(batchRows == Seq((10L, false), (11L, true)),
      s"in-batch first/flag split must be (ts, doc_id)-deterministic: $batchRows")
    // TTL eviction: advance the watermark far past lastSeen + TTL, then
    // resubmit — state was removed, so the banner re-admits as FRESH
    input.addData((4L, "unrelated words to move watermark on", ts(45)))
    q.processAllAvailable()
    input.addData((5L, banner, ts(46)))
    q.processAllAvailable()
    val rows2 = spark.table("line_dedup_out")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    q.stop()
    assert(rows2.exists(r => r._1 == 5L && r._2 == banner && !r._3),
      s"expired line state must re-admit as fresh: ${rows2.toSeq}")
    }
  }

  test("ST3/ST6: tumbling window finalizes after watermark passes; late data dropped") {
    val input = MemoryStream[Ev]
    val q = StreamIngest.tumblingCounts(input.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("tumble_out")
      .outputMode(OutputMode.Append()).start()
    // window [10:00, 11:00): 2 clicks
    input.addData(Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 1.0))
    q.processAllAvailable()
    // advance event time past 11:00 + 10min watermark → hour window closes
    input.addData(Ev(3, Timestamp.valueOf("2024-01-01 11:30:00"), 1, "view", 1.0))
    q.processAllAvailable()
    // this event is 80+ min late — beyond watermark, must be dropped
    input.addData(Ev(4, ts(1), 1, "click", 1.0))
    q.processAllAvailable()
    input.addData(Ev(5, Timestamp.valueOf("2024-01-01 13:00:00"), 1, "view", 1.0))
    q.processAllAvailable()
    val out = spark.table("tumble_out")
      .select(col("ws").cast("string"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(out.contains(("2024-01-01 10:00:00", "click", 2L))) // late id=4 not counted
  }

  test("ST5: streaming session window groups by inactivity gap") {
    val input = MemoryStream[Ev]
    val q = StreamIngest.sessionCounts(input.toDF(), gap = "5 minutes",
        watermark = "1 minute")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    // two sessions for user 1: events at 10:00/10:02 (gap<5m), then 10:30
    input.addData(Ev(1, ts(0), 1, "a", 0), Ev(2, ts(2), 1, "a", 0),
      Ev(3, ts(30), 1, "a", 0))
    q.processAllAvailable()
    input.addData(Ev(4, Timestamp.valueOf("2024-01-01 12:00:00"), 2, "a", 0))
    q.processAllAvailable() // advance watermark → close sessions
    val out = spark.table("sess_out")
      .select(col("user_id"), col("n_events")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(out.contains((1L, 2L)) && out.contains((1L, 1L)))
  }

  test("S9: progress listener accumulates per-batch input rows") {
    val listener = new ProgressLog
    spark.streams.addListener(listener)
    try {
      val input = MemoryStream[Ev]
      val q = input.toDF().writeStream.format("memory")
        .queryName("prog_out").outputMode(OutputMode.Append()).start()
      input.addData(Ev(1, ts(0), 1, "a", 0), Ev(2, ts(1), 1, "a", 0))
      q.processAllAvailable()
      input.addData(Ev(3, ts(2), 1, "a", 0))
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
      // listener events are async; poll briefly
      val deadline = System.nanoTime() + 5e9.toLong
      while (listener.totalRows < 3 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(listener.totalRows == 3)
    } finally spark.streams.removeListener(listener)
  }

  test("stream-stream interval join: purchases join clicks within 10 min") {
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val c = clicks.toDF().withWatermark("ts", "1 minute")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val b = buys.toDF().withWatermark("ts", "1 minute")
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
    val q = b.join(c,
        col("b_user") === col("c_user") &&
        col("c_ts") >= col("b_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("b_ts"))
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append()).start()
    clicks.addData(Ev(1, ts(0), 1, "click", 0), Ev(2, ts(30), 1, "click", 0),
      Ev(3, ts(5), 2, "click", 0))
    buys.addData(Ev(10, ts(8), 1, "purchase", 0)) // joins click@10:00 only
    q.processAllAvailable()
    val rows = spark.table("ssj_out")
      .select(col("b_id"), col("c_ts").cast("string")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    q.stop()
    assert(rows == Set((10L, "2024-01-01 10:00:00")))
  }

  test("stream-static join: stream enriched from a static dimension table") {
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[Ev]
    val q = input.toDF().join(dim, Seq("user_id"))
      .select(col("event_id"), col("tier"))
      .writeStream.format("memory").queryName("ssj_static_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(Ev(1, ts(0), 1, "click", 0), Ev(2, ts(1), 2, "view", 0),
      Ev(3, ts(2), 99, "view", 0)) // user 99 not in dim → dropped (inner)
    q.processAllAvailable()
    val rows = spark.table("ssj_static_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    q.stop()
    assert(rows == Set((1L, "gold"), (2L, "basic")))
  }

  test("JSONL source: schema-applied json lines match the parquet events table") {
    val dir = Files.createTempDirectory("graft-jsonl")
    val pq = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .limit(50).cache()
    // micro-precision timestampFormat: to_json's default truncates to ms
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    pq.select(to_json(struct(col("*")),
        Map("timestampFormat" -> tsFmt).asJava).as("value"))
      .coalesce(1).write.mode("overwrite").text(dir.toString + "/out")
    val back = spark.read.schema(pq.schema)
      .option("timestampFormat", tsFmt).json(dir.toString + "/out")
    assert(back.count() == 50)
    val a = pq.orderBy("event_id").collect().map(_.toSeq).toSeq
    val b = back.orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("ST8: MapState-backed running distinct (transformWithState — the ST8 path since r11)") {
    withRocksDbStateStore {
      val input = MemoryStream[(String, Long)]
      val q = StreamIngest.runningDistinctTws(spark, input.toDS())
        .toDF("key", "n_distinct")
        .writeStream.format("memory").queryName("tws_out")
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData(("a", 1L), ("a", 2L), ("b", 5L))
        q.processAllAvailable()
        input.addData(("a", 2L), ("a", 9L), ("b", 5L))
        q.processAllAvailable()
      } finally q.stop()
      val last = spark.table("tws_out").collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(last == Map("a" -> 3L, "b" -> 1L))
    }
  }

  test("checkpoint recovery: restart resumes without reprocessing (exactly-once file sink)") {
    val in = Files.createTempDirectory("graft-ckpt-in")
    val out = Files.createTempDirectory("graft-ckpt-out")
    val ckpt = Files.createTempDirectory("graft-ckpt")
    def startQuery() =
      spark.readStream.format("graft-vehicle-csv").load(in.toString)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Append()).start()
    Files.write(in.resolve("a.csv"),
      "2015-02-14 23:51:40+05,1,1.0,1.0\n2015-02-14 23:51:41+05,2,1.0,1.0\n"
        .getBytes(StandardCharsets.UTF_8))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    Files.write(in.resolve("b.csv"),
      "2015-02-14 23:51:42+05,3,1.0,1.0\n".getBytes(StandardCharsets.UTF_8))
    val q2 = startQuery() // restart from the same checkpoint
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(out.toString)
      .select("vehicle_id").collect().map(_.getLong(0)).sorted
    // a.csv NOT reprocessed after restart: each ping exactly once
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("incremental corpus dedup runs as a stream: cross-batch dups never land") {
    // the q87 daily-ingest operator under Structured Streaming: each
    // micro-batch of incoming docs is content-hash deduped within the
    // batch (deterministic min-doc_id survivor) and anti-joined against
    // the ACCUMULATED corpus before landing — the corpus-side state is
    // storage (parquet), not executor memory, so it scales with the
    // store, survives restarts, and is exactly what a 100 TB corpus's
    // admission pipeline looks like as a stream
    val corpus = Files.createTempDirectory("graft-inc-corpus").toString
    Seq((100L, "seed text")).toDF("doc_id", "text")
      .withColumn("h", md5(col("text")))
      .write.mode("overwrite").parquet(corpus)
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val s = batch.sparkSession
        val admitted = batch
          .withColumn("h", md5(col("text")))
          .groupBy(col("h"))
          .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
          .join(s.read.parquet(corpus).select(col("h")), Seq("h"), "left_anti")
          .select(col("doc_id"), col("text"), col("h"))
        admitted.write.mode("append").parquet(corpus)
      }.start()
    try {
      in.addData((1L, "alpha"), (2L, "beta"))
      q.processAllAvailable()
      in.addData((3L, "beta"), (4L, "gamma")) // beta: cross-batch dup
      q.processAllAvailable()
      // cross-batch dups of both earlier batches + an in-batch dup pair
      in.addData((5L, "alpha"), (6L, "gamma"), (7L, "delta"), (8L, "delta"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(corpus).collect()
    // row count FIRST: a .toMap would silently mask a duplicate admission
    // (two 'alpha' rows collapse to whichever partition order serves last)
    assert(rows.length == 5, s"expected 5 admitted docs, got ${rows.length}: " +
      rows.map(r => (r.getLong(0), r.getString(1))).mkString(", "))
    val landed = rows.map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(landed == Map("seed text" -> 100L, "alpha" -> 1L, "beta" -> 2L,
      "gamma" -> 4L, "delta" -> 7L),
      s"admission pipeline admitted the wrong survivors: $landed")
  }

  test("streaming near-dup admission: near-dups rejected, fresh docs land, index reused across batches") {
    // the q92 operator inside foreachBatch — the incremental-crawl shape.
    // A FRESH corpus dir makes the hot-shingle memo cold: batch 1 must
    // build the index exactly once; batch 2 must reuse it (memo count
    // flat, scratch dirs flat, strictly fewer Spark jobs — no corpus
    // re-scan).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val corpusRoot = Files.createTempDirectory("graft-nd-corpus").toString
    graft.Tables.documents(spark, sf0001).write.mode("overwrite")
      .parquet(s"$corpusRoot/documents.parquet")
    val admitted = Files.createTempDirectory("graft-nd-admit").resolve("docs").toString

    val base = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // long docs: a 3-token suffix leaves Jaccard ≈ n/(n+4) ≥ 0.8 only
    // when the doc has enough trigrams — pick 4 with ≥30 tokens
    val longIds = base.filter(_._2.split(" ").length >= 30).keys.toSeq.sorted
    assert(longIds.size >= 4, s"sf0.001 has only ${longIds.size} long docs")
    def suffixed(id: Long) = base(id) + " v2 updated fresh"
    def reversed(id: Long) = base(id).split(" ").reverse.mkString(" ")

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // listener events post asynchronously — wait until the count stops
    // moving before reading it
    def settledJobs(): Int = {
      var last = -1; var cur = jobs.get()
      var spins = 0
      while (cur != last && spins < 50) {
        last = cur; Thread.sleep(200); cur = jobs.get(); spins += 1
      }
      cur
    }

    val hotBefore = graft.operators.DatasetCache.stats.getOrElse("hot-shingles", 0)
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        NearDupAdmission.admitBatch(batch, corpusRoot, admitted)
      }.start()
    spark.sparkContext.addSparkListener(listener)
    try {
      in.addData((9001L, suffixed(longIds(0))), (9002L, reversed(longIds(1))))
      q.processAllAvailable()
      val j1 = settledJobs()
      val hotAfter1 = graft.operators.DatasetCache.stats.getOrElse("hot-shingles", 0)
      assert(hotAfter1 == hotBefore + 1,
        s"batch 1 must build the corpus index exactly once ($hotBefore -> $hotAfter1)")
      val dirs1 = graft.operators.Scratch.liveDirCount
      jobs.set(0)
      in.addData((9003L, suffixed(longIds(2))), (9004L, reversed(longIds(3))))
      q.processAllAvailable()
      val j2 = settledJobs()
      assert(graft.operators.DatasetCache.stats.getOrElse("hot-shingles", 0) == hotAfter1,
        "batch 2 rebuilt the hot-shingle index instead of reusing the memo")
      assert(graft.operators.Scratch.liveDirCount == dirs1,
        "per-batch verdict scratch leaked (or a second index dir appeared)")
      assert(j2 < j1,
        s"batch 2 ran $j2 jobs vs batch 1's $j1 — the index-build jobs should be absent")
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
    val landed = spark.read.parquet(admitted).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    assert(landed.map(_._1).toSeq.sorted == Seq(9002L, 9004L),
      s"admission verdicts wrong: landed=${landed.map(_._1).toSeq.sorted}")
    assert(landed.toMap == Map(
      9002L -> reversed(longIds(1)), 9004L -> reversed(longIds(3))))
  }

  test("near-dup admission is replay-idempotent: a re-delivered batch appends nothing") {
    // foreachBatch + append file sink is at-least-once across restarts: a
    // crash between the parquet append and the checkpoint commit
    // re-delivers the same batch. The admitted-store anti-join must make
    // the replay a no-op, not a duplicate append.
    val admitted = Files.createTempDirectory("graft-nd-replay").resolve("docs").toString
    val batch = Seq(
      (7001L, "wholly novel alpha beta gamma delta epsilon zeta"),
      (7002L, "equally novel one two three four five six seven"))
      .toDF("doc_id", "text")
    NearDupAdmission.admitBatch(batch, sf0001, admitted)
    val first = spark.read.parquet(admitted).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(first.map(_._1) == Seq(7001L, 7002L), s"fresh docs must land: $first")
    NearDupAdmission.admitBatch(batch, sf0001, admitted) // the replay
    val second = spark.read.parquet(admitted).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(second == first, s"replayed batch re-admitted docs: $second")
  }

  test("near-dup admission: empty micro-batch is a no-op (streams deliver them routinely)") {
    val admitted = Files.createTempDirectory("graft-nd-empty").resolve("docs").toString
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val dirsBefore = graft.operators.Scratch.liveDirCount
    NearDupAdmission.admitBatch(empty, sf0001, admitted)
    assert(graft.operators.Scratch.liveDirCount == dirsBefore,
      "empty batch leaked a scratch dir")
    // the store may or may not exist yet; if it does, it must be empty
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(admitted)))
      assert(spark.read.parquet(admitted).count() == 0)
    // and a real batch afterwards still works against the same store
    NearDupAdmission.admitBatch(
      Seq((7100L, "post empty batch doc with plenty novel words here"))
        .toDF("doc_id", "text"), sf0001, admitted)
    assert(spark.read.parquet(admitted).collect().map(_.getLong(0)).toSeq == Seq(7100L))
  }

  test("index refresh: folded admitted docs block their near-dups from the next batch") {
    val corpusRoot = Files.createTempDirectory("graft-nd-refresh").toString
    graft.Tables.documents(spark, sf0001).write.mode("overwrite")
      .parquet(s"$corpusRoot/documents.parquet")
    val admitted = Files.createTempDirectory("graft-nd-refresh-admit")
      .resolve("docs").toString
    // batch 1: a genuinely novel long doc — admitted
    val novel = (1 to 40).map(i => s"refreshtok$i").mkString(" ")
    NearDupAdmission.admitBatch(
      Seq((8001L, novel)).toDF("doc_id", "text"), corpusRoot, admitted)
    assert(spark.read.parquet(admitted).count() == 1)
    // a near-dup of the ADMITTED doc, before any refresh: the corpus
    // index doesn't know it yet, so it lands — the documented trade of
    // refresh-cadence (vs per-batch) index folding
    NearDupAdmission.admitBatch(
      Seq((8002L, novel + " v2 fresh suffix")).toDF("doc_id", "text"),
      corpusRoot, admitted)
    assert(spark.read.parquet(admitted).count() == 2,
      "pre-refresh: corpus-blind near-dup should land")
    // the refresh cadence: fold the store into the corpus, drop memos
    NearDupAdmission.refreshCorpus(spark, corpusRoot, admitted)
    // a near-dup of the folded doc must now be REJECTED
    NearDupAdmission.admitBatch(
      Seq((8003L, novel + " v3 another suffix")).toDF("doc_id", "text"),
      corpusRoot, admitted)
    val ids = spark.read.parquet(admitted).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(8001L, 8002L), s"post-refresh near-dup was admitted: $ids")
  }

  test("streaming graph-append deltas: two AvailableNow increments over " +
      "a shared checkpoint land exactly the batch splice, once") {
    val batchRows = graft.queries.LlmOps.derivedGraphBatch(spark, sf0001)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).toArray, r.getSeq[Long](2).toArray))
    assert(batchRows.length >= 2, "derived batch too small for a 2-way split")
    val (b1, b2) = batchRows.splitAt(batchRows.length / 2)
    val out = Files.createTempDirectory("graph-delta-out").toString
    val ckpt = Files.createTempDirectory("graph-delta-ckpt").toString
    val input = MemoryStream[(Long, Array[Double], Array[Long])]
    def runIncrement(rows: Seq[(Long, Array[Double], Array[Long])]): Unit = {
      input.addData(rows: _*)
      val q = StreamIngest.toGraphDeltaSink(spark,
          input.toDF().toDF("nid", "ne", "vq"), sf0001, out)
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination() // AvailableNow: drains what's there, stops
    }
    runIncrement(b1.toSeq)
    runIncrement(b2.toSeq) // restart resumes from the checkpoint: b1 NOT replayed
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    // exactly-once across the restart: no duplicate delta rows
    assert(got.length == got.toSet.size, "replayed deltas landed twice")
    val (got1, got0) =
      got.partition(r => r._4 == "new1" || r._4 == "rev1")
    // union across increments == the one-shot batch splice delta
    val cand = graft.queries.LlmOps.graphSpliceCandidates(spark, sf0001,
        graft.queries.LlmOps.derivedGraphBatch(spark, sf0001))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expNew = cand.groupBy(_._1).values
      .flatMap(_.sortBy(t => (-t._3, t._2)).take(3))
      .map { case (n, v, s) => (n, v, s, "new") }.toSet
    val expRev = cand.map { case (n, v, s) => (v, n, s, "rev") }.toSet
    assert(got0.toSet == expNew ++ expRev,
      s"stream deltas diverge from the batch splice: " +
        s"missing=${((expNew ++ expRev) -- got0.toSet).take(3)} " +
        s"extra=${(got0.toSet -- (expNew ++ expRev)).take(3)}")
    assert(expNew.nonEmpty && expRev.nonEmpty)
    // LAYER-1 deltas (r19): union across increments == the one-shot
    // q188 insert-walk deltas for the batch's layer-1 members
    val vis1 = graft.queries.LlmOps.layer1SpliceVisited(spark, sf0001,
        graft.queries.LlmOps.derivedGraphBatch(spark, sf0001)
          .filter(col("nid") % 8 === 0)
          .select(col("nid").as("pid"), col("ne").as("pe")))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val expNew1 = vis1.groupBy(_._1).values
      .flatMap(_.sortBy(t => (-t._3, t._2)).take(3))
      .map { case (n, v, s) => (n, v, s, "new1") }.toSet
    val expRev1 = vis1.map { case (n, v, s) => (v, n, s, "rev1") }.toSet
    assert(got1.toSet == expNew1 ++ expRev1,
      s"layer-1 stream deltas diverge from the q188 walk: " +
        s"missing=${((expNew1 ++ expRev1) -- got1.toSet).take(3)} " +
        s"extra=${(got1.toSet -- (expNew1 ++ expRev1)).take(3)}")
    assert(expNew1.nonEmpty && expRev1.nonEmpty,
      "no layer-1 member in the streamed batch — vacuous")
  }

  test("streaming fingerprint flagging: banded Hamming state flags " +
      "near-dups across micro-batches and band offsets; TTL evicts") {
    withRocksDbStateStore {
    // base fingerprint; near-dup = 1 flipped bit in h_lo (hamming 1,
    // ≥ 7 equal bands); another near-dup differs ONLY in h_hi band 7
    // (a different band must catch it); far = complement (all 8 bands
    // differ — no candidate pair at all)
    val (hi0, lo0) = (0x0123456789abcdefL, 0x0fedcba987654321L)
    val near1 = (hi0, lo0 ^ 1L)
    val near2 = (hi0 ^ (1L << 63), lo0)
    val far = (~hi0, ~lo0)
    val input = MemoryStream[(Long, Long, Long, Timestamp)]
    val out = StreamIngest.fingerprintDedupStream(spark,
      input.toDF().toDF("media_id", "h_hi", "h_lo", "ts"),
      ttlMs = 5 * 60 * 1000L)
    val q = out.toDF("media_id", "dup_of", "flagged")
      .writeStream.format("memory").queryName("fp_dedup_out")
      .outputMode(OutputMode.Append()).start()
    input.addData((100L, hi0, lo0, ts(0)))
    q.processAllAvailable()
    // batch 2: two near-dups (one per word) + one far fingerprint
    input.addData((101L, near1._1, near1._2, ts(1)),
      (102L, near2._1, near2._2, ts(1)), (103L, far._1, far._2, ts(1)))
    q.processAllAvailable()
    val r1 = spark.table("fp_dedup_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(r1(100L) == (-1L, false), "first arrival must not flag")
    assert(r1(101L) == (100L, true), "h_lo near-dup must flag as 100")
    assert(r1(102L) == (100L, true), "h_hi near-dup must flag as 100")
    assert(r1(103L) == (-1L, false), "all-bands-differ must not flag")
    // in-batch determinism: identical fingerprints in ONE micro-batch —
    // the (ts, id)-sorted fold flags the higher id against the lower
    input.addData((110L, 0x42L, 0x43L, ts(2)), (111L, 0x42L, 0x43L, ts(2)))
    q.processAllAvailable()
    val r2 = spark.table("fp_dedup_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(r2(110L) == (-1L, false) && r2(111L) == (110L, true),
      s"in-batch flagging must be (ts, id)-deterministic: $r2")
    // TTL: advance event time far past the watermark, then resubmit a
    // near-dup of the ORIGINAL — state evicted, no flag (the batch q184
    // closure remains the exact retroactive rule)
    input.addData((120L, far._1, far._2, ts(40)))
    q.processAllAvailable()
    input.addData((121L, near1._1, near1._2, ts(41)))
    q.processAllAvailable()
    val r3 = spark.table("fp_dedup_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    q.stop()
    assert(r3(121L) == (-1L, false), s"expired fingerprint state must " +
      s"not flag: $r3")
    }
  }

  test("streaming fingerprint admission equals the batch q184 closure " +
      "on the image arm (same arrival prefix, id order)") {
    withRocksDbStateStore {
    // the REAL planted image fingerprints (decode → dHash), arriving in
    // media_id order across several micro-batches with a TTL wider than
    // the whole run — the regime where the streaming rule (flag against
    // any prior in-radius arrival, dup_of = min match) must agree with
    // the batch closure (cluster survivor = min id): planted groups are
    // radius-cliques, so both rules resolve to the group minimum
    val hashes = graft.multimodal.Multimodal.dHashes(
        graft.multimodal.Multimodal.mediaWithNearDupImagePayloads(
          graft.Tables.documents(spark, sf0001))
          .filter(col("kind") === "image"))
      .orderBy(col("media_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hashes.length >= 20, "fixture must plant enough image media")
    val input = MemoryStream[(Long, Long, Long, Timestamp)]
    val out = StreamIngest.fingerprintDedupStream(spark,
      input.toDF().toDF("media_id", "h_hi", "h_lo", "ts"),
      ttlMs = 6 * 60 * 60 * 1000L)
    val q = out.toDF("media_id", "dup_of", "flagged")
      .writeStream.format("memory").queryName("fp_equiv")
      .outputMode(OutputMode.Append()).start()
    hashes.grouped(7).zipWithIndex.foreach { case (batch, i) =>
      input.addData(batch.map { case (id, hi, lo) => (id, hi, lo, ts(i)) }
        .toSeq: _*)
      q.processAllAvailable()
    }
    val stream = spark.table("fp_equiv").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    q.stop()
    val batchV = graft.queries.LlmOps.q184(spark, sf0001)
      .filter(col("kind") === "image").collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("pruned"))).toMap
    assert(stream.keySet == batchV.keySet,
      s"arrival coverage differs: ${stream.keySet.size} vs ${batchV.keySet.size}")
    batchV.foreach { case (id, (cid, pruned)) =>
      val (dupOf, flagged) = stream(id)
      assert(flagged == pruned,
        s"media $id: stream flagged=$flagged, batch pruned=$pruned")
      if (pruned) assert(dupOf == cid,
        s"media $id: stream dup_of=$dupOf, batch cluster=$cid")
      else assert(dupOf == -1L, s"media $id admitted but dup_of=$dupOf")
    }
    assert(batchV.values.exists(_._2) && batchV.values.exists(!_._2),
      "fixture must exercise both verdicts")
    }
  }

  test("streaming semantic admission: a near-identical embedding is " +
      "rejected across micro-batches (cell-blocked state); TTL evicts") {
    withRocksDbStateStore {
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / math.sqrt(na * nb)
    }
    val corp = graft.Tables.embeddings(spark, sf0001)
      .orderBy(col("vec_id")).limit(30)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val v = corp(5L)
    // deterministic far companions (corpus mutual cosines are < 0.35)
    val b = corp(7L); val c = corp(11L)
    assert(math.abs(cosine(v, b)) < 0.8 && math.abs(cosine(v, c)) < 0.8
      && math.abs(cosine(b, c)) < 0.8, "fixture vectors not mutually far")
    val jit = v.clone(); jit(0) = jit(0) + 1e-4f
    assert(cosine(v, jit) >= 0.999, "jitter fixture not near-identical")

    val input = MemoryStream[(Long, Array[Float], Timestamp)]
    val out = StreamIngest.semanticDedupStream(spark,
      input.toDF().toDF("vec_id", "embedding", "ts"), sf0001,
      threshold = 0.95, ttlMs = 5 * 60 * 1000L)
    val q = out.toDF("vec_id", "cell", "admitted")
      .writeStream.format("memory").queryName("sem_dedup_out")
      .outputMode(OutputMode.Append()).start()
    input.addData((1000L, v, ts(0)))
    q.processAllAvailable()
    // batch 2: a near-identical resubmission + an unrelated vector
    input.addData((1001L, jit, ts(1)), (1002L, b, ts(1)))
    q.processAllAvailable()
    val rows1 = spark.table("sem_dedup_out")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(rows1(1000L), "first arrival must admit")
    assert(!rows1(1001L),
      "near-identical resubmission must be rejected across micro-batches")
    assert(rows1(1002L), "an unrelated vector must admit")
    // in-batch determinism: two identical vectors in ONE micro-batch —
    // the (ts, vec_id)-sorted fold admits the lower id, rejects the other
    input.addData((1010L, c, ts(2)), (1011L, c, ts(2)))
    q.processAllAvailable()
    val rows2 = spark.table("sem_dedup_out")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(rows2(1010L) && !rows2(1011L),
      s"in-batch admission must be (ts, id)-deterministic: $rows2")
    // TTL: advance event time far past the watermark, then resubmit the
    // near-identical vector — state evicted/pruned, re-admits (the ST7b
    // contract: admission memory = the TTL window; the batch q99/q151
    // semantic dedup remains the exact retroactive rule)
    input.addData((1020L, b, ts(40)))
    q.processAllAvailable()
    input.addData((1021L, jit, ts(41)))
    q.processAllAvailable()
    val rows3 = spark.table("sem_dedup_out")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    q.stop()
    assert(rows3(1021L), s"expired semantic state must re-admit: $rows3")
    }
  }
}
