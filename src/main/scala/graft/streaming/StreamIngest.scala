package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming operators over event and document streams
  * (SURVEY.md §2.8): watermarked dedup and windows, stateful running
  * distinct, and the admission, redaction and graph-delta paths. The
  * reference's own pipeline (CsvLoader.java:72-194) needs nothing here:
  * it is `readStream.format("graft-vehicle-csv")` →
  * `writeStream.format("graft-http-sink")` (or `"graft-kinesis-sink"`),
  * the DSv2 source and sinks in [[graft.sources]], whose `ledgerDir`
  * option makes a replayed epoch deliver nothing.
  */
object StreamIngest {

  /** ST6/ST7 — watermarked streaming dedup on event id with BOUNDED state:
    * `dropDuplicatesWithinWatermark` lets the watermark evict per-id state
    * (plain `dropDuplicates("event_id")` would keep every id forever —
    * the event-time column isn't in the key set, so no eviction predicate
    * is generated, recreating the reference's unbounded-HashSet failure). */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** ST3 — streaming tumbling-window count per event type (same expression
    * as the oracled batch analog q30). */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

  /** ST5 — streaming session window (30-min inactivity gap) per user; the
    * oracled batch analog is q32. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("ss"),
        col("session_window.end").as("se"), col("user_id"), col("n_events"))

  /** ST8 — stateful running exact-distinct per key on the Spark 4
    * `transformWithState` API (the supported stateful operator; the
    * mapGroupsWithState form this replaced in r11 is the legacy API):
    * the streaming version of the reference's HashSet distinct
    * (CsvLoader.java:105-106, 147-148), with state partitioned per key
    * across executors instead of one unbounded driver-side set, held in
    * `MapState` (per-element state-store keys — adding one element never
    * rewrites a whole `Set` blob, and TTLConfig can bound state lifetime
    * at 100 TB). Emits (key, runningDistinct) per batch; at 100 TB the
    * exact set becomes an HLL sketch — same shape, bounded state
    * (SURVEY.md §4.3). */
  class RunningDistinctProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, Long), (String, Long)] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders

    @transient private var seen: MapState[Long, Boolean] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      seen = getHandle.getMapState[Long, Boolean](
        "seen", Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[(String, Long)] = {
      rows.foreach { case (_, v) => seen.updateValue(v, true) }
      var n = 0L
      val it = seen.keys()
      while (it.hasNext) { it.next(); n += 1 }
      Iterator.single((key, n))
    }
  }

  /** Streaming running-distinct via [[RunningDistinctProcessor]]. */
  def runningDistinctTws(
      spark: SparkSession,
      pings: Dataset[(String, Long)]): Dataset[(String, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    pings.groupByKey(_._1)
      .transformWithState(new RunningDistinctProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming URL-canonical admission (the q115 rule on the crawl
    * frontier): incoming (doc_id, url, ts) docs are keyed by the
    * CANONICAL url ([[graft.functions.TextRules.canonicalUrl]] — the
    * exact batch expression), and a resubmission whose surface form
    * differs but canonicalizes the same is dropped across micro-batches.
    * `dropDuplicatesWithinWatermark` keeps the per-canon-url state
    * TTL-BOUNDED (the ST7b contract): state is evicted once the
    * watermark passes, so a crawl frontier's dedup memory is the delay
    * window, not the stream's lifetime — re-crawls past the window
    * re-admit by design (production re-crawl cadence). */
  def urlDedupStream(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("canon_url",
        graft.functions.TextRules.canonicalUrl(col("url")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("canon_url")

  /** Streaming PII REDACTION (the q163 governance rule on the admission
    * path, r12 verdict ask #6): incoming (doc_id, text, ts) docs are
    * masked and audited map-side with the EXACT batch expression chain
    * ([[graft.functions.TextRules.piiAuditCols]] — one definition, so
    * the stream and the registered batch query cannot desynchronize).
    * STATELESS by construction — redaction is a pure per-row rewrite,
    * so unlike the dedup admissions there is no watermark, no state
    * store, and no TTL semantics to reason about: it composes in front
    * of ANY sink (including the stateful admissions downstream) at
    * zero marginal shuffle. Output: (doc_id, ts, n_emails, n_phones,
    * n_ips, n_chars_before, n_chars_after, redacted). */
  def piiRedactStream(docs: DataFrame): DataFrame =
    docs.select(Seq(col("doc_id"), col("ts")) ++
        graft.functions.TextRules.piiAuditCols(col("text")): _*)
      .withColumn("n_chars_after", length(col("redacted")).cast("long"))
      .select(col("doc_id"), col("ts"), col("n_emails"), col("n_phones"),
        col("n_ips"), col("n_chars_before"), col("n_chars_after"),
        col("redacted"))

  /** Streaming kNN-graph APPEND deltas (the q171 splice on the
    * admission path): each micro-batch of new vectors (nid, ne:
    * array<double>, vq: array<long>) routes through the LANDED
    * quantizer's bounded serve state and scores against the live
    * members of its probe-1 ∪ probe-2 cells in the landed layout —
    * [[graft.queries.LlmOps.graphSpliceCandidates]], ONE definition, so
    * the stream and the registered batch append (q171) cannot
    * desynchronize — then lands the SPLICE DELTA to `outDir`: the new
    * node's top-3 edges (kind="new") plus the reverse candidate edges
    * (kind="rev") that old nodes merge at the next compaction
    * ([[compactGraphDeltas]]). This is q171's merge step deferred on
    * purpose — the graph-side delta/compaction split (q155/q161's
    * segment discipline): per arrival the stream pays candidate
    * emission only (map-side routing + one cell-blocked join); folding
    * deltas into the landed adjacency is [[compactGraphDeltas]]'s
    * scheduled merge, row-for-row equal to the one-shot q171 splice. STATELESS — no watermark, no state store:
    * a new node's delta depends only on its own probe cells, so
    * micro-batch boundaries don't change the union of landed deltas
    * (the StreamingSpec restart e2e: two AvailableNow increments over a
    * shared checkpoint land exactly the batch splice, once).
    *
    * EXACTLY-once on replay, not just at-least-once: each micro-batch
    * OVERWRITES its own `batch_id=<id>` partition — the delta is a
    * deterministic function of the batch, so a replay after a crash
    * between sink write and checkpoint commit rewrites identical files
    * instead of appending duplicates (the idempotent-output alternative
    * to the DSv2 sinks' `ledgerDir` ledger; a duplicated delta row would
    * otherwise rank the same edge twice at the next compaction).
    *
    * LAYER 1 TOO (r19): a batch member on the layer-1 id grid
    * (nid % 8 == 0) additionally emits its layer-1 splice delta —
    * kind="new1" top-3 edges from the q188 insert walk
    * ([[graft.queries.LlmOps.layer1SpliceVisited]], one definition with
    * the registered batch append) plus kind="rev1" reverse candidates —
    * so the streaming admission path maintains the WHOLE hierarchical
    * index, not just layer 0. [[compactLayer1Deltas]] folds them. */
  def toGraphDeltaSink(spark: SparkSession, vecs: DataFrame,
      corpusDir: String, outDir: String): DataStreamWriter[Row] =
    vecs.writeStream
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cand = graft.queries.LlmOps.graphSpliceCandidates(
          spark, corpusDir, batch)
        val wN = org.apache.spark.sql.expressions.Window
          .partitionBy(col("nid")).orderBy(col("sim").desc, col("vec_id"))
        val newEdges = cand.withColumn("rn", row_number().over(wN))
          .filter(col("rn") <= 3)
          .select(col("nid").as("va"), col("vec_id").as("vb"),
            col("sim"), lit("new").as("kind"))
        val rev = cand.select(col("vec_id").as("va"), col("nid").as("vb"),
          col("sim"), lit("rev").as("kind"))
        val visited1 = graft.queries.LlmOps.layer1SpliceVisited(
          spark, corpusDir, batch.filter(col("nid") % 8 === 0)
            .select(col("nid").as("pid"), col("ne").as("pe")))
        val w1 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("pid")).orderBy(col("sim").desc, col("vid"))
        val new1 = visited1.withColumn("rn", row_number().over(w1))
          .filter(col("rn") <= 3)
          .select(col("pid").as("va"), col("vid").as("vb"),
            col("sim"), lit("new1").as("kind"))
        val rev1 = visited1.select(col("vid").as("va"),
          col("pid").as("vb"), col("sim"), lit("rev1").as("kind"))
        newEdges.unionByName(rev).unionByName(new1).unionByName(rev1)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }

  /** Graph-delta COMPACTION — the scheduled merge that folds
    * [[toGraphDeltaSink]]'s landed `batch_id=*` delta dirs into the
    * landed adjacency (the q161 segment-compaction analog for the graph
    * family, r13 verdict ask #2). Semantics are EXACTLY q171's one-shot
    * merge, so compact-then-serve ≡ merge-on-read splice row for row
    * (GraphCompactionSpec pins the equality against
    * [[graft.queries.LlmOps.q171]]):
    *   - `touched` old nodes (those with a reverse delta edge) re-rank
    *     their existing adjacency ∪ reverse edges to top-3;
    *   - every other node's rows pass through VERBATIM (broadcast
    *     anti-join — the corpus graph never reshuffles beyond the
    *     touched nodes' partitions);
    *   - new nodes take their landed kind="new" edges (already the
    *     per-node top-3 of the full candidate set; re-ranking the
    *     subset reproduces the same dense rn because ranking is
    *     order-preserving on prefixes of the same (sim desc, vb)
    *     order).
    * Correct across any micro-batch split of an arrival stream: a new
    * node's candidates depend only on its own probe cells, so the union
    * of deltas is split-invariant, and the sink's overwrite-per-batch
    * idempotence means a post-crash replay feeds this fold identical
    * rows. Pure function of (graph, deltas) — rerunning compaction
    * yields the same relation; land the result and drop the delta dirs
    * to complete the cycle (the q155/q161 segment discipline). */
  def compactGraphDeltas(spark: SparkSession, graph: DataFrame,
      deltaDir: String): DataFrame =
    foldSpliceDeltas(graph,
      spark.read.parquet(deltaDir), revKind = "rev", newKind = "new")

  /** Layer-1 counterpart of [[compactGraphDeltas]] (r19): fold the
    * kind="new1"/"rev1" deltas the sink lands for batch members on the
    * layer-1 id grid into the LANDED layer-1 adjacency
    * ([[graft.queries.LlmOps.knnLayer1State]]) — the same fold, the
    * same row-for-row equality contract against the one-shot q188
    * splice (GraphCompactionSpec pins it). */
  def compactLayer1Deltas(spark: SparkSession, layer1: DataFrame,
      deltaDir: String): DataFrame =
    foldSpliceDeltas(layer1,
      spark.read.parquet(deltaDir), revKind = "rev1", newKind = "new1")

  /** The shared splice fold: touched owners (those with a reverse delta
    * edge) re-rank existing adjacency ∪ reverses to top-3; everyone
    * else passes through verbatim; new nodes take their landed edges
    * re-ranked (order-preserving on the same (sim desc, vb) order). */
  private def foldSpliceDeltas(graph: DataFrame, rawDeltas: DataFrame,
      revKind: String, newKind: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("va")).orderBy(col("sim").desc, col("vb"))
    val deltas = rawDeltas.select(col("va"), col("vb"), col("sim"), col("kind"))
    val rev = deltas.filter(col("kind") === revKind).drop("kind")
    val newEdges = deltas.filter(col("kind") === newKind).drop("kind")
    val touched = rev.select(col("va")).distinct()
    val keep = graph.join(broadcast(touched), Seq("va"), "left_anti")
      .select(col("va"), col("vb"), col("sim"), col("rn"))
    val merged = graph.join(broadcast(touched), Seq("va"), "left_semi")
      .select(col("va"), col("vb"), col("sim"))
      .unionByName(rev)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    val newRanked = newEdges
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    keep.unionByName(merged).unionByName(newRanked)
  }

  /** Streaming line-level boilerplate rule (the q112 line rule on the
    * admission path): incoming (doc_id, text, ts) docs split into
    * [[LineLen]]-token lines MAP-SIDE (the q112 chunking, declarative so
    * the event-time watermark column survives to the stateful operator),
    * keyed by the raw line (at 100 TB: its 128-bit digest). Per-line
    * state is (first_doc, flagged): a line arriving from a SECOND
    * distinct doc flags — and stays flagged — so later occurrences are
    * marked boilerplate on arrival; the admission layer drops or trims
    * flagged lines. State is TTL-BOUNDED via EVENT-TIME timeout (the
    * ST7b contract, data-driven — no busy re-trigger loop): a line key
    * whose last occurrence falls `ttlMs` behind the watermark is
    * REMOVED, so state size tracks the recently-seen line set, not the
    * stream's lifetime; a recurrence after eviction re-admits as fresh.
    * The batch q112 remains the exact retroactive rule — it also removes
    * the FIRST occurrence, which a stream cannot retract. Output:
    * (doc_id, line, is_boiler). */
  /** The per-line state machine behind [[lineDedupStream]], on the Spark
    * 4 `transformWithState` API (r11 migration off the legacy
    * flatMapGroupsWithState): ValueState (first_doc, flagged, lastSeenMs)
    * per line key, TTL via an EVENT-TIME timer registered at
    * lastSeen + ttl (clamped ahead of the watermark — late rows clamp
    * forward). Timers ACCUMULATE on this API (no replace-on-set like the
    * legacy timeout), so an expired timer only clears state whose
    * lastSeen really is TTL behind the expiry — a stale timer racing a
    * fresh resubmission in the same micro-batch is a no-op. */
  class LineDedupProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (Long, String, java.sql.Timestamp), (Long, String, Boolean)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var st: ValueState[(Long, Boolean, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Boolean, Long)](
        "lineState", Encoders.product[(Long, Boolean, Long)], TTLConfig.NONE)

    override def handleInputRows(
        line: String,
        rows: Iterator[(Long, String, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(Long, String, Boolean)] = {
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, Boolean)]()
      var maxTs = Long.MinValue
      // the group iterator's order after the shuffle is unspecified:
      // sort by (ts, doc_id) so WHICH occurrence counts as "first"
      // (and therefore which later rows flag) is deterministic when
      // several docs share a line within one micro-batch
      rows.toSeq.sortBy { case (doc, _, ts) => (ts.getTime, doc) }
        .foreach { case (doc, _, ts) =>
          maxTs = math.max(maxTs, ts.getTime)
          if (!st.exists()) {
            st.update((doc, false, maxTs))
            out += ((doc, line, false))
          } else {
            val (first, flagged, _) = st.get()
            val boiler = flagged || doc != first
            st.update((first, flagged || boiler, maxTs))
            out += ((doc, line, boiler))
          }
        }
      getHandle.registerTimer(
        math.max(maxTs + ttlMs, timerValues.getCurrentWatermarkInMs() + 1))
      out.iterator
    }

    override def handleExpiredTimer(
        line: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, String, Boolean)] = {
      // clear only if the state is really stale at this expiry — a newer
      // arrival registered its own (later) timer
      if (st.exists()) {
        val (_, _, lastSeen) = st.get()
        if (lastSeen + ttlMs <= expiredTimerInfo.getExpiryTimeInMs)
          st.clear() // TTL eviction — bounded state
      }
      Iterator.empty
    }
  }

  def lineDedupStream(
      spark: SparkSession,
      docs: DataFrame, // (doc_id, text, ts)
      ttlMs: Long): Dataset[(Long, String, Boolean)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val toks = split(col("text"), " ")
    val ng = ceil(size(toks) / lit(LineLen.toDouble)).cast("int")
    val lines = docs
      .select(col("doc_id"), col("ts"),
        explode(transform(sequence(lit(0), ng - 1),
          i => concat_ws(" ", slice(toks, i * LineLen + 1, lit(LineLen)))))
          .as("line"))
      .withWatermark("ts", s"$ttlMs milliseconds")
      .select(col("doc_id"), col("line"), col("ts"))
      .as[(Long, String, java.sql.Timestamp)]
    lines.groupByKey(_._2)
      .transformWithState(new LineDedupProcessor(ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** q112's line width, shared with [[lineDedupStream]]. */
  private val LineLen = 5

  /** Streaming SEMANTIC near-dup admission — the embedding-path member
    * of the admission family (urlDedupStream canon keys, lineDedupStream
    * boilerplate lines, [[NearDupAdmission]] shingle blocking; this one
    * is cosine over embeddings). Incoming (vec_id, embedding, ts)
    * vectors route to their IVF2 cell MAP-SIDE using the landed
    * quantizer's bounded serve state
    * ([[graft.queries.LlmOps.ivf2ServeState]] — 4 + 4·k₂ centroid rows
    * collected once, never the corpus), and within each cell a
    * TTL-bounded state of recently ADMITTED embeddings rejects any
    * arrival whose cosine against one of them is ≥ `threshold`,
    * across micro-batches. Cell blocking is the SemDeDup argument on
    * the admission path: an arrival compares against its own cell's
    * recent admissions only, so per-arrival work is the cell's TTL-window
    * admission count, never the stream's. State is evicted by
    * EVENT-TIME timeout and per-entry pruning (the ST7b contract): a
    * near-dup arriving past the TTL re-admits by design — the batch
    * q99/q151 semantic dedup remains the exact retroactive rule.
    * Output: (vec_id, cell, admitted). */
  def semanticDedupStream(
      spark: SparkSession,
      vecs: DataFrame, // (vec_id, embedding: array<float>, ts)
      corpusDir: String,
      threshold: Double,
      ttlMs: Long): Dataset[(Long, Long, Boolean)] = {
    import spark.implicits._
    val serveState = graft.queries.LlmOps.ivf2ServeState(spark, corpusDir)
    // dropEmptyCells = false: an admission stream owes EVERY arrival a
    // verdict — vectors routed to a sub-cell-less coarse cell take the
    // −(coarse+1) fallback cell and dedup among themselves there
    val routed = graft.queries.LlmOps.ivf2AssignCells(
        vecs.withColumn("vq", transform(col("embedding"),
          v => round(v.cast("double") * 10000, 0).cast("long"))), serveState,
        dropEmptyCells = false)
      .withWatermark("ts", s"$ttlMs milliseconds")
      .select(col("cell"), col("vec_id"), col("embedding"), col("ts"))
      .as[(Long, Long, Array[Float], java.sql.Timestamp)]
    routed.groupByKey(_._1)
      .transformWithState(new SemanticDedupProcessor(threshold, ttlMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The per-cell state machine behind [[semanticDedupStream]], on the
    * Spark 4 `transformWithState` API: `ListState` of recently admitted
    * (vec_id, embedding, tsMs) entries — per-entry state-store rows, so
    * admitting one vector APPENDS one row instead of rewriting a whole
    * list blob (the reason the new API exists; the list is only
    * rewritten when stale entries are pruned). TTL: stale entries are
    * EXCLUDED from dup-checks on every invocation (a filter over the
    * materialized list), but the state rewrite that physically drops
    * them is LAZY — it only happens when stale rows exceed
    * [[SemanticDedupProcessor.PruneSlack]] of the list, so a
    * steady-state cell pays the cheap append path almost always and the
    * O(window) rewrite amortizes to O(1)/arrival. An EVENT-TIME timer
    * additionally clears a cell whose newest entry fell TTL behind the
    * expiry (timers accumulate on this API, so the newest-entry guard
    * makes stale timers no-ops — the ST7b bounded-state contract).
    *
    * COST MODEL (documented, deliberate): each micro-batch invocation
    * materializes the cell's ListState once — O(live window) — and each
    * arrival then runs one cosine against every live entry, so a batch
    * of b arrivals into a cell holding w live vectors costs O(w + b·w)
    * flops. That per-arrival O(w) scan is inherent to exact-threshold
    * semantic dedup (every admit must be certified against the whole
    * admitted window); the bound that keeps it viable at 100 TB is w
    * itself — the IVF2 cell routing upstream splits the corpus across
    * cells and the TTL caps each cell's window, so w is
    * (arrival-rate × TTL) / cells, not corpus size. */
  object SemanticDedupProcessor {
    /** Lazy-prune trigger: rewrite the ListState only when stale entries
      * reach this fraction of it. 1/4 keeps the wasted state ≤ 33% above
      * the live window while making the O(window) rewrite amortized-O(1)
      * per arrival. */
    val PruneSlack: Double = 0.25
  }

  class SemanticDedupProcessor(threshold: Double, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Array[Float], java.sql.Timestamp),
        (Long, Long, Boolean)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode => OM, TimeMode, TimerValues, TTLConfig}

    @transient private var recent: ListState[(Long, Array[Float], Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[(Long, Array[Float], Long)](
        "recent", Encoders.product[(Long, Array[Float], Long)], TTLConfig.NONE)

    private def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }

    override def handleInputRows(
        cell: Long,
        rows: Iterator[(Long, Long, Array[Float], java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(Long, Long, Boolean)] = {
      val held = if (recent.exists()) recent.get().toList else Nil
      // entries whose lastSeen fell TTL behind the watermark are dead:
      // always EXCLUDED from dup-checks, but only physically pruned
      // (full list rewrite) once they exceed PruneSlack of the list —
      // the lazy-prune contract documented on the class
      val cutoff = timerValues.getCurrentWatermarkInMs() - ttlMs
      var live = held.filter(_._3 >= cutoff)
      val stale = held.size - live.size
      val prune = stale > 0 &&
        (stale >= held.size * SemanticDedupProcessor.PruneSlack)
      val fresh =
        scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Long)]()
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Boolean)]()
      var maxTs = Long.MinValue
      // group-iterator order after the shuffle is unspecified: sort
      // by (ts, vec_id) so in-batch admission order is deterministic
      rows.toSeq.sortBy { case (_, id, _, ts) => (ts.getTime, id) }
        .foreach { case (_, id, emb, ts) =>
          maxTs = math.max(maxTs, ts.getTime)
          val dup = live.exists { case (_, e, _) => cosine(e, emb) >= threshold }
          if (!dup) {
            val entry = (id, emb, ts.getTime)
            live = entry :: live
            fresh += entry
          }
          out += ((id, cell, !dup))
        }
      if (prune) recent.put(live.toArray) // amortized rewrite drops stale rows
      else fresh.foreach(recent.appendValue) // the common append-only path
      getHandle.registerTimer(
        math.max(maxTs + ttlMs, timerValues.getCurrentWatermarkInMs() + 1))
      out.iterator
    }

    override def handleExpiredTimer(
        cell: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Boolean)] = {
      if (recent.exists()) {
        val newest = recent.get().map(_._3).foldLeft(Long.MinValue)(math.max)
        if (newest + ttlMs <= expiredTimerInfo.getExpiryTimeInMs)
          recent.clear() // TTL eviction — bounded state
      }
      Iterator.empty
    }
  }

  /** Exact-verify radius of [[fingerprintDedupStream]] — the batch
    * family's (q178/q180/q183) radius, with the same 8-band × 16-bit
    * pigeonhole: Hamming ≤ 7 over 8 bands forces ≥ 1 equal band. */
  val FingerprintRadius: Int = 7

  /** Streaming MEDIA-FINGERPRINT near-dup flagging — the q178/q180/q183
    * banding on the admission path (completing the admission family:
    * urlDedupStream exact keys, lineDedupStream boilerplate lines,
    * semanticDedupStream embeddings, THIS ONE 128-bit media
    * fingerprints). Input (media_id, h_hi, h_lo, ts) fingerprints —
    * decode/hash happens upstream, the batch family's dHash/eHash/frame
    * hash. Stage 1 explodes each arrival MAP-SIDE into its 8 × 16-bit
    * band buckets; each bucket keeps a TTL-bounded state of recently
    * seen fingerprints and verdicts the arrival by exact
    * ≤ [[FingerprintRadius]] `bitCount` Hamming against them. Stage 2
    * (a chained stateful operator — stage 1 declares its event-time
    * column so the watermark propagates) folds the 8 per-band verdicts,
    * all emitted in the arrival's own micro-batch, into one row per
    * arrival, holding NO state. Recall within the TTL window is EXACT
    * by pigeonhole; per-bucket state is its TTL-window arrival share —
    * (rate × TTL) / 2^16 per band, never the stream. FLAGGING
    * semantics (the lineDedupStream contract): every arrival's
    * fingerprint enters state, a duplicate is flagged with the MIN
    * matching media_id; the batch q184 closure stays the exact
    * retroactive rule. Output: (media_id, dup_of — min matching id or
    * −1, flagged). */
  def fingerprintDedupStream(
      spark: SparkSession,
      fps: DataFrame, // (media_id, h_hi, h_lo, ts)
      ttlMs: Long): Dataset[(Long, Long, Boolean)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val chunks = (0 until 8).map { b =>
      val word = if (b < 4) col("h_lo") else col("h_hi")
      struct(lit(b).as("band"),
        shiftright(word, (b % 4) * 16)
          .bitwiseAND(lit(0xffffL)).as("chunk")).as(s"b$b")
    }
    val banded = fps
      .withWatermark("ts", s"$ttlMs milliseconds")
      .select(col("media_id"), col("h_hi"), col("h_lo"), col("ts"),
        explode(array(chunks: _*)).as("bk"))
      .select((col("bk.band") * 65536L + col("bk.chunk")).as("bucket"),
        col("media_id"), col("h_hi"), col("h_lo"), col("ts"))
      .as[(Long, Long, Long, Long, java.sql.Timestamp)]
    val verdicts = banded.groupByKey(_._1)
      .transformWithState(new FingerprintBandProcessor(ttlMs),
        "_3", OutputMode.Append())
    // stage 2 keys on (media_id, arrival ts), NOT media_id alone: two
    // distinct arrivals sharing a media_id in one micro-batch (a
    // re-submission) must each emit their own row from their own 8 band
    // verdicts, not one merged row (r16 advice). Two arrivals with the
    // SAME (media_id, ts) are indistinguishable by construction and do
    // merge — the fingerprint is the same row.
    verdicts.groupByKey(v => (v._1, v._3.getTime))
      .transformWithState(new FingerprintCombineProcessor(),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stage-1 per-band-bucket state machine of
    * [[fingerprintDedupStream]]: `ListState` of recently seen
    * (media_id, h_hi, h_lo, tsMs) fingerprints with the
    * [[SemanticDedupProcessor]] lifecycle — per-entry appends on the
    * hot path, lazy [[SemanticDedupProcessor.PruneSlack]] rewrites,
    * event-time TTL timer with the newest-entry guard. Emits one
    * verdict per input row: (media_id, min Hamming-≤-radius match in
    * this bucket or −1, ts). */
  class FingerprintBandProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Long, java.sql.Timestamp),
        (Long, Long, java.sql.Timestamp)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode => OM, TimeMode, TimerValues, TTLConfig}

    @transient private var recent: ListState[(Long, Long, Long, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[(Long, Long, Long, Long)](
        "recent", Encoders.product[(Long, Long, Long, Long)], TTLConfig.NONE)

    override def handleInputRows(
        bucket: Long,
        rows: Iterator[(Long, Long, Long, Long, java.sql.Timestamp)],
        timerValues: TimerValues)
        : Iterator[(Long, Long, java.sql.Timestamp)] = {
      val held = if (recent.exists()) recent.get().toList else Nil
      val cutoff = timerValues.getCurrentWatermarkInMs() - ttlMs
      var live = held.filter(_._4 >= cutoff)
      val stale = held.size - live.size
      val prune = stale > 0 &&
        (stale >= held.size * SemanticDedupProcessor.PruneSlack)
      val fresh =
        scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
      val out = scala.collection.mutable
        .ArrayBuffer[(Long, Long, java.sql.Timestamp)]()
      var maxTs = Long.MinValue
      // (ts, media_id)-sorted fold: in-batch flag order is deterministic
      rows.toSeq.sortBy { case (_, id, _, _, ts) => (ts.getTime, id) }
        .foreach { case (_, id, hi, lo, ts) =>
          maxTs = math.max(maxTs, ts.getTime)
          val m = live.iterator.filter { case (_, phi, plo, _) =>
            java.lang.Long.bitCount(phi ^ hi) +
              java.lang.Long.bitCount(plo ^ lo) <= FingerprintRadius
          }.map(_._1).foldLeft(-1L)((acc, x) =>
            if (acc < 0 || x < acc) x else acc)
          val entry = (id, hi, lo, ts.getTime)
          live = entry :: live
          fresh += entry
          out += ((id, m, ts))
        }
      if (prune) recent.put(live.toArray)
      else fresh.foreach(recent.appendValue)
      getHandle.registerTimer(
        math.max(maxTs + ttlMs, timerValues.getCurrentWatermarkInMs() + 1))
      out.iterator
    }

    override def handleExpiredTimer(
        bucket: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo)
        : Iterator[(Long, Long, java.sql.Timestamp)] = {
      if (recent.exists()) {
        val newest = recent.get().map(_._4).foldLeft(Long.MinValue)(math.max)
        if (newest + ttlMs <= expiredTimerInfo.getExpiryTimeInMs)
          recent.clear() // TTL eviction — bounded state
      }
      Iterator.empty
    }
  }

  /** Stage-2 STATELESS combine of [[fingerprintDedupStream]]: all 8
    * band verdicts of an arrival land in its own micro-batch (they are
    * exploded from one row), so each invocation folds the group to one
    * output row and keeps nothing. Keyed on (media_id, arrival ts) so a
    * same-batch re-submission of a media_id emits PER-ARRIVAL rows
    * (r16 advice: media_id-only keying merged distinct arrivals). */
  class FingerprintCombineProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Long, Long), (Long, Long, java.sql.Timestamp), (Long, Long, Boolean)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode => OM, TimeMode, TimerValues}

    override def init(outputMode: OM, timeMode: TimeMode): Unit = ()

    override def handleInputRows(
        key: (Long, Long),
        rows: Iterator[(Long, Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(Long, Long, Boolean)] = {
      val m = rows.map(_._2).filter(_ >= 0L)
        .foldLeft(-1L)((acc, x) => if (acc < 0 || x < acc) x else acc)
      Iterator.single((key._1, m, m >= 0L))
    }

    override def handleExpiredTimer(
        key: (Long, Long), timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Boolean)] =
      Iterator.empty
  }
}
