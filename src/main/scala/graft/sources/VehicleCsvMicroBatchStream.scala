package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.internal.Logging
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.ingest.IngestFiles

/** Streaming side of [[VehicleCsvSource]] (MICRO_BATCH_READ): the same
  * reader, parse/drop semantics and decompression dispatch
  * (plain/.gz/.zip-first-entry, case-insensitive) as the batch scan, with
  * one whole-file partition per admitted file (the batch scan also cuts
  * large plain files into byte ranges) — so `spark.readStream.format("graft-vehicle-csv")`
  * is the ONE streaming ingest path and the `spark.readStream.text`
  * detour (which could not serve `.zip` archives — zip is not a Hadoop
  * line-reader codec) is gone.
  *
  * Offsets are indices into a durable, append-only FILE LOG under the
  * source's checkpoint location: offset N means "the first N files
  * admitted to the log". Discovery lists the input path, appends unseen
  * files in deterministic (lexicographic) order, and persists the
  * appended segment BEFORE the offset is returned to the engine — so any
  * offset the engine ever records is covered by the durable log, and a
  * restart replans the exact same files for an uncommitted batch. The
  * log is segment-per-append (`<startIndex>` named, write-tmp-then-
  * rename), the same crash-safe shape as Spark's own file-source
  * metadata log; processed files are never re-read after restart because
  * the committed offset already covers them.
  *
  * Admission control: `maxFilesPerTrigger` bounds each micro-batch
  * ([[ReadMaxFiles]]); Trigger.AvailableNow pins the end bound at
  * prepare time ([[SupportsTriggerAvailableNow]]) so the run drains
  * exactly the files present at start and terminates even while new
  * files keep landing.
  *
  * DRIVER STATE IS BOUNDED for an eternal stream (100 TB posture):
  * `maxFileAge` (default 7d, the engine file source's own default
  * semantics) makes discovery ignore files older than `max-seen-modTime
  * − age` and EVICTS the dedup map below that watermark — safe because
  * eviction only forgets files the age filter already excludes, so a
  * processed-then-aged-out file can never re-admit (the watermark is
  * persisted in the file-log headers, so the cutoff cannot regress even
  * across a restart). Entries both committed (never re-planned) and
  * age-expired leave the in-memory window AND the next compact. Net:
  * driver memory and per-compact write volume are O(in-flight window +
  * age window), not O(stream lifetime) — set `maxFileAge=off` to
  * disable for bounded directories. Once retention has dropped
  * delivered entries, the drop cutoff is persisted in the log headers
  * and admission stays CLAMPED at it even if a restart widens or
  * disables maxFileAge (r19): below that cutoff "not in the log" no
  * longer means "never delivered", so a widened window warns loudly
  * and refuses those files rather than re-delivering them. */
private[sources] class VehicleCsvMicroBatchStream(
    path: String,
    required: StructType,
    pushed: Array[Filter],
    checkpointLocation: String,
    maxFilesPerTrigger: Option[Int],
    maxFileAgeMs: Option[Long],
    conf: Configuration,
    confProps: Seq[(String, String)])
    extends MicroBatchStream with SupportsTriggerAvailableNow with Logging {

  private val fileLog =
    new VehicleCsvFileLog(new HPath(checkpointLocation, "graft-file-log"), conf)

  /** Trigger.AvailableNow end bound: files admitted at prepare time. */
  @volatile private var availableNowBound: Option[Long] = None

  /** Monotonic max modification time across every listing — the age
    * cutoff's anchor (monotonic ⇒ the eviction cutoff never moves
    * backwards, the invariant eviction safety rests on). Seeded from the
    * file log's persisted watermark (r18) so the cutoff cannot regress
    * across a restart even if the newest files were deleted meanwhile —
    * which makes retention-dropped entries permanently un-re-admittable. */
  private var modTimeWatermark = fileLog.persistedWatermark

  /** The age cutoff of the LATEST discovery — re-applied at every
    * `commit`, because that is when entries become expirable: the
    * retained-window drop is committed-gated, and `committed` starts at
    * 0 on each (re)start while discovery precedes the first commit. An
    * AvailableNow-per-run deployment (restart, drain, exit) would
    * otherwise never shrink its retained window and every compact would
    * stay a full-history rewrite. */
  @volatile private var ageCutoff = Long.MinValue
  /** One loud line per run, not per discovery round. */
  private var warnedWidenedWindow = false

  /** List the input path and admit unseen, in-age files to the durable
    * log. A missing/empty directory is "no data yet" for a stream, not
    * the batch scan's FileNotFoundException. */
  private def discover(): Unit = {
    val listed =
      try IngestFiles.listInputFileStatuses(path, conf)
      catch { case _: java.io.FileNotFoundException => Seq.empty[(String, Long)] }
    if (listed.nonEmpty)
      modTimeWatermark = math.max(modTimeWatermark, listed.map(_._2).max)
    fileLog.recordWatermark(modTimeWatermark) // persists in the next segment
    val cfgCutoff = maxFileAgeMs match {
      case Some(age) if modTimeWatermark != Long.MinValue =>
        modTimeWatermark - age
      case _ => Long.MinValue
    }
    // Clamp at the persisted drop cutoff (r18 advice): once retention
    // dropped delivered entries below a cutoff, "not in the log" stops
    // meaning "never delivered" below it — a restart that WIDENS
    // maxFileAge (or disables it) must not re-admit those files.
    val cutoff = math.max(cfgCutoff, fileLog.persistedDropCutoff)
    if (cutoff > cfgCutoff && !warnedWidenedWindow) {
      warnedWidenedWindow = true
      logWarning("graft-vehicle-csv stream: maxFileAge was widened (or " +
        s"disabled) past retention-dropped entries — files with modTime < " +
        s"$cutoff were already delivered and dropped from the file log, " +
        "so admission stays clamped at that cutoff (configured cutoff " +
        s"$cfgCutoff). Keep maxFileAge constant for the life of a " +
        "checkpoint to avoid this clamp.")
    }
    ageCutoff = cutoff
    val (inAge, aged) = listed.partition(_._2 >= cutoff)
    if (aged.nonEmpty)
      logWarning(s"graft-vehicle-csv stream: ignoring ${aged.size} files " +
        s"older than maxFileAge (modTime < $cutoff)")
    val fresh = inAge.filterNot(f => fileLog.contains(f._1)).sortBy(_._1)
    if (fresh.nonEmpty) fileLog.append(fresh)
    fileLog.expireBelow(cutoff) // forgets only what the age filter excludes
  }

  override def prepareForTriggerAvailableNow(): Unit = {
    discover()
    availableNowBound = Some(fileLog.size)
  }

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // under AvailableNow the bound is already admitted — do not grow it
    if (availableNowBound.isEmpty) discover()
    val upper = availableNowBound.getOrElse(fileLog.size)
    val from = start.asInstanceOf[VehicleCsvOffset].index
    val end = limit match {
      case m: ReadMaxFiles => math.min(upper, from + m.maxFiles)
      case _               => upper
    }
    VehicleCsvOffset(math.max(from, end))
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def reportLatestOffset(): Offset = VehicleCsvOffset(fileLog.size)

  override def initialOffset(): Offset = VehicleCsvOffset(0L)

  override def deserializeOffset(json: String): Offset =
    VehicleCsvOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    fileLog.slice(start.asInstanceOf[VehicleCsvOffset].index,
        end.asInstanceOf[VehicleCsvOffset].index)
      .map(f => VehicleCsvPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    VehicleCsvReaderFactory(required, pushed, confProps)

  /** Offsets are already durable (landed at latestOffset time); commit
    * advances the log's committed watermark — indices below it are
    * never re-planned in this run and become expirable once past the
    * age cutoff (restart reloads anything still retained on disk).
    * Expiry re-applies HERE because this is the first point entries are
    * provably committed (see [[ageCutoff]]). */
  override def commit(end: Offset): Unit = {
    fileLog.trimCommitted(end.asInstanceOf[VehicleCsvOffset].index)
    fileLog.expireBelow(ageCutoff)
    fileLog.compactIfExpired() // land retention progress across restarts
  }

  override def stop(): Unit = ()
}

/** Offset = number of files admitted to the durable file log. */
private[sources] case class VehicleCsvOffset(index: Long) extends Offset {
  override def json(): String = index.toString
}

/** Durable append-only file log under the source checkpoint: one
  * immutable segment file per append, named by the log index its first
  * entry occupies, one `<modTime>\t<path>` line per file. Loading
  * replays segments in index order and requires contiguity — a gap
  * means a foreign or corrupt checkpoint, which must fail loudly rather
  * than re-read or skip data.
  *
  * HEADERS (r18): lines starting with `#` are metadata. Every file
  * carries `#v1\twatermark=<W>` persisting the discovery modTime
  * watermark, so the age cutoff can never regress across restarts (the
  * invariant retention safety rests on); compacts additionally carry
  * `base=<B>` — the first log index the compact retains. Headerless
  * files (pre-r18 checkpoints) load as base=0 / no watermark.
  *
  * COMPACTION (100 TB posture): a long-running stream appends one
  * segment per discovery round that found files; unbounded, that is a
  * small-files problem on the checkpoint store. Every
  * [[VehicleCsvFileLog.CompactInterval]] appends the retained window
  * rewrites into a single `<until>.compact` file and the superseded
  * segments are deleted — the same shape as Spark's own
  * CompactibleFileStreamLog. Unlike a naive full rewrite, the compact
  * RETAINS only entries not yet expired by the age cutoff (plus the
  * whole uncommitted suffix): per-compact write volume is O(age window
  * + in-flight), not O(stream lifetime) — the CompactibleFileStreamLog
  * file-age-expiry analogue. Dropping an expired committed entry is
  * dedup-safe because the persisted watermark keeps the age filter's
  * cutoff monotonic: a dropped file can never pass discovery's age
  * filter again, so forgetting it cannot re-admit it. Crash-safety: the
  * compact lands via tmp+rename BEFORE any delete, and the loader takes
  * the largest compact then replays only plain segments from its end —
  * a stale overlap (crash mid-delete) is ignored, never double-counted.
  *
  * MEMORY: the in-memory window is [retainedBase, size) — entries
  * expire from memory (and from the next compact) once committed AND
  * older than the age cutoff ([[expireBelow]]); the dedup map evicts on
  * the same cutoff. With `maxFileAge=off` nothing expires and both are
  * O(directory) — the documented bounded-directory trade. */
private[graft] final class VehicleCsvFileLog(dir: HPath, conf: Configuration) {
  private val fs = dir.getFileSystem(conf)
  /** retained(i) holds `(path, modTime)` for log index
    * `retainedBase + i`; [0, retainedBase) is expired — dropped from
    * memory and from every future compact. */
  private var retainedBase = 0L
  private val retained =
    scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
  /** Committed-offset watermark ([[trimCommitted]]): indices below are
    * never re-planned in this run and become expirable. */
  private var committed = 0L
  /** path → modTime of every non-evicted admitted file (the discovery
    * dedup set). */
  private val known = scala.collection.mutable.HashMap.empty[String, Long]
  /** Largest discovery modTime watermark ever persisted (header-fed). */
  private var watermarkPersisted = Long.MinValue
  /** Highest age cutoff at which entries were ACTUALLY dropped
    * (dedup-map eviction or retained-prefix drop) — persisted so a
    * restart that WIDENS maxFileAge (or turns it off) cannot re-admit
    * files that were delivered and then retention-dropped (r18 advice):
    * below this cutoff, "not in the log" no longer means "never
    * delivered". Cutoffs that dropped nothing are NOT recorded — a
    * widened window may still admit genuinely never-delivered old
    * files. */
  private var dropCutoffPersisted = Long.MinValue
  private var plainSegments = 0 // plain (non-compact) segments on disk
  /** First index the ON-DISK compact retains — how far the durable log
    * has landed this instance's retention progress. */
  private var diskBase = 0L

  locally {
    if (fs.exists(dir)) {
      val all = fs.listStatus(dir).toSeq.filter(_.isFile)
      val compacts = all.flatMap { st =>
        val n = st.getPath.getName
        if (n.endsWith(".compact"))
          scala.util.Try(n.stripSuffix(".compact").toLong).toOption
            .map(_ -> st.getPath)
        else None
      }
      val baseCompact = compacts.sortBy(_._1).lastOption
      baseCompact.foreach { case (until, p) =>
        readSegment(p, isCompact = true)
        require(size == until,
          s"vehicle-csv file log: compact $until covers [${retainedBase}, " +
            s"$size) — expected $until")
        diskBase = retainedBase
      }
      val segments = all
        .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption
          .map(_ -> st.getPath))
        .filter(_._1 >= size) // pre-compact leftovers: stale
        .sortBy(_._1)
      segments.foreach { case (from, p) =>
        require(from == size,
          s"vehicle-csv file log gap: segment $from after $size entries")
        readSegment(p, isCompact = false)
        plainSegments += 1
      }
    } else fs.mkdirs(dir)
  }

  private def readSegment(p: HPath, isCompact: Boolean): Unit = {
    val in = new BufferedReader(
      new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try {
      var line = in.readLine()
      while (line != null) {
        if (line.startsWith("#")) {
          line.stripPrefix("#").split('\t').foreach { field =>
            if (field.startsWith("watermark="))
              watermarkPersisted = math.max(watermarkPersisted,
                field.stripPrefix("watermark=").toLong)
            else if (field.startsWith("dropcutoff="))
              dropCutoffPersisted = math.max(dropCutoffPersisted,
                field.stripPrefix("dropcutoff=").toLong)
            else if (field.startsWith("base=") && isCompact) {
              val b = field.stripPrefix("base=").toLong
              require(retained.isEmpty,
                s"vehicle-csv file log: base marker after entries in $p")
              retainedBase = b
            }
          }
        } else if (line.nonEmpty) {
          val tab = line.indexOf('\t')
          val (mtime, file) =
            if (tab < 0) (0L, line) else (line.substring(0, tab).toLong,
              line.substring(tab + 1))
          retained += (file -> mtime)
          known(file) = mtime
        }
        line = in.readLine()
      }
    } finally in.close()
  }

  private def writeAtomic(name: String, lines: Seq[String]): HPath = {
    val dst = new HPath(dir, name)
    val tmp = new HPath(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"vehicle-csv file log: could not commit $dst")
    }
    dst
  }

  def size: Long = retainedBase + retained.size

  def contains(file: String): Boolean = known.contains(file)

  /** Test/diagnostic hook: current dedup-map cardinality. */
  def knownSize: Int = known.size

  /** Test/diagnostic hooks: retention window + persisted watermark. */
  def retainedFrom: Long = retainedBase
  def persistedWatermark: Long = watermarkPersisted
  /** Highest cutoff at which the log ever dropped delivered entries —
    * the floor below which admission must stay clamped forever, even
    * if a restart widens (or disables) maxFileAge. */
  def persistedDropCutoff: Long = dropCutoffPersisted

  /** Record the caller's discovery modTime watermark; persisted in the
    * header of every subsequently written segment/compact so the age
    * cutoff survives restarts (can never regress). */
  def recordWatermark(w: Long): Unit =
    if (w > watermarkPersisted && w != Long.MinValue) watermarkPersisted = w

  def slice(from: Long, until: Long): Seq[String] = {
    require(from >= committed,
      s"offset $from below the committed prefix ($committed) — " +
        "the engine never re-plans committed batches in-run")
    require(from >= retainedBase,
      s"offset $from below the retained window (base $retainedBase) — " +
        "expired entries are never re-planned")
    require(until <= size,
      s"offset $until beyond durable file log ($size entries)")
    retained.slice((from - retainedBase).toInt, (until - retainedBase).toInt)
      .map(_._1).toSeq
  }

  private def header: String = {
    val wm = if (watermarkPersisted == Long.MinValue) ""
      else s"\twatermark=$watermarkPersisted"
    val dc = if (dropCutoffPersisted == Long.MinValue) ""
      else s"\tdropcutoff=$dropCutoffPersisted"
    s"#v1$wm$dc"
  }

  /** Durably append `(path, modTime)` files: write a tmp file, rename to
    * `<startIndex>`. The rename completes before the caller exposes the
    * new offset, so every engine-recorded offset is backed by landed
    * bytes. */
  def append(files: Seq[(String, Long)]): Unit = {
    if (files.isEmpty) return
    writeAtomic(size.toString, header +: files.map(f => s"${f._2}\t${f._1}"))
    retained ++= files
    known ++= files
    plainSegments += 1
    if (plainSegments >= VehicleCsvFileLog.CompactInterval) compact()
  }

  /** Advance the committed-offset watermark. Indices below it are never
    * re-planned in this run, which makes them expirable — actual memory
    * and disk shrinkage happens in [[expireBelow]]/[[compact]]. */
  def trimCommitted(upTo: Long): Unit =
    committed = math.max(committed, math.min(upTo, size))

  /** Expire entries below the caller's age cutoff: evict the dedup map
    * and drop the committed-AND-expired prefix from the in-memory
    * window (the next compact drops it from disk). Safe ONLY because
    * the cutoff is monotonic — persisted via [[recordWatermark]] — and
    * the caller filters its listings by the same cutoff before
    * consulting [[contains]]: a forgotten file can never pass the age
    * filter again, so it can never re-admit. Uncommitted entries are
    * never expired (they may still be planned). */
  def expireBelow(cutoffModTime: Long): Unit =
    if (cutoffModTime > Long.MinValue) {
      val before = known.size
      known.filterInPlace { case (_, m) => m >= cutoffModTime }
      var drop = 0
      while (retainedBase + drop < committed && drop < retained.size &&
          retained(drop)._2 < cutoffModTime) drop += 1
      if (drop > 0) {
        retained.remove(0, drop)
        retainedBase += drop
      }
      // entries were FORGOTTEN below this cutoff — persist it (in the
      // next segment/compact header) so no future, wider age window can
      // re-admit them; cutoffs that dropped nothing are not recorded
      if ((drop > 0 || known.size < before) &&
          cutoffModTime > dropCutoffPersisted)
        dropCutoffPersisted = cutoffModTime
    }

  /** Compact EARLY when the expired prefix grew a full interval past
    * what the on-disk compact retains: expiry ([[expireBelow]]) is
    * memory-only state, and only a compact lands it — a
    * restart-per-run deployment (AvailableNow: start, drain, exit)
    * reloads from disk each run, so without this its retention progress
    * would reset every restart and every compact would stay a
    * full-history rewrite. Skipped when nothing was appended since the
    * last compact: a same-`size` compact would collide with the
    * existing file's name (and buys nothing until new entries land).
    * The trigger is AMORTIZED against the retained window: a compact
    * writes O(window) bytes, so requiring the expired backlog to reach
    * max(interval, window) keeps total write volume O(entries), where a
    * bare interval trigger would compact every commit of a steady
    * stream (measured: 909 compacts / 28 MB vs ~100 / 3 MB at 10k
    * files) — in a continuously-RUNNING stream the regular
    * append-interval compacts land retention anyway, so this fires
    * mostly in the restart-per-run regime it exists for. */
  def compactIfExpired(): Unit =
    if (plainSegments > 0 &&
        retainedBase - diskBase >=
          math.max(VehicleCsvFileLog.CompactInterval.toLong, retained.size))
      compact()

  /** Rewrite the retained window [retainedBase, size) as one
    * `<size>.compact` carrying a `base=` marker, then delete the
    * superseded plain segments and older compacts (delete AFTER the
    * compact is durable — a crash in between leaves a recoverable,
    * merely redundant, state). Per-compact write volume is the retained
    * window, NOT the whole stream history: entries expired by
    * [[expireBelow]] are gone for good, with the persisted watermark
    * guaranteeing they can never re-admit. */
  private def compact(): Unit = {
    val lines = (header + s"\tbase=$retainedBase") +:
      retained.map(f => s"${f._2}\t${f._1}").toSeq
    val landed = writeAtomic(s"$size.compact", lines)
    // compare by NAME: listStatus returns scheme-qualified paths while
    // `landed` inherits dir's form — an object-identity compare here
    // would delete the just-landed compact itself
    fs.listStatus(dir).toSeq.filter(_.isFile).foreach { st =>
      if (st.getPath.getName != landed.getName)
        fs.delete(st.getPath, false)
    }
    plainSegments = 0
    diskBase = retainedBase
  }
}

private[sources] object VehicleCsvFileLog {
  /** Plain segments accumulated before the log rewrites itself into one
    * compact file (Spark's CompactibleFileStreamLog defaults to 10). */
  val CompactInterval = 10
}
