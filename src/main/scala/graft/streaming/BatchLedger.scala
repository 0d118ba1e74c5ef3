package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** Durable record of committed sink batch ids — the de-duplication half of
  * an effectively-once `foreachBatch` sink (see
  * [[StreamIngest.toHttpSinkIdempotent]]).
  *
  * LIFECYCLE CONTRACT: batch ids are only unique within one checkpoint
  * lineage. The ledger MUST live and die with the query's checkpoint —
  * resetting the checkpoint without resetting the ledger makes a restarted
  * query's batch 0 (which may contain brand-new data) collide with the old
  * ledger entry and be silently skipped. Crash recovery with the
  * checkpoint intact is the safe, intended case: the engine replays the
  * same batch id with the same content, and the ledger dedupes it.
  *
  * The file implementation is a driver-side append-only log (one id per
  * line) read once at construction; `committed` is an in-memory set check
  * (not a per-batch file scan). At scale the ledger lives in the
  * receiver's store (transactional insert keyed by (queryId, batchId)).
  */
trait BatchLedger extends Serializable {
  def committed(batchId: Long): Boolean
  def commit(batchId: Long): Unit
}

class FileBatchLedger(dir: String) extends BatchLedger {
  private val file: Path = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    d.resolve("committed_batches")
  }

  private val seen: scala.collection.mutable.Set[Long] = {
    val s = scala.collection.mutable.Set.empty[Long]
    if (Files.exists(file))
      Files.readAllLines(file).asScala.filter(_.nonEmpty).foreach(l => s += l.toLong)
    s
  }

  private var through: Long = if (seen.isEmpty) -1L else seen.max

  override def committed(batchId: Long): Boolean =
    seen.synchronized(seen.contains(batchId))

  override def commit(batchId: Long): Unit = seen.synchronized {
    Files.write(file, (batchId.toString + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    seen += batchId
    through = math.max(through, batchId)
  }

  /** The highest committed id, -1 if none — what a DSv2 sink ships to its
    * per-epoch writer factory, in constant size however long the stream
    * has run. Skipping every epoch at or below it is exact: the
    * micro-batch engine commits epoch k's sink before it plans k+1, so a
    * replayed epoch is never above the ledger's maximum and a new one
    * always is. (The ledger object itself holds a non-serializable Path
    * and stays on the driver.) */
  def committedThrough: Long = seen.synchronized(through)
}
