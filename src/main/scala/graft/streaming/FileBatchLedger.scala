package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Durable record of a sink's committed epochs — the de-duplication half
  * of an effectively-once DSv2 sink (`option("ledgerDir", …)` on
  * `graft-http-sink` and `graft-kinesis-sink`).
  *
  * LIFECYCLE CONTRACT: epoch ids are only unique within one checkpoint
  * lineage. The ledger MUST live and die with the query's checkpoint —
  * resetting the checkpoint without resetting the ledger makes a restarted
  * query's epoch 0 (which may contain brand-new data) collide with the old
  * ledger entry and be silently skipped. Crash recovery with the
  * checkpoint intact is the safe, intended case: the engine replays the
  * same epoch id with the same content, and the ledger dedupes it.
  *
  * The file holds one line, the highest committed epoch id, and so stays
  * one size however long the stream runs: [[commit]] writes the new line
  * to a temporary sibling and renames it over the file (`ATOMIC_MOVE`), so
  * a process that dies mid-commit leaves the old line or the new one,
  * never a torn file. The file is read once at construction, as the
  * maximum over its lines, so a ledger written as one id per line by
  * earlier versions loads unchanged; a stray temporary file is not read.
  * An epoch is committed when it is at or below that maximum. The rule is exact: the micro-batch
  * engine commits epoch k's sink before it plans k+1, so a replayed epoch
  * is never above the maximum and a new one always is. At scale the
  * ledger lives in the receiver's store (transactional insert keyed by
  * (queryId, epochId)).
  */
class FileBatchLedger(dir: String) {
  private val file: Path = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    d.resolve("committed_batches")
  }

  private var through: Long =
    if (!Files.exists(file)) -1L
    else Files.readAllLines(file).asScala.filter(_.nonEmpty)
      .foldLeft(-1L)((m, l) => math.max(m, l.toLong))

  /** The highest committed epoch, -1 if none — what a DSv2 sink ships to
    * its per-epoch writer factory, in constant size however long the
    * stream has run. (The ledger itself holds a non-serializable Path and
    * stays on the driver.) */
  def committedThrough: Long = synchronized(through)

  def committed(epochId: Long): Boolean = epochId <= committedThrough

  def commit(epochId: Long): Unit = synchronized {
    val mark = math.max(through, epochId)
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    Files.write(tmp, (mark.toString + "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE)
    through = mark
  }
}
