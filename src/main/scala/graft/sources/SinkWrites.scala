package graft.sources

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

import graft.streaming.FileBatchLedger

/** A DSv2 sink's name and the unit it delivers in, for the commit log.
  * Both sinks (`graft-http-sink`, `graft-kinesis-sink`) share the driver
  * side below: each supplies its label and one writer factory for both
  * modes. The epoch and job commits are audit points of an at-least-once
  * sink (they log the totals of every writer's [[SinkCommit]]), not
  * transaction boundaries. */
private[sources] case class SinkLabel(name: String, unit: String)

/** One writer task's totals: rows taken, delivery calls made (POSTs or
  * PutRecords sends). */
private[sources] case class SinkCommit(rows: Long, sends: Long)
    extends WriterCommitMessage

private[sources] trait SinkCommitLog extends Logging {
  protected def label: SinkLabel
  protected def logDelivered(what: String, messages: Array[WriterCommitMessage]): Unit = {
    val (rows, sends) = messages.foldLeft((0L, 0L)) {
      case ((r, s), SinkCommit(mr, ms)) => (r + mr, s + ms)
      case (acc, _)                     => acc
    }
    logInfo(s"${label.name} $what delivered: $rows rows in $sends ${label.unit}")
  }
}

private[sources] class SinkBatchWrite(protected val label: SinkLabel,
    factory: DataWriterFactory) extends BatchWrite with SinkCommitLog {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    factory
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    logDelivered("batch job", messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** The streaming write, and with `ledgerDir` the one place the replay
  * rule lives: each epoch's writer factory carries the ledger's highest
  * committed epoch, writers for an epoch at or below it (a replay) accept
  * rows but deliver nothing, and the driver records each epoch in the
  * ledger at `commit`, AFTER delivery (a crash between the two still
  * re-delivers: at-least-once is the floor, never lost data). Without a
  * ledger every epoch delivers. */
private[sources] class SinkStreamingWrite(protected val label: SinkLabel,
    factory: StreamingDataWriterFactory, ledgerDir: Option[String])
    extends StreamingWrite with SinkCommitLog {
  // driver-side; built lazily so a ledger-less sink pays nothing
  private lazy val ledger = ledgerDir.map(new FileBatchLedger(_))

  /** Called once per epoch (MicroBatchWrite wraps this write per
    * micro-batch), so the shipped high-water mark reflects every commit
    * recorded before this epoch planned — exactly the freshness the
    * replay decision needs. */
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    SkipReplayedEpochs(factory, ledger.fold(-1L)(_.committedThrough))
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ledger match {
    case Some(l) if l.committed(epochId) =>
      logInfo(s"${label.name} epoch $epochId replay skipped (ledger)")
    case Some(l) =>
      logDelivered(s"epoch $epochId", messages)
      l.commit(epochId) // AFTER delivery: crash in between re-delivers
    case None =>
      logDelivered(s"epoch $epochId", messages)
  }
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
}

/** `factory` for epochs above `committedThrough` (-1 without a ledger or
  * before its first commit); a [[SkippedEpochWriter]] for the rest. */
private[sources] case class SkipReplayedEpochs(
    factory: StreamingDataWriterFactory, committedThrough: Long)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    if (epochId <= committedThrough) new SkippedEpochWriter
    else factory.createWriter(partitionId, taskId, epochId)
}

/** Writer for an epoch the ledger already recorded: the engine re-runs
  * the epoch's plan on restart, but every row it feeds here was already
  * delivered — accept and drop. */
private[sources] class SkippedEpochWriter extends DataWriter[InternalRow] {
  override def write(row: InternalRow): Unit = ()
  override def commit(): WriterCommitMessage = SinkCommit(0L, 0L)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
