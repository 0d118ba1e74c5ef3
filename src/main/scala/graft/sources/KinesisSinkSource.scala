package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.{KinesisRecord, KinesisRecordEncoder, KinesisSink, KinesisTransport}

/** The declared-only Kinesis delivery (reference README.md:2 "via HTTP
  * or Kinesis"; unused aws-java-sdk dep) as a catalog-level DSv2 sink —
  * `pings.writeStream.format("graft-kinesis-sink").option("stream", …)
  * .option("sourceId", …).option("transport", …)` — the [[HttpSinkSource]]
  * treatment applied to the record-batch producer: per-vehicle keyed
  * records (shard affinity ⇒ per-vehicle ordering), ≤500-record
  * PutRecords chunks, partial-failure resubmit, all from the one
  * [[KinesisSink]] implementation.
  *
  * The transport is a SEAM, not an option value — a client object can't
  * ride a string option, so deployments register theirs in
  * [[KinesisTransports]] under a name and address it via
  * `option("transport", name)` (the stateStore-providerClass pattern,
  * adapted for instances that need construction args; the specs register
  * the `InMemoryKinesis` test double from `src/test`). Same consistency
  * contract as U7: AT-LEAST-ONCE — stored-but-reported-failed records
  * duplicate on resubmit, epoch commit is an audit point.
  *
  * OPT-IN effectively-once (r18 verdict ask #3 — parity with
  * [[HttpSinkSource]]): `option("ledgerDir", …)` records each epoch in a
  * [[graft.streaming.FileBatchLedger]] and skips replayed epochs (they
  * put NO records), by the one rule [[SinkStreamingWrite]] holds for
  * both DSv2 sinks. The ledger must live and die with the query's
  * checkpoint; batch writes ignore the option (no epoch identity to
  * dedupe on). */
class KinesisSinkSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kinesis-sink"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType(Nil)
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new KinesisSinkTable(properties)
}

/** Named transport registry (JVM-static): the bridge between DSv2's
  * string-only options and a constructed client object. Executors in
  * local mode share the JVM; a cluster deployment's transport must be
  * constructible executor-side, so entries are (re)registered via a
  * serializable factory. */
object KinesisTransports {
  private val factories =
    new java.util.concurrent.ConcurrentHashMap[String, () => KinesisTransport]

  def register(name: String, factory: () => KinesisTransport): Unit =
    factories.put(name, factory)

  /** Resolve at PLAN time (driver side): the returned factory — not the
    * registry lookup — ships to executors inside the writer factory, so
    * a cluster whose executors never saw `register` still constructs
    * the transport (provided the registered closure is serializable,
    * which is the deployment's contract). */
  def factory(name: String): () => KinesisTransport = {
    val f = factories.get(name)
    require(f != null, s"no Kinesis transport registered under '$name' " +
      s"(KinesisTransports.register it before starting the query)")
    f
  }

  def apply(name: String): KinesisTransport = factory(name)()
}

private[sources] class KinesisSinkTable(
    properties: java.util.Map[String, String]) extends Table
    with SupportsWrite {
  override def name(): String = "graft-kinesis-sink"
  override def schema(): StructType = StructType(Nil)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // catalog OPTIONS ride table properties; direct-write options win
    val opts = HttpSinkSource.mergedOptions(properties, info.options)
    val stream = opts.get("stream")
    require(stream != null, "graft-kinesis-sink requires option 'stream'")
    val sourceId = opts.get("sourceId")
    require(sourceId != null, "graft-kinesis-sink requires option 'sourceId'")
    val transport = opts.get("transport")
    require(transport != null,
      "graft-kinesis-sink requires option 'transport' (a KinesisTransports name)")
    // resolve at PLAN time: fails loudly if unregistered, and the
    // serializable factory (not the driver-local registry) ships to
    // executors — the registry is empty in a real cluster's executors
    val transportFactory = KinesisTransports.factory(transport)
    val idx = HttpSinkSource.pingIndices(info.schema)
    val factory = KinesisWriterFactory(stream, sourceId.toLong,
      transportFactory, opts.getInt("maxBatch", 500), idx)
    val ledgerDir = Option(opts.get("ledgerDir"))
    val label = SinkLabel("graft-kinesis-sink", "PutRecords sends")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def description(): String = label.name
        override def toBatch: BatchWrite = new SinkBatchWrite(label, factory)
        override def toStreaming: StreamingWrite =
          new SinkStreamingWrite(label, factory, ledgerDir)
      }
    }
  }
}

private[sources] case class KinesisWriterFactory(stream: String,
    sourceId: Long, transportFactory: () => KinesisTransport,
    maxBatch: Int, idx: PingIndices)
    extends DataWriterFactory with StreamingDataWriterFactory {
  private def writer(): DataWriter[InternalRow] =
    new KinesisDataWriter(
      new KinesisSink(stream, transportFactory(), maxBatch = maxBatch),
      sourceId, idx)
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = writer()
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = writer()
}

/** Per-task writer: encode each ping once into its vehicleId-keyed
  * record ([[KinesisRecordEncoder]] — per-shard ordering by vehicle),
  * chunked at the PutRecords limit. Memory bounded by one chunk. */
private[sources] class KinesisDataWriter(sink: KinesisSink, sourceId: Long,
    idx: PingIndices) extends DataWriter[InternalRow] {
  private val enc = new KinesisRecordEncoder(sourceId)
  private val buf = scala.collection.mutable.ArrayBuffer.empty[KinesisRecord]
  private var rows = 0L
  private var sends = 0L

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(idx.vid) && !row.isNullAt(idx.lat) &&
        !row.isNullAt(idx.lon) && !row.isNullAt(idx.ts),
      "graft-kinesis-sink: null ping field (upstream must drop malformed rows)")
    buf += enc.ping(row.getLong(idx.vid), row.getDouble(idx.lat),
      row.getDouble(idx.lon), row.getLong(idx.ts))
    rows += 1
    if (buf.size >= sink.maxBatch) flush()
  }

  private def flush(): Unit = if (buf.nonEmpty) {
    sink.putAll(buf.toSeq)
    sends += 1
    buf.clear()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    SinkCommit(rows, sends)
  }

  override def abort(): Unit = buf.clear()
  override def close(): Unit = ()
}
