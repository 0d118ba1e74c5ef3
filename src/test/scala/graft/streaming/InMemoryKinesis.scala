package graft.streaming

/** In-process transport that mirrors the service's documented routing:
  * each shard owns a contiguous range of the 128-bit MD5 hash-key
  * space and a record routes to the OPEN shard whose range contains
  * MD5(partitionKey) — exactly how the service assigns records, which
  * is what makes split/merge semantics faithful (a split halves the
  * parent's range between two children, so a key's post-split records
  * land in exactly one child). Supports test-injected per-record
  * failures and records per-call sizes so the batching contract is
  * observable. State lives in a JVM-static registry keyed by
  * (`name`, stream) — one transport alias can carry several distinct
  * streams (r18 advice: the pre-r19 store ignored `stream`, aliasing
  * all of them onto one record list) — so the transport survives
  * Spark's closure serialization into (local-mode) executor tasks and
  * stays observable from the test. */
class InMemoryKinesis(numShards: Int, name: String = "default")
    extends KinesisTransport with KinesisConsumerTransport {

  /** Routing for an UN-resharded stream (the even `numShards` split) —
    * the test-side reference for shard affinity. After a split/merge
    * the live topology routes; use [[shardForKey]] with the stream. */
  def shardOf(partitionKey: String): Int = {
    val h = InMemoryKinesis.hash(partitionKey)
    InMemoryKinesis.evenSplit(numShards)
      .indexWhere(r => h.compareTo(r._1) >= 0 && h.compareTo(r._2) < 0)
  }

  /** The OPEN shard the live topology routes `partitionKey` to. */
  def shardForKey(stream: String, partitionKey: String): Int =
    InMemoryKinesis.route(name, stream, numShards,
      InMemoryKinesis.hash(partitionKey))

  override def putRecords(
      stream: String, records: Seq[KinesisRecord]): Seq[Boolean] =
    InMemoryKinesis.put(name, stream, numShards, records)

  // consumer half: per-shard sequence number = arrival index within the
  // shard; closed shards stay listed (ListShards does) with their
  // SHARD_END exposed
  override def shardIds(stream: String): Seq[Int] =
    InMemoryKinesis.shardIds(name, stream, numShards)
  override def tip(stream: String, shard: Int): Long =
    InMemoryKinesis.tip(name, stream, shard)
  override def read(stream: String, shard: Int,
      from: Long, until: Long): Seq[KinesisRecord] =
    InMemoryKinesis.shardRecords(name, stream, shard)
      .slice(from.toInt, until.toInt)
  override def parents(stream: String, shard: Int): Seq[Int] =
    InMemoryKinesis.meta(name, stream, shard).parents
  // Option-through for UNKNOWN shards too (r20): a real transport maps a
  // DescribeShard of a retention-expired shard to "no such shard", not an
  // error — the consumer's expired-parent admission fix relies on None
  override def shardEnd(stream: String, shard: Int): Option[Long] =
    InMemoryKinesis.metaOpt(name, stream, shard).flatMap(_.end)

  /** Test hook — retention expiry: drop a CLOSED shard from the topology
    * entirely (ListShards stops returning it, its SHARD_END is no longer
    * resolvable) — the state the r19 ADVICE livelock fix admits through. */
  def expireShard(stream: String, shard: Int): Unit =
    InMemoryKinesis.expire(name, stream, shard)

  /** Test hook — SplitShard: close `shard`, open two children over the
    * halved hash range. Returns the child ids. */
  def splitShard(stream: String, shard: Int): (Int, Int) =
    InMemoryKinesis.split(name, stream, numShards, shard)

  /** Test hook — MergeShards: close two adjacent open shards, open one
    * child over their union range. Returns the child id. */
  def mergeShards(stream: String, a: Int, b: Int): Int =
    InMemoryKinesis.merge(name, stream, numShards, a, b)

  /** Test hook: records for which this returns true fail (per call). */
  def setFailNext(f: KinesisRecord => Boolean): Unit =
    InMemoryKinesis.failers.synchronized { InMemoryKinesis.failers(name) = f }

  def records: Seq[(Int, KinesisRecord)] = InMemoryKinesis.records(name)
  def callSizes: Seq[Int] = InMemoryKinesis.callSizes(name)
}

object InMemoryKinesis {
  import java.math.BigInteger
  import scala.collection.mutable

  private val HashSpace = BigInteger.ONE.shiftLeft(128)

  private[streaming] def hash(partitionKey: String): BigInteger =
    new BigInteger(1, java.security.MessageDigest.getInstance("MD5")
      .digest(partitionKey.getBytes("UTF-8")))

  /** The initial even split of the 128-bit space into `n` ranges. */
  private[streaming] def evenSplit(n: Int): Seq[(BigInteger, BigInteger)] = {
    val step = HashSpace.divide(BigInteger.valueOf(n.toLong))
    (0 until n).map { i =>
      val lo = step.multiply(BigInteger.valueOf(i.toLong))
      val hi = if (i == n - 1) HashSpace
        else step.multiply(BigInteger.valueOf(i + 1L))
      (lo, hi)
    }
  }

  /** One shard's live metadata; `end` = final record count once closed
    * (SHARD_END). */
  private[streaming] final case class ShardMeta(id: Int, lo: BigInteger,
      hi: BigInteger, parents: Seq[Int], var end: Option[Long])

  // all keyed by (transport name, stream) except calls/failers, which
  // model per-CLIENT behavior (call sizes, injected failures)
  private val topo =
    mutable.Map.empty[(String, String), mutable.ArrayBuffer[ShardMeta]]
  private val stored = mutable.Map
    .empty[String, mutable.ArrayBuffer[(String, Int, KinesisRecord)]]
  private val calls = mutable.Map.empty[String, mutable.ArrayBuffer[Int]]
  private val failers =
    mutable.Map.empty[String, KinesisRecord => Boolean]

  private def topoFor(name: String, stream: String,
      numShards: Int): mutable.ArrayBuffer[ShardMeta] =
    topo.getOrElseUpdate((name, stream), {
      val b = mutable.ArrayBuffer.empty[ShardMeta]
      b ++= evenSplit(numShards).zipWithIndex.map { case ((lo, hi), i) =>
        ShardMeta(i, lo, hi, Seq.empty, None)
      }
      b
    })

  private def route(name: String, stream: String, numShards: Int,
      h: BigInteger): Int = stored.synchronized {
    topoFor(name, stream, numShards)
      .find(m => m.end.isEmpty &&
        h.compareTo(m.lo) >= 0 && h.compareTo(m.hi) < 0)
      .getOrElse(throw new IllegalStateException(
        s"no open shard covers hash $h in $name/$stream"))
      .id
  }

  private def put(name: String, stream: String, numShards: Int,
      records: Seq[KinesisRecord]): Seq[Boolean] =
    stored.synchronized {
      calls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += records.size
      val fail = failers.synchronized(
        failers.getOrElse(name, (_: KinesisRecord) => false))
      val buf = stored.getOrElseUpdate(name, mutable.ArrayBuffer.empty)
      records.map { r =>
        if (fail(r)) false
        else {
          val shard = route(name, stream, numShards, hash(r.partitionKey))
          buf += ((stream, shard, r)); true
        }
      }
    }

  private def meta(name: String, stream: String, shard: Int): ShardMeta =
    stored.synchronized {
      topo.get((name, stream)).flatMap(_.find(_.id == shard))
        .getOrElse(throw new NoSuchElementException(
          s"unknown shard $shard in $name/$stream"))
    }

  private def metaOpt(name: String, stream: String,
      shard: Int): Option[ShardMeta] =
    stored.synchronized(topo.get((name, stream)).flatMap(_.find(_.id == shard)))

  private def expire(name: String, stream: String, shard: Int): Unit =
    stored.synchronized {
      val t = topo.getOrElse((name, stream), throw new NoSuchElementException(
        s"unknown stream $name/$stream"))
      val m = meta(name, stream, shard)
      require(m.end.isDefined, s"cannot expire OPEN shard $shard")
      t -= m
      // its records age out with it
      stored.get(name).foreach(b => b.filterInPlace(e =>
        !(e._1 == stream && e._2 == shard)))
    }

  private def shardIds(name: String, stream: String,
      numShards: Int): Seq[Int] =
    stored.synchronized(topoFor(name, stream, numShards).map(_.id).toSeq)

  private def tip(name: String, stream: String, shard: Int): Long =
    stored.synchronized {
      meta(name, stream, shard).end.getOrElse(
        shardRecords(name, stream, shard).size.toLong)
    }

  private def shardRecords(name: String, stream: String,
      shard: Int): Seq[KinesisRecord] = stored.synchronized {
    stored.get(name).map(_.iterator
        .filter(e => e._1 == stream && e._2 == shard).map(_._3).toSeq)
      .getOrElse(Seq.empty)
  }

  private def split(name: String, stream: String, numShards: Int,
      shard: Int): (Int, Int) = stored.synchronized {
    val t = topoFor(name, stream, numShards)
    val m = meta(name, stream, shard)
    require(m.end.isEmpty, s"shard $shard is already closed")
    m.end = Some(shardRecords(name, stream, shard).size.toLong)
    val mid = m.lo.add(m.hi).shiftRight(1)
    val next = t.map(_.id).max + 1
    t += ShardMeta(next, m.lo, mid, Seq(shard), None)
    t += ShardMeta(next + 1, mid, m.hi, Seq(shard), None)
    (next, next + 1)
  }

  private def merge(name: String, stream: String, numShards: Int,
      a: Int, b: Int): Int = stored.synchronized {
    topoFor(name, stream, numShards)
    val (ma, mb) = (meta(name, stream, a), meta(name, stream, b))
    require(ma.end.isEmpty && mb.end.isEmpty, "merge needs two open shards")
    val (lo, hi) = (ma, mb) match {
      case _ if ma.hi == mb.lo => (ma.lo, mb.hi)
      case _ if mb.hi == ma.lo => (mb.lo, ma.hi)
      case _ => throw new IllegalArgumentException(
        s"shards $a and $b are not hash-adjacent")
    }
    ma.end = Some(shardRecords(name, stream, a).size.toLong)
    mb.end = Some(shardRecords(name, stream, b).size.toLong)
    val t = topo((name, stream))
    val next = t.map(_.id).max + 1
    t += ShardMeta(next, lo, hi, Seq(a, b), None)
    next
  }

  def records(name: String): Seq[(Int, KinesisRecord)] =
    stored.synchronized(stored.get(name)
      .map(_.map(e => (e._2, e._3)).toSeq).getOrElse(Seq.empty))
  def callSizes(name: String): Seq[Int] =
    stored.synchronized(calls.get(name).map(_.toSeq).getOrElse(Seq.empty))
  /** Drop a named transport's state (test isolation). */
  def reset(name: String): Unit = stored.synchronized {
    stored.remove(name); calls.remove(name)
    topo.filterInPlace { case ((n, _), _) => n != name }
    failers.synchronized(failers.remove(name))
  }
}
