package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine counters per scope, from Spark's public listener API. A scope
  * is the `perfbench.scope` local property of the thread that started the
  * job (see [[Scope]]); jobs started while `perfbench.phase` is `plan`
  * are also counted as planning jobs. */
final class EngineListener extends SparkListener {
  final class Agg {
    var jobs, planJobs, stages, tasks = 0L
    var taskNs, cpuNs, gcMs, maxTaskMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    def taskS: Double = taskNs / 1e9
    def shuffleMb: Double = (shuffleRead + shuffleWrite) / 1e6
  }
  private val aggs = new ConcurrentHashMap[String, Agg]
  private val stageScope = new ConcurrentHashMap[Int, String]
  private val jobScope = new ConcurrentHashMap[Int, String]
  private val ended = ConcurrentHashMap.newKeySet[String]()
  private val markers = new java.util.concurrent.atomic.AtomicInteger

  def agg(scope: String): Agg = aggs.computeIfAbsent(scope, _ => new Agg)
  def scopes: Seq[String] = aggs.keySet.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val scope = p.flatMap(x => Option(x.getProperty(Scope.Key))).getOrElse("other")
    val a = agg(scope)
    a.synchronized {
      a.jobs += 1
      if (p.exists(x => x.getProperty(Scope.PhaseKey) == "plan")) a.planJobs += 1
    }
    jobScope.put(e.jobId, scope)
    e.stageIds.foreach(id => stageScope.put(id, scope))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobScope.get(e.jobId)).foreach(ended.add)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(stageScope.getOrDefault(e.stageInfo.stageId, "other"))
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = agg(stageScope.getOrDefault(e.stageId, "other"))
    a.synchronized {
      a.tasks += 1
      a.taskNs += m.executorRunTime * 1000000L
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Waits until every event posted before this call was delivered: the
    * shared listener queue is FIFO, so once a marker job's end arrives,
    * so has everything before it. */
  def sync(spark: SparkSession): Unit = {
    val marker = s"sync-${markers.incrementAndGet()}"
    Scope(spark, marker)(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 20000000000L
    while (!ended.contains(marker) && System.nanoTime() < deadline) Thread.sleep(2)
  }
}

/** Thread-local scope labels the [[EngineListener]] attributes jobs by. */
object Scope {
  val Key = "perfbench.scope"
  val PhaseKey = "perfbench.phase"

  def apply[T](spark: SparkSession, scope: String, phase: String = "exec")(body: => T): T = {
    val sc = spark.sparkContext
    val (s0, p0) = (sc.getLocalProperty(Key), sc.getLocalProperty(PhaseKey))
    sc.setLocalProperty(Key, scope)
    sc.setLocalProperty(PhaseKey, phase)
    try body finally {
      sc.setLocalProperty(Key, s0)
      sc.setLocalProperty(PhaseKey, p0)
    }
  }
}

/** Per-batch durations from streaming progress events. */
final class StreamProgress extends StreamingQueryListener {
  import StreamProgress.Batch
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(Batch(p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def clear(): Unit = batches.clear()
  /** Batches that read at least one row. */
  def withData: Seq[Batch] = batches.asScala.toSeq.filter(_.rows > 0)
}

object StreamProgress {
  final case class Batch(id: Long, rows: Long, durations: Map[String, Long])
}

/** The most heap in use right after a collection, over the collections
  * between [[start]] and [[stop]]: what the JVM retains, without the
  * garbage the young generation holds until it is collected. [[stop]]
  * forces a collection, so there is at least one sample. */
final class HeapMeter extends NotificationListener {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  // per collector, the number of its collections whose notification arrived
  private val seen = new ConcurrentHashMap[String, java.lang.Long]
  private val peak = new AtomicLong
  @volatile private var on = false
  gcs.foreach { gc =>
    gc.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null)
    seen.merge(gc.getName, gc.getCollectionCount, (a, b) => math.max(a, b))
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (on) {
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
      }
      seen.merge(info.getGcName, info.getGcInfo.getId, (a, b) => math.max(a, b))
    }

  /** Waits until the notifications of every collection so far arrived. */
  private def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (gcs.exists(gc => seen.get(gc.getName) < gc.getCollectionCount) &&
        System.nanoTime() < deadline)
      Thread.sleep(1)
  }

  def start(): Unit = { System.gc(); settle(); peak.set(0); on = true }

  /** Peak retained heap in MB since [[start]]. */
  def stop(): Double = { System.gc(); settle(); on = false; peak.get / 1e6 }

  def close(): Unit =
    gcs.foreach(_.asInstanceOf[NotificationEmitter].removeNotificationListener(this))
}

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written out with the run's record. Disabled, it only runs the
  * body. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized(spans += Span(id, parent, name, t0, t1))
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}
