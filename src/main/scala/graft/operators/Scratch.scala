package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** Scratch-parquet materialization — the storage-checkpoint alternative to
  * `.cache()` for a relation consumed repeatedly across stages or rounds.
  *
  * Why not cache: an executor-memory cache squats on the JVM until someone
  * unpersists it, and a query function that returns a lazy DataFrame has no
  * post-action hook to do so (round-2 bench: one leaked shingle cache made
  * its own query 4.6× slower and regressed every later query 1.6-3.3×).
  * A scratch write pays one column-compressed write + re-scan, keeps the
  * lineage flat (iterative consumers don't stack plans), and leaves ZERO
  * persisted state behind. At 100 TB this is the reliable-checkpoint step
  * (HDFS/S3 scratch dir) that bounds both memory and recovery cost for
  * iterative algorithms.
  */
object Scratch {
  // one scratch root per JVM, recursively deleted on exit (deleteOnExit
  // on a non-empty dir silently no-ops) — the local stand-in for a
  // cluster's job-scoped scratch prefix with a storage lifecycle policy
  private lazy val root: java.nio.file.Path = {
    val r = Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(r)))
    r
  }

  // Files.walk holds a directory stream (an fd) until closed — a driver
  // looping release() would leak one per call without the Using wrapper
  private def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files => F}
    import scala.jdk.CollectionConverters._
    if (F.exists(p)) {
      val paths = scala.util.Using.resource(F.walk(p))(
        _.iterator().asScala.toSeq)
      paths.reverse.foreach(q => F.deleteIfExists(q))
    }
  }

  /** Number of scratch dirs currently on disk — observability for leak
    * guards: a query invoked twice must not grow this between its first
    * completion and its second (memoized dirs persist; per-call dirs must
    * be released). */
  def liveDirCount: Int = {
    import java.nio.file.{Files => F}
    import scala.jdk.CollectionConverters._
    if (!F.exists(root)) 0
    else scala.util.Using.resource(F.list(root))(_.iterator().asScala.size)
  }

  private val counter = new java.util.concurrent.atomic.AtomicLong(0)

  def materialize(df: DataFrame, name: String): DataFrame =
    graft.Tables.parquet(df.sparkSession, materializePath(df, name))

  /** Reserve a scratch dir WITHOUT writing — for append-accumulated
    * relations ([[appendPath]]) where rounds of an iterative operator
    * each land a delta into one stable dir (e.g. the suffix-array
    * finals). The first [[appendPath]] creates the dir (Spark's append
    * mode creates missing paths); callers must not READ the dir before
    * at least one non-empty append has landed. */
  def allocPath(name: String): String = {
    require(!name.exists(c => c == '/' || c == '\\') && name != ".." &&
      name.nonEmpty, s"invalid scratch name '$name'")
    root.resolve(s"$name-${counter.incrementAndGet()}").toString
  }

  /** Append `df` into an [[allocPath]]'d scratch dir (same schema) —
    * the delta-accumulation write. Each append adds immutable files;
    * readers see the union. Refuses the scratch ROOT itself (part
    * files there would mix with scratch dirs and skew
    * [[liveDirCount]]). */
  def appendPath(df: DataFrame, path: String): Unit = {
    val p = java.nio.file.Paths.get(path).normalize()
    require(p.startsWith(root) && p != root && p.getParent == root,
      s"refusing to append to non-scratch path $path")
    df.write.mode("append").parquet(path)
  }

  /** [[appendPath]] plus the EXACT row count of the appended delta,
    * measured in the same write pass (an
    * [[org.apache.spark.sql.Observation]] rides the write job), so
    * callers that need "how many rows did this round land" pay one scan
    * of the input instead of a count() + a second write scan. */
  def appendPathCounted(df: DataFrame, path: String): Long = {
    import org.apache.spark.sql.{functions => F}
    val obs = org.apache.spark.sql.Observation()
    appendPath(df.observe(obs, F.count(F.lit(1)).as("rows")), path)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Like [[materialize]] but returns the path — for callers that memoize
    * the materialization across query invocations. */
  def materializePath(df: DataFrame, name: String): String = {
    val path = root.resolve(s"$name-${counter.incrementAndGet()}").toString
    df.write.mode("overwrite").parquet(path)
    path
  }

  /** Eagerly delete a one-shot materialization once its last consumer has
    * run its action — the shutdown hook is only the backstop (and a hard
    * kill, e.g. SIGKILL/OOM-killer, skips it entirely: a production run
    * needs a storage lifecycle/TTL policy on the scratch prefix). A
    * long-lived driver looping iterative queries must release per-loop
    * dirs here or disk grows unboundedly. Only paths under this JVM's
    * scratch root are deleted — anything else is refused. The path's
    * cached parquet schema ([[graft.Tables.parquet]]) goes with it. */
  def release(path: String): Unit = {
    val p = java.nio.file.Paths.get(path).normalize()
    require(p.startsWith(root), s"refusing to delete non-scratch path $path")
    deleteTree(p)
    graft.Tables.evictSchemas(p)
  }
}
