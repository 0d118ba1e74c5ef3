package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver contract: (sfDir, outDir). Extra args are a dev-only query
    // subset filter (tools/compare.py iteration on one query at a time).
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(LocalFs.sparkConf)
      // Gate-time regime pin (r15 verdict fix #4): the q168 oracle (and
      // every landed-graph consumer's) mirrors the CELL-BLOCKED build
      // chain; the auto dispatch would silently switch the landed graph
      // to NN-Descent past 2^17 vectors and false-mismatch the compare.
      // Pinning here keeps the correctness gate self-consistent at ANY
      // sf; production callers keep the size-calibrated auto dispatch.
      .config("spark.graft.knnGraph.build", "cellblocked")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    var dumped = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped += 1
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-evidencing summary (r17 verdict #1): ONE parseable JSON line on
    // stdout so the round has a second machine-readable receipt even when
    // the harness-side compare artifact is lost. "failed" lists queries
    // whose dump threw; an all-green run prints failed:[].
    val oracled = SparkEntry.oracleSql.keySet
      .count(k => only.isEmpty || only(k))
    println(s"""{"metric":"verify","dumped":$dumped,"failed":[${
      failed.sorted.map(q).mkString(",")}],"oracled":$oracled}""")
    spark.stop()
  }
}
