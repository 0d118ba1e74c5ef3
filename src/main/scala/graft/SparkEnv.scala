package graft

import org.apache.spark.sql.SparkSession

/** One place for the local SparkSession the dev/CLI mains build (the
  * driver-contract mains Verify/Bench keep their own inline copies — those
  * files are part of the harness contract and stay self-contained). */
object SparkEnv {
  def local(appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder().config(conf(appName)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The settings [[local]] builds its session from. */
  private[graft] def conf(appName: String): Map[String, String] = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    Map(
      "spark.master" -> sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"),
      "spark.app.name" -> appName,
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ LocalFs.sparkConf
  }
}
