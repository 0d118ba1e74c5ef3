package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.CosineSimilarityExpr

/** ρ-sampling calibration for the NN-Descent build (r17 verdict ask #2):
  * measures recall@3 vs the exact graph and wall for round-count ×
  * sampling configs at a given SF, so the registered q169 shape and the
  * crossover landing config are measured choices, not guesses. Usage:
  *   runMain graft.tools.NnTune <sfDir> [config ...]
  * where config = `<rounds>:<mode>`, mode = `full` | `rho` (the
  * [[graft.queries.LlmOps.NnSampleRho]] default) | `rho<permille>`.
  * Env: NNTUNE_WALLONLY=1 skips the O(n²) truth set (wall receipts at
  * larger SFs); NNTUNE_FACTOR=F scales the corpus with ScaleStress's
  * embeddings arm (key-shifted, deterministically jittered copies) for
  * crossover-regime receipts without a full scaled-table landing. */
object NnTune {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val configs = if (args.length > 1) args.drop(1).toSeq
      else Seq("3:full", "3:rho", "4:rho", "5:rho")
    val wallOnly = sys.env.get("NNTUNE_WALLONLY").contains("1")
    val factor = sys.env.get("NNTUNE_FACTOR").map(_.toInt).getOrElse(1)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.LocalFs.sparkConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = if (factor <= 1) sfDir else {
      val idSpan = 1L * 1000 * 1000
      val base = Tables.embeddings(spark, sfDir)
      val scaled = (0 until factor).map { i =>
        val jittered =
          if (i == 0) col("embedding")
          else transform(col("embedding"), (x, idx) =>
            (x + (pmod(col("vec_id") * 31 + lit(i * 17) + idx, lit(7)) -
              lit(3)).cast("float") * lit(0.001f)).cast("float"))
        base.withColumn("vec_id", col("vec_id") + lit(i * idSpan))
          .withColumn("embedding", jittered)
      }.reduce(_ unionAll _)
      val landed = java.nio.file.Files
        .createTempDirectory("nntune-scaled").toString
      scaled.write.mode("overwrite").parquet(s"$landed/embeddings.parquet")
      println(s"[nntune] scaled x$factor -> $landed")
      landed
    }
    try run(spark, dir, configs, wallOnly) finally spark.stop()
  }

  private def run(spark: SparkSession, sfDir: String,
      configs: Seq[String], wallOnly: Boolean): Unit = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("va")).orderBy(col("sim").desc, col("vb"))
    val truth: Set[(Long, Long)] = if (wallOnly) Set.empty else {
      val exact = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
        .crossJoin(e.select(col("vec_id").as("vb"), col("embedding").as("eb")))
        .filter(col("va") =!= col("vb"))
        .select(col("va"), col("vb"),
          round(CosineSimilarityExpr(col("ea"), col("eb")), 4).as("sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      exact.select("va", "vb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    println(s"[nntune] exact edges: ${truth.size}")

    configs.foreach { c =>
      val Array(r, mode) = c.split(":")
      val sampled = mode.startsWith("rho")
      if (sampled && mode.length > 3)
        spark.conf.set("spark.graft.nnDescent.rho", mode.drop(3))
      else spark.conf.unset("spark.graft.nnDescent.rho")
      // warm + measure min-of-2 (matching the bench discipline)
      def once(): (Double, Set[(Long, Long)]) = {
        val t0 = System.nanoTime()
        val got = graft.queries.LlmOps
          .nnDescentBuild(spark, sfDir, ordered = false, rounds = r.toInt,
            sampled = sampled)
          .select("va", "vb").collect()
          .map(x => (x.getLong(0), x.getLong(1))).toSet
        ((System.nanoTime() - t0) / 1e9, got)
      }
      val (w1, g1) = once()
      val (w2, g2) = once()
      assert(g1 == g2, s"$c nondeterministic!")
      val recall = g1.intersect(truth).size
      println(f"[nntune] rounds=$r mode=$mode edges=${g1.size} " +
        f"recall@3=$recall/${truth.size} wall=${math.min(w1, w2)}%.2f s " +
        f"(runs $w1%.2f/$w2%.2f)")
    }
  }
}
