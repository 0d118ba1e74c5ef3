package graft.operators

import graft.{SparkSpec, Tables}

class ScratchSpec extends SparkSpec {
  import spark.implicits._

  test("release evicts the released path's cached parquet schema") {
    val path = Scratch.materializePath(spark.range(10).toDF("id"), "schema-evict")
    assert(Tables.parquet(spark, path).count() == 10)
    assert(Tables.schemaCached(path))
    Scratch.release(path)
    assert(!Tables.schemaCached(path))
    assert(!new java.io.File(path).exists())
  }

  test("iterative operators leave the schema cache bounded: SuffixArray " +
      "then ConnectedComponents add only the non-scratch path they read") {
    val in = java.nio.file.Files.createTempDirectory("graft-schema-bound")
      .resolve("pairs").toString
    Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")).toDF("da", "db")
      .write.parquet(in)
    val before = Tables.schemaCacheSize
    // each doubling round and each propagation round lands and reads a
    // scratch dir, then releases it
    val toks = "a b ab a b ab a".split(" ").toSeq.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("pos", "tok")
    Scratch.release(SuffixArray.ranksPath(toks))
    Scratch.release(ConnectedComponents.minLabelPropagationPath(
      Tables.parquet(spark, in), localMaxEdges = -1))
    assert(Tables.schemaCacheSize <= before + 1,
      s"schema cache grew from $before to ${Tables.schemaCacheSize}")
  }
}
