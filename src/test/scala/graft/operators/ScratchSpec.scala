package graft.operators

import graft.{SparkSpec, Tables}

class ScratchSpec extends SparkSpec {

  test("release evicts the released path's cached parquet schema") {
    val path = Scratch.materializePath(spark.range(10).toDF("id"), "schema-evict")
    assert(Tables.parquet(spark, path).count() == 10)
    assert(Tables.schemaCached(path))
    Scratch.release(path)
    assert(!Tables.schemaCached(path))
    assert(!new java.io.File(path).exists())
  }
}
