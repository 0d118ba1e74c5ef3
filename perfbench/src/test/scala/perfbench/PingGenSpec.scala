package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class PingGenSpec extends AnyFunSuite {

  private def withDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("pinggen")
    try body(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  private def gen(dir: Path, name: String, seed: Long, gzip: Boolean): (Path, PingGen.Expect) = {
    val f = dir.resolve(name)
    val e = new PingGen.Expect
    PingGen.writeFile(f, 5000, new SplittableRandom(seed), e, gzip)
    (f, e)
  }

  test("the same seed gives identical bytes, another seed does not")(withDir { dir =>
    for (gzip <- Seq(false, true)) {
      val ext = if (gzip) ".csv.gz" else ".csv"
      val a = Files.readAllBytes(gen(dir, "a" + ext, 7L, gzip)._1)
      val b = Files.readAllBytes(gen(dir, "b" + ext, 7L, gzip)._1)
      val c = Files.readAllBytes(gen(dir, "c" + ext, 8L, gzip)._1)
      assert(java.util.Arrays.equals(a, b))
      assert(!java.util.Arrays.equals(a, c))
    }
  })

  test("every row kind occurs and every drop reason is counted")(withDir { dir =>
    val (_, e) = gen(dir, "k.csv", 3L, gzip = false)
    assert(e.lines == 5000)
    assert(e.valid + e.droppedTotal == e.lines)
    assert(e.dropped.keySet == Set("arity", "latlon", "timestamp", "id"))
    assert(e.uniqueVehicles > e.uniqueIds, "aliased ids must collapse in the low-64 count")
  })

  test("expectations equal what graft-vehicle-csv returns")(withDir { dir =>
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      for (gzip <- Seq(false, true)) {
        val (f, e) = gen(dir, if (gzip) "s.csv.gz" else "s.csv", 11L, gzip)
        val rows = spark.read.format("graft-vehicle-csv").load(f.toString).collect()
        assert(rows.length == e.valid)
        assert(e.lines - rows.length == e.droppedTotal)
        assert(rows.map(_.getString(0)).distinct.length == e.uniqueVehicles)
        assert(rows.map(_.getLong(1)).distinct.length == e.uniqueIds)
        val got = rows.map(r => PingGen.rowHash(r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
        assert(got.sorted.sameElements(e.hashes.sorted))
        assert(got.sum == e.digest)
      }
    } finally spark.stop()
  })
}
