package graft

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.ProtoEnvelope

/** The sessions the program and its specs build put `file:` on
  * [[NioLocalFileSystem]]/[[NioLocalFs]], and a checkpoint keeps the
  * layout and the resumability it has under Hadoop's stock classes. */
class LocalFsWiringSpec extends SparkSpec {

  private val local = URI.create("file:///")

  test("SparkEnv.local's settings and TestSpark's session resolve file: " +
      "to the fork-free classes, through FileSystem and FileContext") {
    val settings = SparkEnv.conf("wiring")
    assert(LocalFs.sparkConf.forall(kv => settings.get(kv._1).contains(kv._2)))
    val fromSettings = new Configuration(false)
    for ((k, v) <- settings if k.startsWith("spark.hadoop."))
      fromSettings.set(k.stripPrefix("spark.hadoop."), v)
    assert(FileSystem.getFileSystemClass("file", fromSettings) ==
      classOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(local, fromSettings).isInstanceOf[NioLocalFs])

    val hadoop = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(local, hadoop).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(local, hadoop).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
  }

  private def withServer[T](body: (String, ArrayBuffer[Array[Byte]]) => T): T = {
    val received = ArrayBuffer.empty[Array[Byte]]
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/u", (ex: com.sun.net.httpserver.HttpExchange) => {
      received.synchronized { received += ex.getRequestBody.readAllBytes() }
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/u", received)
    finally server.stop(0)
  }

  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[JPath].getFileName.toString).toSet
    finally s.close()
  }

  test("a ledgered graft-vehicle-csv → graft-http-sink stream leaves the " +
      "stock checkpoint layout, .crc siblings included, and resumes across " +
      "stock and fork-free offset/commit logs, both ways") {
    val in = Files.createTempDirectory("graft-localfs-in")
    val ckpt = Files.createTempDirectory("graft-localfs-ckpt")
    val ledger = Files.createTempDirectory("graft-localfs-ledger")
    // Spark's offset and commit logs read the session's Hadoop conf
    val stock = spark.newSession()
    stock.conf.set("fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    assert(FileContext.getFileContext(local,
      stock.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf()).getDefaultFileSystem
      .isInstanceOf[org.apache.hadoop.fs.local.LocalFs])
    withServer { (url, received) =>
      def run(s: SparkSession, batch: Int): Unit = {
        Files.write(in.resolve(s"part$batch.csv"),
          s"2015-02-14 23:51:4${batch}+05,${40 + batch},23.7689,90.3886\n"
            .getBytes(StandardCharsets.UTF_8))
        s.readStream.format("graft-vehicle-csv").load(in.toString)
          .writeStream.format("graft-http-sink")
          .option("url", url).option("sourceId", 5L)
          .option("checkpointLocation", ckpt.toString)
          .option("ledgerDir", ledger.toString)
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      }
      run(stock, 0)
      run(spark, 1)
      run(stock, 2)
      val ids = received.map(ProtoEnvelope.decodeEnvelope).flatMap(_._2)
        .map(_.vehicleId).sorted
      assert(ids == Seq(40L, 41L, 42L))
    }
    val batches = Set("0", "1", "2")
    val withCrc = batches ++ batches.map(b => s".$b.crc")
    assert(names(ckpt.resolve("offsets")) == withCrc)
    assert(names(ckpt.resolve("commits")) == withCrc)
    assert(names(ckpt.resolve("sources/0/graft-file-log")) == withCrc)
    assert(names(ckpt) == Set("metadata", ".metadata.crc", "offsets", "commits",
      "sources"))
  }
}
