package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[FileBatchLedger]]'s file stays one line however many epochs commit,
  * and a new ledger over the same directory resumes the skip rule. */
class FileBatchLedgerSpec extends AnyFunSuite {

  private def lines(dir: Path): Seq[String] =
    Files.readAllLines(dir.resolve("committed_batches")).asScala.toSeq

  test("after N commits the ledger file holds one line, the highest epoch") {
    val dir = Files.createTempDirectory("graft-ledger-one-line")
    val ledger = new FileBatchLedger(dir.toString)
    (0L until 500L).foreach(ledger.commit)
    assert(lines(dir) == Seq("499"))
    // a lower epoch does not lower the mark
    ledger.commit(7L)
    assert(lines(dir) == Seq("499") && ledger.committedThrough == 499L)
    assert(Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSeq ==
      Seq("committed_batches"), "no temporary file is left behind")
  }

  test("a stray temporary file is ignored on load and replaced by the next commit") {
    val dir = Files.createTempDirectory("graft-ledger-stray")
    new FileBatchLedger(dir.toString).commit(3L)
    // a commit that died between writing its temporary file and the rename
    Files.write(dir.resolve("committed_batches.tmp"),
      "9\n".getBytes(StandardCharsets.UTF_8))
    val reloaded = new FileBatchLedger(dir.toString)
    assert(reloaded.committedThrough == 3L)
    assert(!reloaded.committed(4L))
    reloaded.commit(4L)
    assert(lines(dir) == Seq("4"))
    assert(!Files.exists(dir.resolve("committed_batches.tmp")))
  }

  test("a restart resumes the skip rule: epochs at or below the mark are " +
      "committed, the next one is not") {
    val dir = Files.createTempDirectory("graft-ledger-restart")
    val first = new FileBatchLedger(dir.toString)
    (0L to 12L).foreach(first.commit)
    val second = new FileBatchLedger(dir.toString)
    assert(second.committedThrough == 12L)
    assert(second.committed(0L) && second.committed(12L) && !second.committed(13L))
    second.commit(13L)
    val third = new FileBatchLedger(dir.toString)
    assert(third.committed(13L) && !third.committed(14L))
    assert(lines(dir) == Seq("13"))
  }
}
