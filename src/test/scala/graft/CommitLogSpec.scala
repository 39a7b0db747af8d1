package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{Callable, CyclicBarrier, Executors}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

class CommitLogSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  test("putIfAbsent: of 8 threads racing for one path exactly one wins, and the file holds its content") {
    val dir = Files.createTempDirectory("commitlog-race")
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    try (0 until 200).foreach { round =>
      val target = dir.resolve(s"entry-$round")
      val barrier = new CyclicBarrier(threads)
      val winners = (0 until threads).map { i =>
        pool.submit(new Callable[(Int, Boolean)] {
          def call(): (Int, Boolean) = {
            barrier.await()
            i -> CommitLog.putIfAbsent(fs, new Path(target.toString), s"writer-$i")
          }
        })
      }.map(_.get()).filter(_._2).map(_._1)
      assert(winners.size == 1, s"round $round: ${winners.size} writers won")
      assert(new String(Files.readAllBytes(target), UTF_8) == s"writer-${winners.head}")
    } finally pool.shutdown()
    // every temp file was removed, winner's and losers' alike
    val left = dir.toFile.list().toSeq
    assert(left.forall(_.startsWith("entry-")) && left.size == 200, left.filterNot(_.startsWith("entry-")))
  }

  test("a log lists only committed entries in order; a missing log is empty; a taken number is refused") {
    val log = new Path(Files.createTempDirectory("commitlog-log").toString, "_log")
    assert(CommitLog.entries(fs, log).isEmpty)
    assert(CommitLog.commit(fs, log, 2, "second") && CommitLog.commit(fs, log, 10, "tenth"))
    assert(CommitLog.commit(fs, log, 1, "first"))
    assert(!CommitLog.commit(fs, log, 2, "again"))
    assert(CommitLog.entries(fs, log) == Seq(1, 2, 10))
    assert(CommitLog.read(fs, log, 2) == "second")
  }

  test("putIfAbsent reports only 'target exists' as false: any other I/O error propagates") {
    val dir = Files.createTempDirectory("commitlog-err")
    val notADir = dir.resolve("plain-file")
    Files.write(notADir, Array[Byte](1))
    intercept[java.io.IOException](
      CommitLog.putIfAbsent(fs, new Path(notADir.resolve("entry").toString), "x"))
  }
}
