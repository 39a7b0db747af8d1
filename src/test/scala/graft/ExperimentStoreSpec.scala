package graft

import graft.sources.ExperimentStore
import graft.sources.ExperimentStore.Intervention
import java.nio.file.Files
import java.net.URI
import java.util.concurrent.{BrokenBarrierException, Callable, CyclicBarrier, Executors, TimeUnit, TimeoutException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}

class ExperimentStoreSpec extends SparkSpec {

  private def newDir(): String =
    Files.createTempDirectory("expstore").toString

  private def intv(id: String, start: String, end: Option[String] = None) =
    Intervention(id, s"intv-$id", "supplement", "details", start, end, 3, "", "2024-01-01T00:00:00")

  test("add → list → end → delete round-trips through versioned snapshots") {
    val dir = newDir()
    ExperimentStore.addIntervention(spark, dir, intv("a", "2024-01-05"))
    ExperimentStore.addIntervention(spark, dir, intv("b", "2024-01-10", Some("2024-01-20")))
    val listed = ExperimentStore.listInterventions(spark, dir).collect()
    assert(listed.map(_.getAs[String]("id")).sorted.toSeq == Seq("a", "b"))

    ExperimentStore.endIntervention(spark, dir, "a", "2024-01-15")
    val ended = ExperimentStore.listInterventions(spark, dir)
      .filter("id = 'a'").collect().head
    assert(ended.getAs[String]("end_day") == "2024-01-15")

    ExperimentStore.deleteIntervention(spark, dir, "b")
    assert(ExperimentStore.listInterventions(spark, dir).count() == 1)
  }

  test("an empty store lists zero rows and never errors") {
    val dir = newDir()
    assert(ExperimentStore.listInterventions(spark, dir).count() == 0)
    assert(ExperimentStore.activeInterventions(spark, dir, "2024-01-15").count() == 0)
  }

  test("active filter replays the tracker's is_active rule at an explicit asOf day") {
    val dir = newDir()
    ExperimentStore.addIntervention(spark, dir, intv("open", "2024-01-05"))
    ExperimentStore.addIntervention(spark, dir, intv("past", "2024-01-01", Some("2024-01-10")))
    ExperimentStore.addIntervention(spark, dir, intv("ending-today", "2024-01-01", Some("2024-01-15")))
    val active = ExperimentStore.activeInterventions(spark, dir, "2024-01-15")
      .collect().map(_.getAs[String]("id")).sorted.toSeq
    assert(active == Seq("ending-today", "open"))
  }

  test("overlap probe flags temporal confounds, closing open ends at asOf") {
    val dir = newDir()
    ExperimentStore.addIntervention(spark, dir, intv("x", "2024-01-05", Some("2024-01-12")))
    ExperimentStore.addIntervention(spark, dir, intv("y", "2024-01-20"))
    // window inside x
    val hit = ExperimentStore.checkOverlaps(spark, dir, "2024-01-10", Some("2024-01-11"), "2024-01-30")
    assert(hit.collect().map(_.getAs[String]("id")).toSeq == Seq("x"))
    // open-ended window from the 15th overlaps only the still-open y
    val hit2 = ExperimentStore.checkOverlaps(spark, dir, "2024-01-15", None, "2024-01-30")
    assert(hit2.collect().map(_.getAs[String]("id")).toSeq == Seq("y"))
    // disjoint window
    val none = ExperimentStore.checkOverlaps(spark, dir, "2024-01-01", Some("2024-01-02"), "2024-01-30")
    assert(none.count() == 0)
  }

  test("a stale read version cannot commit (the If-Match precondition), a fresh one can") {
    import spark.implicits._
    val dir = newDir()
    ExperimentStore.addIntervention(spark, dir, intv("a", "2024-01-05"))   // v=1
    // writer W read at v=1; a concurrent writer commits v=2 first
    val interloper = Seq(intv("b", "2024-01-10")).toDS.toDF
    assert(ExperimentStore.commitAt(interloper, dir, 1))                   // v=2 claimed
    // W's commit against its stale read version must be refused...
    val wNext = Seq(intv("c", "2024-01-12")).toDS.toDF
    assert(!ExperimentStore.commitAt(wNext, dir, 1))
    // ...and succeed after re-reading (the reload-and-retry of mutate)
    assert(ExperimentStore.commitAt(wNext, dir, 2))
    val ids = ExperimentStore.listInterventions(spark, dir)
      .collect().map(_.getAs[String]("id")).sorted.toSeq
    assert(ids == Seq("c"))                                                 // v=3 is W's frame
    // no staged litter left behind from the refused commit: every
    // snapshot directory is one a log entry names
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = new Path(dir, "_log")
    val named = CommitLog.entries(fs, log).map(CommitLog.read(fs, log, _)).toSet
    val snaps = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filterNot(_ == "_log").toSet
    assert(snaps == named, s"snapshots $snaps, committed $named")
  }

  test("racing writers for one version stage in isolation: the loser's rows never reach the snapshot") {
    import spark.implicits._
    val dir = newDir()
    ExperimentStore.addIntervention(spark, dir, intv("a", "2024-01-05"))   // v=1
    // Both writers read v=1 and race for v=2. Staging paths are unique per
    // attempt, so neither can write into the other's staged directory; the
    // committed v=2 must be EXACTLY the winner's frame, never a mix.
    val winner = Seq(intv("a", "2024-01-05"), intv("w", "2024-02-01")).toDS.toDF
    val loser = Seq(intv("a", "2024-01-05"), intv("l", "2024-03-01")).toDS.toDF
    assert(ExperimentStore.commitAt(winner, dir, 1))
    assert(!ExperimentStore.commitAt(loser, dir, 1))
    val ids = ExperimentStore.listInterventions(spark, dir)
      .collect().map(_.getAs[String]("id")).sorted.toSeq
    assert(ids == Seq("a", "w"), s"committed snapshot polluted: $ids")
  }

  test("two threads committing at one read version: exactly one wins, 50 trials out of 50") {
    import spark.implicits._
    val dir = newDir()
    ExperimentStore.addIntervention(spark, dir, intv("a", "2024-01-05"))   // v=1
    // Spark's write before each commit spreads the two commits by
    // milliseconds, far wider than a check-then-move rename's window; a
    // FileContext rename on file: paths therefore waits, after its
    // destination checks, for the other writer's (AlignedRenameFs). A
    // commit that never renames through FileContext is unaffected.
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "fs.AbstractFileSystem.file.impl"
    val impl = conf.get(key)
    conf.set(key, classOf[AlignedRenameFs].getName)
    val pool = Executors.newFixedThreadPool(2)
    try (1 to 50).foreach { v =>
      // trial v: both writers read version v and race for v + 1
      val barrier = new CyclicBarrier(2)
      AlignedRenameFs.barrier = new CyclicBarrier(2)
      val results = Seq(s"x$v", s"y$v").map { id =>
        val next = Seq(intv("a", "2024-01-05"), intv(id, "2024-02-01")).toDS.toDF
        pool.submit(new Callable[(String, Boolean)] {
          def call(): (String, Boolean) = {
            barrier.await()
            id -> ExperimentStore.commitAt(next, dir, v)
          }
        })
      }.map(_.get())
      val winners = results.filter(_._2).map(_._1)
      assert(winners.size == 1,
        s"trial $v: ${winners.size} writers reported committing v=${v + 1}")
      val ids = ExperimentStore.listInterventions(spark, dir)
        .collect().map(_.getAs[String]("id")).sorted.toSeq
      assert(ids == Seq("a", winners.head), s"trial $v: $ids")
    } finally {
      pool.shutdown()
      AlignedRenameFs.barrier = null
      conf.set(key, impl)
    }
  }

  test("a snapshot written but never committed is invisible, and the next commit takes the next version") {
    import spark.implicits._
    val dir = newDir()
    ExperimentStore.addIntervention(spark, dir, intv("a", "2024-01-05"))   // v=1
    // a writer dies between its snapshot write and its commit
    Seq(intv("ghost", "2024-01-06")).toDS.toDF.coalesce(1)
      .write.parquet(s"$dir/snap-crashed")
    assert(ExperimentStore.listInterventions(spark, dir)
      .collect().map(_.getAs[String]("id")).toSeq == Seq("a"))
    val next = Seq(intv("a", "2024-01-05"), intv("b", "2024-01-10")).toDS.toDF
    assert(ExperimentStore.commitAt(next, dir, 1))                        // v=2
    assert(ExperimentStore.listInterventions(spark, dir)
      .collect().map(_.getAs[String]("id")).sorted.toSeq == Seq("a", "b"))
  }
}

/** The local `file:` FileContext filesystem, except that its final
  * move waits (up to 2 s), after every destination check, for the other
  * party of [[AlignedRenameFs.barrier]]: both writers pass the check
  * before either moves — the interleaving in which Hadoop's local
  * check-then-move rename lets two writers both commit.
  */
class AlignedRenameFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new AlignedRenameFs.Raw, conf, "file", false)

object AlignedRenameFs {
  @volatile var barrier: CyclicBarrier = _

  class Raw extends RawLocalFileSystem {
    override def rename(src: Path, dst: Path): Boolean = {
      val b = barrier
      if (b != null)
        try b.await(2, TimeUnit.SECONDS)
        catch { case _: TimeoutException | _: BrokenBarrierException => () }
      super.rename(src, dst)
    }
  }
}
