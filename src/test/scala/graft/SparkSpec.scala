package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs; sf0.001 is the correctness grain. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val Sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Drop managed tables AND their warehouse directories — the one
    * cleanup every standing-index spec needs (a dead run's directory
    * with no catalog entry fails the next overwrite; see
    * Ingest.clearStaleLocation). Hoisted in round 12: three specs had
    * grown hand-rolled copies of the same loop.
    */
  def dropWarehouseTables(names: String*): Unit = names.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // the production orphan-cleanup resolves the managed location via
    // the catalog's own rule — one path-resolution rule, not a
    // hand-glued test copy of it
    graft.sources.Ingest.clearStaleLocation(spark, t)
  }

  /** A standing index's CURRENT physical name (round 14: refreshes land
    * versioned generations behind an atomic pointer) — specs that read
    * an index's side tables directly resolve through this.
    */
  def phys(table: String): String =
    graft.sources.TablePointer.resolve(spark, table)

  /** Operators persist internal frames (banded signatures, posting
    * lists, daily grains) that only die with the session — the same
    * contract the harness mains honor by clearing caches between
    * queries. Dropping them per SUITE keeps one suite's caches from
    * accumulating across the whole run or polluting another suite's
    * plan-string assertions (ADVICE r6).
    */
  override protected def afterAll(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    super.afterAll()
  }
}

object SparkSpec {
  /** The specs' warehouse: a fresh temporary directory per test JVM,
    * deleted at exit, so no run starts on an earlier run's standing
    * tables and generation logs. Passed to [[Session.local]] as the
    * `spark.sql.warehouse.dir` system property, which the session's
    * conf reads at build time.
    */
  lazy val warehouse: java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft-spec-warehouse").toFile
    sys.addShutdownHook(deleteTree(dir))
    dir
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** The warehouse's entries when the session was built. */
  @volatile var warehouseAtStart: Seq[String] = Nil

  // a fixed width, not the host's core count, so plan strings and job
  // counts asserted by the specs read the same on every host
  lazy val session: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
    warehouseAtStart = Option(warehouse.list).toSeq.flatten
    Session.local(cores = 4)
  }
}
