package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CommitLog

/** Intervention registry — the experiment tracker's data model and store
  * (reference: insights_engine/experiments/tracker.py:31-185: intervention
  * records in one S3 JSON object, optimistic locking via If-Match on the
  * ETag, CRUD plus an overlap "confound warning" probe).
  *
  * Spark-native form: versioned parquet snapshots committed through
  * [[graft.CommitLog]]. The registry is config-sized (tens of rows), so
  * each mutation reads the current snapshot, transforms it
  * declaratively, writes the result to a fresh `dir/snap-<uuid>/`, and
  * commits version N+1 by put-if-absent of log entry `dir/_log/<N+1>`
  * naming it — exactly the reference's ETag precondition: of writers
  * that read N, one creates entry N+1, and the losers reload and replay
  * their change once (the conflict-merge path of tracker.py:102-118).
  * Readers take the newest entry, so they always see a complete
  * snapshot, never a partial write or an uncommitted one.
  *
  * "Today" never comes from the clock: the active/overlap probes take an
  * explicit `asOf` day, so every result is replayable (the reference's
  * date.today() calls at tracker.py:47,171-176 are the non-reproducible
  * part of its design).
  */
object ExperimentStore {

  /** One intervention — tracker.py:31-41's dataclass. `end_day = null`
    * means still active.
    */
  case class Intervention(
    id: String, name: String, itype: String, details: String,
    start_day: String, end_day: Option[String], washout_days: Int,
    notes: String, created_at: String)

  private def fs(s: SparkSession, dir: String) =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def logOf(dir: String) = new Path(s"$dir/_log")

  /** Newest committed snapshot and its version (v=0, empty frame when the
    * store was never written) — the read half of the ETag handshake.
    */
  private def snapshot(s: SparkSession, dir: String): (DataFrame, Int) = {
    import s.implicits._
    val (f, log) = (fs(s, dir), logOf(dir))
    CommitLog.entries(f, log).lastOption match {
      case Some(v) => (s.read.parquet(s"$dir/${CommitLog.read(f, log, v)}"), v)
      case None => (Seq.empty[Intervention].toDS.toDF, 0)
    }
  }

  /** All interventions at the newest committed snapshot. */
  def listInterventions(s: SparkSession, dir: String): DataFrame =
    snapshot(s, dir)._1

  /** Commit `next` as version `readVersion + 1`. Returns false when a
    * concurrent writer claimed that version after our read — the
    * If-Match precondition of tracker.py:96-103 — and the caller reloads
    * and replays. The snapshot is written first under a unique name, so
    * racing writers never share files; the loser deletes its own.
    */
  private[graft] def commitAt(next: DataFrame, dir: String, readVersion: Int): Boolean = {
    val s = next.sparkSession
    val staged = s"snap-${java.util.UUID.randomUUID}"
    next.coalesce(1).write.parquet(s"$dir/$staged")
    val ok = CommitLog.commit(fs(s, dir), logOf(dir), readVersion + 1, staged)
    if (!ok) fs(s, dir).delete(new Path(s"$dir/$staged"), true)
    ok
  }

  /** Read-transform-commit with one conflict retry (tracker.py:102-118). */
  private def mutate(s: SparkSession, dir: String)(f: DataFrame => DataFrame): Unit = {
    val (cur, v) = snapshot(s, dir)
    if (!commitAt(f(cur), dir, v)) {
      val (cur2, v2) = snapshot(s, dir)
      require(commitAt(f(cur2), dir, v2),
        s"experiment store $dir: lost the version race twice")
    }
  }

  /** Add one intervention (tracker.py:135-140). */
  def addIntervention(s: SparkSession, dir: String, i: Intervention): Unit = {
    import s.implicits._
    mutate(s, dir)(cur => cur.unionByName(Seq(i).toDS.toDF))
  }

  /** Mark an intervention ended (tracker.py:142-153). */
  def endIntervention(s: SparkSession, dir: String, id: String, endDay: String): Unit =
    mutate(s, dir)(cur => cur.withColumn("end_day",
      when(col("id") === id, lit(endDay)).otherwise(col("end_day"))))

  /** Delete an intervention (tracker.py:155-162). */
  def deleteIntervention(s: SparkSession, dir: String, id: String): Unit =
    mutate(s, dir)(cur => cur.filter(col("id") =!= id))

  /** Interventions still active as of `asOf` — no end day, or an end day
    * at/after it (tracker.py:43-47,164-166).
    */
  def activeInterventions(s: SparkSession, dir: String, asOf: String): DataFrame =
    listInterventions(s, dir)
      .filter(col("end_day").isNull || col("end_day") >= asOf)

  /** Existing interventions whose period overlaps [newStart, newEnd] —
    * the confound warning probe (tracker.py:168-181). Open ends on either
    * side close at `asOf`.
    */
  def checkOverlaps(s: SparkSession, dir: String, newStart: String,
                    newEnd: Option[String], asOf: String): DataFrame = {
    val ne = newEnd.getOrElse(asOf)
    listInterventions(s, dir)
      .withColumn("eff_end", coalesce(col("end_day"), lit(asOf)))
      .filter(col("start_day") <= ne && col("eff_end") >= newStart)
      .drop("eff_end")
  }
}
