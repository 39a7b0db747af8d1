package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Serving-under-refresh rehearsal (round 14 — the measured evidence for
  * [[graft.sources.TablePointer]]'s reader-isolation claim, row 217):
  * while a full IVF-PQ refresh (trained quantizer — the slowest,
  * most destructive rewrite the lifecycle has) lands a NEW generation,
  * a serving loop keeps firing `searchPqIndex` queries against the same
  * logical name. Before round 14 the refresh deleted the serving
  * tables' files in place (clearStaleLocation + overwrite) and a
  * concurrent reader would observe a cleared location or a partial
  * table; with generations + the atomic pointer every search must
  * complete, pre-swap searches on generation N and post-swap ones on
  * N+1.
  *
  * Prints one JSON line per scale: searches completed/failed during the
  * refresh window, the generation split, and the latency band —
  * the artifact PLANS.md tables.
  *
  * Usage: `runMain graft.IsoRehearsal <sfDir> [...]`
  */
object IsoRehearsal {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(graft.functions.GraftFunctions.register)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.Ann

    for (dir <- args) {
      val table = "iso_rehearsal_pq"
      graft.sources.TablePointer.dropAll(spark, table,
        Seq("_centroids", "_codebook", "_meta"))
      val e = Tables.load(spark, dir, "embeddings")
        .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
        .select("vec_id", "emb", "label")
      // generation 1: half the corpus, trained family (production shape)
      Ann.refreshPqIndex(e.filter(col("vec_id") % 2 === 0), table,
        quantizer = "kmeans")
      val queries = e.filter(col("vec_id") < 50).select("vec_id", "emb")
        .localCheckpoint(true)
      // warm the serving path once so the loop times steady-state reads
      Ann.searchPqIndex(spark, table, queries, k = 5).collect()

      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val t0 = System.nanoTime()
      val refresh = Future {
        Ann.refreshPqIndex(e, table, quantizer = "kmeans")
        (System.nanoTime() - t0) / 1e9
      }
      var ok = 0L
      var failed = 0L
      var onOld = 0L
      var onNew = 0L
      val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (!refresh.isCompleted) {
        // resolve ONCE and probe the resolved physical (ADVICE r15): a
        // swap landing between a resolve and its probe must not
        // misattribute the read's generation — serving through the
        // physical name is identity under resolve, and the retire grace
        // keeps the old generation's files live for the probe
        val phys = graft.sources.TablePointer.resolve(spark, table)
        val gen = graft.sources.TablePointer.generationOf(phys)
        val s0 = System.nanoTime()
        try {
          val n = Ann.searchPqIndex(spark, phys, queries, k = 5).collect().length
          require(n > 0)
          ok += 1
          if (gen <= 1) onOld += 1 else onNew += 1
          lat += (System.nanoTime() - s0) / 1e9
        } catch { case e: Exception =>
          failed += 1
          System.err.println(s"[IsoRehearsal] search FAILED mid-refresh: " +
            e.toString.take(200))
        }
      }
      val refreshS = Await.result(refresh, 30.minutes)
      val sorted = lat.sorted
      def pct(p: Double): Double =
        if (sorted.isEmpty) -1 else sorted(math.min(sorted.length - 1,
          (p * sorted.length).toInt))
      println(f"""{"sf":"$dir","refresh_s":$refreshS%.1f,""" +
        f""""searches_ok":$ok,"searches_failed":$failed,""" +
        f""""on_old_gen":$onOld,"on_new_gen":$onNew,""" +
        f""""lat_p50_s":${pct(0.5)}%.2f,"lat_p95_s":${pct(0.95)}%.2f}""")

      // the TEXT family under the same protocol (round 14 third pass):
      // a calibrated refresh — postings + df + champ + cal, the family's
      // slowest rewrite — lands generation 2 while a champion-serving
      // loop (auto knobs: each search also reads the generation's _cal)
      // keeps firing against the logical name
      val tTable = "iso_rehearsal_text"
      graft.sources.TablePointer.dropAll(spark, tTable,
        Seq("_df", "_meta", "_champ", "_cal"))
      val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
      import graft.operators.TextRank
      TextRank.refreshTextIndex(docs.filter(col("doc_id") % 2 === 0), tTable,
        serveRecallTarget = 0.9)
      val qt = docs.filter(col("doc_id") % 101 === 0 && col("doc_id") < 1200)
        .select(col("doc_id").as("q_id"),
          explode(array_distinct(slice(split(lower(trim(col("text"))), " "), 1, 6))).as("term"))
        .filter(length(col("term")) > 0)
        .localCheckpoint(true)
      TextRank.searchTextIndexChampion(spark, tTable, qt).collect()
      val tt0 = System.nanoTime()
      val tRefresh = Future {
        TextRank.refreshTextIndex(docs, tTable, serveRecallTarget = 0.9)
        (System.nanoTime() - tt0) / 1e9
      }
      var tOk = 0L; var tFailed = 0L; var tOld = 0L; var tNew = 0L
      val tLat = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (!tRefresh.isCompleted) {
        // resolve once, probe the physical (ADVICE r15 — see above)
        val tPhys = graft.sources.TablePointer.resolve(spark, tTable)
        val gen = graft.sources.TablePointer.generationOf(tPhys)
        val s0 = System.nanoTime()
        try {
          val n = TextRank.searchTextIndexChampion(spark, tPhys, qt)
            .collect().length
          require(n > 0)
          tOk += 1
          if (gen <= 1) tOld += 1 else tNew += 1
          tLat += (System.nanoTime() - s0) / 1e9
        } catch { case e: Exception =>
          tFailed += 1
          System.err.println(s"[IsoRehearsal] text search FAILED " +
            s"mid-refresh: ${e.toString.take(200)}")
        }
      }
      val tRefreshS = Await.result(tRefresh, 30.minutes)
      val tSorted = tLat.sorted
      def tPct(p: Double): Double =
        if (tSorted.isEmpty) -1 else tSorted(math.min(tSorted.length - 1,
          (p * tSorted.length).toInt))
      println(f"""{"sf":"$dir","family":"text","refresh_s":$tRefreshS%.1f,""" +
        f""""searches_ok":$tOk,"searches_failed":$tFailed,""" +
        f""""on_old_gen":$tOld,"on_new_gen":$tNew,""" +
        f""""lat_p50_s":${tPct(0.5)}%.2f,"lat_p95_s":${tPct(0.95)}%.2f}""")

      // the BAND family under the same protocol (round 15 — VERDICT r14
      // missing #1): a CALIBRATED full refresh (corpus re-shingle +
      // twin-planted threshold sweep — the family's slowest rewrite)
      // lands generation 2 while a probe loop (band + exact-hash, the
      // admission read shape, auto threshold so each probe also reads
      // the generation's _meta) keeps firing against the logical name
      import graft.operators.Dedup
      val bTable = "iso_rehearsal_band"
      graft.sources.TablePointer.dropAll(spark, bTable, Dedup.BandSuffixes)
      Dedup.refreshIndex(docs.filter(col("doc_id") % 2 === 0), bTable,
        screenRecallTarget = 0.75)
      val bProbe = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 700000L).as("doc_id"), col("text"))
        .localCheckpoint(true)
      Dedup.probeIndex(spark, bTable, bProbe).collect()
      val bt0 = System.nanoTime()
      val bRefresh = Future {
        Dedup.refreshIndex(docs, bTable, screenRecallTarget = 0.75)
        (System.nanoTime() - bt0) / 1e9
      }
      var bOk = 0L; var bFailed = 0L; var bOld = 0L; var bNew = 0L
      val bLat = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (!bRefresh.isCompleted) {
        // resolve once, probe the physical (ADVICE r15 — see above)
        val bPhys = graft.sources.TablePointer.resolve(spark, bTable)
        val gen = graft.sources.TablePointer.generationOf(bPhys)
        val s0 = System.nanoTime()
        try {
          val n = Dedup.probeIndex(spark, bPhys, bProbe).collect().length
          val h = Dedup.probeHashIndex(spark, bPhys, bProbe).collect().length
          require(n > 0 && h > 0)
          bOk += 1
          if (gen <= 1) bOld += 1 else bNew += 1
          bLat += (System.nanoTime() - s0) / 1e9
        } catch { case e: Exception =>
          bFailed += 1
          System.err.println(s"[IsoRehearsal] band probe FAILED " +
            s"mid-refresh: ${e.toString.take(200)}")
        }
      }
      val bRefreshS = Await.result(bRefresh, 30.minutes)
      val bSorted = bLat.sorted
      def bPct(p: Double): Double =
        if (bSorted.isEmpty) -1 else bSorted(math.min(bSorted.length - 1,
          (p * bSorted.length).toInt))
      println(f"""{"sf":"$dir","family":"band","refresh_s":$bRefreshS%.1f,""" +
        f""""searches_ok":$bOk,"searches_failed":$bFailed,""" +
        f""""on_old_gen":$bOld,"on_new_gen":$bNew,""" +
        f""""lat_p50_s":${bPct(0.5)}%.2f,"lat_p95_s":${bPct(0.95)}%.2f}""")
    }
    spark.stop()
  }
}
