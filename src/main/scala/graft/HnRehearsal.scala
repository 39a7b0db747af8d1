package graft

import graft.operators.Ann
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Prices q130's PRODUCTION twin (round 12 — VERDICT r11 #4): standing
  * IVF-PQ hard-negative mining ([[operators.Ann.mineHardNegatives]])
  * against the brute-force oracle baseline
  * ([[operators.Ann.q130HardNegatives]]) at growing corpus scale, on the
  * same planted re-encode corpus and the same query load.
  *
  * The brute side scores every (query, corpus) pair, so it grows with
  * the corpus (measured 3.2× at 30× in the r11 table); the index side
  * touches nprobe cells' code rows per query, so after the one-time
  * refresh (amortized across every downstream mining/serving call on
  * that corpus snapshot) the per-call cost should hold near-flat. This
  * main publishes all three numbers so the trade is a table, not a
  * docstring claim.
  *
  * Prints one JSON line: corpus size, refresh seconds (one-time,
  * trained-kmeans family — the production default), index-backed mining
  * seconds (min of 3, warmed), brute seconds (min of 3, warmed).
  *
  * Usage: `runMain graft.HnRehearsal <sfDir>`
  */
object HnRehearsal {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(graft.functions.GraftFunctions.register)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val corpus = Ann.embCorpus(spark, sfDir)
    val nVecs = corpus.count()
    val queries = corpus.filter(col("vec_id") < 5).select("vec_id", "emb")
    val table = "hn_rehearsal_pq"

    def sweep(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def minOf3(body: => Unit): Double = {
      for (_ <- 1 to 2) { body; sweep() } // warmups (the OneQ discipline)
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        body
        val dt = (System.nanoTime() - t0) / 1e9
        sweep()
        dt
      }.min
    }

    val t0 = System.nanoTime()
    Ann.refreshPqIndex(corpus.select("vec_id", "emb", "label"), table,
      quantizer = "kmeans")
    val refreshS = (System.nanoTime() - t0) / 1e9

    val mineS = minOf3 {
      Ann.mineHardNegatives(spark, table, queries, eps = 0.99, k = 10,
        nprobe = 8).count()
      ()
    }
    val bruteS = minOf3 {
      Ann.q130HardNegatives(spark, sfDir).count()
      ()
    }

    println(s"""{"sf":"$sfDir","n_vecs":$nVecs,""" +
      f""""refresh_s":$refreshS%.1f,"mine_s":$mineS%.2f,"brute_s":$bruteS%.2f}""")
    spark.stop()
  }
}
