package graft

import graft.operators.{Ann, Dedup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Admission-cycle scale rehearsal (VERDICT r9 #6): time one
  * [[Admit.admitBatch]] of a genuinely novel batch against a standing
  * state refreshed from `<sfDir>` — the [[ScaleUp]] discipline applied
  * to the ingest path, as a reproducible main instead of a one-off
  * (the sf1.0 numbers in PLANS.md "Admit cycle at sf1.0" predate this
  * harness). Prints one JSON line: standing sizes, refresh costs (grow
  * with the corpus — paid once), and the admit cost (priced by the
  * batch — the O(batch) claim this rehearsal exists to check at each
  * scale point).
  *
  * The batch is synthesized from the corpus by [[ScaleUp]]'s replica-1
  * transforms (token permutation / component sign-flip), so it is
  * novel to every screen w.h.p. — the measured cycle pays both probe
  * joins, both index appends, and the landing, the expensive path.
  * The semantic screen runs through the standing IVF-PQ index, and the
  * serving path (searchPqIndex, 100 queries) is timed at the same scale.
  * `Admit.admitBatch` itself applies the [[Tuning]] width rule to the
  * cycle, so this main measures the production configuration.
  *
  * Usage: `runMain graft.AdmitRehearsal <sfDir> [batchSize] [--splits=N]`
  */
object AdmitRehearsal {

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val batchSize = args.drop(1).filterNot(_.startsWith("--"))
      .headOption.map(_.toInt).getOrElse(1000)
    // --splits=N overrides the PQ quantizer's nlist (labels × N cells);
    // the default 0 engages the refresh-time nlist ∝ √N rule (round 11
    // — the rehearsal now measures the NO-KNOB configuration)
    val splits = args.find(_.startsWith("--splits="))
      .map(_.stripPrefix("--splits=").toInt).getOrElse(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val scratch = java.nio.file.Files.createTempDirectory("admit-rehearsal")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.ui.enabled", "false")
      .withExtensions(graft.functions.GraftFunctions.register)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val e = Tables.load(spark, sfDir, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    val (nDocs, nVecs) = (docs.count(), e.count())

    val band = "rehearsal_band"
    val pq = "rehearsal_pq"
    val (_, tBand) = timed(Dedup.refreshIndex(docs, band))
    val (_, tPq) = timed(Ann.refreshPqIndex(e, pq, splits))
    // the EFFECTIVE nlist (splits=0 means the √N rule computed it) —
    // read from the current generation (round 14 pointer resolution)
    val nlist = Ann.centroidsOf(spark, pq).count()

    // a novel batch: ScaleUp's replica transforms (token permutation /
    // component sign-flip) applied at replica key 777 — the rehearsal
    // corpora /tmp/sf1.0 and /tmp/sf3.0 are THEMSELVES ScaleUp outputs
    // holding replicas k = 0..29, so a k=1 batch would be byte-identical
    // to corpus rows and the whole batch would (correctly!) reject at
    // the near screen, measuring the cheap path. Key 777 gives a fresh
    // permutation (no shared shingles w.h.p.) and a fresh flip pattern
    // (cross cosine ≈ 0), so the cycle pays both probes, both appends,
    // and the landing — the expensive path
    val srcIds = docs.orderBy("doc_id").limit(batchSize)
    val batch = srcIds
      .withColumn("doc_id", col("doc_id") + 777000000L)
      .withColumn("text", expr(
        "array_join(transform(array_sort(transform(split(text, ' '), " +
          "t -> struct(xxhash64(t, doc_id, 777) AS h, t AS t))), x -> x.t), ' ')"))
    val batchVecs = Tables.load(spark, sfDir, "embeddings")
      .join(srcIds.select(col("doc_id").as("vec_id")), "vec_id")
      .withColumn("vec_id", col("vec_id") + 777000000L)
      .withColumn("emb", expr(
        "transform(embedding, (x, j) -> CAST(CAST(x AS DOUBLE) * (CASE WHEN " +
          "(xxhash64('flip', 777, j) & 1) = 1 THEN -1.0 ELSE 1.0 END) AS DOUBLE))"))
      .select("vec_id", "emb")
    val out = s"$scratch/landing"
    val (report, tAdmit) = timed(
      Admit.admitBatch(spark, batch, band, out, 1L,
        embeddings = Some(batchVecs), pqTable = Some(pq),
        recovery = Some(Admit.Standing(docs, Some(e.select("vec_id", "emb"))))))

    // the serving path at this scale: 100-query top-10 against the
    // standing index (count() forces the full plan)
    val queries = e.limit(100).select("vec_id", "emb")
    val (_, tServe) = timed(Ann.searchPqIndex(spark, pq, queries).count())

    println(s"""{"sf":"$sfDir","mode":"pq","splits":$splits,"nlist":$nlist,""" +
      s""""docs":$nDocs,"vecs":$nVecs,""" +
      s""""batch":$batchSize,"refresh_band_s":${f"$tBand%.1f"},""" +
      s""""refresh_sem_s":${f"$tPq%.1f"},"admit_s":${f"$tAdmit%.1f"},""" +
      s""""serve100_s":${f"$tServe%.1f"},""" +
      s""""admitted":${report.admitted},"near_rej":${report.nearDupRejected},""" +
      s""""sem_rej":${report.semanticRejected}}""")
    spark.stop()
  }
}
