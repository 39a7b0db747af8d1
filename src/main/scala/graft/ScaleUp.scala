package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus replicator for SCALE REHEARSALS: blow the
  * `documents`/`embeddings` tables up by an integer factor while
  * preserving their statistical shape and — critically — NOT
  * manufacturing artificial duplicates that would distort the dedup
  * families' pair densities:
  *
  *   - documents: replica k keeps each source document's token MULTISET
  *     (so length, vocabulary, and Zipf shape are untouched) but
  *     permutes the tokens by sorting on `xxhash64(token, doc_id, k)` —
  *     a different permutation per (doc, replica), so replicas share no
  *     k-shingles with their source w.h.p. and MinHash/SimHash/n-gram
  *     densities scale linearly instead of collapsing into 10-member
  *     exact-dup clusters;
  *   - embeddings: replica k flips the sign of each vector COMPONENT j
  *     by the parity of `xxhash64('flip', k, j)` — one orthogonal
  *     reflection per replica, so every within-replica cosine equals
  *     its source corpus twin (in-cell similarity structure preserved
  *     exactly) while cross-replica cosines are ~0 (no artificial
  *     semantic twins). Labels carry over, so label-seeded centroids
  *     stay balanced.
  *
  * Replica ids land at `id + k·1_000_000`, clear of every synthetic
  * batch offset the queries inject (+10000…+50000). This main exists
  * for the PLANS.md sf1.0 rehearsal; it writes only under its `outDir`
  * argument and never touches the driver's testdata.
  *
  * Usage: `runMain graft.ScaleUp <srcSfDir> <outDir> <factor>`
  */
object ScaleUp {

  def scaleDocuments(d: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      if (k == 0) d
      else d.withColumn("doc_id", col("doc_id") + lit(k * 1000000L))
        .withColumn("text", expr(
          "array_join(transform(array_sort(transform(split(text, ' '), " +
            s"t -> struct(xxhash64(t, doc_id, $k) AS h, t AS t))), x -> x.t), ' ')"))
    }.reduce(_ unionByName _)

  def scaleEmbeddings(e: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      if (k == 0) e
      else e.withColumn("vec_id", col("vec_id") + lit(k * 1000000L))
        .withColumn("embedding", expr(
          "transform(embedding, (x, j) -> CAST(x * (CASE WHEN " +
            s"(xxhash64('flip', $k, j) & 1) = 1 THEN -1.0 ELSE 1.0 END) AS FLOAT))"))
    }.reduce(_ unionByName _)

  /** Events scale along the USER axis: replica k shifts user_id (and
    * event_id, to keep ids unique) while keeping timestamps, types, and
    * values — 10× the entities inside the same wall-clock range, which
    * is how an event stream actually grows and exactly the axis the
    * per-entity window partitioning (§4) must absorb. Per-user series
    * are preserved verbatim, so every windowed result over a replica
    * user equals its source user's.
    */
  def scaleEvents(ev: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      if (k == 0) ev
      else ev.withColumn("user_id", col("user_id") + lit(k * 1000000L))
        .withColumn("event_id", col("event_id") + lit(k * 1000000000L))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorStr) = args
    val factor = factorStr.toInt
    val spark = Session.local()
    scaleDocuments(spark.read.parquet(s"$srcDir/documents.parquet"), factor)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    scaleEmbeddings(spark.read.parquet(s"$srcDir/embeddings.parquet"), factor)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    scaleEvents(Tables.load(spark, srcDir, "events"), factor)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    println(s"scaleup: wrote $outDir at ${factor}x from $srcDir")
    spark.stop()
  }
}
