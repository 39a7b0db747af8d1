package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shipped-configuration serving rehearsal (round 16 — VERDICT r15 #4
  * and #6): q150 grades hybrid fidelity against the label-seeded
  * deterministic quantizer (the oracle-portable arm), but the stack a
  * deployment actually ships is the TRAINED kmeans PQ index at its
  * calibrated screen nprobe plus the calibrated text knobs, fused by
  * [[graft.operators.TextRank.hybridSearchIndexed]] under the JOINTLY
  * calibrated pair ([[graft.operators.TextRank.calibrateHybridServing]]).
  * This main builds exactly that stack per scale, reads every knob from
  * `_cal`/`_meta` (auto sentinels — no hand-set values), and publishes:
  *
  *   - fused recall@10 of the AUTO-served ranking against the
  *     fused-exact truth on the q150 panel (held out from the
  *     calibration panel, which uses the PanelDocs = 12 smallest doc ids);
  *   - the serving p50 over repeated auto calls (the deployment read);
  *   - the multi-hop label-propagation price (VERDICT r15 #6):
  *     [[graft.operators.Ann.propagateLabelsMultiHop]] rounds over the
  *     standing index, with per-round adoption counts, the pending-set
  *     shrink, and the O(1)-pinned contract asserted at scale.
  *
  * Prints one JSON line per scale — the PLANS.md table rows.
  * Usage: `runMain graft.ServeRehearsal <sfDir> [...]`
  */
object ServeRehearsal {

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val scratch = java.nio.file.Files.createTempDirectory("serve-rehearsal")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(graft.functions.GraftFunctions.register)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{Ann, TextRank}

    for (dir <- args) {
      val (textT, pqT) = ("serve_text", "serve_pq")
      graft.sources.TablePointer.dropAll(spark, textT,
        Seq("_df", "_meta", "_champ", "_cal"))
      graft.sources.TablePointer.dropAll(spark, pqT,
        Seq("_centroids", "_codebook", "_meta"))
      val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
      val e = Tables.load(spark, dir, "embeddings")
        .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
        .select("vec_id", "emb", "label")

      // the production stack, knobs calibrated exactly as the Curate
      // handoff lands them (robust tokenizer, text serving at 0.9,
      // trained PQ at screen 0.99) + the round-16 fused pair at 0.7
      val (_, tBuild) = timed {
        TextRank.refreshTextIndex(docs, textT, serveRecallTarget = 0.9)
        Ann.refreshPqIndex(e, pqT, quantizer = "kmeans",
          screenRecallTarget = 0.99)
      }
      val (hc, tHybridCal) = timed(
        TextRank.calibrateHybridServing(spark, textT, pqT,
          targetRecall = 0.7))

      // held-out grade panel: q150's (doc_id % 101, < 1200) — disjoint
      // by construction from the calibration panel's smallest doc ids
      val isQ = (c: org.apache.spark.sql.Column) => c % 101 === 0 && c < 1200
      val qt = docs.filter(isQ(col("doc_id")))
        .select(col("doc_id").as("q_id"),
          explode(array_distinct(
            slice(TextRank.tokWords(col("text"), "robust"), 1, 6))).as("term"))
        .filter(length(col("term")) > 0)
        .localCheckpoint(true)
      val queries = e.filter(isQ(col("vec_id"))).select("vec_id", "emb")
        .localCheckpoint(true)

      // fused-exact truth over the SAME standing indexes: sparse arm
      // unpruned, dense arm brute-force decimal cosine over the members
      val sparseExact = TextRank.searchTextIndex(spark, textT, qt,
          k = 10, maxDfFrac = 1.0)
        .select(col("q_id"), col("doc_id"), col("rk").as("sparse_rank"))
      val vphys = graft.sources.TablePointer.resolve(spark, pqT)
      val members = spark.table(vphys)
        .select(col("vec_id").as("doc_id"), col("emb").as("nemb"))
        .withColumn("nn", Ann.dotDec("nemb", "nemb"))
      val q = queries.select(col("vec_id").as("q_id"), col("emb").as("qemb"))
        .withColumn("qn", Ann.dotDec("qemb", "qemb"))
      val dW = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cosine").desc, col("doc_id"))
      val denseExact = members.crossJoin(broadcast(q))
        .filter(col("doc_id") =!= col("q_id"))
        .select(col("q_id"), col("doc_id"),
          Num.roundD(Ann.dotDec("qemb", "nemb").cast("double") /
            sqrt(col("qn").cast("double") * col("nn").cast("double")))
            .as("cosine"))
        .withColumn("dense_rank", row_number().over(dW))
        .filter(col("dense_rank") <= 10)
        .select("q_id", "doc_id", "dense_rank")
      val (truth, tTruth) = timed(
        TextRank.fuseRrf(sparseExact, denseExact, 10)
          .select("q_id", "doc_id").localCheckpoint(true))
      val nTruth = truth.count().toDouble

      // the deployment read, AUTO knobs (nprobe = 0, frac = 0.0 — every
      // value resolves from `_cal`/`_meta`): recall once, then p50 over
      // repeated calls
      def autoServe(): Set[(Long, Long)] =
        TextRank.hybridSearchIndexed(spark, textT, pqT, qt, queries,
            k = 10, nprobe = 0, adcTopC = 0,
            sparseDfFrac = 0.0)
          .select("q_id", "doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val served = autoServe()
      val truthSet = truth.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val fusedRecall = served.intersect(truthSet).size / nTruth
      val lats = (1 to 5).map(_ => timed(autoServe())._2).sorted
      val p50 = lats(lats.length / 2)
      graft.Frames.freePinned(truth)

      // multi-hop pricing (VERDICT r15 #6): labels = every 97th member,
      // targets = a bounded member batch (the serving premise, and the
      // hops ≥ 2 precondition: targets ARE index members)
      val labels = e.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("s_id"), col("label"))
        .localCheckpoint(true)
      val targets = e.filter(col("vec_id") % 97 =!= 0 && col("vec_id") < 4000)
        .select("vec_id", "emb").localCheckpoint(true)
      val nTargets = targets.count()
      val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
      val (hops, tHop) = timed(
        Ann.propagateLabelsMultiHop(spark, pqT, targets, labels,
          k = 5, rounds = 3))
      val byRound = hops.groupBy("round").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val adopted = byRound.values.sum
      graft.Frames.freePinned(hops)
      val pinnedAfter = spark.sparkContext.getPersistentRDDs.size
      require(pinnedAfter <= pinnedBefore,
        s"multi-hop leaked pinned frames: $pinnedBefore -> $pinnedAfter")

      println(f"""{"sf":"$dir","build_s":$tBuild%.1f,""" +
        f""""hybrid_cal_s":$tHybridCal%.1f,""" +
        f""""fused_pair":{"df_frac":${hc.dfFrac}%.4f,"nprobe":${hc.nprobe},""" +
        f""""adc_top_c":${hc.adcTopC},"measured":${hc.measured}%.3f},""" +
        f""""truth_s":$tTruth%.1f,"n_truth":${nTruth.toLong},""" +
        f""""fused_recall":$fusedRecall%.3f,"floor":0.25,""" +
        f""""serve_p50_s":$p50%.2f,""" +
        f""""hop_targets":$nTargets,"hop_rounds":3,"hop_s":$tHop%.1f,""" +
        s""""hop_adopted":{"r1":${byRound.getOrElse(1, 0L)},""" +
        s""""r2":${byRound.getOrElse(2, 0L)},""" +
        s""""r3":${byRound.getOrElse(3, 0L)}},""" +
        s""""hop_pending_end":${nTargets - adopted},""" +
        s""""pinned_after":$pinnedAfter}""")
      graft.Frames.freePinned(qt)
      graft.Frames.freePinned(queries)
      graft.Frames.freePinned(labels)
      graft.Frames.freePinned(targets)
    }
    spark.stop()
  }
}
