package graft

import graft.operators.{Ann, Clusters, Curation, Dedup, Sampling, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation — the LLM-side twin of
  * [[Pipeline]]'s medallion run: raw documents → quality stats →
  * (optional) exact-substring cut → exact + near-dup cluster canonical
  * filter → (optional) semantic dedup → benchmark decontamination → PII
  * accounting → deterministic split assignment → packed, partitioned
  * training shards.
  *
  * Stage order is the cost order: cheap scan-speed predicates (quality,
  * PII) cut the corpus BEFORE the shuffling stages (dedup window, LSH
  * clustering), and the split/pack columns are pure arithmetic on
  * whatever survives. The dedup ladder runs in Lee et al. 2021's order:
  * the ExactSubstr CUT first (removing cross-doc boilerplate spans
  * changes document surface forms, so fuzzy matching must see the cut
  * text), then exact/near-dup document filtering, then SemDeDup (Abbas
  * et al. 2023) last — paraphrase twins share no surface form, so
  * nothing earlier can catch them. Output is partitioned by (split,
  * lang) so a trainer reads its shard with partition pruning and
  * nothing else.
  */
object Curate {

  case class Summary(input: Long, afterQuality: Long, afterDedup: Long,
                     afterDecontam: Long, packed: Long,
                     afterCut: Long = -1L, afterSemantic: Long = -1L,
                     manifestPacks: Long = -1L, afterClassifier: Long = -1L,
                     bpeMergesLearned: Long = -1L, indexedDocs: Long = -1L)

  /** SemDeDup's cosine threshold for the `semanticDedup` stage. */
  private val SemanticEps = 0.99

  /** `packShards` is the packing-parallelism knob (VERDICT r8 #5): the
    * pack window partitions by (split, lang, shard) with `shard = doc_id
    * % packShards`, so at 100 TB the per-(split, lang) packing fan-out
    * is this value — raise it with the cluster, the default 32 matches
    * the local harness.
    */
  def run(spark: SparkSession, dataDir: String, outDir: String,
          qualityFloor: Double = 0.5,
          substringCut: Boolean = false,
          semanticDedup: Boolean = false,
          packShards: Int = 32,
          trainManifest: Boolean = false,
          manifestShards: Int = 16,
          classifierFloor: Double = -1.0,
          bpeMerges: Int = 0,
          classifierTargetPrecision: Double = -1.0,
          refreshIndexes: Boolean = false,
          indexPrefix: String = "curated",
          admitLockDir: String = ""): Summary = {
    // the two classifier-gate knobs are alternatives, not a composition:
    // with both set the target-precision path used to silently win and
    // the explicit floor was discarded (ADVICE r11) — fail loudly so a
    // caller always gets the gate they asked for
    require(classifierFloor < 0 || classifierTargetPrecision < 0,
      s"pass classifierFloor OR classifierTargetPrecision, not both " +
        s"(got floor=$classifierFloor, targetPrecision=" +
        s"$classifierTargetPrecision) — the sweep-chosen floor would " +
        "silently override the explicit one")
    val docs = Tables.load(spark, dataDir, "documents")
    val input = docs.count()

    // 1. scan-speed quality + PII gates (no shuffle)
    val stats = TextOps.stats(docs)
    val quality1 = stats.filter(col("quality_score") >= qualityFloor)
      .select(docs.columns.map(col) :+ col("n_tokens") :+ col("quality_score"): _*)
    val afterQuality = quality1.count()

    // 1a. optional MODEL quality gate (classifierFloor ≥ 0): the
    // distilled classifier — hashing-trick features + logistic head
    // trained on the corpus-relative weak labels (the CCNet /
    // LLaMA-filter / FineWeb recipe ml.QualityClassifier implements) —
    // scores every heuristic survivor, and documents the MODEL scores
    // below the floor drop even though they cleared the rule battery
    // (the model generalizes past the rules' blind spots; that is its
    // job). The fitted artifact ships beside the corpus
    // (`outDir/quality_model`) so the gate is reproducible and
    // downstream re-scoring uses the exact model that curated the data.
    val (quality0, afterClassifier) =
      if (classifierFloor < 0 && classifierTargetPrecision < 0) (quality1, -1L)
      else {
        val lab = ml.QualityClassifier.labeled(docs)
        val (tr, _) = ml.QualityClassifier.trainHeldoutSplit(lab)
        val model = ml.QualityClassifier.fit(tr)
        ml.QualityClassifier.save(model, s"$outDir/quality_model")
        val scoredAll = ml.QualityClassifier.score(model, lab)
        // the gate's accounting ships beside the model (VERDICT r9 #7):
        // the score-decile calibration table and the precision/recall
        // trade at every candidate floor, so `classifierFloor` is an
        // informed number — both derive from ONE scoring pass
        ml.QualityClassifier.calibrationReport(scoredAll)
          .write.mode("overwrite").parquet(s"$outDir/quality_model_calibration")
        val sweep = ml.QualityClassifier.floorSweep(scoredAll)
        sweep.write.mode("overwrite").parquet(s"$outDir/quality_model_floor_sweep")
        // auto floor (VERDICT r10 #8): when a target precision is set,
        // the gate floor comes from the sweep — the lowest floor whose
        // precision meets the target — instead of a hand-set constant;
        // the CHOICE persists beside the model so a re-scoring run and
        // an audit both see the number the gate actually used
        val floor: Double =
          if (classifierTargetPrecision < 0) classifierFloor
          else ml.QualityClassifier.chooseFloor(sweep, classifierTargetPrecision)
        locally {
          import spark.implicits._
          Seq((floor, classifierTargetPrecision))
            .toDF("floor", "target_precision")
            .write.mode("overwrite").parquet(s"$outDir/quality_model_floor")
        }
        val passing = scoredAll
          .filter(col("p_quality") >= floor)
          .select("doc_id")
        val g = quality1.join(passing, "doc_id")
        (g, g.count())
      }

    // 1b. optional ExactSubstr cut (Lee et al. 2021): remove every
    // cross-doc duplicated span. A document that lost NO spans keeps its
    // ORIGINAL text byte-for-byte ([[Dedup.cutCorpusText]] passes it
    // through verbatim — the cut must not lowercase or whitespace-
    // normalize the whole corpus, ADVICE r8); only actually-cut
    // survivors carry the rebuilt text, and n_chars is recomputed from
    // whatever text ships so the carried metadata never goes stale.
    // Token counts are recomputed from the surviving text so packing
    // budgets stay honest, while quality_score keeps grading the
    // document as admitted. Fully-cut documents (pure boilerplate) drop
    // here — that is the operator's decision point, taken where q94
    // reports it.
    val (quality, afterCut) =
      if (!substringCut) (quality0, -1L)
      else {
        val rebuilt = Dedup.cutCorpusText(quality0.select("doc_id", "text"))
          .filter(col("n_kept_tokens") > 0)
          .select(col("doc_id"), col("kept_text"),
            col("n_kept_tokens").cast("int").as("n_tokens"))
        val joined = quality0.drop("text", "n_tokens")
          .join(rebuilt, "doc_id")
          .withColumnRenamed("kept_text", "text")
        val cut = if (joined.columns.contains("n_chars"))
            joined.withColumn("n_chars", length(col("text")))
          else joined
        (cut, cut.count())
      }

    // 2. exact dedup keeper, then near-dup cluster KEEP-BEST survivors:
    // one representative per duplicate cluster, chosen by quality argmax
    // (q84's decision — ties to the lowest id), not an arbitrary minimum
    // id. The cluster table is computed over the already-reduced corpus —
    // dedup work scales with what passed the cheap gates, not the raw
    // crawl.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(lower(trim(col("text"))))).orderBy(col("doc_id"))
    val exact = quality.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1).drop("_rk")
    val edges = graft.operators.Dedup.minhashPairs(exact)
      .filter(col("n_shared_bands") >= 4)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    // persisted: the savings report, the keeper join, and every
    // downstream stage built on the keepers consume the labels —
    // unpersisted, connectedComponents (an iterative pipeline) recomputes
    // once per action (ADVICE r6). Released after the final corpus write,
    // Discover's try/finally discipline.
    val labels = Clusters.connectedComponents(edges, exact.select(col("doc_id").as("id")))
      .persist()
    try {
      val keepers = Clusters.withKeeper(
          labels.join(exact.select(col("doc_id").as("id"), col("quality_score")), "id"), "id")
        .filter(col("is_keeper") === 1)
        .select(col("id").as("doc_id"))
      // dedup accounting (q87's shape) over the labels just computed — the
      // run documents its own savings beside the corpus it writes
      labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          (count(lit(1)) * col("cluster_size")).as("n_docs"),
          (count(lit(1)) * (col("cluster_size") - 1)).as("n_redundant"))
        .write.mode("overwrite").parquet(s"$outDir/dedup_report")
      val deduped = exact.join(keepers, "doc_id")
      val afterDedup = deduped.count()

      // 2b. optional SemDeDup (Abbas et al. 2023), LAST in the dedup
      // ladder: embeddings of the surviving docs (vec_id aligns with
      // doc_id) cluster into deterministic cells and a doc drops iff an
      // earlier-scanned cellmate matches at cosine ≥ eps — q95's
      // decision applied as an anti-join, so documents WITHOUT an
      // embedding row pass through untouched (the embedding table may
      // trail the corpus; absence is not evidence of duplication). The
      // float kernel verifies: this is the production path, where the
      // decimal oracle tax buys nothing.
      val (surviving, afterSemantic) =
        if (!semanticDedup) (deduped, -1L)
        else {
          val vecs = Tables.load(spark, dataDir, "embeddings")
            .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
            .select("vec_id", "emb", "label")
            .join(deduped.select(col("doc_id").as("vec_id")), "vec_id")
          val droppedSem = Ann.semDedup(vecs, SemanticEps, verify = "float")
            .filter(col("kept") === 0)
            .select(col("vec_id").as("doc_id"))
          val sd = deduped.join(droppedSem, Seq("doc_id"), "left_anti")
          (sd, sd.count())
        }

      // 3. decontaminate: drop anything sharing an 8-gram with the
      // benchmark slice (and the benchmark docs themselves)
      val contaminated = Curation.q51Decontaminate(spark, dataDir)
        .select("doc_id")
      val clean = surviving.join(contaminated, Seq("doc_id"), "left_anti")
      val afterDecontam = clean.count()

      // 4. split + pack + write, partitioned for pruned trainer reads
      val curated = clean
        .withColumn("bucket", Sampling.bucket100("split", col("doc_id")))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "validation").otherwise("test"))
        .withColumn("shard", (col("doc_id") % packShards).cast("int"))
      val packW = org.apache.spark.sql.expressions.Window
        .partitionBy("split", "lang", "shard").orderBy("doc_id")
      val packed = curated
        .withColumn("tok_end", sum(col("n_tokens")).over(packW))
        .withColumn("pack_id", expr("(tok_end - n_tokens) div 512"))
        .select("doc_id", "text", "lang", "source", "split", "shard",
          "n_tokens", "quality_score", "pack_id")
      packed.write.mode("overwrite").partitionBy("split", "lang")
        .parquet(s"$outDir/corpus")
      val out = spark.read.parquet(s"$outDir/corpus")

      // 5. optional training-order manifest (q104's operator applied at
      // the PACK grain — the trainer's unit of work; documents already
      // carry their in-pack order by construction): every train-split
      // pack gets a manifest shard by salted hash and a position within
      // it by an independent md5 order. Deterministic, uniform, and
      // windowed per manifest shard only — never a global permutation.
      val manifestPacks =
        if (!trainManifest) -1L
        else {
          val packs = out.filter(col("split") === "train")
            .select("lang", "shard", "pack_id").distinct()
          val key = concat_ws(":", col("lang"),
            col("shard").cast("string"), col("pack_id").cast("string"))
          val keyed = packs
            .withColumn("okey", md5(concat(lit("ord:"), key)))
            .withColumn("mshard",
              (Sampling.hex24("shard", key) % manifestShards).cast("int"))
          val mw = org.apache.spark.sql.expressions.Window
            .partitionBy("mshard")
            .orderBy(col("okey"), col("lang"), col("shard"), col("pack_id"))
          keyed.withColumn("pos", row_number().over(mw))
            .select("mshard", "pos", "lang", "shard", "pack_id")
            .write.mode("overwrite").parquet(s"$outDir/manifest")
          spark.read.parquet(s"$outDir/manifest").count()
        }
      // 6. optional tokenizer stage (bpeMerges > 0): train a batched
      // BPE merge list ON THE TRAIN SPLIT ONLY (the tokenizer must not
      // see validation/test text — the same leakage rule the splits
      // exist for), persist it beside the corpus (quality_model's
      // discipline: the artifact an experiment trained is the artifact
      // it ships), and publish the token vocabulary of the segmented
      // train corpus. Training cost is the distinct-word frame times
      // merges/batch rounds (Bpe's scale contract); the vocab is one
      // more word-frame pass.
      val bpeLearned =
        if (bpeMerges <= 0) -1L
        else {
          val trainDocs = out.filter(col("split") === "train").select("text")
          val merges = graft.operators.Bpe.train(
            trainDocs, bpeMerges, batchMerges = 8)
          graft.operators.Bpe.saveMerges(spark, s"$outDir/bpe_merges", merges)
          graft.operators.Bpe.segment(
              graft.operators.Bpe.wordTable(trainDocs), merges)
            .select(explode(col("syms")).as("token"), col("freq"))
            .groupBy("token")
            .agg(sum(col("freq")).as("n_occurrences"),
              count(lit(1)).as("n_word_types"))
            .write.mode("overwrite").parquet(s"$outDir/bpe_vocab")
          merges.size.toLong
        }

      // 7. optional standing-index handoff (round 11): refresh the band
      // index and the TRAINED IVF-PQ index from the CURATED corpus, so
      // day-2 ingest (graft.Admit / the streaming admission) screens new
      // batches against exactly what curation shipped — the curate-once,
      // admit-forever composition. Indexes land as managed tables under
      // `<indexPrefix>_band` / `<indexPrefix>_pq`; the PQ family is the
      // kmeans one (production default — the sign family exists for the
      // oracle twins), with the refresh-time √N nlist rule.
      //
      // SERIALIZED with admission (round 12 — VERDICT r11 #2): the
      // refreshes overwrite the very tables a live Admit.admitBatch
      // cycle probes and appends, and refreshPqIndex's
      // clearStaleLocation may recursively DELETE a table directory a
      // concurrent session is serving — both are only safe under the
      // same `.admit-running` claim the admission cycles queue on.
      // `admitLockDir` names the directory those cycles pass as THEIR
      // outDir (admission lands batch_id= partitions, so it cannot
      // share the curate outDir itself); empty = this outDir, for
      // compositions that haven't chosen a landing dir yet. A handoff
      // racing a cycle WAITS for it (and vice versa) instead of
      // overwriting its standing state mid-probe.
      val indexedDocs =
        if (!refreshIndexes) -1L
        else {
          val kept = out.select("doc_id", "text")
          val keptVecs = Tables.load(spark, dataDir, "embeddings")
            .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
            .join(kept.select(col("doc_id").as("vec_id")), "vec_id")
            .select("vec_id", "emb", "label")
          refreshStandingIndexes(spark, kept, keptVecs, indexPrefix,
            if (admitLockDir.nonEmpty) admitLockDir else outDir)
        }

      Summary(input, afterQuality, afterDedup, afterDecontam, out.count(),
        afterCut, afterSemantic, manifestPacks, afterClassifier, bpeLearned,
        indexedDocs)
    } finally {
      labels.unpersist()
      // the union's final-round localCheckpoint sits under the cache;
      // it is a leaf of the logical plan, so it is freed from there —
      // Frames.freePinned would re-plan the union and rerun its anti-join
      labels.queryExecution.logical.collectLeaves().foreach {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
        case _ =>
      }
    }
  }

  /** The stage-7 standing-index handoff as a callable: refresh the band
    * index and the trained-PQ index from a shipped corpus, SERIALIZED
    * under the same `.admit-running` claim the admission cycles queue on
    * (round 12 — VERDICT r11 #2). The refreshes overwrite the very
    * tables a live [[Admit.admitBatch]] cycle probes and appends, and
    * the refresh-internal `clearStaleLocation` recursively deletes a
    * catalog-unknown table directory — both are only safe while no
    * admission cycle is mid-flight, so a handoff racing a cycle WAITS
    * for it (and a cycle arriving mid-handoff waits in turn).
    * `lockDir` must be the admission outDir those cycles pass. The
    * handoff queues at most [[Admit.LockWaitMs]] behind a live cycle,
    * the same bound the cycles queue behind a handoff.
    *
    * `corpus` is (doc_id, text, …); `vecs` is (vec_id, emb, …) aligned
    * with doc_id. Returns the indexed doc count.
    */
  def refreshStandingIndexes(spark: SparkSession, corpus: DataFrame,
                             vecs: DataFrame, indexPrefix: String,
                             lockDir: String): Long =
    Locks.withLockClaim(spark, s"$lockDir/.admit-running",
      Admit.DefaultStaleAfterMs, maxWaitMs = Admit.LockWaitMs) { claim =>
      // queue-time parity with the admission report (round 13): a
      // handoff that waited out a long cycle should say so, not look
      // like a slow refresh
      if (claim.waitedMs > 0) System.err.println(
        s"[graft.Curate] index handoff queued ${claim.waitedMs} ms " +
          s"behind a live admission cycle on $lockDir/.admit-running")
      val kept = corpus.select("doc_id", "text")
      // the band-probe threshold is CALIBRATED at handoff time (round
      // 14 — VERDICT r13 #1, the row-210 move applied to the last
      // hand-set screen knob): planted 90%-overlap twins measure the
      // index's own recall curve, the boundary threshold meeting 0.75
      // recall at that tier lands in `_meta`, and every day-2 cycle's
      // probeIndex / intra-batch screen reads it.
      graft.operators.Dedup.refreshIndex(kept, s"${indexPrefix}_band",
        screenRecallTarget = 0.75)
      if (!vecs.isEmpty)
        // the admission nprobe is CALIBRATED at handoff time (round 13 —
        // VERDICT r12 #2): the smallest nprobe meeting a 0.99 held-out
        // re-encode screen recall lands in `_meta`, and every day-2
        // cycle's probePqIndex reads it — the sf1.0 99/100 PQ miss was
        // an nprobe-3 recall miss nothing was wired to correct
        Ann.refreshPqIndex(vecs, s"${indexPrefix}_pq", quantizer = "kmeans",
          screenRecallTarget = 0.99)
      // the standing BM25 index (round 14 third pass): the curated
      // corpus is retrieval-servable the moment the handoff lands —
      // searchTextIndex / hybridSearchIndexed / the day-2 admission
      // appends all run against this generation. The approximate-serving
      // knobs (df-threshold, champion depth) are CALIBRATED here like
      // every other screen/serving knob: smallest values meeting 0.9
      // recall@10 against the exact ranking, persisted in `_cal`, read
      // by the serving paths' auto sentinels.
      graft.operators.TextRank.refreshTextIndex(kept, s"${indexPrefix}_text",
        serveRecallTarget = 0.9)
      // the JOINT hybrid pair (round 16 — VERDICT r15 #5): with both
      // arms' indexes landed, the fused deployment knob is calibrated
      // here too — smallest (nprobe, dfFrac) meeting 0.7 fused
      // recall@10 through the real serving path, persisted in the text
      // `_cal` beside the sparse knobs, auto-read by
      // hybridSearchIndexed. Without vectors there is no dense arm and
      // no pair to choose.
      if (!vecs.isEmpty)
        graft.operators.TextRank.calibrateHybridServing(spark,
          s"${indexPrefix}_text", s"${indexPrefix}_pq", targetRecall = 0.7)
      kept.count()
    }

  /** CLI: `runMain graft.Curate <dataDir> <outDir> [--cut] [--semantic]
    * [--manifest] [--classifier] [--classifier-precision=P] [--bpe=k]
    * [--indexes] [--admit-dir=D]` — `--admit-dir` names the day-2
    * admission landing dir so the `--indexes` handoff serializes on
    * ITS lock (the dir `Admit.admitBatch` cycles pass as outDir). */
  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    val Array(dataDir, outDir) = pos
    val spark = Session.local()
    // input-proportional shuffle width (the sf3 rehearsal rule): the
    // ladder's gram/LSH stages are the posting-list shuffles Tuning
    // calibrates for, and Curate's input is open-ended — unlike the
    // fixed-width bench harnesses, the production pipeline sizes its
    // shuffles from the corpus it is actually given
    val width = Tuning.shufflePartitionsFor(
      spark, dataDir, Seq("documents", "embeddings"))
    println(s"curate: shuffle width $width (input-proportional)")
    // the two classifier knobs are API-exclusive (the require in run):
    // a precision flag ALONE enables the gate, so passing both CLI flags
    // resolves to the precision path instead of crashing after the
    // whole pipeline spun up (review r12 — the r11 CLI forwarded 0.5 +
    // the precision and the new require would reject a documented combo)
    val targetPrecision = flags
      .find(_.startsWith("--classifier-precision="))
      .map(_.stripPrefix("--classifier-precision=").toDouble)
      .getOrElse(-1.0)
    val s = Tuning.withShuffleWidth(spark, width) {
      run(spark, dataDir, outDir,
        substringCut = flags.contains("--cut"),
        semanticDedup = flags.contains("--semantic"),
        trainManifest = flags.contains("--manifest"),
        classifierFloor =
          if (flags.contains("--classifier") && targetPrecision < 0) 0.5
          else -1.0,
        bpeMerges = flags.find(_.startsWith("--bpe="))
          .map(_.stripPrefix("--bpe=").toInt).getOrElse(0),
        classifierTargetPrecision = targetPrecision,
        refreshIndexes = flags.contains("--indexes"),
        admitLockDir = flags.find(_.startsWith("--admit-dir="))
          .map(_.stripPrefix("--admit-dir=")).getOrElse(""))
    }
    println(s"curate: input=${s.input} quality=${s.afterQuality} " +
      s"classifier=${s.afterClassifier} " +
      s"cut=${s.afterCut} dedup=${s.afterDedup} semantic=${s.afterSemantic} " +
      s"decontam=${s.afterDecontam} packed=${s.packed} " +
      s"manifest=${s.manifestPacks} bpe=${s.bpeMergesLearned} " +
      s"indexed=${s.indexedDocs}")
    spark.stop()
  }
}
