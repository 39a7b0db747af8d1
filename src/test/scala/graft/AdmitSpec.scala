package graft

import graft.operators.{Ann, Dedup}
import org.apache.spark.sql.functions._

/** The admission composition end-to-end: each cycle screens against the
  * standing state and GROWS it, so a later batch is screened against an
  * earlier batch's admissions — the property the index appends exist for.
  * Round 9 adds the single-writer lock (racing cycles serialize), the
  * intra-batch self-screen, the persisted per-cycle report, and the WAL
  * crash repair.
  */
class AdmitSpec extends SparkSpec {

  private def dropIndexTables(band: String, pq: String): Unit = {
    // both families are generation-versioned — dropAll clears the
    // pointer and every generation
    graft.sources.TablePointer.dropAll(spark, band, Dedup.BandSuffixes)
    graft.sources.TablePointer.dropAll(spark, pq,
      Seq("_centroids", "_codebook", "_meta"))
  }

  private def novelVec(seed: Int): Seq[Double] =
    (0 until 64).map(j => math.sin(seed * 64.0 + j))

  test("admission screens each batch against a standing state the previous cycle grew") {
    import spark.implicits._
    val band = "admit_band_test"
    val pq = "admit_pq_test"
    dropIndexTables(band, pq)
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    Dedup.refreshIndex(d, band, numBuckets = 8)
    Ann.refreshPqIndex(e, pq)
    val out = java.nio.file.Files.createTempDirectory("admit").toString

    val corpusDoc10 = d.filter(col("doc_id") === 10L)
      .select("text").as[String].collect().head
    val vec5 = e.filter(col("vec_id") === 5L)
      .select("emb").as[Seq[Double]].collect().head
    val textA = "entirely fresh prose about quantum marble butterflies " +
      "gliding past copper lighthouses while seventeen astronomers argue"
    val textE = "another genuinely new passage concerning velvet glaciers " +
      "and the arithmetic of forgotten tram schedules at midnight"

    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet

    // batch 1: a copy of corpus doc 10 (surface reject), doc A (novel
    // text + novel vector: admit), doc B (novel text but a re-encode of
    // corpus vector 5: semantic reject)
    val b1 = Seq(
      (600001L, corpusDoc10),
      (600002L, textA),
      (600003L, "plainly unseen sentences describing cardboard comets and " +
        "the bureaucracy of lighthouse keepers during a quiet eclipse"))
      .toDF("doc_id", "text")
    val b1v = Seq(
      (600002L, novelVec(901)),
      (600003L, vec5.map(_ * 0.99))).toDF("vec_id", "emb")
    // the standing copy rejects at the EXACT screen (round 13): a
    // verbatim re-submission never reaches the band probe
    val r1 = Admit.admitBatch(spark, b1, band, out, 1L, Some(b1v), Some(pq))
    assert(r1 == Admit.Report(1L, 3, 0, 0, 0, 1, 1, exactRejected = 1),
      r1.toString)

    // batch 2: a copy of doc A (caught ONLY because cycle 1 appended its
    // content hash), a re-encode of doc A's vector under new text (caught
    // ONLY because cycle 1 appended its PQ codes), and doc E (admit)
    val b2 = Seq(
      (700001L, textA),
      (700002L, "wholly different surface form reciting dune-colored " +
        "mathematics to an audience of patient carpenter bees today"),
      (700003L, textE)).toDF("doc_id", "text")
    val b2v = Seq(
      (700002L, novelVec(901).map(_ * 0.99)),
      (700003L, novelVec(902))).toDF("vec_id", "emb")
    val r2 = Admit.admitBatch(spark, b2, band, out, 2L, Some(b2v), Some(pq))
    assert(r2 == Admit.Report(2L, 3, 0, 0, 0, 1, 1, exactRejected = 1),
      r2.toString)

    // the landing holds exactly the admitted docs, partitioned per batch
    val landed = spark.read.parquet(out)
      .select("batch_id", "doc_id").as[(Int, Long)].collect().toSet
    assert(landed == Set((1, 600002L), (2, 700003L)), landed.toString)

    // observability (VERDICT r8 #8): each cycle's report is persisted
    // beside its landing and matches the returned accounting
    val reports = spark.read.parquet(s"$out/_admit_reports")
      .select("batch_id", "input", "intra_rejected", "exact_rejected",
        "contaminated_rejected", "near_dup_rejected", "semantic_rejected",
        "admitted")
      .as[(Int, Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(reports == Set((1, 3L, 0L, 1L, 0L, 0L, 1L, 1L),
      (2, 3L, 0L, 1L, 0L, 0L, 1L, 1L)), reports.toString)
    // the consumable history: per-batch and cumulative admission rates
    // derived from the same partitions, in batch order
    val hist = Admit.reportHistory(spark, out).collect()
    assert(hist.map(_.getAs[Int]("batch_id")).toSeq == Seq(1, 2))
    assert(hist.forall(_.getAs[Double]("admit_rate") == 0.3333), hist.mkString)
    assert(hist.last.getAs[Long]("cum_input") == 6L &&
      hist.last.getAs[Long]("cum_admitted") == 2L &&
      hist.last.getAs[Double]("cum_admit_rate") == 0.3333, hist.last.toString)
    // and the cycles leave no pinned per-batch state behind (ADVICE r8:
    // the localCheckpoints are freed, the probe kernels run cache-free)
    // — an unbounded streaming run must not accumulate blocks
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty, s"cycle leaked pinned RDDs: $leaked")
  }

  test("intra-batch twins are screened before the standing probes: one representative survives") {
    import spark.implicits._
    val band = "admit_band_intra"
    val pq = "admit_pq_intra"
    dropIndexTables(band, pq)
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    Dedup.refreshIndex(d, band, numBuckets = 8)
    Ann.refreshPqIndex(e, pq)
    val out = java.nio.file.Files.createTempDirectory("admit-intra").toString

    // long enough that a 3-token suffix barely moves the shingle set —
    // the near-dup must clear the ≥4-shared-bands probe threshold
    val textN = "completely novel report describing origami suspension " +
      "bridges assembled by meticulous crows above a porcelain harbor " +
      "where patient archivists catalogue every rivet and the tide " +
      "rehearses its slow arithmetic against the pier while lanterns " +
      "negotiate with fog over the correct spelling of morning"
    // one batch carrying: two EXACT copies of novel doc N, a NEAR-dup of
    // N (same text + suffix), and two semantic re-encodes of one novel
    // vector under distinct surface forms — plus one independent doc
    val b = Seq(
      (900001L, textN),
      (900002L, textN),
      (900003L, textN + " appended marginal note"),
      (900004L, "first distinct surface form praising subterranean " +
        "lighthouse choirs and their patient bronze conductors tonight"),
      (900005L, "second distinct surface form cataloguing the library " +
        "of unsent letters kept by retired weather balloons"),
      (900006L, "an unrelated bulletin on the migration habits of " +
        "clockwork herons across the meridian of quiet sundials"))
      .toDF("doc_id", "text")
    val bv = Seq(
      (900004L, novelVec(921)),
      (900005L, novelVec(921).map(_ * 0.995)),
      (900006L, novelVec(922))).toDF("vec_id", "emb")
    val r = Admit.admitBatch(spark, b, band, out, 1L, Some(bv), Some(pq))
    // dropped intra-batch: 900002 (exact copy), 900003 (near-dup),
    // 900005 (semantic re-encode) — the lowest-id representative of each
    // group survives; nothing matches the standing corpus
    assert(r == Admit.Report(1L, 6, 3, 0, 0, 0, 3), r.toString)
    val landed = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSet
    assert(landed == Set(900001L, 900004L, 900006L), landed.toString)
  }

  test("two racing cycles serialize under the admission lock: a twin split across them is admitted once") {
    import spark.implicits._
    val band = "admit_band_race"
    dropIndexTables(band, "admit_pq_race")
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    Dedup.refreshIndex(d, band, numBuckets = 8)
    val out = java.nio.file.Files.createTempDirectory("admit-race").toString

    val twin = "one twin document split across two concurrently racing " +
      "ingest batches that must be admitted exactly once overall"
    val bA = Seq(
      (910001L, twin),
      (910002L, "batch A's own novel story of amber turbines humming " +
        "beneath a cathedral of patient migratory kites")).toDF("doc_id", "text")
    val bB = Seq(
      (920001L, twin),
      (920002L, "batch B's own novel account of chalk rivers annotating " +
        "the margins of an unhurried limestone valley")).toDF("doc_id", "text")

    // two threads race the same standing state; without the lock both
    // screens run against pre-append state and BOTH twins pass
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fA = Future(Admit.admitBatch(spark, bA, band, out, 1L))
    val fB = Future(Admit.admitBatch(spark, bB, band, out, 2L))
    val (rA, rB) = (Await.result(fA, 5.minutes), Await.result(fB, 5.minutes))

    // whichever cycle won the lock admitted its twin; the loser's screen
    // then saw it in the standing state and rejected its own copy (the
    // twins are VERBATIM copies, so since round 13 it is the exact-hash
    // screen that fires, never the band probe)
    assert(rA.admitted + rB.admitted == 3,
      s"exactly one twin + two singles must land: $rA $rB")
    assert(Seq(rA, rB).map(_.exactRejected).sorted == Seq(0L, 1L),
      s"exactly one cycle must reject its twin: $rA $rB")
    val landedTwins = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSet.intersect(Set(910001L, 920001L))
    assert(landedTwins.size == 1, s"twin landed ${landedTwins.size} times")

    // queue-time observability (VERDICT r12 #5): the loser QUEUED behind
    // the winner's live cycle, and its report — returned AND persisted —
    // must say for how long; the winner's uncontended claim reports 0
    val (winner, loser) =
      if (rA.exactRejected == 0L) (rA, rB) else (rB, rA)
    assert(loser.lockWaitMs > 0L,
      s"the losing cycle must report positive lock queue time: $loser")
    val persistedWaits = spark.read.parquet(s"$out/_admit_reports")
      .select("batch_id", "lock_wait_ms")
      .as[(Int, Long)].collect().toMap
    assert(persistedWaits(loser.batchId.toInt) == loser.lockWaitMs &&
      persistedWaits(winner.batchId.toInt) == winner.lockWaitMs,
      persistedWaits.toString)
    // and the consumable history carries the column
    val histWaits = Admit.reportHistory(spark, out)
      .select("batch_id", "lock_wait_ms").as[(Int, Long)].collect().toMap
    assert(histWaits(loser.batchId.toInt) > 0L, histWaits.toString)
  }

  test("WAL repair: a batch replayed after its appends but before its landing loses nothing and admits no duplicates") {
    import spark.implicits._
    val band = "admit_band_wal"
    val pq = "admit_pq_wal"
    dropIndexTables(band, pq)
    val seedDocs = Tables.load(spark, Sf, "documents")
      .select("doc_id", "text").filter(col("doc_id") < 200)
    val seedVecs = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label").filter(col("vec_id") < 200)
    Dedup.refreshIndex(seedDocs, band, numBuckets = 8)
    Ann.refreshPqIndex(seedVecs, pq)
    val out = java.nio.file.Files.createTempDirectory("admit-wal").toString
    val standing = Admit.Standing(seedDocs, Some(seedVecs))

    val textB1 = "wholly fresh chronicle of tidal observatories curated " +
      "by methodical owls along the basalt esplanade at dawn"
    val textB2 = "a second untouched dispatch about pendulum orchards " +
      "and the cartography of borrowed thunderstorms"
    val sideVecs = Seq(
      (930001L, novelVec(931)),
      (940001L, novelVec(941))).toDF("vec_id", "emb")

    // batch 1 lands normally (with recovery wired, exercising the
    // no-repair fast path)
    val b1 = Seq((930001L, textB1)).toDF("doc_id", "text")
    val r1 = Admit.admitBatch(spark, b1, band, out, 1L, Some(sideVecs),
      Some(pq), recovery = Some(standing))
    assert(r1.admitted == 1, r1.toString)

    // simulate the crash window for batch 2: the cycle wrote its WAL and
    // its index appends, then died BEFORE the landing — exactly the
    // state admitBatch leaves when killed between steps 3a and 3b
    val b2 = Seq((940001L, textB2)).toDF("doc_id", "text")
    val wal = new org.apache.hadoop.fs.Path(s"$out/_admit_wal")
    val fs = wal.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(wal, true)
    os.write("2".getBytes(java.nio.charset.StandardCharsets.UTF_8)); os.close()
    Dedup.appendIndex(spark, band, b2)
    Ann.appendPqIndex(spark, pq,
      sideVecs.filter(col("vec_id") === 940001L).select("vec_id", "emb"))

    // WITHOUT the orphan-append repair this replay self-flags: prove the
    // hazard is real, then prove the repair closes it
    val hazard = Dedup.probeIndex(spark, band, b2)
      .filter(col("is_near_dup") === 1).count()
    assert(hazard == 1, "the replayed batch must self-flag pre-repair")

    // the replay: admitBatch finds WAL == its own batch id, rebuilds the
    // standing state from seed ∪ landed (batch 1 only), re-screens, and
    // lands batch 2's novel doc — nothing lost, nothing duplicated
    val r2 = Admit.admitBatch(spark, b2, band, out, 2L, Some(sideVecs),
      Some(pq), recovery = Some(standing))
    assert(r2 == Admit.Report(2L, 1, 0, 0, 0, 0, 1), r2.toString)
    val landed = spark.read.parquet(out)
      .select("batch_id", "doc_id").as[(Int, Long)].collect().toSet
    assert(landed == Set((1, 930001L), (2, 940001L)), landed.toString)

    // the repaired standing state still screens: a batch-3 VERBATIM copy
    // of the replayed doc is rejected (exact screen — its hash landed
    // with batch 2's append), a batch-1 semantic re-encode is rejected
    val b3 = Seq(
      (950001L, textB2),
      (950002L, "new surface form over a recycled vector of batch one's " +
        "tidal observatories chronicle for the semantic screen"))
      .toDF("doc_id", "text")
    val b3v = Seq((950002L, novelVec(931).map(_ * 0.99))).toDF("vec_id", "emb")
    val r3 = Admit.admitBatch(spark, b3, band, out, 3L, Some(b3v),
      Some(pq), recovery = Some(standing))
    assert(r3 == Admit.Report(3L, 2, 0, 0, 0, 1, 0, exactRejected = 1),
      r3.toString)

    // without a recovery source the same WAL state fails LOUDLY instead
    // of landing empty
    val os2 = fs.create(wal, true)
    os2.write("4".getBytes(java.nio.charset.StandardCharsets.UTF_8)); os2.close()
    val b4 = Seq((960001L, "any batch four payload")).toDF("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      Admit.admitBatch(spark, b4, band, out, 4L)
    }
    assert(ex.getMessage.contains("Admit.recover"), ex.getMessage)
  }

  test("admission-time decontamination rejects benchmark-overlapping docs") {
    import spark.implicits._
    val band = "admit_decon_band"
    dropIndexTables(band, "admit_decon_pq")
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    val benchText = "the canary benchmark asks about copper lighthouses and " +
      "seventeen astronomers measuring quiet eclipses during winter storms"
    val benchGrams = graft.operators.Curation
      .gramHashes(Seq((9999L, benchText)).toDF("doc_id", "text"))
      .select("gh").distinct()
    // shares the 8-gram "seventeen astronomers … winter storms" with the
    // benchmark; otherwise novel surface form
    val contaminated = "students memorized that seventeen astronomers " +
      "measuring quiet eclipses during winter storms was the answer key"
    val clean = "wholly original musing on terracotta submarines navigating " +
      "library corridors beneath a cautious algebra of rain"
    val batch = Seq((800001L, contaminated), (800002L, clean))
      .toDF("doc_id", "text")

    // without the screen both docs are novel and both are admitted —
    // the contamination is invisible to every dup screen
    Dedup.refreshIndex(d, band, numBuckets = 8)
    val outOff = java.nio.file.Files.createTempDirectory("admitdecoff").toString
    val rOff = Admit.admitBatch(spark, batch, band, outOff, 1L)
    assert(rOff == Admit.Report(1L, 2, 0, 0, 0, 0, 2), rOff.toString)

    // with the screen: the contaminated doc is rejected BEFORE the
    // probes, the clean doc still lands, and the accounting says why
    dropIndexTables(band, "admit_decon_pq")
    Dedup.refreshIndex(d, band, numBuckets = 8)
    val out = java.nio.file.Files.createTempDirectory("admitdecon").toString
    val r = Admit.admitBatch(spark, batch, band, out, 1L,
      benchmarkGrams = Some(benchGrams))
    assert(r == Admit.Report(1L, 2, 0, 1, 0, 0, 1), r.toString)
    val landedIds = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    assert(landedIds == Set(800002L), landedIds.toString)
    val rep = spark.read.parquet(s"$out/_admit_reports")
      .select("contaminated_rejected", "admitted")
      .as[(Long, Long)].collect().toSet
    assert(rep == Set((1L, 1L)), rep.toString)
  }

  test("admission-time quality screen rejects garbage before any probe") {
    import spark.implicits._
    val band = "admit_quality_band"
    dropIndexTables(band, "admit_quality_pq")
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    Dedup.refreshIndex(d, band, numBuckets = 8)
    // score 0.424 (< 0.5): 3 tokens (length term 0.024), no stopwords
    // (0.3), one type over three tokens (0.1) — hand-computed against
    // TextOps.stats' formula so the assertion pins the gate, not luck
    val garbage = "zz zz zz"
    val clean = "wholly original musing on terracotta submarines navigating " +
      "library corridors beneath a cautious algebra of rain"
    val batch = Seq((810001L, garbage), (810002L, clean))
      .toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("admitquality").toString
    val r = Admit.admitBatch(spark, batch, band, out, 1L, qualityFloor = 0.5)
    assert(r == Admit.Report(1L, 2, 0, 0, 0, 0, 1, 1), r.toString)
    val landedIds = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    assert(landedIds == Set(810002L), landedIds.toString)
    // the history exposes the new column, guarded and cumulative
    val hist = Admit.reportHistory(spark, out).collect()
    assert(hist.length == 1 &&
      hist.head.getAs[Long]("quality_rejected") == 1L &&
      hist.head.getAs[Long]("admitted") == 1L, hist.mkString)
    // a floorless cycle on the same layout reads the same history shape
    // (the column defaults to zero for cycles that never screened)
    val r2 = Admit.admitBatch(spark,
      Seq((810003L, clean + " second wholly novel paragraph appended here"))
        .toDF("doc_id", "text"), band, out, 2L)
    assert(r2.qualityRejected == 0L, r2.toString)
    assert(Admit.reportHistory(spark, out).count() == 2)
  }

  test("the IVF-PQ index is a drop-in third standing index: screens, grows per cycle, recovers") {
    pqCycleCase("sign", "admit_band_pq", "admit_pq_idx")
  }

  test("the TRAINED (kmeans) PQ index runs the same admission cycle: meta routes the encoder through append and repair") {
    // round 11: the whole cycle — probe screen, per-cycle append (which
    // must encode by NEAREST CODEWORD against the standing trained
    // codebook, via the _meta row), and the WAL repair's members rebuild
    // — is family-invariant. A mis-dispatched encoder (sign codes into a
    // trained index) would break the batch-2 catch: cycle 1's append
    // would store codes the ADC stage scores against the wrong
    // codewords.
    pqCycleCase("kmeans", "admit_band_pqkm", "admit_pqkm_idx")
  }

  private def pqCycleCase(quantizer: String, band: String, pq: String): Unit = {
    import spark.implicits._
    dropIndexTables(band, pq)
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    Dedup.refreshIndex(d, band, numBuckets = 8)
    Ann.refreshPqIndex(e, pq, quantizer = quantizer)
    val out = java.nio.file.Files.createTempDirectory("admit-pq").toString

    val vec5 = e.filter(col("vec_id") === 5L)
      .select("emb").as[Seq[Double]].collect().head
    val textA = "entirely fresh prose about porcelain observatories and the " +
      "slow arithmetic of migrating chandeliers over basalt piers"

    // batch 1: doc A (novel text + novel vector: admit), doc B (novel
    // text, re-encode of corpus vector 5: PQ-semantic reject)
    val b1 = Seq(
      (610001L, textA),
      (610002L, "plainly unseen sentences describing gravel comets and the " +
        "paperwork of auroral customs inspectors at noon"))
      .toDF("doc_id", "text")
    val b1v = Seq(
      (610001L, novelVec(911)),
      (610002L, vec5.map(_ * 0.99))).toDF("vec_id", "emb")
    val r1 = Admit.admitBatch(spark, b1, band, out, 1L, Some(b1v),
      pqTable = Some(pq))
    assert(r1 == Admit.Report(1L, 2, 0, 0, 0, 1, 1), r1.toString)

    // batch 2: a re-encode of doc A's vector under new text — caught
    // ONLY because cycle 1 APPENDED doc A's codes to the PQ index
    val b2 = Seq(
      (710001L, "wholly different surface form reciting slate-colored " +
        "geometry to an audience of patient lighthouse moths tonight"))
      .toDF("doc_id", "text")
    val b2v = Seq((710001L, novelVec(911).map(_ * 0.99))).toDF("vec_id", "emb")
    val r2 = Admit.admitBatch(spark, b2, band, out, 2L, Some(b2v),
      pqTable = Some(pq))
    assert(r2 == Admit.Report(2L, 1, 0, 0, 0, 1, 0), r2.toString)

    // WAL repair through the PQ rebuild: simulate the crash window for a
    // batch 3 (WAL + appends landed, no landing), then replay — the
    // repair must rebuild the PQ members from seed ∪ landed, keeping
    // centroids and codebook, and the novel doc still lands
    val textC = "a third untouched dispatch on marzipan funiculars and the " +
      "bookkeeping of borrowed meteor showers"
    val b3 = Seq((810001L, textC)).toDF("doc_id", "text")
    val b3v = Seq((810001L, novelVec(912))).toDF("vec_id", "emb")
    val wal = new org.apache.hadoop.fs.Path(s"$out/_admit_wal")
    val fs = wal.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(wal, true)
    os.write("3".getBytes(java.nio.charset.StandardCharsets.UTF_8)); os.close()
    Dedup.appendIndex(spark, band, b3)
    Ann.appendPqIndex(spark, pq, b3v)
    val allVecs = e.select("vec_id", "emb")
      .unionByName(b1v).unionByName(b2v).unionByName(b3v)
    val r3 = Admit.admitBatch(spark, b3, band, out, 3L, Some(allVecs),
      pqTable = Some(pq),
      recovery = Some(Admit.Standing(d, Some(e.select("vec_id", "emb")))))
    assert(r3 == Admit.Report(3L, 1, 0, 0, 0, 0, 1), r3.toString)
    val landed = spark.read.parquet(out)
      .select("batch_id", "doc_id").as[(Int, Long)].collect().toSet
    assert(landed == Set((1, 610001L), (3, 810001L)), landed.toString)
  }

  test("the standing BM25 index grows per admitted batch: retrieval sees new docs, rejects never enter, recovery rebuilds it") {
    import spark.implicits._
    import graft.operators.TextRank
    import graft.sources.TablePointer
    val band = "admit_text_band"
    val text = "admit_text_idx"
    dropIndexTables(band, "admit_text_unused")
    TablePointer.dropAll(spark, text, Seq("_df", "_meta", "_champ", "_cal"))
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    Dedup.refreshIndex(d, band, numBuckets = 8)
    // a NON-default companion bucket count, so the recovery below has a
    // layout choice to preserve (ADVICE r14)
    TextRank.refreshTextIndex(d, text, numBuckets = 8)
    val out = java.nio.file.Files.createTempDirectory("admit-text").toString
    val corpusDoc10 = d.filter(col("doc_id") === 10L)
      .select("text").as[String].collect().head
    val textA = "entirely fresh prose about quantum marble butterflies " +
      "gliding past copper lighthouses while seventeen astronomers argue"
    val b1 = Seq((810001L, corpusDoc10), (810002L, textA)).toDF("doc_id", "text")
    val r1 = Admit.admitBatch(spark, b1, band, out, 1L, textTable = Some(text))
    assert(r1.admitted == 1 && r1.exactRejected == 1, r1.toString)
    // the admitted doc is retrieval-servable ONE CYCLE LATER with no
    // rebuild: its (corpus-novel) term retrieves it through the index
    val qt = Seq((1L, "butterflies")).toDF("q_id", "term")
    val hits = TextRank.searchTextIndex(spark, text, qt).collect()
    assert(hits.map(_.getAs[Long]("doc_id")).toSet == Set(810002L),
      hits.mkString)
    val phys = TablePointer.resolve(spark, text)
    // the REJECTED doc's postings never entered the standing index
    assert(spark.table(phys).filter(col("doc_id") === 810001L).count() == 0)
    // the meta partials carry the append as a second commit; the
    // champion companion grew in lockstep
    assert(spark.table(s"${phys}_meta").count() == 2)
    assert(spark.table(s"${phys}_champ")
      .filter(col("doc_id") === 810002L).count() > 0)
    // the recovery rebuild (the WAL-repair / compaction path) lands a
    // NEW generation from seed ∪ landed: the admitted doc still serves,
    // and the old generation's reader isolation held during the swap
    Admit.recover(spark, band, out, Admit.Standing(d),
      excludeBatchId = -1L, textTable = Some(text))
    val phys2 = TablePointer.resolve(spark, text)
    assert(TablePointer.generationOf(phys2) ==
      TablePointer.generationOf(phys) + 1, s"$phys -> $phys2")
    val hits2 = TextRank.searchTextIndex(spark, text, qt).collect()
    assert(hits2.map(_.getAs[Long]("doc_id")).toSet == Set(810002L),
      hits2.mkString)
    // one commit now: the rebuild folded seed ∪ landed into one refresh
    assert(spark.table(s"${phys2}_meta").count() == 1)
    // the rebuild preserved the original refresh's companion bucket
    // count (ADVICE r14) — read from the OLD generation's `_df`, not
    // reset to the default 32
    val rebuiltSpec = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${phys2}_df"))
      .bucketSpec
    assert(rebuiltSpec.map(_.numBuckets).contains(8), rebuiltSpec.toString)
    TablePointer.dropAll(spark, text, Seq("_df", "_meta", "_champ", "_cal"))
  }

  test("the exact-hash screen closes the band screen's sub-3-word floor") {
    import spark.implicits._
    val band = "admit_band_short"
    dropIndexTables(band, "admit_short_unused")
    // a standing corpus that SHIPPED a two-word document — too short to
    // shingle (3-word shingles), so it has no bands in the index and a
    // verbatim re-submission is geometrically invisible to the band probe
    val shortText = "ok bye"
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
      .unionByName(Seq((77L, shortText)).toDF("doc_id", "text"))
    Dedup.refreshIndex(d, band, numBuckets = 8)

    val batch = Seq(
      (970001L, shortText), // verbatim re-submission of shipped content
      (970002L, "a wholly novel communique on porcelain metronomes " +
        "pacing the tide tables of an unhurried estuary"))
      .toDF("doc_id", "text")

    // the re-submission rejects at the exact screen (the `_hashes`
    // companion the refresh landed), with the named accounting to prove it
    val out = java.nio.file.Files.createTempDirectory("admit-short").toString
    val r1 = Admit.admitBatch(spark, batch, band, out, 1L)
    assert(r1 == Admit.Report(1L, 2, 0, 0, 0, 0, 1, exactRejected = 1),
      r1.toString)
    val landed = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().toSet
    assert(landed == Set(970002L), landed.toString)
    // the persisted report names the reason
    val rep = spark.read.parquet(s"$out/_admit_reports")
      .select("exact_rejected", "near_dup_rejected", "admitted")
      .as[(Long, Long, Long)].collect().toSet
    assert(rep == Set((1L, 0L, 1L)), rep.toString)
    // and the admitted doc's OWN hash joined the standing set: an exact
    // replay of it in the next cycle rejects too
    val r2 = Admit.admitBatch(spark,
      Seq((980001L, "a wholly novel communique on porcelain metronomes " +
        "pacing the tide tables of an unhurried estuary")).toDF("doc_id", "text"),
      band, out, 2L)
    assert(r2.exactRejected == 1 && r2.admitted == 0, r2.toString)

    // round 14 (VERDICT r13 #6): a DOUBLE-SPACED re-submission of the
    // shipped 2-word doc — different q20 hash AND no shingles, the one
    // class that slipped both screens — rejects at the exact screen via
    // the companion's whitespace-collapsed second key
    val r3 = Admit.admitBatch(spark,
      Seq((990101L, "ok  bye")).toDF("doc_id", "text"), band, out, 3L)
    assert(r3.exactRejected == 1 && r3.admitted == 0, r3.toString)
  }

  test("a degraded lock lease is visible in the persisted report, not only on stderr") {
    import spark.implicits._
    val band = "admit_band_health"
    dropIndexTables(band, "admit_health_unused")
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    Dedup.refreshIndex(d, band, numBuckets = 8)
    val out = java.nio.file.Files.createTempDirectory("admit-health").toString

    val b1 = Seq((930001L, "a novel bulletin on fenwork lanterns and the " +
      "supply chains of moonlit scaffolding guilds")).toDF("doc_id", "text")
    // a doctored claim: ≥2 consecutive missed beats — the shape a flaky
    // filesystem swallowing setTimes produces (VERDICT r11 #7: the
    // health signal existed but nothing read it)
    val claim = Locks.tryClaim(spark, s"$out/.admit-running",
      Admit.DefaultStaleAfterMs).get
    val r1 = try {
      claim.simulateMissedBeats(2)
      assert(!claim.healthy)
      Admit.admitBatchUnderClaim(spark, b1, band, out, 1L, claim)
    } finally claim.release()
    assert(r1.admitted == 1 && !r1.lockHealthy, r1.toString)

    // a healthy cycle reports true, and the history carries both bits
    val b2 = Seq((930002L, "a second untouched report about cartographers " +
      "indexing the migration ledgers of paper boats")).toDF("doc_id", "text")
    val r2 = Admit.admitBatch(spark, b2, band, out, 2L)
    assert(r2.lockHealthy, r2.toString)
    val hist = Admit.reportHistory(spark, out).collect()
    assert(hist.map(r => r.getAs[Int]("batch_id") ->
      r.getAs[Boolean]("lock_healthy")).toSeq == Seq(1 -> false, 2 -> true),
      hist.mkString)
  }

  test("standingStateReport rolls the operator's state checks into one frame") {
    import spark.implicits._
    val band = "admit_state_band"
    val pq = "admit_state_pq"
    dropIndexTables(band, "admit_state_unused")
    dropWarehouseTables(s"${band}_meta")
    graft.sources.TablePointer.dropAll(spark, pq,
      Seq("_centroids", "_codebook", "_meta"))
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    Dedup.refreshIndex(d, band, numBuckets = 8, screenRecallTarget = 0.75)
    Ann.refreshPqIndex(e, pq, screenRecallTarget = 0.99)
    val out = java.nio.file.Files.createTempDirectory("admit-state").toString
    val novelText = "a novel dossier of lighthouse accountants " +
      "reconciling fog schedules"
    val r = Admit.admitBatch(spark,
      Seq((950001L, novelText)).toDF("doc_id", "text"),
      band, out, 1L, embeddings = Some(e), pqTable = Some(pq))
    assert(r.admitted == 1, r.toString)
    val text = "admit_state_text"
    graft.sources.TablePointer.dropAll(spark, text,
      Seq("_df", "_meta", "_champ", "_cal"))
    graft.operators.TextRank.refreshTextIndex(d, text)
    graft.operators.TextRank.appendTextIndex(spark, text,
      d.limit(50).withColumn("doc_id", col("doc_id") + lit(960000L)))
    val rep = Admit.standingStateReport(spark, band, out, pqTable = Some(pq),
        textTable = Some(text))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2))
      .toMap
    // the persisted calibrations surface (not the -1 sentinels)
    assert(rep(("band", "calibrated_threshold")) >= 1.0, rep.toString)
    assert(rep(("pq", "screen_nprobe")) >= 1.0 &&
      rep(("pq", "screen_recall_measured")) > 0.0, rep.toString)
    // state sizes and layout pressure
    assert(rep(("band", "rows")) > 0 && rep(("band", "hash_rows")) > 0)
    assert(rep(("band", "files_per_bucket_max")) >= 1.0)
    assert(rep(("pq", "generation")) >= 1.0 && rep(("pq", "nlist")) >= 1.0)
    assert(rep(("pq", "members")) == e.count().toDouble)
    assert(rep(("pq", "files_per_cell_max")) >= 1.0)
    // the admission totals
    assert(rep(("admission", "batches")) == 1.0 &&
      rep(("admission", "cum_admit_rate")) == 1.0 &&
      rep(("admission", "unhealthy_cycles")) == 0.0, rep.toString)
    // the standing BM25 index joins the frame: one refresh + one append
    // = two commits, docs sums the meta partials, champions present
    assert(rep(("text", "generation")) >= 1.0)
    assert(rep(("text", "commits")) == 2.0, rep.toString)
    assert(rep(("text", "docs")) == d.count().toDouble + 50.0, rep.toString)
    assert(rep(("text", "postings")) > 0 && rep(("text", "terms")) > 0)
    assert(rep(("text", "champ_rows")) > 0)
    assert(rep(("text", "files_per_bucket_max")) >= 1.0)
    // the text index was refreshed WITHOUT a target (the WAL-recovery
    // rebuild's state): every `_cal` knob reports the −1 never-
    // calibrated sentinel — the degraded-toward-exact state is VISIBLE
    // in the report, not only implied by serving cost (VERDICT r14
    // missing #2)
    for (m <- Seq("cal_max_df_frac", "cal_champ_m", "cal_recall_target",
        "cal_prune_recall_measured", "cal_champ_recall_measured",
        "cal_docs_at_cal", "cal_docs_drift"))
      assert(rep(("text", m)) == -1.0, s"$m should be the sentinel: $rep")
    // the post-incident re-calibration path: a `_cal`-only sweep under
    // the admission lock, index untouched — the knobs (and the corpus
    // anchor they were measured on) then surface in the report
    val cal = Admit.recalibrateTextServing(spark, text, out, 0.9)
    val rep2 = Admit.standingStateReport(spark, band, out,
        pqTable = Some(pq), textTable = Some(text))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2))
      .toMap
    assert(rep2(("text", "cal_max_df_frac")) == cal.maxDfFrac)
    assert(rep2(("text", "cal_champ_m")) == cal.champM.toDouble)
    assert(rep2(("text", "cal_recall_target")) == 0.9)
    assert(rep2(("text", "cal_prune_recall_measured")) == cal.pruneMeasured)
    assert(rep2(("text", "cal_champ_recall_measured")) == cal.champMeasured)
    // the staleness anchor (ADVICE r14): measured on the corpus as it
    // stood at sweep time, so drift reads 0 now …
    assert(rep2(("text", "cal_docs_at_cal")) == d.count().toDouble + 50.0)
    assert(rep2(("text", "cal_docs_drift")) == 0.0, rep2.toString)
    // … and exactly the appended doc count after the corpus grows under
    // the standing `_cal`
    graft.operators.TextRank.appendTextIndex(spark, text,
      d.limit(25).withColumn("doc_id", col("doc_id") + lit(970000L)))
    val rep3 = Admit.standingStateReport(spark, band, out,
        pqTable = Some(pq), textTable = Some(text))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2))
      .toMap
    assert(rep3(("text", "cal_docs_drift")) == 25.0, rep3.toString)
    assert(rep3(("text", "cal_docs_at_cal")) == rep2(("text", "cal_docs_at_cal")))

    // round 16 (VERDICT r15 #2): the band and PQ knobs carry the SAME
    // staleness anchor. The band threshold was calibrated at refresh
    // (corpus = d), and the one admitted doc grew `_hashes` past it —
    // drift must read exactly 1; the PQ nprobe's anchor is the member
    // count the sweep probed, ungrown here (the admitted doc shipped no
    // vector), so drift reads 0
    assert(rep3(("band", "cal_docs_at_cal")) == d.count().toDouble,
      rep3.toString)
    assert(rep3(("band", "cal_docs_drift")) == 1.0, rep3.toString)
    assert(rep3(("pq", "cal_docs_at_cal")) == e.count().toDouble, rep3.toString)
    assert(rep3(("pq", "cal_docs_drift")) == 0.0, rep3.toString)

    // the post-incident resweeps, `_meta`-only and lock-held (the
    // recalibrateTextServing contract, symmetrized): the band threshold
    // re-anchors at the GROWN corpus — drift collapses to 0, the
    // generation (pointer) does not move, and the auto probe serves the
    // re-derived choice
    val grownCorpus = d.unionByName(
      Seq((950001L, novelText)).toDF("doc_id", "text"))
    val (bt, _) = Admit.recalibrateBandScreen(spark, band, out,
      grownCorpus, 0.75)
    val (np, _) = Admit.recalibratePqScreen(spark, pq, out, 0.99)
    val rep4 = Admit.standingStateReport(spark, band, out,
        pqTable = Some(pq), textTable = Some(text))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2))
      .toMap
    assert(rep4(("band", "generation")) == rep3(("band", "generation")),
      "a resweep must not move the pointer")
    assert(rep4(("pq", "generation")) == rep3(("pq", "generation")))
    assert(rep4(("band", "calibrated_threshold")) == bt.toDouble)
    assert(rep4(("band", "cal_docs_at_cal")) == d.count().toDouble + 1.0)
    assert(rep4(("band", "cal_docs_drift")) == 0.0, rep4.toString)
    assert(rep4(("pq", "screen_nprobe")) == np.toDouble)
    assert(rep4(("pq", "cal_docs_at_cal")) == e.count().toDouble)
    assert(rep4(("pq", "cal_docs_drift")) == 0.0, rep4.toString)
    graft.sources.TablePointer.dropAll(spark, text,
      Seq("_df", "_meta", "_champ", "_cal"))
  }

  test("lockWaitAlerts flags exactly the queued cycles of a slow-handoff history") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("admit-waits").toString
    // a doctored history: batch 1 uncontended, batch 2 queued 2 minutes
    // behind a long handoff, batch 3 a short benign wait, batch 4 a
    // degraded lease — the slow-handoff day reportHistory records
    val rows = Seq(
      (1, 0L, true), (2, 120000L, true), (3, 5000L, true), (4, 0L, false))
    for ((b, wait, healthy) <- rows)
      Seq((100L, 0L, 0L, 0L, 0L, 0L, 0L, 90L, healthy, wait))
        .toDF("input", "quality_rejected", "intra_rejected",
          "exact_rejected", "contaminated_rejected", "near_dup_rejected",
          "semantic_rejected", "admitted", "lock_healthy", "lock_wait_ms")
        .write.parquet(s"$out/_admit_reports/batch_id=$b")
    val alerts = Admit.lockWaitAlerts(spark, out, queuedThresholdMs = 60000L)
      .collect()
    val byBatch = alerts.map(r => r.getAs[Int]("batch_id") ->
      r.getAs[String]("condition")).toMap
    assert(byBatch == Map(1 -> null, 2 -> "queued", 3 -> null,
      4 -> "degraded_lease"), byBatch.toString)
    // the distribution context rides every row of the same frame
    assert(alerts.forall(_.getAs[Long]("max_wait_ms") == 120000L))
    assert(alerts.forall(_.getAs[Double]("mean_wait_ms") == 31250.0))
    assert(alerts.find(_.getAs[Int]("batch_id") == 2)
      .get.getAs[String]("severity") == "warning")
  }

  test("the Curate index handoff serializes under the admission lock (never overwrites mid-cycle)") {
    import spark.implicits._
    val band = "curated_race_band"
    val pq = "curated_race_pq"
    graft.sources.TablePointer.dropAll(spark, band, Dedup.BandSuffixes)
    dropWarehouseTables(pq,
      s"${pq}_centroids", s"${pq}_codebook", s"${pq}_meta")
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    val out = java.nio.file.Files.createTempDirectory("admit-handoff").toString

    // an "admission cycle" holds the lock; a handoff arriving now must
    // WAIT — before round 12 it refreshed (and clearStaleLocation-
    // deleted) the standing tables while the cycle was mid-probe
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val cycleClaim = Locks.tryClaim(spark, s"$out/.admit-running",
      Admit.DefaultStaleAfterMs).get
    val handoff = Future(
      Curate.refreshStandingIndexes(spark, d, e.limit(200), "curated_race", out))
    try {
      Thread.sleep(1500)
      assert(!handoff.isCompleted,
        "the handoff must block while an admission cycle holds the lock")
      assert(!spark.catalog.tableExists(s"default.${band}__g1"),
        "the handoff staged the band generation under a live cycle")
    } finally cycleClaim.release()
    val indexed = Await.result(handoff, 5.minutes)
    assert(indexed == d.count(), s"handoff indexed $indexed")
    val bandPhys = graft.sources.TablePointer.resolve(spark, band)
    assert(graft.sources.TablePointer.generationOf(bandPhys) >= 1 &&
      spark.catalog.tableExists(s"default.$bandPhys") &&
      spark.catalog.tableExists(s"default.${phys(pq)}"),
      s"current band ($bandPhys) + current PQ generation (${phys(pq)}) must exist")
    // round 14: the handoff CALIBRATED the band threshold — persisted
    // beside the index and read by every day-2 probe (the last
    // hand-set screen knob, retired)
    assert(Dedup.bandThresholdOf(spark, band).nonEmpty,
      "the handoff must persist a calibrated band threshold")
    // and the refreshed tables serve a normal admission cycle
    val b1 = Seq((940001L, "a fresh account of chalk harbors auditing the " +
      "punctuality of tide-borne mail skiffs")).toDF("doc_id", "text")
    val r1 = Admit.admitBatch(spark, b1, band, out, 1L)
    assert(r1.admitted == 1, r1.toString)
  }

  test("a punctuation-perturbed re-submission rejects at the exact screen") {
    import spark.implicits._
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    val corpusDoc10 = d.filter(col("doc_id") === 10L)
      .select("text").as[String].collect().head
    val textA = "entirely fresh prose about porcelain zeppelins drifting " +
      "past amber silos while nine cartographers argue about meridians"
    def punct(t: String): String = t.split(" ").mkString(", ")

    // admitted content and corpus content both reject on punctuated
    // replay against the standing index
    val band = "admit_band_punct"
    graft.sources.TablePointer.dropAll(spark, band, Dedup.BandSuffixes)
    Dedup.refreshIndex(d, band, numBuckets = 8)
    val out = java.nio.file.Files.createTempDirectory("admit_punct").toString
    val r1 = Admit.admitBatch(spark, Seq((810001L, textA)).toDF("doc_id", "text"),
      band, out, 1L)
    assert(r1.admitted == 1, r1.toString)
    val b2 = Seq(
      (820001L, punct(textA)),      // perturbed copy of an ADMITTED doc
      (820002L, punct(corpusDoc10)) // perturbed copy of a SEED doc
    ).toDF("doc_id", "text")
    val r2 = Admit.admitBatch(spark, b2, band, out, 2L)
    assert(r2.admitted == 0 && r2.exactRejected == 2,
      s"punctuated copies must reject at the exact screen: $r2")
    graft.sources.TablePointer.dropAll(spark, band, Dedup.BandSuffixes)
  }
}
