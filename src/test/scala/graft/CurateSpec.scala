package graft

import org.apache.spark.sql.functions._

/** End-to-end corpus-curation pipeline: stage monotonicity, partitioned
  * output layout, and rerun determinism.
  */
class CurateSpec extends SparkSpec {

  test("curate pipeline filters monotonically and writes pruned partitions") {
    val out = java.nio.file.Files.createTempDirectory("curate").toString
    // operator caches are session-scoped and released by the cache
    // sweep; checkpoint pins have no owner but the code that took them
    val caches = spark.sharedState.cacheManager
    caches.clearCache()
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    val s = Curate.run(spark, Sf, out)
    caches.clearCache()
    // the run frees every checkpoint it pins, the connected-components
    // one under the label cache included
    assert(spark.sparkContext.getPersistentRDDs.size == pinnedBefore,
      spark.sparkContext.getPersistentRDDs.values.mkString(", "))
    assert(s.input >= s.afterQuality)
    assert(s.afterQuality >= s.afterDedup)
    assert(s.afterDedup >= s.afterDecontam)
    assert(s.packed == s.afterDecontam, "write must preserve surviving rows")
    assert(s.packed > 0, "curation removed everything")
    // partitioned layout: split=/lang= directories exist for train
    val dirs = new java.io.File(s"$out/corpus").listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("split=train")), dirs.mkString(","))
    val langs = new java.io.File(s"$out/corpus/split=train").listFiles().map(_.getName)
    assert(langs.exists(_.startsWith("lang=")), langs.mkString(","))
    // a trainer's read is partition-pruned and fully typed
    val train = spark.read.parquet(s"$out/corpus")
      .filter(col("split") === "train" && col("lang") === "en")
    assert(train.count() > 0)
    assert(train.columns.contains("pack_id"))
    // contaminated docs are really gone: nothing overlaps the benchmark
    val contaminated = graft.operators.Curation.q51Decontaminate(spark, Sf)
      .select("doc_id")
    val all = spark.read.parquet(s"$out/corpus").select("doc_id")
    assert(all.join(contaminated, "doc_id").count() == 0)
    // the run documents its own dedup savings: one keeper per cluster
    val rep = spark.read.parquet(s"$out/dedup_report")
    val agg = rep.agg(sum("n_clusters"), sum("n_docs"), sum("n_redundant")).first()
    assert(agg.getLong(0) == s.afterDedup, "keepers = clusters")
    assert(agg.getLong(1) - agg.getLong(2) == s.afterDedup,
      "docs minus redundant = keepers")
  }

  test("substring cut removes boilerplate byte-verifiably and SemDeDup drops the semantic twin") {
    import spark.implicits._
    // 10-token cross-doc boilerplate (mixed case: gram KEYS are
    // lowercased so the span still matches, while kept text keeps its
    // original bytes — the byte check pins that too)
    val boiler = "Subscribe To Our Newsletter For Updates Every Single Week Thanks"
    val docs = Seq(
      (1L, s"$boiler alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"),
      (2L, s"$boiler mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"),
      // semantic twins: fully distinct surface forms, identical vectors
      (3L, "zulu yankee xavier walter ulysses trent simon robert quentin peter oliver nathan"),
      (4L, "magnus leopold kevin jonas ivan henry gustav frederik erik daniel casper bertil"),
      (5L, "granite basalt schist gneiss marble slate quartzite obsidian pumice tuff shale chert"),
      (6L, "maple willow cedar spruce aspen poplar birch alder rowan hazel linden juniper")
    ).toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("web"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
    val dataDir = java.nio.file.Files.createTempDirectory("curate-data").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    val emb = (1L to 6L).map { i =>
      val src = if (i == 4L) 3L else i // doc 4 is doc 3's semantic twin
      (i, Array.tabulate(64)(j => math.sin(src * 64.0 + j).toFloat).toSeq,
        (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    emb.coalesce(1).write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")

    val out = java.nio.file.Files.createTempDirectory("curate-opt").toString
    val s = Curate.run(spark, dataDir, out,
      substringCut = true, semanticDedup = true)
    val corpus = spark.read.parquet(s"$out/corpus")

    // the boilerplate is cut from shard TEXT, byte-verifiably: doc 1
    // keeps exactly its unique tail (original bytes), and no shard text
    // anywhere still carries the boilerplate
    val t1 = corpus.filter(col("doc_id") === 1L)
      .select("text").as[String].collect()
    assert(t1.toSeq == Seq(
      "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"), t1.toSeq)
    assert(corpus.filter(lower(col("text"))
      .contains("subscribe to our newsletter")).count() == 0,
      "boilerplate must not reach any shard")

    // an UNCUT doc ships its original text verbatim — the cut stage must
    // not rewrite documents that lost no spans (ADVICE r8)
    val t5 = corpus.filter(col("doc_id") === 5L)
      .select("text").as[String].collect()
    assert(t5.toSeq == Seq(
      "granite basalt schist gneiss marble slate quartzite obsidian pumice tuff shale chert"),
      t5.toSeq)

    // the dropped semantic twin never reaches a shard; its source does
    val ids = corpus.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(3L) && !ids.contains(4L),
      s"twin 4 must drop, source 3 must survive: $ids")

    // stage accounting: both optional stages report their counts
    assert(s.afterCut == s.afterQuality, "no doc is ALL boilerplate here")
    assert(s.afterSemantic == s.afterDedup - 1, "exactly the twin drops")
    assert(s.packed == s.afterDecontam)
  }

  test("pack fan-out is a parameter: non-default packShards keeps pack semantics per shard") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("curate-shards").toString
    val s = Curate.run(spark, Sf, out, packShards = 4)
    val corpus = spark.read.parquet(s"$out/corpus")
    val shards = corpus.select("shard").as[Int].collect().toSet
    assert(shards.nonEmpty && shards.forall(sh => sh >= 0 && sh < 4), shards.toString)
    // same survivors as the default fan-out — the knob moves parallelism,
    // never membership — and pack ids stay contiguous-from-zero per
    // (split, lang, shard) packing stream
    val default = Curate.run(spark, Sf,
      java.nio.file.Files.createTempDirectory("curate-shards-d").toString)
    assert(s == default, s"$s vs $default")
    val perShard = corpus.groupBy("split", "lang", "shard")
      .agg(min("pack_id").as("mn")).select("mn").as[Long].collect()
    assert(perShard.forall(_ == 0L), "every packing stream starts at pack 0")
  }

  test("train manifest covers every train pack once, sharded and deterministic") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("curate-man").toString
    val s = Curate.run(spark, Sf, out, trainManifest = true, manifestShards = 4)
    val corpus = spark.read.parquet(s"$out/corpus")
    val manifest = spark.read.parquet(s"$out/manifest").cache()
    // one manifest row per distinct train pack, none from val/test
    val trainPacks = corpus.filter(col("split") === "train")
      .select("lang", "shard", "pack_id").distinct()
    assert(s.manifestPacks == trainPacks.count())
    assert(manifest.count() == s.manifestPacks)
    assert(manifest.select("lang", "shard", "pack_id")
      .except(trainPacks).count() == 0, "manifest lists a non-train pack")
    // shard bounds honor the parameter; positions contiguous per mshard
    val rows = manifest.collect()
    assert(rows.forall { r =>
      val m = r.getAs[Int]("mshard"); m >= 0 && m < 4
    })
    rows.groupBy(_.getAs[Int]("mshard")).foreach { case (m, g) =>
      val pos = g.map(_.getAs[Int]("pos")).sorted
      assert(pos.head == 1 && pos.last == pos.length,
        s"mshard $m positions not contiguous")
    }
    // deterministic across reruns
    val out2 = java.nio.file.Files.createTempDirectory("curate-man2").toString
    Curate.run(spark, Sf, out2, trainManifest = true, manifestShards = 4)
    val m2 = spark.read.parquet(s"$out2/manifest")
    assert(manifest.except(m2).count() == 0 && m2.except(manifest).count() == 0)
    manifest.unpersist()
  }

  test("classifier gate drops model-flagged docs, ships its model, and stays inside the heuristic survivors") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("curate-clf").toString
    // floor 0.5 = the model's own decision boundary on the corpus-
    // relative weak label: roughly the below-mean half of the corpus
    // drops, so the gate provably BITES (strictly fewer docs than the
    // heuristic gate alone, which this corpus always fully clears)
    val s = Curate.run(spark, Sf, out, classifierFloor = 0.5)
    assert(s.afterClassifier >= 0 && s.afterClassifier <= s.afterQuality)
    assert(s.afterClassifier < s.afterQuality,
      "a mean-split weak label must reject some heuristic survivors")
    assert(s.afterDedup <= s.afterClassifier)
    assert(s.packed > 0, "the gate must not empty the corpus")
    // the fitted artifact ships beside the corpus and re-scores
    val model = graft.ml.QualityClassifier.load(s"$out/quality_model")
    val docs = Tables.load(spark, Sf, "documents")
    val rescored = graft.ml.QualityClassifier.score(model,
      graft.ml.QualityClassifier.labeled(docs))
    val passing = rescored.filter(col("p_quality") >= 0.5)
      .select("doc_id")
    val shipped = spark.read.parquet(s"$out/corpus").select("doc_id")
    assert(shipped.join(passing, Seq("doc_id"), "left_anti").count() == 0,
      "every shipped doc must re-score above the floor under the shipped model")
    // the gate's accounting ships too (VERDICT r9 #7): the calibration
    // deciles cover the whole scored corpus and agree with a direct
    // re-score, and the floor sweep's 0.5 row explains the gate — its
    // kept count IS afterClassifier (same model, same label frame)
    val calib = spark.read.parquet(s"$out/quality_model_calibration").collect()
    assert(calib.map(_.getAs[Long]("n")).sum == docs.count(),
      "calibration deciles must cover every scored document")
    calib.foreach { r =>
      val (p, f) = (r.getAs[Double]("mean_p"), r.getAs[Double]("frac_label_pos"))
      assert(p >= 0.0 && p <= 1.0 && f >= 0.0 && f <= 1.0, r.toString)
    }
    val sweep = spark.read.parquet(s"$out/quality_model_floor_sweep").collect()
    val row05 = sweep.find(_.getAs[Double]("floor") == 0.5).get
    assert(row05.getAs[Long]("kept") == rescored.filter(col("p_quality") >= 0.5).count(),
      "the 0.5 sweep row must equal a direct re-score count")
    // kept shrinks and precision is defined as the floor rises through
    // populated deciles; recall at floor 0.0 is total (1.0)
    val byFloor = sweep.sortBy(_.getAs[Double]("floor"))
    val kepts = byFloor.map(_.getAs[Long]("kept"))
    assert(kepts.zip(kepts.tail).forall { case (a, b) => a >= b },
      s"kept must be non-increasing: ${kepts.mkString(",")}")
    assert(byFloor.head.getAs[Double]("recall") == 1.0,
      s"floor 0.0 keeps everything: ${byFloor.head}")
    // default run is unchanged: the stage is off and reports -1
    assert(Curate.run(spark, Sf,
      java.nio.file.Files.createTempDirectory("curate-noclf").toString)
      .afterClassifier == -1L)
  }

  test("auto classifier floor: Curate picks the sweep's lowest qualifying floor and persists the choice") {
    import org.apache.spark.sql.functions.col
    // VERDICT r10 #8: the gate floor comes from the published sweep —
    // the LOWEST floor whose precision against the weak label meets the
    // target — instead of a hand-set 0.5
    val out = java.nio.file.Files.createTempDirectory("curate-autoclf").toString
    val target = 0.9
    val s = Curate.run(spark, Sf, out, classifierTargetPrecision = target)
    assert(s.afterClassifier >= 0, "the auto mode must enable the gate")

    // the persisted choice equals what the sweep recommends
    val choice = spark.read.parquet(s"$out/quality_model_floor").head()
    val floor = choice.getAs[Double]("floor")
    assert(choice.getAs[Double]("target_precision") == target)
    val sweep = spark.read.parquet(s"$out/quality_model_floor_sweep")
    assert(floor == graft.ml.QualityClassifier.chooseFloor(sweep, target),
      s"persisted floor $floor must be the sweep's answer")
    // it IS the lowest qualifying floor: its precision meets the target
    // and every lower floor's precision misses it
    val rows = sweep.collect().sortBy(_.getAs[Double]("floor"))
    val mine = rows.find(_.getAs[Double]("floor") == floor).get
    assert(mine.getAs[Double]("precision") >= target, mine.toString)
    rows.filter(_.getAs[Double]("floor") < floor).foreach { r =>
      val p = r.getAs[java.lang.Double]("precision")
      assert(p == null || p.doubleValue() < target,
        s"a lower floor already met the target: $r")
    }

    // the gate bites at the chosen floor: shipped docs all re-score at
    // or above it, and the chosen floor's kept count is afterClassifier
    val model = graft.ml.QualityClassifier.load(s"$out/quality_model")
    val rescored = graft.ml.QualityClassifier.score(model,
      graft.ml.QualityClassifier.labeled(Tables.load(spark, Sf, "documents")))
    assert(s.afterClassifier ==
      rescored.filter(col("p_quality") >= floor).count(),
      "afterClassifier must equal a direct re-score at the chosen floor")
    assert(s.afterClassifier < s.afterQuality,
      "a 0.9-precision target must reject some heuristic survivors")

    // an unreachable target degrades to the most selective floor (0.9)
    assert(graft.ml.QualityClassifier.chooseFloor(sweep, 2.0) == 0.9)
  }

  test("bpe stage trains on the train split only, ships reloadable merges, and the vocab re-spells the corpus") {
    import graft.operators.Bpe
    val out = java.nio.file.Files.createTempDirectory("cbpe").toString
    val s = Curate.run(spark, Sf, out, bpeMerges = 12)
    assert(s.bpeMergesLearned > 0 && s.bpeMergesLearned <= 12,
      s.bpeMergesLearned.toString)
    // the shipped merge list reloads in training order and equals a
    // direct re-train on the shipped train split (determinism + the
    // split-only contract: training on all splits would learn from
    // validation/test text and generally diverge)
    val merges = Bpe.loadMerges(spark, s"$out/bpe_merges")
    assert(merges.size == s.bpeMergesLearned)
    val trainDocs = spark.read.parquet(s"$out/corpus")
      .filter(col("split") === "train").select("text")
    assert(merges == Bpe.train(trainDocs, 12, batchMerges = 8))
    // the vocabulary accounts for every train token exactly: total
    // occurrences equal the segmented corpus token count, and every
    // token re-spells into corpus characters (no token invents bytes)
    val vocab = spark.read.parquet(s"$out/bpe_vocab")
    val vocabTotal = vocab.agg(sum(col("n_occurrences"))).head.getLong(0)
    val segTotal = Bpe.segment(Bpe.wordTable(trainDocs), merges)
      .agg(sum(col("freq") * org.apache.spark.sql.functions.size(col("syms"))))
      .head.getLong(0)
    assert(vocabTotal == segTotal, s"$vocabTotal vs $segTotal")
    // tokens never contain the word separator (the segmentation is
    // within-word by construction) and never an orphan marker prefix
    val badTok = vocab.filter(col("token").contains(" ") ||
      (col("token").contains("</w>") && !col("token").endsWith("</w>"))).count()
    assert(badTok == 0, s"$badTok malformed tokens")
  }

  test("index handoff: the curated corpus becomes the standing state day-2 admission screens against") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Ann, Dedup}
    val prefix = "curhand"
    graft.sources.TablePointer.dropAll(spark, s"${prefix}_text",
      Seq("_df", "_meta", "_champ", "_cal"))
    for (t <- Seq(s"${prefix}_band", s"${prefix}_pq", s"${prefix}_pq_centroids",
        s"${prefix}_pq_codebook", s"${prefix}_pq_meta")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    val out = java.nio.file.Files.createTempDirectory("curate-idx").toString
    val s = Curate.run(spark, Sf, out, refreshIndexes = true,
      indexPrefix = prefix)
    assert(s.indexedDocs == s.packed, s"indexed ${s.indexedDocs} != packed ${s.packed}")

    // a re-submission of SHIPPED text flags on the band probe — the
    // curated corpus IS the standing surface-form state now
    val kept = spark.read.parquet(s"$out/corpus")
      .select("doc_id", "text").orderBy("doc_id").limit(5)
      .withColumn("doc_id", col("doc_id") + 900000L)
    val nearOut = Dedup.probeIndex(spark, s"${prefix}_band", kept).collect()
    assert(nearOut.nonEmpty &&
      nearOut.forall(_.getAs[Int]("is_near_dup") == 1), nearOut.mkString)

    // the PQ handoff is the TRAINED family, and a re-encode of a kept
    // doc's vector semantic-rejects against it
    val pqPhys = phys(s"${prefix}_pq")
    assert(spark.table(s"${pqPhys}_meta").head().getString(0) == "kmeans")
    val keptVecs = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .join(spark.read.parquet(s"$out/corpus")
        .select(col("doc_id").as("vec_id")), "vec_id")
      .orderBy("vec_id").limit(5)
      .select((col("vec_id") + 900000L).as("vec_id"),
        expr("transform(emb, x -> x * 0.99)").as("emb"))
    val pqOut = Ann.probePqIndex(spark, s"${prefix}_pq", keptVecs).collect()
    assert(pqOut.nonEmpty && pqOut.forall(_.getAs[Int]("is_dup") == 1),
      pqOut.mkString)

    // the standing BM25 index lands in the same handoff (round 14 third
    // pass): a shipped doc's own leading terms retrieve it, and the
    // served ranking is bit-equal to the in-query twin over the shipped
    // corpus — the curated corpus is retrieval-servable at handoff time
    val shipped = spark.read.parquet(s"$out/corpus").select("doc_id", "text")
    val qt = shipped.orderBy("doc_id").limit(3)
      .select((col("doc_id") + 910000L).as("q_id"),
        explode(array_distinct(slice(split(lower(trim(col("text"))), " "), 1, 6))).as("term"))
      .filter(length(col("term")) > 0)
    import graft.operators.TextRank
    val served = TextRank.searchTextIndex(spark, s"${prefix}_text", qt).collect()
    assert(served.nonEmpty)
    val twin = TextRank.bm25TopK(shipped, qt).collect()
    def tkey(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))).toSet
    assert(tkey(served) == tkey(twin))
    // the handoff calibrated the serving knobs (round 14 third pass):
    // _cal landed with the 0.9 target and its measured evidence
    val tcal = TextRank.textCalOf(spark, s"${prefix}_text")
    assert(tcal.exists(c => c.target == 0.9 && c.pruneMeasured >= 0.9),
      tcal.toString)

    // the default run does not build indexes
    assert(s.packed > 0 && Curate.run(spark, Sf,
      java.nio.file.Files.createTempDirectory("curate-noidx").toString)
      .indexedDocs == -1L)
  }

  test("curate rerun is deterministic") {
    val (a, b) = (java.nio.file.Files.createTempDirectory("ca").toString,
      java.nio.file.Files.createTempDirectory("cb").toString)
    val s1 = Curate.run(spark, Sf, a)
    val s2 = Curate.run(spark, Sf, b)
    assert(s1 == s2)
    val da = spark.read.parquet(s"$a/corpus")
    val db = spark.read.parquet(s"$b/corpus")
    assert(da.except(db).count() == 0 && db.except(da).count() == 0)
  }
}
