package graft

import graft.operators.{Ann, Dedup}
import org.apache.spark.sql.functions._

/** Value-level checks for the rows-only LSH paths: the deterministically
  * injected duplicates (doc_id/vec_id + 10000) must be recovered.
  */
class DedupAnnSpec extends SparkSpec {

  test("q20 exact dedup collapses each injected duplicate into its canonical") {
    val out = Dedup.q20DedupExact(spark, Sf)
    val nDupes = out.filter(col("n_copies") === 2).count()
    val nInjected = Dedup.corpus(spark, Sf).filter(col("doc_id") >= 10000).count()
    assert(nDupes == nInjected, s"expected $nInjected duplicate groups, got $nDupes")
  }

  test("q21 minhash-LSH recovers injected exact dupes with all bands shared") {
    val out = Dedup.q21DedupMinhash(spark, Sf)
      .filter(col("doc_b") === col("doc_a") + 10000)
    val full = out.filter(col("n_shared_bands") === 8).count()
    assert(full == out.count() && full > 0)
  }

  test("q101 split-leakage audit finds exactly the cross-split twins") {
    import spark.implicits._
    import graft.operators.Sampling
    // controlled corpus: 40 twin pairs (id, id+1000) with identical
    // text, plus unique filler — every twin is an exact dup, and which
    // pairs leak is decided ONLY by the q47 hash-split of the two ids
    val docs = ((1L to 40L).flatMap { i =>
      Seq((i, s"twin document $i body " * 12), (i + 1000L, s"twin document $i body " * 12))
    } ++ (101L to 140L).map(i => (i, s"unique filler $i text " * 12)))
      .toDF("doc_id", "text")
    val out = Dedup.splitLeakagePairs(docs).collect()
    // expected: recompute the split assignment with the same public
    // helper and keep the twin pairs whose splits differ
    val splits = docs.select(col("doc_id"),
        Sampling.bucket100("split", col("doc_id")).as("b")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (if (r.getAs[Int]("b") < 80) "train"
         else if (r.getAs[Int]("b") < 90) "validation" else "test")).toMap
    val expected = (1L to 40L)
      .filter(i => splits(i) != splits(i + 1000L)).map(i => (i, i + 1000L)).toSet
    assert(expected.nonEmpty, "test corpus produced no cross-split twins")
    val exactPairs = out.filter(_.getAs[String]("leak_type") == "exact")
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(exactPairs == expected,
      s"exact leaks ${exactPairs.size} vs expected ${expected.size}")
    out.foreach { r =>
      assert(r.getAs[String]("split_a") != r.getAs[String]("split_b"))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.5 && j <= 1.0)
      if (r.getAs[String]("leak_type") == "exact") assert(j == 1.0)
    }
  }

  test("q22 simhash gives injected dupes hamming distance 0") {
    val out = Dedup.q22DedupSimhash(spark, Sf)
      .filter(col("doc_b") === col("doc_a") + 10000 && col("hamming") === 0)
    assert(out.count() > 0)
  }

  test("q23 jaccard verification scores injected dupes at 1.0") {
    val out = Dedup.q23NgramJaccard(spark, Sf)
      .filter(col("doc_b") === col("doc_a") + 10000)
    assert(out.count() > 0)
    assert(out.filter(col("jaccard") < 1.0).count() == 0)
  }

  test("q24 embedding near-dup finds every injected rescaled vector") {
    val out = Ann.q24DedupEmbedding(spark, Sf)
      .filter(col("vec_b") === col("vec_a") + 10000)
    val nInjected = Ann.embCorpus(spark, Sf).filter(col("vec_id") >= 10000).count()
    assert(out.count() == nInjected)
    assert(out.filter(col("cosine") < 0.9999).count() == 0, "rescale must not change direction")
  }

  test("hot-bucket guard: k-doc duplicate cluster emits O(k) star edges, not O(k²) pairs") {
    import spark.implicits._
    val k = 100
    val clusterText = "the quick brown fox jumps over the lazy dog again and again today"
    val cluster = (0 until k).map(i => (i.toLong, clusterText))
    val fillers = (1000 until 1040).map(i =>
      (i.toLong, s"unique document number $i carrying words ${i * 7} ${i * 13} ${i * 31} nobody shares"))
    val docs = (cluster ++ fillers).toDF("doc_id", "text")

    val mh = Dedup.minhashPairs(docs).filter($"doc_a" < k && $"doc_b" < k)
    assert(mh.count() == k - 1, "minhash: cluster must emit exactly k-1 edges")
    assert(mh.filter($"doc_a" =!= 0L).count() == 0, "all edges point at the canonical min id")
    assert(mh.filter($"n_shared_bands" === 8).count() == k - 1, "identical docs share every band")

    val sh = Dedup.simhashPairs(docs).filter($"doc_a" < k && $"doc_b" < k)
    assert(sh.count() == k - 1, "simhash: cluster must emit exactly k-1 edges")
    assert(sh.filter($"hamming" === 0).count() == k - 1)
  }

  test("hot-bucket guard: embedding duplicate cluster emits star edges to its canonical") {
    import spark.implicits._
    val k = 100
    val rng = new scala.util.Random(7)
    val base = Seq.fill(64)(rng.nextDouble() * 2 - 1)
    val cluster = (0 until k).map(i => (i.toLong, base))
    val fillers = (1000 until 1040).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Seq.fill(64)(r.nextDouble() * 2 - 1))
    }
    val vecs = (cluster ++ fillers).toDF("vec_id", "emb")
    val pairs = Ann.embeddingPairs(vecs).filter($"vec_a" < k && $"vec_b" < k)
    assert(pairs.count() == k - 1, "embedding: cluster must emit exactly k-1 edges")
    assert(pairs.filter($"vec_a" =!= 0L).count() == 0)
    assert(pairs.filter($"cosine" < 0.9999).count() == 0)
  }

  test("hot-block guard: q62 fuzzy match emits O(k) star edges from a hot block") {
    import spark.implicits._
    // k identical names in one nation — one blocking key, the Zipf-hot
    // case: ungated this is C(k,2) Levenshtein pairs, guarded it is k-1
    // star edges from the block's minimum key
    val k = 100
    val hot = (0 until k).map(i => (i.toLong, "Customer#000000000AAAA", 7))
    val fillers = (1000 until 1040).map(i => (i.toLong, f"Customer#$i%09dXY", 3))
    val c = (hot ++ fillers).toDF("c_custkey", "c_name", "c_nationkey")
    val pairs = Dedup.fuzzyMatchPairs(c).filter($"key_a" < k && $"key_b" < k)
    assert(pairs.count() == k - 1, "hot block must emit exactly k-1 edges")
    assert(pairs.filter($"key_a" =!= 0L).count() == 0, "all edges from the canonical min key")
    assert(pairs.filter($"edit_dist" =!= 0).count() == 0)
  }

  test("xxhash64 hash mode finds the same duplicate pairs through the same guarded plan") {
    import spark.implicits._
    val k = 100
    val cluster = (0 until k).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again today"))
    val fillers = (1000 until 1040).map(i =>
      (i.toLong, s"unique document number $i carrying words ${i * 7} ${i * 13} ${i * 31} nobody shares"))
    val docs = (cluster ++ fillers).toDF("doc_id", "text")
    // identical texts hash identically under EITHER base hash, so the
    // duplicate star edges must be hash-mode independent; and the hot-
    // bucket guard must hold in xxhash64 mode exactly as in md5 mode
    for (mode <- Seq("md5", "xxhash64")) {
      val mh = Dedup.minhashPairs(docs, mode).filter($"doc_a" < k && $"doc_b" < k)
      assert(mh.count() == k - 1, s"$mode: cluster must emit exactly k-1 edges")
      assert(mh.filter($"n_shared_bands" === 8).count() == k - 1, s"$mode: all bands shared")
      val sh = Dedup.simhashPairs(docs, mode).filter($"doc_a" < k && $"doc_b" < k)
      assert(sh.filter($"hamming" === 0).count() == k - 1, s"$mode: simhash hamming 0")
      // jaccard runs on a 10-doc cluster: the 100-doc one exceeds the
      // shingle df cap (its shingles are "boilerplate" and get dropped,
      // correctly — identical-signature clusters are minhash's job)
      val small = ((0 until 10).map(i => (i.toLong, "small cluster of repeated text here")) ++
        fillers).toDF("doc_id", "text")
      val jc = Dedup.ngramJaccardPairs(small, mode).filter($"doc_a" < 10 && $"doc_b" < 10)
      assert(jc.count() == 45 && jc.filter($"jaccard" === 1.0).count() == 45,
        s"$mode: all C(10,2) pairs at jaccard 1.0")
    }
  }

  test("viral-shingle guard: q23 drops the over-cap shingle without buffering its posting list") {
    import spark.implicits._
    // One boilerplate phrase shared by 500 docs — df 10× the cap of 50.
    // Under the plain collect_set formulation this key buffers all 500
    // ids before the filter drops it; collect_set_capped spills the key
    // at 51 (the buffer-bound invariant is pinned in FunctionsSpec), so
    // here we assert the SEMANTICS survive: viral-shingle docs pair only
    // through genuinely shared content, and true dupes still score 1.0.
    val viral = (0 until 500).map(i =>
      (i.toLong, s"shared viral boilerplate opens every page then unique ${i * 7} ${i * 13} ${i * 31}"))
    val dupes = Seq(
      (9000L, "a genuinely duplicated document body nobody else carries"),
      (9001L, "a genuinely duplicated document body nobody else carries"))
    val out = Dedup.ngramJaccardPairs((viral ++ dupes).toDF("doc_id", "text"))
    assert(out.filter($"doc_a" < 500 && $"doc_b" < 500).count() == 0,
      "viral-shingle docs share only capped shingles — no pairs")
    val dup = out.filter($"doc_a" === 9000L).collect()
    assert(dup.length == 1 && dup.head.getAs[Long]("doc_b") == 9001L &&
      dup.head.getAs[Double]("jaccard") == 1.0,
      "the true duplicate pair must survive the guard at jaccard 1.0")
  }

  test("materialized band index: two batches probe one bucketed table with no index-side exchange") {
    import org.apache.spark.sql.functions._
    val table = "neardup_index_test"
    graft.sources.TablePointer.dropAll(spark, table, Dedup.BandSuffixes)

    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    Dedup.refreshIndex(d, table, numBuckets = 8)

    // batch 1 (exact copies) and batch 2 (revised near-dups) probe the
    // SAME standing table — the index is never re-built between ingests
    val b1 = d.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    val b2 = d.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 20000)
      .withColumn("text", concat(col("text"), lit(" revised edition")))
    for (b <- Seq(b1, b2)) {
      val fromTable = Dedup.probeIndex(spark, table, b)
      val selfContained = Dedup.incrementalMinhash(d, b)
      assert(fromTable.exceptAll(selfContained).count() == 0 &&
        selfContained.exceptAll(fromTable).count() == 0,
        "table-backed probe must equal the self-contained q83 path")
    }

    // co-location: force the shuffle-join path (broadcast would hide the
    // bucketing) and assert the only (band_idx, band_hash) exchange is
    // the probe side's — the index scan is bucketed on the join keys
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planString(Dedup.probeIndex(spark, table, b1))
      assert(p.contains("Bucketed: true"), p.take(600))
      assert("Exchange hashpartitioning\\(band_idx".r.findAllIn(p).size == 1,
        s"only the probe side may exchange on the band keys:\n${p.take(800)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("appendIndex: an admitted batch joins the standing band index without a corpus rebuild") {
    import org.apache.spark.sql.functions._
    val table = "neardup_append_test"
    graft.sources.TablePointer.dropAll(spark, table, Dedup.BandSuffixes)

    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    Dedup.refreshIndex(d.filter(col("doc_id") % 2 === 0), table, numBuckets = 8)
    Dedup.appendIndex(spark, table, d.filter(col("doc_id") % 2 === 1))

    // exact copies of APPENDED docs must flag against their append-half
    // source — proof the append is probe-visible
    val probe = d.filter(col("doc_id") % 2 === 1 && col("doc_id") < 40)
      .withColumn("doc_id", col("doc_id") + 90000)
    val out = Dedup.probeIndex(spark, table, probe).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Int]("is_near_dup") == 1 &&
        r.getAs[java.lang.Long]("match_doc_id") ==
          r.getAs[Long]("batch_doc_id") - 90000, r.toString)
    }
    // refresh(A) + append(B) answers this probe exactly like a full
    // rebuild over A∪B (no hot buckets span the halves at this SF)
    val fromTable = Dedup.probeIndex(spark, table, probe)
    val full = Dedup.incrementalMinhash(d, probe)
    assert(fromTable.exceptAll(full).count() == 0 &&
      full.exceptAll(fromTable).count() == 0)
    // appends must not degrade the scan: still bucketed, probe-side-only
    // exchange on the band keys
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planString(Dedup.probeIndex(spark, table, probe))
      assert(p.contains("Bucketed: true"), p.take(600))
      assert("Exchange hashpartitioning\\(band_idx".r.findAllIn(p).size == 1,
        p.take(800))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("compaction trigger: appends grow per-bucket files, the refresh restores one file per bucket and re-tightens the guard") {
    import spark.implicits._
    import graft.sources.Ingest
    val table = "neardup_compact_test"
    graft.sources.TablePointer.dropAll(spark, table, Dedup.BandSuffixes)

    // a band bucket that crosses MaxBucket only ACROSS appends: the
    // refresh half holds exactly MaxBucket copies (guard keeps all),
    // each append alone is under the cap (per-append guard keeps all) —
    // the over-cap state exists only table-wide, which is exactly the
    // case the append docstring concedes and the refresh must re-tighten
    val hot = "identical viral boilerplate sentence repeated across the " +
      "whole corpus by an aggressive template engine every day"
    val m = Dedup.MaxBucket
    val refreshHalf = ((1 to m).map(i => (i.toLong, hot)) ++
      (1000 to 1040).map(i =>
        (i.toLong, s"unique filler document number $i carrying assorted " +
          s"vocabulary item$i and nothing shared"))).toDF("doc_id", "text")
    Dedup.refreshIndex(refreshHalf, table, numBuckets = 8)
    assert(Ingest.bucketFileCounts(spark, phys(table)).values.max == 1,
      "a refresh lands ONE file per bucket")
    assert(!Ingest.needsCompaction(spark, phys(table), 1))

    // three appends of hot copies: at most one new file per touched
    // bucket per append — files-per-bucket counts appends, not tasks
    val appends = (m + 1 to 2 * m).map(i => (i.toLong, hot)).grouped(22).toSeq
    appends.foreach(b => Dedup.appendIndex(spark, table, b.toDF("doc_id", "text")))
    val counts = Ingest.bucketFileCounts(spark, phys(table))
    assert(counts.values.max > 1 && counts.values.max <= 1 + appends.size,
      counts.toString)
    assert(Ingest.needsCompaction(spark, phys(table), appends.size),
      s"the trigger must trip at ${counts.values.max} files/bucket")

    // the hot bucket is over-cap across appends: 2m members per band key
    val hotRowsBefore = spark.table(phys(table))
      .filter(col("match_doc_id") <= 2 * m).count()
    assert(hotRowsBefore == 2L * m * 8,
      s"per-append guards each kept their under-cap half: $hotRowsBefore")

    // the refresh IS the compaction: one file per bucket again, and the
    // now-over-cap bucket collapses to its canonical star
    val full = refreshHalf.unionByName(
      (m + 1 to 2 * m).map(i => (i.toLong, hot)).toDF("doc_id", "text"))
    Dedup.refreshIndex(full, table, numBuckets = 8)
    assert(Ingest.bucketFileCounts(spark, phys(table)).values.max == 1)
    assert(!Ingest.needsCompaction(spark, phys(table), 1))
    val hotRowsAfter = spark.table(phys(table))
      .filter(col("match_doc_id") <= 2 * m).count()
    assert(hotRowsAfter == 8L,
      s"guard re-tightened to one canonical per band: $hotRowsAfter")
  }

  test("q93 spans cover exactly the shared substring, not the whole document") {
    import spark.implicits._
    // two docs share a 10-token boilerplate opening; tails are unique.
    // k = 8 ⇒ the shared prefix contributes gram positions 1..3 (1-based),
    // one island, dup span = (3 − 1) + 8 = 10 tokens — exactly the prefix.
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"$shared unique tail first with words 11 13 17 19 23 29"),
      (2L, s"$shared another closing entirely distinct 31 37 41 43 47 53"),
      (3L, "completely unrelated text with enough tokens to form grams today")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSubstrings(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(1L, 2L).foreach { id =>
      assert(out(id).getAs[Long]("n_dup_spans") == 1L, s"doc $id span count")
      assert(out(id).getAs[Long]("dup_tokens") == 10L,
        s"doc $id must flag exactly the 10 shared tokens, got ${out(id)}")
      assert(out(id).getAs[Long]("longest_span_tokens") == 10L)
    }
    assert(!out.contains(3L), "a doc with no cross-doc gram must not be flagged")
  }

  test("q94 cut removes exactly the shared prefix and keeps the unique tail byte-for-byte") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tail1 = "unique tail first with words 11 13 17 19 23 29"
    val tail3 = "completely unrelated text with enough tokens to form grams today"
    val tail4 = "Mixed Case Tail Preserved With Seven More Original Tokens"
    val docs = Seq(
      (1L, s"$shared $tail1"),
      (2L, s"$shared another closing entirely distinct 31 37 41 43 47 53"),
      (3L, tail3),
      // the shared prefix is matched CASE-INSENSITIVELY (gram keys are
      // lowercased) but the kept tail must keep its ORIGINAL case — the
      // cut removes spans, it does not normalize the corpus (ADVICE r8)
      (4L, s"${shared.toUpperCase} $tail4")
    ).toDF("doc_id", "text")
    val out = Dedup.cutRepeatedSubstrings(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    def md5Of(s0: String): String =
      spark.sql(s"SELECT md5('$s0')").head().getString(0)
    assert(out(1L).getAs[Long]("n_kept_tokens") == 11L)
    assert(out(1L).getAs[String]("kept_md5") == md5Of(tail1),
      "doc 1 must keep its unique tail verbatim")
    assert(out(2L).getAs[Long]("n_kept_tokens") == 10L)
    assert(out(3L).getAs[Long]("n_kept_tokens") == 10L)
    assert(out(3L).getAs[String]("kept_md5") == md5Of(tail3),
      "an unaffected doc must survive the cut byte-for-byte")
    assert(out(4L).getAs[Long]("n_kept_tokens") == 9L)
    assert(out(4L).getAs[String]("kept_md5") == md5Of(tail4),
      "an upper-case span must be matched and cut, and the kept tail " +
        "must keep its original case")
  }

  test("hot-bucket guard preserves small-bucket pairwise semantics below the threshold") {
    import spark.implicits._
    // 10 identical docs — below MaxBucket, so the full pairwise set appears
    val docs = ((0 until 10).map(i => (i.toLong, "small cluster of repeated text here")) ++
      (100 until 110).map(i => (i.toLong, s"filler doc $i has words ${i * 3} ${i * 11} only")))
      .toDF("doc_id", "text")
    val mh = Dedup.minhashPairs(docs).filter($"doc_a" < 10 && $"doc_b" < 10)
    assert(mh.count() == 45, "10-doc cluster below threshold keeps all C(10,2) pairs")
  }

  test("q83 incremental probe flags exact copies at 8 bands and misses nothing it should hit") {
    val out = Dedup.q83IncrementalMinhash(spark, Sf)
    // the +10000 slice is byte-identical to its source doc: all 8 bands
    // collide and the best match is the source itself (or an even-lower
    // doc sharing identical text — never a non-match)
    val exact = out.filter(col("batch_doc_id") >= 10000 && col("batch_doc_id") < 20000)
    assert(exact.count() > 0)
    assert(exact.filter(col("n_shared_bands") =!= 8 || col("is_near_dup") =!= 1).count() == 0,
      "every exact copy must share all 8 bands")
    // the 'revised edition' slice appends two words: near-dup, still ≥4 bands
    val revised = out.filter(col("batch_doc_id") >= 20000)
    assert(revised.count() > 0)
    assert(revised.filter(col("is_near_dup") === 1).count() == revised.count(),
      "appending two words must not break band-level similarity")
  }

  test("q83 hot index buckets probe through their canonical only: O(1) per probe, not O(k)") {
    import spark.implicits._
    val k = 100
    val clusterText = "the quick brown fox jumps over the lazy dog again and again today"
    val index = ((0 until k).map(i => (i.toLong, clusterText)) ++
      (1000 until 1040).map(i =>
        (i.toLong, s"unique document number $i carrying words ${i * 7} ${i * 13} ${i * 31} nobody shares")))
      .toDF("doc_id", "text")
    val batch = Seq((50000L, clusterText)).toDF("doc_id", "text")
    val hits = Dedup.incrementalMinhash(index, batch)
    // the probe doc collides with ALL k cluster members' buckets, but the
    // guard routes it to the canonical member only — one output row,
    // matched at the canonical id 0 with all bands shared
    assert(hits.count() == 1)
    val r = hits.collect().head
    assert(r.getAs[Long]("match_doc_id") == 0L &&
      r.getAs[Long]("n_shared_bands") == 8L && r.getAs[Int]("is_near_dup") == 1)
  }

  test("q86 flags every injected rescale of a benchmark vector as contaminated") {
    val out = Ann.q86EmbedDecontaminate(spark, Sf).cache()
    // injected +10000 rescales of benchmark (%97) vectors are guaranteed
    // semantic leaks: same direction, cosine 1.0, same sign bucket
    val leaks = Ann.embCorpus(spark, Sf)
      .filter(col("vec_id") >= 10000 && (col("vec_id") - 10000) % 97 === 0)
      .select("vec_id")
    val n = leaks.count()
    assert(n > 0, "test data must contain at least one injected benchmark rescale")
    val matched = out.join(leaks, "vec_id")
    assert(matched.count() == n, "every injected benchmark rescale must surface")
    assert(matched.filter(col("is_contaminated") =!= 1 ||
      col("bench_id") =!= col("vec_id") - 10000).count() == 0,
      "each leak must flag contaminated and match its own source")
    // benchmark members themselves never appear on the probe side
    assert(out.filter(col("vec_id") % 97 === 0 && col("vec_id") < 10000).count() == 0)
    out.unpersist()
  }

  test("q25 brute-force ANN returns a full descending top-10 per query") {
    val rows = Ann.q25AnnBruteforce(spark, Sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 10, s"query $q: ${rs.length} neighbors")
      val cosines = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b },
        s"query $q: cosines not descending")
    }
  }

  test("q131 threshold sweep is monotone and its 0.5 row equals q23 exactly") {
    val sweep = Dedup.q131ThresholdSweep(spark, Sf).collect()
      .map(r => r.getAs[Double]("tau") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs_flagged"),
          r.getAs[Long]("chars_dropped"))).toMap
    assert(sweep.size == 6)
    // tightening tau can only shrink every column
    val ordered = sweep.toSeq.sortBy(_._1).map(_._2)
    ordered.sliding(2).foreach {
      case Seq((p1, d1, c1), (p2, d2, c2)) =>
        assert(p2 <= p1 && d2 <= d1 && c2 <= c1, "sweep not monotone")
      case _ =>
    }
    // the 0.5 row is q23's published pair table, counted
    val q23 = Dedup.q23NgramJaccard(spark, Sf).collect()
    assert(sweep(0.5)._1 == q23.length, s"${sweep(0.5)._1} vs ${q23.length}")
    assert(sweep(0.5)._2 ==
      q23.map(_.getAs[Long]("doc_b")).distinct.length.toLong)
  }

  test("q130 hard negatives exclude the planted near-dup and stay below the threshold") {
    val rows = Ann.q130HardNegatives(spark, Sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      // full descending top-10, no self, every cosine strictly under eps
      assert(rs.length == 10, s"query $q: ${rs.length}")
      val ordered = rs.sortBy(_.getAs[Int]("rank"))
      val cosines = ordered.map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b }, s"q $q order")
      assert(cosines.forall(_ < 0.99), s"q $q leaked a near-dup")
      assert(!rs.exists(_.getAs[Long]("n_id") == q), s"q $q returned itself")
      // the audit count is a per-query constant
      assert(rs.map(_.getAs[Long]("n_dups_excluded")).distinct.length == 1)
    }
    // query 0 has a planted re-encode (vec 10000, cosine ≈ 1): it must be
    // EXCLUDED from the negatives and counted in the audit column
    val q0 = byQ(0L)
    assert(!q0.exists(_.getAs[Long]("n_id") == 10000L), "planted dup leaked")
    assert(q0.head.getAs[Long]("n_dups_excluded") >= 1L, "exclusion not counted")
  }

  test("labelPropagate: a planted re-encode adopts its source's label at k=1; q144 votes are bounded") {
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
    val seeds = e.select(col("vec_id").as("s_id"), col("emb").as("semb"), col("label"))
    // targets = 1.01-scaled re-encodes: cosine to the source is exactly 1
    // up to per-component double rounding, so the nearest seed IS the
    // source and k=1 propagation must recover every source label
    val targets = e.select((col("vec_id") + 10000L).as("t_id"),
      expr("transform(emb, x -> x * 1.01)").as("temb"))
    val truth = e.select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val out = Ann.labelPropagate(seeds, targets, k = 1).collect()
    assert(out.length == truth.size)
    out.foreach { r =>
      val src = r.getAs[Long]("vec_id") - 10000L
      assert(r.getAs[Int]("pred_label") == truth(src), s"target of $src")
      assert(r.getAs[Long]("votes") == 1L)
      assert(r.getAs[Double]("best_cosine") >= 0.9999, s"twin cosine of $src")
    }
    // the oracle query's shape: one row per target, votes within [1, k]
    val q = Ann.q144LabelPropagation(spark, Sf).collect()
    assert(q.nonEmpty && q.forall { r =>
      val v = r.getAs[Long]("votes"); v >= 1L && v <= 5L
    })
  }

  test("propagateLabelsIndexed: the standing-index twin recovers every planted source label at k=1") {
    import org.apache.spark.sql.functions._
    val table = "labelprop_pq_test"
    dropPqTables(table)
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    Ann.refreshPqIndex(e, table, splits = 1)
    // targets = 1.01 re-encodes of the indexed members: each one's own
    // cell holds its source at cosine ≈ 1, so the index-backed vote at
    // k=1 must recover the source label — the exact path's contract,
    // now served from standing state
    val targets = e.select((col("vec_id") + 10000L).as("vec_id"),
      expr("transform(emb, x -> x * 1.01)").as("emb"))
    val labels = e.select(col("vec_id").as("s_id"), col("label"))
    val truth = e.select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val out = Ann.propagateLabelsIndexed(spark, table, targets, labels, k = 1)
      .collect()
    assert(out.length == truth.size)
    out.foreach { r =>
      val src = r.getAs[Long]("vec_id") - 10000L
      assert(r.getAs[Int]("pred_label") == truth(src), s"target of $src")
      assert(r.getAs[Double]("best_cosine") >= 0.999, s"twin cosine of $src")
    }
    dropPqTables(table)
  }

  test("propagateLabelsMultiHop: a 2-hop chain labels in round 2 with decayed confidence; one hop leaves it unlabeled") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a geometric chain in span(e1, e2): seed S at 0°, target A at 50°,
    // target B at 110°. cos(S,A) = .643, cos(A,B) = cos 60° = .5,
    // cos(S,B) = cos 110° = −.342 — so at k = 1, A's nearest index
    // member is S (labels round 1) and B's is A (unlabeled in round 1,
    // labeled in round 2: the exact 2-hop case one-hop propagation
    // geometrically cannot reach)
    val table = "labelprop_hops"
    dropPqTables(table)
    def vec(deg: Double): Seq[Double] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r), math.sin(r)) ++ Seq.fill(62)(0.0)
    }
    val members = Seq(
      (1L, vec(0), "c0"), (2L, vec(50), "c0"), (3L, vec(110), "c0"))
      .toDF("vec_id", "emb", "label")
    Ann.refreshPqIndex(members, table, splits = 1)
    val targets = members.filter(col("vec_id") > 1L).select("vec_id", "emb")
    val labels = Seq((1L, "red")).toDF("s_id", "label")
    // ONE hop: only A labels (B's sole k=1 candidate is unlabeled A)
    val oneHop = Ann.propagateLabelsIndexed(spark, table, targets, labels,
      k = 1, nprobe = 1).collect()
    assert(oneHop.map(_.getAs[Long]("vec_id")).toSet == Set(2L), oneHop.mkString)
    // TWO hops: B adopts A's label in round 2 at decay² confidence
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Ann.propagateLabelsMultiHop(spark, table, targets, labels,
        k = 1, rounds = 2, decay = 0.5, nprobe = 1)
    val rows = out.collect().map(r => r.getAs[Long]("vec_id") ->
      (r.getAs[String]("pred_label"), r.getAs[Double]("confidence"),
        r.getAs[Int]("round"))).toMap
    assert(rows == Map(
      2L -> (("red", 0.5, 1)),
      3L -> (("red", 0.25, 2))), rows.toString)
    // the loop self-frees every superseded pin (the CC discipline): the
    // only propagation state left is the ONE returned checkpoint, and
    // freeing it leaves the session clean
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).size <= 1,
      "the loop must hold O(1) pinned state, not O(rounds)")
    graft.Frames.freePinned(out)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "zero pinned RDDs after freeing the result")
    // the EXACT kernel's oracle instance (q151, planted 3-4-5 chains):
    // every hop-1 target labels in round 1 at decay, every hop-2 target
    // in round 2 at decay² THROUGH its chain's adoptee — 24 rows total
    val q151 = Ann.q151MultihopLabels(spark, Sf).collect()
    assert(q151.length == 24, q151.length.toString)
    q151.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val chain = (id % 1000).toInt
      assert(r.getAs[String]("pred_label") == s"L$chain", r.toString)
      assert(r.getAs[Long]("votes") == 1L &&
        r.getAs[Double]("best_cosine") == 0.8, r.toString)
      if (id < 3000)
        assert(r.getAs[Int]("round") == 1 &&
          r.getAs[Double]("confidence") == 0.5, r.toString)
      else
        assert(r.getAs[Int]("round") == 2 &&
          r.getAs[Double]("confidence") == 0.25, r.toString)
    }
    dropPqTables(table)
  }

  test("q137 contrastive pairs: every anchor's positive is its planted twin; negatives stay under eps") {
    val rows = Ann.q137ContrastivePairs(spark, Sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    // exactly the anchors WITH a planted re-encode (vec_id % 5 == 0
    // under 25) emit pairs — no positive, no training row
    assert(byQ.keySet == Set(0L, 5L, 10L, 15L, 20L), byQ.keySet.toString)
    byQ.foreach { case (q, rs) =>
      // the positive is the planted twin, at near-1 cosine, constant
      // across the anchor's rows
      assert(rs.map(_.getAs[Long]("pos_id")).distinct.toSeq == Seq(q + 10000),
        s"q $q pos")
      assert(rs.head.getAs[Double]("pos_cosine") >= 0.99, s"q $q pos cos")
      // full descending top-5 negatives strictly under the threshold
      val ordered = rs.sortBy(_.getAs[Int]("rank"))
      assert(ordered.map(_.getAs[Int]("rank")).toSeq == (1 to 5), s"q $q ranks")
      val cos = ordered.map(_.getAs[Double]("neg_cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, s"q $q order")
      assert(cos.forall(_ < 0.99), s"q $q leaked a near-dup negative")
      assert(!rs.exists(r => r.getAs[Long]("neg_id") == q ||
        r.getAs[Long]("neg_id") == q + 10000), s"q $q self/positive as negative")
    }
  }

  test("q138 band calibration: recall 1.0 at the full-band threshold, counts monotone in threshold") {
    val cal = graft.operators.Dedup.q138BandCalibration(spark, Sf).collect()
    assert(cal.map(_.getAs[Int]("threshold")).toSeq == (1 to 8), cal.mkString)
    // truth = the re-ingested exact copies (the corpus is otherwise
    // duplicate-free), one pair per planted doc
    val planted = spark.read.parquet(s"$Sf/documents.parquet")
      .filter(col("doc_id") % 5 === 0).count()
    assert(cal.forall(_.getAs[Long]("n_truth") == planted), cal.mkString)
    // flagged and tp shrink as the threshold tightens; recall is exactly
    // 1.0 at 8 shared bands (an exact copy shares every band)
    val flagged = cal.map(_.getAs[Long]("n_flagged"))
    val tp = cal.map(_.getAs[Long]("n_tp"))
    assert(flagged.zip(flagged.tail).forall { case (a, b) => a >= b })
    assert(tp.zip(tp.tail).forall { case (a, b) => a >= b })
    assert(cal.last.getAs[Double]("recall_r") == 1.0, cal.last.toString)
    assert(cal.last.getAs[Long]("n_tp") == planted)
    // the calibration story: precision at the full-band threshold beats
    // the chance-collision floor at threshold 1
    assert(cal.last.getAs[Double]("precision_r") >=
      cal.head.getAs[Double]("precision_r"), cal.mkString)
  }

  test("mineHardNegatives: the index-backed twin keeps q130's contract over both standing families") {
    import org.apache.spark.sql.functions._
    // round 12 (VERDICT r11 #4): same threshold-split + rank seam as
    // q130, candidates from the STANDING index instead of the brute
    // cross product — built on the planted re-encode corpus so the
    // exclusion audit genuinely bites
    val corpus = Ann.embCorpus(spark, Sf)
    val queries = corpus.filter(col("vec_id") < 5).select("vec_id", "emb")
    val exact = Ann.q130HardNegatives(spark, Sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("n_id")).toSet }

    val pqT = "hn_pq_test"
    dropPqTables(pqT)
    Ann.refreshPqIndex(corpus.select("vec_id", "emb", "label"), pqT,
      quantizer = "kmeans")
    val rows = Ann.mineHardNegatives(spark, pqT, queries,
      eps = 0.99, k = 10, nprobe = 8).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      val ordered = rs.sortBy(_.getAs[Int]("rank"))
      assert(ordered.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length),
        s"q $q ranks")
      val cosines = ordered.map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b },
        s"q $q order")
      assert(cosines.forall(_ < 0.99), s"q $q leaked a near-dup")
      assert(!rs.exists(_.getAs[Long]("n_id") == q), s"q $q self")
      assert(rs.map(_.getAs[Long]("n_dups_excluded")).distinct.length == 1)
    }
    // query 0's planted re-encode (vec 10000, cosine ≈ 1) must be
    // surfaced by the index, excluded, and counted
    val q0 = byQ(0L)
    assert(!q0.exists(_.getAs[Long]("n_id") == 10000L),
      "planted dup leaked")
    assert(q0.head.getAs[Long]("n_dups_excluded") >= 1L,
      "exclusion not counted")
    // recall floor vs the exact top-10: the index surfaces a usable
    // fraction of the TRUE hardest negatives (these synthetic vectors
    // have no cluster geometry, so nprobe bounds absolute recall —
    // the gate is a floor, not equality)
    val overlap = byQ.map { case (q, rs) =>
      rs.map(_.getAs[Long]("n_id")).toSet.intersect(exact(q)).size.toDouble /
        exact(q).size
    }
    val mean = overlap.sum / overlap.size
    assert(mean >= 0.2, s"mean recall vs exact negatives: $mean")

    // the lazy body's plan: candidates only ever ride broadcast joins —
    // never a corpus-sized shuffle join or a cartesian (the q112Lazy
    // plan-assert pattern; the public entry pins its result eagerly)
    val (lazyRes, pin) = Ann.mineHardNegativesLazy(spark, pqT, queries,
      0.99, 10, 8, 64)
    // unpersist FIRST: a pinned candidate frame would hide the join
    // shapes behind an InMemoryTableScan and make the assertion vacuous
    pin.unpersist(false)
    val p = planString(lazyRes)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("IVF ANN recalls every genuinely-near neighbor at rank 1") {
    val top1 = Ann.ivfTopK(spark, Sf).filter(col("rank") === 1)
      .collect().map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("n_id"), r.getAs[Double]("cosine"))).toMap
    val expected = top1.keySet.filter(q => q % 5 == 0 && q < 50)
    assert(expected.nonEmpty)
    expected.foreach { q =>
      val (n, cos) = top1(q)
      assert(n == q + 10000, s"query $q: IVF top-1 was $n, expected ${q + 10000}")
      assert(cos >= 0.99)
    }
  }

  test("q81 deterministic IVF: valid per-query top-k and a recall floor vs exact") {
    val ivf = Ann.q81AnnIvf(spark, Sf).collect()
    val byQ = ivf.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      val cosines = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b },
        s"query $q: cosines not descending")
      assert(rs.map(_.getAs[Long]("n_id")).distinct.length == rs.length)
      assert(!rs.exists(_.getAs[Long]("n_id") == q), s"query $q returned itself")
    }
    // recall@10 against the exact baseline on the shared query set —
    // deterministic quantizer, deterministic data, so the floor is stable
    val exact = Ann.q25AnnBruteforce(spark, Sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("n_id")).toSet }
    val recalls = exact.map { case (q, want) =>
      val got = byQ.get(q).map(_.map(_.getAs[Long]("n_id")).toSet).getOrElse(Set.empty)
      (want & got).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.35, f"IVF recall@10 $mean%.2f below floor (nprobe 3/10 cells)")
  }

  test("q109 PQ ADC: valid per-query top-k, true-cosine scores, and a recall floor vs exact") {
    val pq = Ann.q109AnnPq(spark, Sf).collect()
    val byQ = pq.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length),
        s"query $q: ranks not contiguous")
      val cosines = sorted.map(_.getAs[Double]("adc_cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b },
        s"query $q: ADC cosines not descending")
      // ADC scores ARE cosines (of the query vs a reconstruction), so
      // they cannot leave [-1, 1] beyond the 4dp rounding step
      assert(cosines.forall(c => c >= -1.0001 && c <= 1.0001), s"query $q: $cosines")
      assert(rs.map(_.getAs[Long]("n_id")).distinct.length == rs.length)
      assert(!rs.exists(_.getAs[Long]("n_id") == q), s"query $q returned itself")
    }
    // recall@10 of the 4-byte code (64× compression, no reranking)
    // against the exact float baseline over the SAME 50-query set
    // (ADVICE r9: verifying only q25's 5-query prefix left 45 of 50
    // queries unchecked) — deterministic codebook and data, so the
    // floor is stable
    val exact = Ann.q25AnnBruteforce(spark, Sf, nQueries = 50).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("n_id")).toSet }
    val recalls = exact.map { case (q, want) =>
      val got = byQ.get(q).map(_.map(_.getAs[Long]("n_id")).toSet).getOrElse(Set.empty)
      (want & got).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    // floor recalibrated with the 50-query baseline: the old 5-query
    // sample measured 0.40, the full set measures 0.24 — the honest
    // number for UNRERANKED 4-bit codes (q110's rerank is the accuracy
    // path; this query is the compression baseline by design)
    assert(mean >= 0.20, f"PQ ADC recall@10 $mean%.2f below floor (4-bit sign codes)")
  }

  test("q110 IVF-PQ rerank: reranked cosines are the TRUE cosines, and the stack's recall tracks plain IVF") {
    val out = Ann.q110IvfPq(spark, Sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      val cosines = sorted.map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
      assert(!rs.exists(_.getAs[Long]("n_id") == q))
    }
    // the rerank contract: a returned (q, n) pair's cosine equals the
    // EXACT brute-force value for that pair — ADC approximated only the
    // cut, never the published score. The baseline covers the stack's
    // FULL 50-query set (ADVICE r9), so every query is value-verified
    val exactRows = Ann.q25AnnBruteforce(spark, Sf, nQueries = 50).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) ->
        r.getAs[Double]("cosine")).toMap
    val overlapping = out.flatMap { r =>
      exactRows.get((r.getAs[Long]("q_id"), r.getAs[Long]("n_id")))
        .map(ex => (r.getAs[Double]("cosine"), ex))
    }
    assert(overlapping.nonEmpty, "stack and exact baseline share no pairs")
    overlapping.foreach { case (got, want) =>
      assert(got == want, s"reranked cosine $got != exact $want")
    }
    // recall@10 vs exact over the full 50-query set: the stack cannot
    // beat its coarse stage (same cells as q81) and the C=32 ADC cut
    // should cost little below it
    val exact = Ann.q25AnnBruteforce(spark, Sf, nQueries = 50).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("n_id")).toSet }
    val recalls = exact.map { case (q, want) =>
      val got = byQ.get(q).map(_.map(_.getAs[Long]("n_id")).toSet).getOrElse(Set.empty)
      (want & got).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.30, f"IVF-PQ-rerank recall@10 $mean%.2f below floor")
  }

  test("q26 LSH ANN recalls every genuinely-near neighbor at rank 1") {
    // queries with an injected near-dup (vec_id % 5 == 0 → +10000 at
    // cosine ≈ 1) must surface it as their top hit — LSH's recall contract
    val top1 = Ann.q26AnnLsh(spark, Sf).filter(col("rank") === 1)
      .collect().map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("n_id"), r.getAs[Double]("cosine"))).toMap
    val expected = top1.keySet.filter(q => q % 5 == 0 && q < 50)
    assert(expected.nonEmpty)
    expected.foreach { q =>
      val (n, cos) = top1(q)
      assert(n == q + 10000, s"query $q: top-1 was $n, expected ${q + 10000}")
      assert(cos >= 0.99, s"query $q: cosine $cos")
    }
  }

  test("q95 semdedup drops exactly one member of every injected twin pair") {
    val out = Ann.q95SemDedup(spark, Sf).cache()
    val corpus = Ann.embCorpus(spark, Sf)
    assert(out.count() == corpus.count(), "every corpus vector gets a decision row")
    // group by the base id: twin groups (orig + rescale) lose exactly one
    // member; singletons (random 64-dim vectors, cosine ≪ 0.99 apart)
    // lose none
    val g = out.withColumn("base", col("vec_id") % 10000)
      .groupBy("base").agg(
        count(lit(1)).as("n"),
        sum(lit(1) - col("kept")).as("ndrop"))
    assert(g.filter(col("n") === 2).count() ==
      corpus.filter(col("vec_id") >= 10000).count())
    assert(g.filter(col("n") === 2 && col("ndrop") =!= 1).count() == 0,
      "each twin pair must lose exactly one member")
    assert(g.filter(col("n") === 1 && col("ndrop") =!= 0).count() == 0,
      "no singleton may be dropped")
    // keep policy: the survivor is the twin LESS similar to its centroid
    // (greedy order is csim ASC, so the kept member's csim is <= — rounding
    // is monotone, so the comparison survives the 4dp output rounding)
    val twins = out.withColumn("base", col("vec_id") % 10000)
    val kept = twins.filter(col("kept") === 1)
      .select(col("base"), col("centroid_sim").as("kept_sim"))
    val dropped = twins.filter(col("kept") === 0)
      .select(col("base"), col("centroid_sim").as("drop_sim"))
    assert(kept.join(dropped, "base").filter(col("kept_sim") > col("drop_sim"))
      .count() == 0, "kept member must not be closer to the centroid than its dropped twin")
    out.unpersist()
  }

  test("semdedup hot-cluster guard: a viral embedding keeps exactly its first-scanned copy") {
    import spark.implicits._
    val k = 100 // > MaxBucket: every (cell, band) group the cluster lands on is hot
    val rng = new scala.util.Random(11)
    val base = Seq.fill(64)(rng.nextDouble() * 2 - 1)
    val cluster = (0 until k).map(i => (i.toLong, base, 0))
    // distinct label so the filler centroid pulls the random vectors into
    // their own cell: the viral cluster's cell then holds ONLY the k
    // copies, and each hot (cell, band) group's first-scanned member is a
    // cluster copy by construction
    val fillers = (1000 until 1040).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Seq.fill(64)(r.nextDouble() * 2 - 1), 1)
    }
    val vecs = (cluster ++ fillers).toDF("vec_id", "emb", "label")
    val out = Ann.semDedup(vecs).cache()
    assert(out.count() == k + 40)
    // identical vectors tie on centroid_sim, so the greedy order falls to
    // vec_id: the cluster's minimum id survives, all other copies drop —
    // through O(k) star edges, not O(k²) pairs (guardedPairs' bound)
    val clusterRows = out.filter(col("vec_id") < k)
    assert(clusterRows.filter(col("kept") === 1).count() == 1)
    assert(clusterRows.filter(col("kept") === 1).head.getAs[Long]("vec_id") == 0L)
    assert(out.filter(col("vec_id") >= 1000 && col("kept") === 0).count() == 0,
      "random fillers must all survive")
    out.unpersist()
  }

  test("semdedup is idempotent on its kept set") {
    // every ≥eps pair had its later member dropped, so re-running on the
    // survivors finds no duplicate left to drop (the injected twins are
    // the only ≥0.99 pairs in the corpus, and they never straddle cells)
    val corpus = Ann.embCorpus(spark, Sf)
    val first = Ann.q95SemDedup(spark, Sf)
    val kept = corpus.join(first.filter(col("kept") === 1).select("vec_id"), "vec_id")
    val second = Ann.semDedup(kept)
    assert(second.filter(col("kept") === 0).count() == 0,
      "second pass must drop nothing")
    assert(second.count() == first.filter(col("kept") === 1).count())
  }

  test("q97 probe flags every re-encoded batch vector and passes every inverted one") {
    val out = Ann.q97SemProbe(spark, Sf).cache()
    // re-encodes (×0.99, +40000): same direction, cosine 1.0 — must flag
    // with their own source as the best match
    val re = out.filter(col("vec_id") >= 40000 && col("vec_id") < 50000)
    assert(re.count() > 0)
    assert(re.filter(col("is_dup") =!= 1).count() == 0,
      "every re-encoded batch vector must flag as a duplicate")
    assert(re.filter(col("match_vec_id") =!= col("vec_id") - 40000).count() == 0,
      "each re-encode must match its own source")
    // inversions (×-1, +50000): cosine −1 to their source, ≪ 0.99 to
    // everything else — must pass admission
    val inv = out.filter(col("vec_id") >= 50000)
    assert(inv.count() > 0)
    assert(inv.filter(col("is_dup") =!= 0).count() == 0,
      "no inverted batch vector may flag")
    out.unpersist()
  }

  test("semProbe hot index guard: a viral index cluster surfaces once per probe") {
    import spark.implicits._
    val k = 100
    val rng = new scala.util.Random(13)
    val base = Seq.fill(64)(rng.nextDouble() * 2 - 1)
    val cluster = (0 until k).map(i => (i.toLong, base, 0))
    val fillers = (1000 until 1040).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Seq.fill(64)(r.nextDouble() * 2 - 1), 1)
    }
    val index = (cluster ++ fillers).toDF("vec_id", "emb", "label")
    val batch = Seq((90000L, base)).toDF("vec_id", "emb")
    val out = Ann.semProbe(index, batch).collect()
    // ONE output row, matched to the cluster's canonical member — the
    // asymmetric guard probed the hot (cell, band) groups through vec 0
    // only, so the viral cluster cannot multiply candidates
    assert(out.length == 1)
    assert(out.head.getAs[Long]("match_vec_id") == 0L)
    assert(out.head.getAs[Int]("is_dup") == 1)
  }

  test("q96 semdedup report accounts for every member and every dropped vector") {
    val rep = Ann.q96SemDedupReport(spark, Sf).cache()
    val corpus = Ann.embCorpus(spark, Sf)
    assert(rep.agg(sum("n_members")).head.getLong(0) == corpus.count())
    assert(rep.agg(sum("n_dropped")).head.getLong(0) ==
      corpus.filter(col("vec_id") >= 10000).count(),
      "report drop total must equal the injected twin count")
    assert(rep.filter(col("dup_pairs") > col("pairs_checked")).count() == 0)
    assert(rep.filter(col("n_dropped") > col("dup_pairs")).count() == 0,
      "every dropped vector needs at least one verifying pair")
    assert(rep.filter(col("drop_rate") < 0 || col("drop_rate") > 1).count() == 0)
    rep.unpersist()
  }

  test("q112 PQ probe flags every re-encoded batch vector at cosine 1 and passes every inverted one") {
    val out = Ann.q112PqProbe(spark, Sf).collect()
    assert(out.nonEmpty)
    val reencodes = out.filter(r =>
      r.getAs[Long]("vec_id") >= 40000 && r.getAs[Long]("vec_id") < 50000)
    val inversions = out.filter(_.getAs[Long]("vec_id") >= 50000)
    assert(reencodes.nonEmpty && inversions.nonEmpty)
    reencodes.foreach { r =>
      assert(r.getAs[Int]("is_dup") == 1 &&
        r.getAs[java.lang.Long]("match_vec_id") ==
          r.getAs[Long]("vec_id") - 40000 &&
        r.getAs[Double]("cosine") == 1.0,
        s"re-encode must flag against its source at cosine 1: $r")
    }
    inversions.foreach { r =>
      assert(r.getAs[Int]("is_dup") == 0,
        s"an inverted vector must not flag: $r")
    }
    // and the self-contained query equals the table-backed production
    // path over the same state — exercised via the standing-index test
    // above
  }

  private def dropPqTables(table: String): Unit =
    // pointer + every generation (round 14: refreshes land versioned
    // generations behind an atomic pointer)
    graft.sources.TablePointer.dropAll(spark, table,
      Seq("_centroids", "_codebook", "_meta"))

  test("standing IVF-PQ index: two batches probe one table set; rerank cosines bit-equal brute force") {
    import org.apache.spark.sql.functions._
    val table = "pq_index_test"
    dropPqTables(table)
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    // splits = 1 pins the label-seeded cells: this test asserts equality
    // with the self-contained q110/q112 oracle queries, which are
    // label-seeded by contract. The auto default has its own case.
    Ann.refreshPqIndex(e, table, splits = 1)

    // serve the corpus' own 50-query prefix (identity queries): every
    // returned (q, n) cosine must be the EXACT brute-force value — the
    // q110 rerank contract, now against MATERIALIZED state
    val queries = e.filter(col("vec_id") < 50).select("vec_id", "emb")
    val served = Ann.searchPqIndex(spark, table, queries, k = 10,
      verify = "dec").collect()
    assert(served.nonEmpty)
    val exactRows = Ann.q25AnnBruteforce(spark, Sf, nQueries = 50).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) ->
        r.getAs[Double]("cosine")).toMap
    val overlapping = served.flatMap { r =>
      exactRows.get((r.getAs[Long]("q_id"), r.getAs[Long]("n_id")))
        .map(ex => (r.getAs[Double]("cosine"), ex))
    }
    assert(overlapping.nonEmpty, "served stack and exact baseline share no pairs")
    overlapping.foreach { case (got, want) =>
      assert(got == want, s"served rerank cosine $got != exact $want")
    }
    // and the served ranking matches the self-contained q110 stack on
    // the same parameters (same centroids, same codebook arithmetic)
    val q110 = Ann.q110IvfPq(spark, Sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("n_id")).toMap
    val servedMap = served
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("n_id")).toMap
    assert(servedMap == q110,
      "table-backed serving must equal the self-contained q110 ranking")

    // two probe batches (re-encodes flag, inversions pass) against the
    // SAME standing tables — the index is never re-encoded between them
    val b1 = e.filter(col("vec_id") % 7 === 0)
      .withColumn("vec_id", col("vec_id") + 40000)
      .withColumn("emb", expr("transform(emb, x -> x * 0.99)"))
      .select("vec_id", "emb")
    val b2 = e.filter(col("vec_id") % 11 === 0)
      .withColumn("vec_id", col("vec_id") + 50000)
      .withColumn("emb", expr("transform(emb, x -> -x)"))
      .select("vec_id", "emb")
    val flagged = Ann.probePqIndex(spark, table, b1).collect()
    assert(flagged.nonEmpty)
    flagged.foreach { r =>
      assert(r.getAs[Int]("is_dup") == 1 &&
        r.getAs[java.lang.Long]("match_vec_id") ==
          r.getAs[Long]("vec_id") - 40000, r.toString)
    }
    val passed = Ann.probePqIndex(spark, table, b2).collect()
    assert(passed.nonEmpty)
    assert(passed.forall(_.getAs[Int]("is_dup") == 0),
      "inverted vectors must not flag")
    // the table-backed probe equals the self-contained q112 oracle query
    // over the same batch and the same (materialized vs inline) state
    val fromTable = Ann.probePqIndex(spark, table, b1.unionByName(b2),
      verify = "dec")
    val selfContained = Ann.q112PqProbe(spark, Sf)
    assert(fromTable.exceptAll(selfContained).count() == 0 &&
      selfContained.exceptAll(fromTable).count() == 0,
      "table-backed PQ probe must equal the self-contained q112 path")

    // index-side plan shape: the two member scans feed broadcast joins
    // — no exchange keyed on the index's cell column alone (the only
    // shuffles are the candidate aggregate and the per-query windows)
    val p = planString(Ann.searchPqIndex(spark, table, queries, k = 10))
    assert(!"Exchange hashpartitioning\\(cell".r.findAllIn(p).hasNext,
      s"index side must not shuffle on cell:\n${p.take(800)}")

    // load-shape guard: corpus-sized query frames fail loudly on the
    // broadcast premise, naming the bulk path
    val ex = intercept[IllegalArgumentException] {
      Ann.searchPqIndex(spark, table, e.select("vec_id", "emb"),
        maxQueryRows = 2)
    }
    assert(ex.getMessage.contains("semProbe"), ex.getMessage)
  }

  test("the nlist knob: splits > 1 multiplies the cells and the probe contract still holds") {
    import org.apache.spark.sql.functions._
    val table = "pq_splits_test"
    dropPqTables(table)
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    val nLabels = e.select("label").distinct().count()
    Ann.refreshPqIndex(e, table, splits = 4)
    // nlist = labels × splits cells, all non-empty seed groups
    val nCells = spark.table(s"${phys(table)}_centroids").count()
    assert(nCells == nLabels * 4,
      s"expected ${nLabels * 4} cells, got $nCells")
    // cells shrink accordingly: the largest cell is well under a
    // whole-label share of the corpus
    val maxCell = spark.table(phys(table)).groupBy("cell").count()
      .agg(max("count")).head.getLong(0)
    assert(maxCell < e.count() / nLabels,
      s"largest split cell $maxCell not smaller than a label cell")
    // the probe contract is split-invariant: re-encodes of corpus
    // vectors still flag against their source at cosine 1 (assignment
    // is argmax over the finer centroids for batch AND members alike)
    val probe = e.filter(col("vec_id") < 40)
      .withColumn("vec_id", col("vec_id") + 90000)
      .withColumn("emb", expr("transform(emb, x -> x * 0.99)"))
      .select("vec_id", "emb")
    val out = Ann.probePqIndex(spark, table, probe).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Int]("is_dup") == 1 &&
        r.getAs[java.lang.Long]("match_vec_id") ==
          r.getAs[Long]("vec_id") - 90000, r.toString)
    }
  }

  test("trained (kmeans) PQ quantizer: recall matches-or-beats the deterministic family; codebooks frozen under append and rebuild") {
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    val signT = "pq_sign_recall_test"
    val kmT = "pq_kmeans_recall_test"
    dropPqTables(signT); dropPqTables(kmT)
    // same auto nlist for both families — the comparison isolates the
    // QUANTIZER (trained centroids + codewords + nearest-codeword
    // encoding vs the deterministic seeded/sign family)
    Ann.refreshPqIndex(e, signT, quantizer = "sign")
    Ann.refreshPqIndex(e, kmT, quantizer = "kmeans", lloydIters = 2)
    assert(spark.table(s"${phys(kmT)}_meta").head().getString(0) == "kmeans")

    // recall@10 on the shared exact baseline (the q98/q91 gate): the
    // trained index must match or beat the deterministic one — Lloyd
    // strictly reduces quantization error from the same init, and less
    // quantization error means ADC ranks the true neighbors higher
    // nprobe 8 of the ~30 auto cells: the recall/latency point a
    // deployment would serve at on an unstructured corpus (these
    // synthetic embeddings have no cluster geometry, so nprobe — not
    // the quantizer — bounds absolute recall; the comparison between
    // quantizers is what this gate grades)
    val rec = Ann.pqRecallByIndex(spark, Sf,
        Seq("ivfpq_sign" -> signT, "ivfpq_kmeans" -> kmT), k = 10,
        nQueries = 50, nprobe = 8, adcTopC = 64)
      .collect().map(r => r.getAs[String]("index_type") ->
        r.getAs[Double]("recall_at_k")).toMap
    assert(rec("ivfpq_kmeans") >= rec("ivfpq_sign"),
      s"trained recall ${rec("ivfpq_kmeans")} must match or beat " +
        s"deterministic ${rec("ivfpq_sign")}")
    assert(rec("ivfpq_kmeans") > 0.3, s"trained recall is degenerate: $rec")

    // training is deterministic: a re-refresh of the same corpus mints a
    // byte-equal codebook (no RNG anywhere — the spec-pinnable property
    // that makes frozen-under-append testable at all)
    def cbRows(t: String) = spark.table(s"${phys(t)}_codebook").collect()
      .map(_.toString).sorted.toSeq
    val cbTrained = cbRows(kmT)
    val kmT2 = "pq_kmeans_retrain_test"
    dropPqTables(kmT2)
    Ann.refreshPqIndex(e, kmT2, quantizer = "kmeans", lloydIters = 2)
    assert(cbRows(kmT2) == cbTrained, "re-training must be byte-equal")
    // and it genuinely trained: the codebook moved off the sign init
    assert(cbRows(signT) != cbTrained,
      "the trained codebook must differ from the sign-bucket init")

    // append/rebuild keep the TRAINED codebook and centroids frozen, and
    // appended vectors (encoded by nearest-codeword against the standing
    // codebook) probe-flag their sources — the full day-2 lifecycle of
    // the deterministic family, now under trained state
    val kmHalf = "pq_kmeans_append_test"
    dropPqTables(kmHalf)
    Ann.refreshPqIndex(e.filter(col("vec_id") % 2 === 0), kmHalf,
      quantizer = "kmeans", lloydIters = 2)
    val cbBefore = cbRows(kmHalf)
    val centBefore = spark.table(s"${phys(kmHalf)}_centroids").collect()
      .map(_.toString).sorted.toSeq
    Ann.appendPqIndex(spark, kmHalf,
      e.filter(col("vec_id") % 2 === 1).select("vec_id", "emb"))
    val probe = e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 40)
      .withColumn("vec_id", col("vec_id") + 90000)
      .withColumn("emb", expr("transform(emb, x -> x * 0.99)"))
      .select("vec_id", "emb")
    val out = Ann.probePqIndex(spark, kmHalf, probe).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Int]("is_dup") == 1 &&
        r.getAs[java.lang.Long]("match_vec_id") ==
          r.getAs[Long]("vec_id") - 90000, r.toString)
    }
    assert(cbRows(kmHalf) == cbBefore, "append must not re-train the codebook")
    assert(spark.table(s"${phys(kmHalf)}_centroids").collect()
      .map(_.toString).sorted.toSeq == centBefore,
      "append must not move the trained centroids")
    // WAL-repair write: members from vecs alone, trained side tables kept
    Ann.rebuildPqIndex(spark, kmHalf, e.select("vec_id", "emb"))
    assert(spark.table(phys(kmHalf)).count() == e.count())
    assert(cbRows(kmHalf) == cbBefore, "rebuild must not re-train either")
    val out2 = Ann.probePqIndex(spark, kmHalf, probe).collect()
    assert(out2.nonEmpty && out2.forall(_.getAs[Int]("is_dup") == 1))
  }

  test("auto splits: the refresh default computes nlist from sqrt(N) at two corpus sizes") {
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    val nLabels = e.select("label").distinct().count()

    // the rule's arithmetic, pinned: smallest splits with
    // labels × splits ≥ ceil(sqrt(N))
    assert(Ann.autoSplits(500, 10) == 3)    // ceil(sqrt 500)=23 → ceil(23/10)
    assert(Ann.autoSplits(250, 10) == 2)    // ceil(sqrt 250)=16 → ceil(16/10)
    assert(Ann.autoSplits(2000000, 10) == 142) // √2M ≈ 1415 → nlist 1420
    assert(Ann.autoSplits(0, 10) == 1 && Ann.autoSplits(5, 0) >= 1)

    // a refresh with NO hand-set knob lands exactly the rule's cells, at
    // both corpus sizes — nlist grows with √N, so cells keep their SIZE
    for ((frac, tag) <- Seq((1, "full"), (2, "half"))) {
      val sub = e.filter(col("vec_id") % frac === 0)
      val n = sub.count()
      val table = s"pq_auto_${tag}_test"
      dropPqTables(table)
      Ann.refreshPqIndex(sub, table)
      val expect = nLabels * Ann.autoSplits(n, nLabels)
      val nCells = spark.table(s"${phys(table)}_centroids").count()
      assert(nCells == expect,
        s"$tag corpus (N=$n): expected $expect auto cells, got $nCells")
      // and the probe contract holds under the auto configuration
      val probe = sub.filter(col("vec_id") < 40)
        .withColumn("vec_id", col("vec_id") + 90000)
        .withColumn("emb", expr("transform(emb, x -> x * 0.99)"))
        .select("vec_id", "emb")
      val out = Ann.probePqIndex(spark, table, probe).collect()
      assert(out.nonEmpty && out.forall(_.getAs[Int]("is_dup") == 1))
    }

  }

  test("appendPqIndex: appended vectors serve and flag without re-encoding; codebook and centroids untouched") {
    import org.apache.spark.sql.functions._
    val table = "pq_append_test"
    dropPqTables(table)
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    Ann.refreshPqIndex(e.filter(col("vec_id") % 2 === 0), table)
    def cbRows = spark.table(s"${phys(table)}_codebook").collect()
      .map(_.toString).sorted.toSeq
    val cbBefore = cbRows
    val centBefore = spark.table(s"${phys(table)}_centroids").count()

    Ann.appendPqIndex(spark, table,
      e.filter(col("vec_id") % 2 === 1).select("vec_id", "emb"))

    // re-encodes of APPENDED vectors flag against their source — the
    // append is probe-visible without any refresh
    val probe = e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 40)
      .withColumn("vec_id", col("vec_id") + 90000)
      .withColumn("emb", expr("transform(emb, x -> x * 0.99)"))
      .select("vec_id", "emb")
    val out = Ann.probePqIndex(spark, table, probe).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Int]("is_dup") == 1 &&
        r.getAs[java.lang.Long]("match_vec_id") ==
          r.getAs[Long]("vec_id") - 90000, r.toString)
    }
    // frozen-under-append: the decode side tables did not move — every
    // stored code is still an index into the refresh-time codebook
    assert(cbRows == cbBefore, "append must not touch the codebook")
    assert(spark.table(s"${phys(table)}_centroids").count() == centBefore)

    // the partition-grain compaction trigger (round 10): a refresh lands
    // ONE file per cell, the append added at most one more per touched
    // cell, so files-per-partition counts appends — and needsCompaction
    // dispatches to the partition grain for this non-bucketed table
    import graft.sources.Ingest
    assert(Ingest.partitionFileCounts(spark, phys(table)).values.max == 2,
      Ingest.partitionFileCounts(spark, phys(table)).toString)
    assert(Ingest.needsCompaction(spark, phys(table), maxFilesPerBucket = 1))

    // rebuild (the WAL-repair write) from the full vector set keeps
    // both side tables and restores the members from `vecs` alone —
    // and is also the compaction answer: one file per cell again
    Ann.rebuildPqIndex(spark, table, e.select("vec_id", "emb"))
    assert(spark.table(phys(table)).count() == e.count())
    val out2 = Ann.probePqIndex(spark, table, probe).collect()
    assert(out2.nonEmpty && out2.forall(_.getAs[Int]("is_dup") == 1))
    assert(cbRows == cbBefore, "rebuild must not touch the codebook either")
    assert(Ingest.partitionFileCounts(spark, phys(table)).values.max == 1)
    assert(!Ingest.needsCompaction(spark, phys(table), maxFilesPerBucket = 1))
  }

  test("q141: planted near-dup recall decays monotonically in threshold, faster for lower overlap tiers") {
    val rows = Dedup.q141NearCalibration(spark, Sf).collect()
    assert(rows.length == 32, s"4 tiers x 8 thresholds expected, got ${rows.length}")
    def recallOf(r: org.apache.spark.sql.Row): Double =
      Option(r.getAs[java.lang.Double]("recall_r")).map(_.toDouble).getOrElse(0.0)
    for ((tier, rs) <- rows.groupBy(_.getAs[Int]("tier"))) {
      val sorted = rs.sortBy(_.getAs[Int]("threshold"))
      val recalls = sorted.map(recallOf)
      assert(recalls.zip(recalls.tail).forall { case (a, b) => a >= b },
        s"tier $tier recall not monotone in threshold: ${recalls.mkString(",")}")
      val nTruth = sorted.map(_.getAs[Long]("n_truth")).distinct
      assert(nTruth.length == 1 && nTruth.head > 0,
        s"tier $tier truth count must be constant and non-empty: $nTruth")
    }
    def recallAt(tier: Int, th: Int): Double = recallOf(rows.find(r =>
      r.getAs[Int]("tier") == tier && r.getAs[Int]("threshold") == th).get)
    // the banding cliff: high-overlap twins are caught nearly always at
    // the 1-band threshold, and overlap ORDERS recall at the probe
    // threshold (4, where the standing screens run)
    assert(recallAt(90, 1) > 0.5, s"90%-overlap twins at threshold 1: ${recallAt(90, 1)}")
    assert(recallAt(90, 4) >= recallAt(45, 4),
      s"tier order must hold at the probe threshold: ${recallAt(90, 4)} vs ${recallAt(45, 4)}")
    assert(recallAt(45, 1) >= recallAt(45, 8),
      "degradation must be visible across the threshold range")
  }

  test("the admission nprobe is recall-derived at refresh time, persisted, and read by the default probe") {
    import org.apache.spark.sql.functions._
    val table = "pq_nprobe_cal"
    for (t <- Seq(table, s"${table}_centroids", s"${table}_codebook",
        s"${table}_meta")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")

    // an UNCALIBRATED refresh leaves the sentinel: auto resolves to the
    // historical default, nothing behaves differently
    Ann.refreshPqIndex(e, table)
    assert(Ann.pqScreenNprobeOf(spark, table).isEmpty,
      "an uncalibrated refresh must not invent a screen nprobe")

    // a refresh WITH a target persists the smallest qualifying nprobe
    val target = 0.99
    Ann.refreshPqIndex(e, table, screenRecallTarget = target)
    val meta = spark.table(s"${phys(table)}_meta").collect().head
    val chosen = meta.getAs[Int]("screen_nprobe")
    val measured = meta.getAs[Double]("screen_recall_measured")
    assert(meta.getAs[Double]("screen_recall_target") == target)
    assert(Ann.pqScreenNprobeOf(spark, table).contains(chosen))
    assert(chosen >= 1 && chosen <= 8, s"chosen nprobe $chosen")
    // the choice meets the target (or is maxNprobe with the residual
    // documented in the persisted measured recall)
    assert(measured >= target || chosen == 8,
      s"chosen $chosen measured $measured")
    // MINIMALITY: the measured recall one step below the choice misses
    // the target (vacuous when nprobe 1 already qualifies)
    if (chosen > 1)
      assert(Ann.pqScreenRecall(spark, table, chosen - 1) < target,
        s"nprobe ${chosen - 1} already met the target — $chosen is not minimal")
    assert(Ann.pqScreenRecall(spark, table, chosen) == measured,
      "the persisted measured recall must reproduce")

    // and the CYCLE uses it: the default (auto) probe is the calibrated
    // probe — bit-equal outputs on a re-encode batch
    val batch = e.filter(col("vec_id") % 13 === 0)
      .select((col("vec_id") + 70000).as("vec_id"),
        expr("transform(emb, x -> x * 0.99)").as("emb"))
    val auto = Ann.probePqIndex(spark, table, batch)
    val explicit = Ann.probePqIndex(spark, table, batch, nprobe = chosen)
    assert(auto.exceptAll(explicit).count() == 0 &&
      explicit.exceptAll(auto).count() == 0,
      "the auto probe must run at the calibrated nprobe")
    assert(auto.filter(col("is_dup") =!= 1).count() == 0 && auto.count() > 0,
      "re-encodes must flag at the calibrated knob")
  }

  test("the calibration probe is an exact boundary re-encode: cosine to its source is eps+(1-eps)/2") {
    import org.apache.spark.sql.functions._
    val table = "cal_geom"
    for (t <- Seq(table, s"${table}_centroids", s"${table}_codebook",
        s"${table}_meta")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    Ann.refreshPqIndex(e, table)
    val probes = Ann.pqScreenProbes(spark, table, 50, eps = 0.99)
    try {
      // each probe's TRUE cosine to its source member must be exactly
      // the boundary (0.995 for eps 0.99) up to IEEE accumulation — the
      // pairwise rotation is orthogonal by construction, so the probe
      // sits in-class by a clear margin but genuinely off-axis
      val cos = probes
        .select((col("vec_id") - 900000000L).as("vec_id"), col("emb").as("p"))
        .join(e.select("vec_id", "emb"), "vec_id")
        .select(
          (expr("aggregate(zip_with(p, emb, (a, b) -> a * b), 0D, (a, x) -> a + x)") /
            (sqrt(expr("aggregate(p, 0D, (a, x) -> a + x * x)")) *
              sqrt(expr("aggregate(emb, 0D, (a, x) -> a + x * x)")))).as("c"))
        .collect().map(_.getDouble(0))
      assert(cos.length >= 20, s"probe sample too small: ${cos.length}")
      cos.foreach(c => assert(math.abs(c - 0.995) < 1e-9,
        s"boundary cosine drifted: $c"))
    } finally Frames.freePinned(probes)
  }

  test("standing exact-hash companion: probeHashIndex equals the q140 oracle twin and probes exchange-free") {
    import org.apache.spark.sql.functions._
    val table = "exact_twin_band"
    graft.sources.TablePointer.dropAll(spark, table, Dedup.BandSuffixes)
    val c = Dedup.corpus(spark, Sf).select("doc_id", "text")
    Dedup.refreshIndex(c, table, numBuckets = 8)

    // q140's batch, byte-identical construction: verbatim re-submissions
    // (must flag) + one-suffix variants (must pass)
    val batch = c.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      .unionByName(c.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(col("text"), lit(" revised edition")).as("text")))
    val fromTable = Dedup.probeHashIndex(spark, table, batch)
    val oracle = Dedup.q140ExactProbe(spark, Sf)
    assert(fromTable.exceptAll(oracle).count() == 0 &&
      oracle.exceptAll(fromTable).count() == 0,
      "table-backed exact probe must equal the self-contained q140 path")
    // both classes are present (the equality is not vacuous): every
    // verbatim re-submission flags, every suffixed variant passes
    val rows = fromTable.collect()
    val (resub, variant) = rows.partition(_.getAs[Long]("batch_doc_id") < 300000)
    assert(resub.nonEmpty && resub.forall(_.getAs[Int]("is_exact_dup") == 1))
    assert(variant.nonEmpty && variant.forall(_.getAs[Int]("is_exact_dup") == 0))

    // co-location: the standing hash set scans bucketed on h — only the
    // batch side may exchange on the hash key
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planString(Dedup.probeHashIndex(spark, table, batch))
      assert(p.contains("Bucketed: true"), p.take(600))
      assert("Exchange hashpartitioning\\(h".r.findAllIn(p).size == 1,
        s"only the probe side may exchange on h:\n${p.take(800)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    // append keeps the companion in lockstep: a novel doc admitted once
    // flags on its exact replay
    import spark.implicits._
    val novel = Seq((990001L,
      "a brand new chronicle of basalt kites rehearsing slow semaphore"))
      .toDF("doc_id", "text")
    Dedup.appendIndex(spark, table, novel)
    val replay = Dedup.probeHashIndex(spark, table,
      novel.withColumn("doc_id", col("doc_id") + 1)).collect()
    assert(replay.length == 1 && replay.head.getAs[Int]("is_exact_dup") == 1 &&
      replay.head.getAs[Long]("match_doc_id") == 990001L, replay.mkString)
  }

  test("the band-probe threshold is recall-derived at refresh time, persisted, and read by the default probe") {
    val table = "band_th_cal"
    graft.sources.TablePointer.dropAll(spark, table, Dedup.BandSuffixes)
    val c = Dedup.corpus(spark, Sf).select("doc_id", "text")

    // an UNCALIBRATED refresh persists nothing: auto = the historical 4
    Dedup.refreshIndex(c, table, numBuckets = 8)
    assert(Dedup.bandThresholdOf(spark, table).isEmpty,
      "an uncalibrated refresh must not invent a threshold")

    // a refresh WITH a target persists the boundary choice in `_meta`
    val target = 0.75
    Dedup.refreshIndex(c, table, numBuckets = 8, screenRecallTarget = target)
    val meta = spark.table(s"${phys(table)}_meta").collect().head
    val chosen = meta.getAs[Int]("band_threshold")
    val measured = meta.getAs[Double]("recall_measured")
    assert(meta.getAs[Int]("policy_tier") == 90)
    assert(meta.getAs[Double]("recall_target") == target)
    assert(Dedup.bandThresholdOf(spark, table).contains(chosen))
    assert(chosen >= 1 && chosen <= 8, s"chosen $chosen")
    assert(measured >= target || chosen == 1,
      s"chosen $chosen measured $measured")
    // BOUNDARY (the nprobe minimality case adapted to this knob's
    // geometry): recall is NON-increasing in the threshold, so the
    // qualifying set {t : recall ≥ target} is downward-closed and the
    // persisted choice is its extremum under the q138/q141 precision
    // counterweight — threshold+1 must MISS the target (vacuous at 8),
    // and the persisted measured recall must reproduce
    if (chosen < 8)
      assert(Dedup.bandScreenRecall(spark, table, c, chosen + 1) < target,
        s"threshold ${chosen + 1} still met the target — $chosen is " +
          "not the boundary")
    assert(Dedup.bandScreenRecall(spark, table, c, chosen) == measured,
      "the persisted measured recall must reproduce")

    // and the CYCLE uses it: the default (auto) probe ≡ the explicit
    // calibrated probe, bit-equal on a planted-twin batch
    val batch = c.filter(col("doc_id") % 11 === 0)
      .withColumn("_w", split(col("text"), " "))
      .filter(size(col("_w")) >= 7)
      .select((col("doc_id") + 800000L).as("doc_id"),
        array_join(
          expr("slice(_w, 1, cast((size(_w) * 90) div 100 as int))"),
          " ").as("text"))
    val auto = Dedup.probeIndex(spark, table, batch)
    val explicit = Dedup.probeIndex(spark, table, batch, threshold = chosen)
    assert(auto.exceptAll(explicit).count() == 0 &&
      explicit.exceptAll(auto).count() == 0,
      "the auto probe must run at the calibrated threshold")
    assert(auto.filter(col("is_near_dup") === 1).count() > 0,
      "planted twins must flag at the calibrated threshold")
  }

  test("the hash companion's whitespace-collapsed key: run-on-space variants of unshingleable docs flag both ways") {
    import spark.implicits._
    val table = "band_ws_keys"
    graft.sources.TablePointer.dropAll(spark, table, Dedup.BandSuffixes)
    // a shipped 2-word doc: no shingles, so the band screen can never
    // see it, and an internal-whitespace variant has a different q20
    // hash — the one normalization class that slipped BOTH screens
    // (VERDICT r13 #6)
    val c = Dedup.corpus(spark, Sf).select("doc_id", "text")
      .unionByName(Seq((91L, "ok go")).toDF("doc_id", "text"))
    Dedup.refreshIndex(c, table, numBuckets = 8)
    val r = Dedup.probeHashIndex(spark, table, Seq(
        (910001L, "ok  go"), // double-spaced variant — must flag
        (910002L, "ok going"), // genuinely different short doc — must pass
        (910003L, "ok\tgo"), // tab variant — the collapse covers ALL \s
        (910004L, "ok go\n") // trailing-newline variant (trim alone
                             // strips spaces only — collapse-then-trim)
      ).toDF("doc_id", "text")).collect()
      .map(x => x.getAs[Long]("batch_doc_id") -> x.getAs[Int]("is_exact_dup"))
      .toMap
    assert(r == Map(910001L -> 1, 910002L -> 0, 910003L -> 1,
      910004L -> 1), r.toString)
    // the REVERSE direction through an append: standing run-on
    // whitespace catches a single-spaced re-submission (both sides' key
    // sets live in the one bucketed column)
    Dedup.appendIndex(spark, table,
      Seq((920001L, "tidal   ledger")).toDF("doc_id", "text"))
    val r2 = Dedup.probeHashIndex(spark, table,
      Seq((930001L, "tidal ledger")).toDF("doc_id", "text")).collect()
    assert(r2.head.getAs[Int]("is_exact_dup") == 1 &&
      r2.head.getAs[Long]("match_doc_id") == 920001L, r2.mkString)
  }

  test("q142 anchors the calibration: bandScreenRecall at full sample reproduces the oracle recall curve") {
    val table = "band_q142_anchor"
    graft.sources.TablePointer.dropAll(spark, table, Dedup.BandSuffixes)
    val base = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    Dedup.refreshIndex(base, table, numBuckets = 8)
    // the oracle-checked query measures the same event the calibration
    // persists: best-shared-band recall of 90%-overlap twins against
    // the guarded index — the table-backed production path at FULL
    // sample must reproduce its recall column (the q83 twin-equality
    // discipline applied to the measurement itself)
    val oracle = Dedup.q142BandScreenRecall(spark, Sf).collect()
      .map(r => r.getAs[Int]("threshold") -> r.getAs[Double]("recall_r"))
      .toMap
    assert(oracle.size == 8 && oracle(1) > oracle(8),
      s"a decaying curve expected: $oracle")
    for (t <- Seq(1, 3, 4, 5, 8)) {
      val measured = Dedup.bandScreenRecall(spark, table, base, t,
        nSample = 1000000)
      assert(math.abs(measured - oracle(t)) < 1e-6,
        s"threshold $t: production $measured vs oracle ${oracle(t)}")
    }
  }

  test("reader-side snapshot isolation: a search resolved before a refresh completes on its own generation") {
    val table = "pq_reader_iso"
    dropPqTables(table)
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    // generation 1: evens only
    Ann.refreshPqIndex(e.filter(col("vec_id") % 2 === 0), table)
    assert(phys(table) == s"${table}__g1", phys(table))
    val queries = e.filter(col("vec_id") < 20).select("vec_id", "emb")
    val baseline = Ann.searchPqIndex(spark, table, queries, k = 5).collect()

    // the READER: a plan resolved against generation 1, NOT yet executed
    val oldReader = Ann.searchPqIndex(spark, table, queries, k = 5)

    // a refresh lands generation 2 (the FULL corpus — new neighbors
    // exist) and swaps the pointer; generation 1 is retained (grace)
    Ann.refreshPqIndex(e, table)
    assert(phys(table) == s"${table}__g2", phys(table))

    // the old reader completes CORRECTLY on its own generation: the
    // pre-r14 in-place rewrite (clearStaleLocation + overwrite) would
    // have deleted its files mid-plan
    val after = oldReader.collect()
    assert(after.toSeq.map(_.toString) == baseline.toSeq.map(_.toString),
      "a reader holding the old resolution must see the old snapshot")
    // a NEW reader resolves generation 2 and sees the odd vectors
    val fresh = Ann.searchPqIndex(spark, table, queries, k = 5).collect()
    assert(fresh.exists(_.getAs[Long]("n_id") % 2 == 1),
      "a post-swap reader must see the new generation's members")
    // the auto-nprobe probe path resolves too (the admission read shape)
    val probe = e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 40)
      .withColumn("vec_id", col("vec_id") + 90000)
      .withColumn("emb", expr("transform(emb, x -> x * 0.99)"))
      .select("vec_id", "emb")
    val probed = Ann.probePqIndex(spark, table, probe).collect()
    assert(probed.nonEmpty && probed.forall(_.getAs[Int]("is_dup") == 1),
      "re-encodes of gen-2-only members must flag after the swap")

    // one more refresh: generation 1 retires (grace = one generation),
    // generation 2 survives for its own in-flight readers
    Ann.refreshPqIndex(e, table)
    assert(phys(table) == s"${table}__g3", phys(table))
    assert(!spark.catalog.tableExists(s"default.${table}__g1"),
      "gen 1 must retire two refreshes later")
    assert(spark.catalog.tableExists(s"default.${table}__g2"),
      "gen 2 must survive its grace period")

  }

  test("band reader isolation: probes resolved before a refresh complete on their own generation") {
    import org.apache.spark.sql.functions._
    // round 15 — VERDICT r14 missing #1: the band+_hashes family joins
    // the TablePointer protocol, closing the lock-free cross-session
    // probe-vs-refresh race the PQ family closed in r14
    val table = "band_reader_iso"
    graft.sources.TablePointer.dropAll(spark, table, Dedup.BandSuffixes)
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    Dedup.refreshIndex(d.filter(col("doc_id") % 2 === 0), table,
      numBuckets = 8, screenRecallTarget = 0.75)
    assert(phys(table) == s"${table}__g1", phys(table))
    val batch = d.filter(col("doc_id") < 40)
      .select((col("doc_id") + 700000L).as("doc_id"), col("text"))
    val baseline = Dedup.probeIndex(spark, table, batch).collect()
    val baseHash = Dedup.probeHashIndex(spark, table, batch).collect()
    // readers RESOLVED now (plans built against generation 1) …
    val oldProbe = Dedup.probeIndex(spark, table, batch)
    val oldHash = Dedup.probeHashIndex(spark, table, batch)
    // … while the full-corpus refresh lands generation 2 (calibrated,
    // so the `_meta` knobs ride the same swap)
    Dedup.refreshIndex(d, table, numBuckets = 8, screenRecallTarget = 0.75)
    assert(phys(table) == s"${table}__g2", phys(table))
    assert(oldProbe.collect().toSeq.map(_.toString) ==
      baseline.toSeq.map(_.toString),
      "a band probe holding the old resolution must see the old snapshot")
    assert(oldHash.collect().toSeq.map(_.toString) ==
      baseHash.toSeq.map(_.toString),
      "a hash probe holding the old resolution must see the old snapshot")
    // a post-swap probe sees the new generation: verbatim copies of the
    // ODD half (absent from gen 1) flag at the exact screen
    val oddCopy = d.filter(col("doc_id") % 2 === 1 && col("doc_id") < 40)
      .select((col("doc_id") + 710000L).as("doc_id"), col("text"))
    val fresh = Dedup.probeHashIndex(spark, table, oddCopy).collect()
    assert(fresh.nonEmpty && fresh.forall(_.getAs[Int]("is_exact_dup") == 1),
      "post-swap probes must see the new generation's corpus")
    assert(Dedup.bandThresholdOf(spark, table).nonEmpty,
      "the calibrated threshold must resolve through the pointer")
    // one more refresh: generation 1 (and its companions) retires on
    // the one-generation grace; generation 2 survives
    Dedup.refreshIndex(d, table, numBuckets = 8)
    assert(phys(table) == s"${table}__g3", phys(table))
    assert(!spark.catalog.tableExists(s"default.${table}__g1") &&
      !spark.catalog.tableExists(s"default.${table}__g1_hashes"),
      "gen 1 + companions must retire two refreshes later")
    assert(spark.catalog.tableExists(s"default.${table}__g2"))

    graft.sources.TablePointer.dropAll(spark, table, Dedup.BandSuffixes)
  }

  test("standing band index: punctuated copies flag on both screens, appended docs too") {
    import spark.implicits._
    val rob = "band_tok_robust"
    graft.sources.TablePointer.dropAll(spark, rob, Dedup.BandSuffixes)
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    Dedup.refreshIndex(d, rob, numBuckets = 8)
    // threshold stays the -1 sentinel on an uncalibrated refresh; the
    // docs anchor is unknowable
    val m = Dedup.bandMetaOf(spark, rob).get
    assert(m.threshold == -1 && m.docsAtCal == -1L, m)

    // q152's adversarial class: every space rewritten to ", " — every
    // word but the last gains a trailing comma, perturbing EVERY word
    // shingle and both legacy hash keys
    val batch = d
      .filter(col("doc_id") % 9 === 0 &&
        size(split(col("text"), " ")) >= 7)
      .select((col("doc_id") + 400000L).as("doc_id"),
        regexp_replace(col("text"), " ", ", ").as("text"))
    val nB = batch.count()
    assert(nB >= 10, s"adversarial batch too small: $nB")

    // the standing index catches every copy on BOTH screens
    // (match is the source, or a LOWER id when the source itself has a
    // normalization-equal corpus twin — the tie rule; sf0.001 ships two
    // such pairs, 12≡360 and 16≡369)
    val robNear = Dedup.probeIndex(spark, rob, batch).collect()
    assert(robNear.forall(r => r.getAs[Int]("is_near_dup") == 1 &&
      r.getAs[Long]("n_shared_bands") == 8L &&
      r.getAs[Long]("match_doc_id") <= r.getAs[Long]("batch_doc_id") - 400000L),
      "a punctuated copy must sign bit-identically to its source under robust")
    assert(robNear.count(r =>
      r.getAs[Long]("match_doc_id") == r.getAs[Long]("batch_doc_id") - 400000L)
      >= robNear.length - 2,
      "only the two known normalization twins may resolve off-source")
    assert(Dedup.probeHashIndex(spark, rob, batch).collect()
      .forall(_.getAs[Int]("is_exact_dup") == 1),
      "the robust third hash key must flag every punctuated copy")

    // appends share the encoding: a PUNCTUATED novel doc admitted once
    // flags on its CLEAN replay — both directions normalize to one key
    val novel = Seq((980001L,
      "granite, pelicans, rehearse, slow, cartography, over, nine, tidal, mirrors"))
      .toDF("doc_id", "text")
    Dedup.appendIndex(spark, rob, novel)
    val clean = Seq((980002L,
      "granite pelicans rehearse slow cartography over nine tidal mirrors"))
      .toDF("doc_id", "text")
    val replay = Dedup.probeHashIndex(spark, rob, clean).collect().head
    assert(replay.getAs[Int]("is_exact_dup") == 1 &&
      replay.getAs[Long]("match_doc_id") == 980001L, replay.mkString)
    val replayNear = Dedup.probeIndex(spark, rob, clean).collect().head
    assert(replayNear.getAs[Int]("is_near_dup") == 1 &&
      replayNear.getAs[Long]("match_doc_id") == 980001L, replayNear.mkString)

    // any other mode refuses loudly — never a silently mixed index
    val e = intercept[IllegalArgumentException] {
      Dedup.refreshIndex(d.limit(5), "band_tok_bogus", tokMode = "weird")
    }
    assert(e.getMessage.contains("tokenize robust only"), e.getMessage)
    graft.sources.TablePointer.dropAll(spark, rob, Dedup.BandSuffixes)
    graft.sources.TablePointer.dropAll(spark, "band_tok_bogus", Dedup.BandSuffixes)
  }

  test("an uncalibrated refresh of a calibrated band index carries its persisted threshold through the swap") {
    val table = "band_cal_carry"
    graft.sources.TablePointer.dropAll(spark, table, Dedup.BandSuffixes)
    val c = Dedup.corpus(spark, Sf).select("doc_id", "text")
    Dedup.refreshIndex(c, table, numBuckets = 8, screenRecallTarget = 0.75)
    val cal = Dedup.bandMetaOf(spark, table).get
    assert(cal.threshold >= 1 && cal.docsAtCal == c.count(), cal)

    // the planted-twin batch the calibration measured against
    val batch = c.filter(col("doc_id") % 11 === 0)
      .withColumn("_w", split(col("text"), " "))
      .filter(size(col("_w")) >= 7)
      .select((col("doc_id") + 800000L).as("doc_id"),
        array_join(
          expr("slice(_w, 1, cast((size(_w) * 90) div 100 as int))"),
          " ").as("text"))
    val preSwap = Dedup.probeIndex(spark, table, batch).collect()

    // an UNCALIBRATED refresh — the WAL-recovery rebuild's shape — lands
    // the next generation, and the knob row carries forward with its
    // original anchor (ADVICE r15: a repair must not revert auto probes
    // to the historical default)
    Dedup.refreshIndex(c, table, numBuckets = 8)
    assert(phys(table) == s"${table}__g2", phys(table))
    val carried = Dedup.bandMetaOf(spark, table).get
    assert(carried == cal, s"the calibrated knob row must carry forward: $carried")
    val auto = Dedup.probeIndex(spark, table, batch).collect()
    val explicit = Dedup.probeIndex(spark, table, batch,
      threshold = cal.threshold).collect()
    assert(auto.map(_.toString).sorted.sameElements(
      explicit.map(_.toString).sorted),
      "the new generation's auto probe must run at the carried threshold")
    assert(auto.map(_.toString).sorted.sameElements(
      preSwap.map(_.toString).sorted),
      "the same corpus under the same knobs must screen identically across the swap")
    graft.sources.TablePointer.dropAll(spark, table, Dedup.BandSuffixes)
  }

  test("index-backed PageRank: standing-band edges reproduce the corpus walk bit-for-bit, with no corpus re-read and no cartesian") {
    import graft.operators.Clusters
    val table = "band_pr_idx"
    graft.sources.TablePointer.dropAll(spark, table, Dedup.BandSuffixes)
    val c = Dedup.corpus(spark, Sf).select("doc_id", "text")
    Dedup.refreshIndex(c, table, numBuckets = 8)

    // the day-2 walk over the standing table ≡ q149's corpus walk:
    // identical nodes, degrees, and decimal-exact scores (the corpus
    // has no hot buckets, so the guarded index holds every band row
    // the batch kernel pairs on)
    val idx = Clusters.pagerankScoresIndexed(spark, table)
    val raw = Clusters.pagerankScores(c)
    val idxRows = idx.collect()
    assert(idxRows.map(_.toString).sorted.sameElements(
      raw.collect().map(_.toString).sorted),
      "index-backed edges must reproduce minhashPairs' walk exactly")
    graft.Frames.freePinned(idx)
    graft.Frames.freePinned(raw)

    // edge derivation: one self-join on the bucketed keys — both sides
    // scan the standing table bucketed, never a cartesian
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bands = spark.table(phys(table))
        .select(col("match_doc_id"), col("band_idx"), col("band_hash"))
      val p = planString(bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.match_doc_id") < col("b.match_doc_id")))
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        p.take(600))
      assert(p.contains("Bucketed: true"), p.take(600))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    // the release-card surface: node count + top-k (doc, score) rows
    val card = Clusters.centralityCardRows(spark, table, topK = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(card("centrality_nodes") == idxRows.length.toDouble, card)
    val best = idxRows.maxBy(r =>
      (r.getAs[Double]("pagerank_r"), -r.getAs[Long]("doc_id")))
    assert(card("centrality_top1_doc") == best.getAs[Long]("doc_id").toDouble &&
      card("centrality_top1_score") == best.getAs[Double]("pagerank_r"), card)
    graft.sources.TablePointer.dropAll(spark, table, Dedup.BandSuffixes)
  }

  test("fused ADC keeps the exact query norm: an appended member with an uncovered sign code cannot take the shortlist") {
    import spark.implicits._
    val table = "pq_uncovered_code"
    dropPqTables(table)
    // the standing corpus: every sign dim of every subspace is positive,
    // so the sign codebook covers code 15 only; the ± pairs on non-sign
    // dims keep every codeword exactly the all-ones mean
    val ones = Seq.fill(64)(1.0)
    val base = (1L, ones) +: (0 until 8).flatMap { m =>
      val j = m * 8 + 4 + m % 4
      Seq((10L + 2 * m, ones.updated(j, 1.5)), (11L + 2 * m, ones.updated(j, 0.5)))
    }
    Ann.refreshPqIndex(base.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "emb", "label"), table, splits = 1)
    // appended: subspace 0's sign dims turn negative — code 0, which has
    // no codebook row — while subspaces 1..7 sit on the codewords
    val uncovered = 99L
    Ann.appendPqIndex(spark, table,
      Seq((uncovered, Seq.fill(8)(-1.0) ++ Seq.fill(56)(1.0))).toDF("vec_id", "emb"))
    // the query: subspaces 1..7 along the codewords, subspace 0 tilted
    // off them. With the exact query norm every standing member scores
    // 64/√(72·64) ≈ 0.943 and the appended one 56/√(72·56) ≈ 0.882; a
    // norm summed over its seven matched LUT rows alone would drop
    // subspace 0 and score it a perfect 1.0
    val q = Seq((500L, Seq(2.0, 0.0, 2.0, 0.0, 2.0, 0.0, 2.0, 0.0) ++ Seq.fill(56)(1.0)))
      .toDF("vec_id", "emb")
    val top = Ann.searchPqIndex(spark, table, q, k = 1, nprobe = 1, adcTopC = 1).collect()
    assert(top.map(_.getAs[Long]("n_id")).toSeq == Seq(1L), top.mkString)
    dropPqTables(table)
  }

  test("born complete: each family's refresh lands every companion table with its full current schema") {
    import graft.operators.TextRank
    import graft.sources.TablePointer
    val (band, text, pq) = ("born_band", "born_text", "born_pq")
    val textSuffixes = Seq("_df", "_meta", "_champ", "_cal")
    TablePointer.dropAll(spark, band, Dedup.BandSuffixes)
    TablePointer.dropAll(spark, text, textSuffixes)
    dropPqTables(pq)
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    Dedup.refreshIndex(d, band, numBuckets = 8)
    TextRank.refreshTextIndex(d, text, numBuckets = 8)
    Ann.refreshPqIndex(e, pq)
    def table(t: String, suffix: String) = spark.table(s"${phys(t)}$suffix")
    def cols(t: String, suffix: String) = table(t, suffix).columns.toSet
    assert(cols(band, "_hashes") == Set("doc_id", "h"))
    assert(cols(band, "_meta") == Set("band_threshold", "policy_tier",
      "recall_target", "recall_measured", "docs_at_cal"))
    assert(cols(text, "_df") == Set("term", "df"))
    assert(cols(text, "_champ") == Set("term", "doc_id", "tf", "dl", "rn"))
    assert(cols(text, "_meta") == Set("n_docs", "token_docs", "total_tokens"))
    assert(cols(pq, "_centroids") == Set("cell", "qcent", "cnorm2"))
    assert(cols(pq, "_codebook") == Set("sub", "code", "jj", "cw"))
    assert(cols(pq, "_meta") == Set("quantizer", "screen_nprobe",
      "screen_recall_target", "screen_recall_measured", "docs_at_cal"))
    // the companions are corpus-complete from the first refresh: every
    // doc has a hash key, the meta partial counts every doc, and the
    // champion and codebook tables are populated
    val nDocs = d.count()
    assert(table(band, "_hashes").select("doc_id").distinct().count() == nDocs)
    assert(table(text, "_meta").agg(sum("n_docs")).head().getLong(0) == nDocs)
    assert(table(text, "_champ").count() > 0 && table(pq, "_codebook").count() > 0)
    // uncalibrated refreshes persist the never-calibrated sentinels
    assert(Dedup.bandMetaOf(spark, band).get.threshold == -1)
    assert(table(pq, "_meta").select("screen_nprobe", "docs_at_cal").head().toSeq ==
      Seq(-1, -1L))
    TablePointer.dropAll(spark, band, Dedup.BandSuffixes)
    TablePointer.dropAll(spark, text, textSuffixes)
    dropPqTables(pq)
  }
}
