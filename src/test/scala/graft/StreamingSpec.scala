package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{SessionEvent, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import java.sql.Timestamp

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  test("hourlyRollup aggregates a memory stream into 1-hour windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStreams.hourlyRollup(events).writeStream
      .format("memory").queryName("rollup_test").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (ts(0), 1L, "click", 1.0), (ts(10), 2L, "click", 2.0),
        (ts(70), 1L, "view", 5.0))
      // advance the watermark past the first window so append emits it
      input.addData((ts(300), 9L, "click", 0.0))
      q.processAllAvailable()
      val out = spark.table("rollup_test").collect()
      val clickRow = out.find(r => r.getAs[String]("event_type") == "click" &&
        r.getAs[Timestamp]("hour_start") == Timestamp.valueOf("2024-01-01 10:00:00"))
      assert(clickRow.isDefined, out.mkString(";"))
      assert(clickRow.get.getAs[Long]("n_events") == 2)
      assert(clickRow.get.getAs[Double]("total_value") == 3.0)
    } finally q.stop()
  }

  test("dedupStream drops re-delivered event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("event_id", "ts", "value")
    val q = EventStreams.dedupStream(events).writeStream
      .format("memory").queryName("dedup_test").outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, ts(0), 1.0), (2L, ts(1), 2.0), (1L, ts(2), 1.0))
      q.processAllAvailable()
      input.addData((2L, ts(3), 2.0), (3L, ts(4), 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 2L, 3L), ids.mkString(","))
    } finally q.stop()
  }

  test("sessionize closes a session after a 30-minute gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(input.toDS()).writeStream
      .format("memory").queryName("session_test").outputMode(OutputMode.Append()).start()
    try {
      // user 1: two bursts separated by >30 min => first closes on arrival
      input.addData(
        SessionEvent(1L, ts(0), 1.0), SessionEvent(1L, ts(5), 2.0),
        SessionEvent(1L, ts(50), 3.0))
      q.processAllAvailable()
      val out = spark.table("session_test").as[SessionOut].collect()
      assert(out.length == 1, out.mkString(";"))
      val s = out.head
      assert(s.user_id == 1L && s.n_events == 2 && s.total_value == 3.0)
      assert(s.session_start == ts(0) && s.session_end == ts(5))
    } finally q.stop()
  }

  test("native session_window agrees with the stateful sessionize on closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    val q = EventStreams.sessionizeNative(events).writeStream
      .format("memory").queryName("native_session_test").outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(0), 1L, 1.0), (ts(5), 1L, 2.0), (ts(50), 1L, 3.0))
      // push the watermark far ahead so both sessions close
      input.addData((ts(600), 9L, 0.0))
      q.processAllAvailable()
      val out = spark.table("native_session_test")
        .filter($"user_id" === 1L).orderBy("session_start").collect()
      assert(out.length == 2, out.mkString(";"))
      assert(out(0).getAs[Long]("n_events") == 2 && out(0).getAs[Double]("total_value") == 3.0)
      assert(out(1).getAs[Long]("n_events") == 1 && out(1).getAs[Double]("total_value") == 3.0)
    } finally q.stop()
  }

  test("incrementalDailyRollup re-emits a (user, day) row when a later batch touches it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStreams.incrementalDailyRollup(events).writeStream
      .format("memory").queryName("incr_rollup_test").outputMode(OutputMode.Update()).start()
    try {
      input.addData((ts(0), 1L, "view", 5.0), (ts(5), 1L, "purchase", 10.0))
      q.processAllAvailable()
      input.addData((ts(30), 1L, "purchase", 7.0))
      q.processAllAvailable()
      // update mode: latest emission for (day, user 1) carries BOTH purchases
      val rows = spark.table("incr_rollup_test")
        .filter($"user_id" === 1L).collect()
      assert(rows.nonEmpty)
      val last = rows.last
      assert(last.getAs[Long]("purchases") == 2, rows.mkString(";"))
      assert(last.getAs[Double]("purchase_total") == 17.0)
      assert(last.getAs[Long]("views") == 1)
    } finally q.stop()
  }

  test("upsertRollupBatch merges at (day, user) grain without dropping untouched rows") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("gold-upsert").toString + "/gold"
    def row(day: String, uid: Long, purchases: Long, total: Double) =
      (day, uid, 1L, purchases, total, 0L, 0L)
    def df(rows: (String, Long, Long, Long, Double, Long, Long)*) =
      rows.toSeq.toDF("day", "user_id", "views", "purchases", "purchase_total", "clicks", "errors")
    // batch 1: two users on day 1
    EventStreams.upsertRollupBatch(out)(
      df(row("2024-01-01", 1L, 1L, 10.0), row("2024-01-01", 2L, 1L, 20.0)), 0L)
    // batch 2: user 1's day-1 row updated; new day 2 user
    EventStreams.upsertRollupBatch(out)(
      df(row("2024-01-01", 1L, 2L, 17.0), row("2024-01-02", 3L, 1L, 5.0)), 1L)
    val back = spark.read.parquet(out)
      .withColumn("day", col("day").cast("string"))
      .orderBy("day", "user_id").collect()
      .map(r => (r.getAs[String]("day"), r.getAs[Long]("user_id"),
        r.getAs[Long]("purchases"), r.getAs[Double]("purchase_total")))
    assert(back.toSeq == Seq(
      ("2024-01-01", 1L, 2L, 17.0),   // updated
      ("2024-01-01", 2L, 1L, 20.0),   // untouched same-day row survives
      ("2024-01-02", 3L, 1L, 5.0)),   // new partition
      back.mkString(";"))
  }

  test("nearDupQuery flags streamed documents against the static band index, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Dedup
    val indexDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "a completely different document about streaming joins and band indexes " +
        "carrying enough running words that two appended tokens still leave most " +
        "of its shingles untouched which is the realistic corpus document shape " +
        "for near duplicate detection at any practical scale factor"),
      (3L, "unique filler content carrying words nobody else shares at all here")
    ).toDF("doc_id", "text")
    val guarded = Dedup.guardedIndex(Dedup.minhashBands(indexDocs)).cache()

    val out = java.nio.file.Files.createTempDirectory("neardup-out").toString + "/flags"
    val ckpt = java.nio.file.Files.createTempDirectory("neardup-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.nearDupQuery(
      input.toDF.toDF("doc_id", "text"), guarded, out, ckpt)
    // batch 1: an exact copy of doc 1 and a novel doc
    input.addData((100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "entirely novel words that collide with nothing in the standing index"))
    q.processAllAvailable()
    // batch 2: a near-dup of doc 2 (two words appended)
    input.addData((102L, "a completely different document about streaming joins and band indexes " +
      "carrying enough running words that two appended tokens still leave most " +
      "of its shingles untouched which is the realistic corpus document shape " +
      "for near duplicate detection at any practical scale factor revised edition"))
    q.processAllAvailable()
    q.stop()

    val back = spark.read.parquet(out).orderBy("batch_doc_id").collect()
      .map(r => (r.getAs[Long]("batch_doc_id"),
        Option(r.getAs[java.lang.Long]("match_doc_id")).map(_.toLong),
        r.getAs[Long]("n_shared_bands"), r.getAs[Int]("is_near_dup")))
    assert(back.length == 3, back.mkString(";"))
    assert(back(0) == (100L, Some(1L), 8L, 1), s"exact copy: ${back(0)}")
    assert(back(1)._1 == 101L && back(1)._4 == 0, s"novel doc must not flag: ${back(1)}")
    assert(back(2)._1 == 102L && back(2)._2 == Some(2L) && back(2)._4 == 1,
      s"near-dup: ${back(2)}")
  }

  test("semAdmissionQuery flags streamed re-encodes against the static semantic index, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Ann
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    // standing state, built ONCE outside the stream
    val (centroids, guarded) = Ann.semanticIndexFrames(e)
    val c = centroids.cache()
    val g = guarded.cache()

    val src = e.filter(col("vec_id").isin(0L, 1L)).orderBy("vec_id").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("emb")))
    val reencoded = src(0).map(_ * 0.99)
    val inverted = src(1).map(x => -x)

    val out = java.nio.file.Files.createTempDirectory("semadm-out").toString + "/flags"
    val ckpt = java.nio.file.Files.createTempDirectory("semadm-ckpt").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = EventStreams.semAdmissionQuery(
      input.toDF.toDF("vec_id", "emb"), g, c, out, ckpt)
    // batch 1: a re-encode of corpus vector 0 (same direction, cosine 1)
    input.addData((1000L, reencoded))
    q.processAllAvailable()
    // batch 2: an inversion of corpus vector 1 (cosine −1 to its source)
    input.addData((1001L, inverted))
    q.processAllAvailable()
    q.stop()

    val back = spark.read.parquet(out).orderBy("vec_id").collect()
    assert(back.length == 2, back.mkString(";"))
    assert(back(0).getAs[Long]("vec_id") == 1000L &&
      back(0).getAs[Int]("is_dup") == 1 &&
      back(0).getAs[java.lang.Long]("match_vec_id") == 0L,
      s"re-encode must flag against its source: ${back(0)}")
    assert(back(1).getAs[Long]("vec_id") == 1001L &&
      back(1).getAs[Int]("is_dup") == 0,
      s"inversion must be admitted: ${back(1)}")
  }

  test("admissionQuery grows the standing state: a later micro-batch's copy of an earlier admission is rejected") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Ann, Dedup}
    val band = "stream_admit_band"
    val pq = "stream_admit_pq"
    val text = "stream_admit_text"
    graft.sources.TablePointer.dropAll(spark, band, Dedup.BandSuffixes)
    graft.sources.TablePointer.dropAll(spark, pq,
      Seq("_centroids", "_codebook", "_meta"))
    graft.sources.TablePointer.dropAll(spark, text,
      Seq("_df", "_meta", "_champ", "_cal"))
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    Dedup.refreshIndex(d, band, numBuckets = 8)
    Ann.refreshPqIndex(e, pq)
    graft.operators.TextRank.refreshTextIndex(d, text)

    val textA = "entirely fresh streaming prose about quantum marble " +
      "butterflies gliding past copper lighthouses while astronomers argue"
    def novelVec(seed: Int): Seq[Double] =
      (0 until 64).map(j => math.sin(seed * 64.0 + j))
    // the embedding side-channel covers every possible streamed doc id
    val sideVecs = Seq(
      (800001L, novelVec(911)),
      (800002L, novelVec(911).map(_ * 0.99)),
      (800003L, novelVec(912))).toDF("vec_id", "emb")

    val out = java.nio.file.Files.createTempDirectory("admitq-out").toString + "/landed"
    val ckpt = java.nio.file.Files.createTempDirectory("admitq-ckpt").toString
    val input = MemoryStream[(Long, String)]
    // recovery + compaction wired (round 9): every admitting micro-batch
    // appends per-bucket files, so maxFilesPerBucket=1 trips after each
    // append and the seed ∪ landed refresh compacts both indexes back —
    // and the REFRESHED state must keep screening later batches
    val q = EventStreams.admissionQuery(
      input.toDF.toDF("doc_id", "text"), band, out, ckpt,
      Some(sideVecs), Some(pq),
      recovery = Some(graft.Admit.Standing(d, Some(e))),
      maxFilesPerBucket = 1,
      textTable = Some(text))
    // micro-batch 0: doc A is novel on both screens — admitted; so is a
    // novel TWO-WORD doc (shingle-less: the band index never sees it)
    input.addData((800001L, textA), (800006L, "zq wv"))
    q.processAllAvailable()
    // micro-batch 1: an exact copy of doc A (exact-hash reject vs batch
    // 0's append — round 13; pre-r13 this was the band probe's catch), a
    // re-encode of doc A's vector under new text (semantic reject vs
    // batch 0's append), a genuinely new doc (admitted), and a verbatim
    // replay of batch 0's two-word doc — the sub-3-word floor the
    // streaming cycle must inherit the exact screen to close
    input.addData(
      (800004L, textA),
      (800002L, "wholly different streamed surface form reciting dune " +
        "mathematics to an audience of patient carpenter bees"),
      (800003L, "another new passage about velvet glaciers and the " +
        "arithmetic of forgotten tram schedules at midnight"),
      (800007L, "zq wv"))
    q.processAllAvailable()
    q.stop()

    val landed = spark.read.parquet(out)
      .select("batch_id", "doc_id").as[(Int, Long)].collect().toSet
    assert(landed == Set((0, 800001L), (0, 800006L), (1, 800003L)),
      s"batch 1's copies (incl. the two-word one) and re-encode of batch " +
        s"0's admissions must be rejected: $landed")
    // the per-batch accounting names the exact-screen catches
    val exa = spark.read.parquet(s"$out/_admit_reports")
      .select("batch_id", "exact_rejected").as[(Int, Long)].collect().toMap
    assert(exa == Map(0 -> 0L, 1 -> 2L), exa.toString)
    // the compaction ran: the band table is back to one file per bucket
    // and the cell-partitioned PQ member table to one file per cell even
    // though two admitting micro-batches appended to them
    assert(graft.sources.Ingest.bucketFileCounts(spark, phys(band)).values.max == 1,
      s"$band not compacted: ${graft.sources.Ingest.bucketFileCounts(spark, phys(band))}")
    assert(graft.sources.Ingest.partitionFileCounts(spark, phys(pq)).values.max == 1,
      s"$pq not compacted: ${graft.sources.Ingest.partitionFileCounts(spark, phys(pq))}")
    // the standing BM25 index rode the same cycles (round 14 third
    // pass): both admitted prose docs are retrieval-servable after the
    // stream, the rejected verbatim copy's id never entered the
    // postings, and the compaction rebuild left a fresh generation
    // still serving them
    val qhits = graft.operators.TextRank.searchTextIndex(spark, text,
        Seq((1L, "butterflies"), (2L, "glaciers")).toDF("q_id", "term"))
      .collect()
    assert(qhits.map(_.getAs[Long]("doc_id")).toSet == Set(800001L, 800003L),
      qhits.mkString)
    val textPhys = graft.sources.TablePointer.resolve(spark, text)
    assert(spark.table(textPhys)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 800004L)
      .count() == 0)
    assert(graft.sources.TablePointer.generationOf(textPhys) >= 1,
      s"compaction rebuild should land a pointer generation: $textPhys")
    graft.sources.TablePointer.dropAll(spark, text,
      Seq("_df", "_meta", "_champ", "_cal"))
  }

  test("streaming admission over the IVF-PQ index: state grows per batch and partition-grain compaction trips") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Ann, Dedup}
    val band = "stream_admit_pq_band"
    val pq = "stream_admit_pq_idx"
    for (t <- Seq(band, pq, s"${pq}_centroids", s"${pq}_codebook",
        s"${pq}_meta")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    val e = Tables.load(spark, Sf, "embeddings")
      .withColumn("emb", org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> cast(x as double))"))
      .select("vec_id", "emb", "label")
    Dedup.refreshIndex(d, band, numBuckets = 8)
    Ann.refreshPqIndex(e, pq)

    val textA = "entirely fresh streaming prose about porcelain " +
      "observatories and the slow arithmetic of migrating chandeliers"
    def novelVec(seed: Int): Seq[Double] =
      (0 until 64).map(j => math.sin(seed * 64.0 + j))
    val sideVecs = Seq(
      (820001L, novelVec(921)),
      (820002L, novelVec(921).map(_ * 0.99)),
      (820003L, novelVec(922))).toDF("vec_id", "emb")

    val out = java.nio.file.Files.createTempDirectory("admitpq-out").toString + "/landed"
    val ckpt = java.nio.file.Files.createTempDirectory("admitpq-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.admissionQuery(
      input.toDF.toDF("doc_id", "text"), band, out, ckpt,
      Some(sideVecs), Some(pq),
      recovery = Some(graft.Admit.Standing(d, Some(e.select("vec_id", "emb")))),
      maxFilesPerBucket = 1)
    try {
      // micro-batch 0: doc A novel on both screens — admitted
      input.addData((820001L, textA))
      q.processAllAvailable()
      // micro-batch 1: a re-encode of doc A's vector under new text must
      // reject ONLY because batch 0's cycle appended A's codes to the PQ
      // index; a genuinely new doc is admitted
      input.addData(
        (820002L, "wholly different streamed surface form reciting slate " +
          "geometry to an audience of patient lighthouse moths"),
        (820003L, "another new streamed passage on marzipan funiculars " +
          "and the bookkeeping of borrowed meteor showers"))
      q.processAllAvailable()
    } finally q.stop()

    val landed = spark.read.parquet(out)
      .select("batch_id", "doc_id").as[(Int, Long)].collect().toSet
    assert(landed == Set((0, 820001L), (1, 820003L)),
      s"batch 1's re-encode of batch 0's admission must be rejected: $landed")
    // the partition-grain compaction ran: the cell-partitioned PQ member
    // table is back to one file per cell even though two admitting
    // micro-batches appended to it (needsCompaction's round-10 dispatch)
    assert(graft.sources.Ingest.partitionFileCounts(spark, phys(pq)).values.max == 1,
      s"$pq not compacted: ${graft.sources.Ingest.partitionFileCounts(spark, phys(pq))}")
    assert(graft.sources.Ingest.bucketFileCounts(spark, phys(band)).values.max == 1)
  }

  test("streaming admission rejects benchmark-contaminated docs per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Dedup
    val band = "stream_decon_band"
    spark.sql(s"DROP TABLE IF EXISTS $band")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/$band")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val d = Tables.load(spark, Sf, "documents").select("doc_id", "text")
    Dedup.refreshIndex(d, band, numBuckets = 8)

    val benchText = "the held out benchmark wonders whether copper " +
      "lighthouses guide seventeen astronomers through quiet winter eclipses"
    // persisted, per the admissionQuery contract: the bloom build scans
    // this frame every micro-batch
    val benchGrams = graft.operators.Curation
      .gramHashes(Seq((1L, benchText)).toDF("doc_id", "text"))
      .select("gh").distinct().persist()
    benchGrams.count()

    val out = java.nio.file.Files.createTempDirectory("deconq-out").toString + "/landed"
    val ckpt = java.nio.file.Files.createTempDirectory("deconq-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.admissionQuery(
      input.toDF.toDF("doc_id", "text"), band, out, ckpt,
      recovery = Some(graft.Admit.Standing(d)),
      benchmarkGrams = Some(benchGrams))
    try {
      // micro-batch 0: a clean novel doc (admitted) and a doc quoting an
      // 8-gram of the benchmark (rejected at the door)
      input.addData(
        (810001L, "wholly original streamed musing on terracotta " +
          "submarines navigating library corridors beneath cautious rain"),
        (810002L, "every study guide repeats that copper lighthouses guide " +
          "seventeen astronomers through quiet winter eclipses verbatim"))
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().toSet
      assert(landed == Set(810001L), landed.toString)
      val rep = spark.read.parquet(s"${out}/_admit_reports")
        .select("contaminated_rejected", "admitted")
        .as[(Long, Long)].collect().toSet
      assert(rep == Set((1L, 1L)), rep.toString)
    } finally { q.stop(); benchGrams.unpersist(); () }
  }

  test("attributeStream joins purchases to in-window views only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val views = MemoryStream[(Timestamp, Long, Long, Double)]
    val purchases = MemoryStream[(Timestamp, Long, Long, Double)]
    def df(m: MemoryStream[(Timestamp, Long, Long, Double)]) =
      m.toDF().toDF("ts", "event_id", "user_id", "value")
    val q = EventStreams.attributeStream(df(views), df(purchases)).writeStream
      .format("memory").queryName("attr_test").outputMode(OutputMode.Append()).start()
    try {
      // user 1: view 30 min before purchase (in window), view 2 h before
      // (out of window); user 2: view AFTER purchase (never matches)
      views.addData(
        (ts(0), 10L, 1L, 1.0),     // t+0, out of the 1h window for t+120
        (ts(90), 11L, 1L, 2.0),    // t+90, inside [t+60, t+120]
        (ts(130), 12L, 2L, 3.0))   // after user 2's purchase
      purchases.addData((ts(120), 20L, 1L, 50.0), (ts(125), 21L, 2L, 60.0))
      q.processAllAvailable()
      val rows = spark.table("attr_test")
        .select("purchase_id", "view_value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(rows == Set((20L, 2.0)), rows.mkString(";"))
    } finally q.stop()
  }

  test("alertStream fires threshold alerts against a static baseline as days arrive") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Alerts
    // batch-side history: user 1's view score hovers near 10 (sigma>0);
    // purchase spend near 100
    def dayTs(d: Int): Timestamp = Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    val history = (1 to 10).flatMap { d =>
      Seq((1L, "view", f"2024-01-$d%02d", 10.0 + (d % 3 - 1)),
        (1L, "purchase", f"2024-01-$d%02d", 100.0 + (d % 5 - 2)))
    }.toDF("user_id", "metric", "day", "observed")
    val baseline = Alerts.thresholdBaseline(history)
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStreams.alertStream(events, baseline, Alerts.rules(spark))
      .writeStream.format("memory").queryName("alert_test")
      .outputMode(OutputMode.Update()).start()
    try {
      // day 11: view collapses to 2 (below mu-1.5σ) and purchase spikes
      // to 200 (above mu+1.5σ); click has no baseline → no alert
      input.addData(
        (dayTs(11), 1L, "view", 2.0),
        (dayTs(11), 1L, "purchase", 200.0),
        (dayTs(11), 1L, "click", 1.0))
      q.processAllAvailable()
      val out = spark.table("alert_test").collect()
        .map(r => (r.getAs[String]("condition"), r.getAs[String]("severity")))
        .toSet
      assert(out == Set(
        ("Depressed View Score", "warning"),
        ("Elevated Purchase Spend", "warning")), out.mkString(";"))
    } finally q.stop()
  }

  test("sessionize emits via event-time timeout when the stream goes quiet") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(input.toDS()).writeStream
      .format("memory").queryName("session_timeout_test").outputMode(OutputMode.Append()).start()
    try {
      input.addData(SessionEvent(2L, ts(0), 1.0))
      q.processAllAvailable()
      // another user's much-later event advances the watermark beyond
      // lastTs + gap, firing user 2's timeout
      input.addData(SessionEvent(3L, ts(600), 1.0))
      q.processAllAvailable()
      val out = spark.table("session_timeout_test").as[SessionOut].collect()
      assert(out.exists(s => s.user_id == 2L && s.n_events == 1), out.mkString(";"))
    } finally q.stop()
  }

  test("nearDupQuery under the robust tokenizer mode flags punctuated streamed copies the default stream misses") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Dedup
    // the q152 adversarial class as a STREAM: the index is built robust,
    // the stream binds the matching mode at start (the hashMode
    // contract's round-16 twin) — a punctuated re-delivery of indexed
    // content must flag per micro-batch
    val indexDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "unique filler content carrying words nobody else shares at all here")
    ).toDF("doc_id", "text")
    val guarded = Dedup.guardedIndex(
      Dedup.minhashBands(indexDocs, "md5", "robust")).cache()
    val out = java.nio.file.Files.createTempDirectory("neardup-rob-out")
      .toString + "/flags"
    val ckpt = java.nio.file.Files.createTempDirectory("neardup-rob-ckpt")
      .toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.nearDupQuery(
      input.toDF.toDF("doc_id", "text"), guarded, out, ckpt,
      tokMode = "robust")
    input.addData(
      (200L, "the, quick, brown, fox, jumps, over, the, lazy, dog, again, and, again, today"),
      (201L, "entirely novel words that collide with nothing in the standing index"))
    q.processAllAvailable()
    q.stop()
    val flags = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("batch_doc_id") ->
        (r.getAs[Long]("n_shared_bands"), r.getAs[Int]("is_near_dup"))).toMap
    assert(flags(200L) == ((8L, 1)),
      s"the punctuated copy must sign bit-identically under robust: $flags")
    assert(flags(201L)._2 == 0, flags.toString)
    guarded.unpersist()
  }
}
