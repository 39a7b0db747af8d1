package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Ann, TextRank}
import graft.sources.TablePointer

/** The standing-index serving reads: the Spark jobs one warm request
  * costs, and the companion memo's staleness contract — every spec that
  * changes a generation's companions searches FIRST, so the memo holds
  * the old state when the change lands.
  */
class ServingSpec extends SparkSpec {

  private val TextSuf = Seq("_df", "_meta", "_champ", "_cal")
  private val PqSuf = Seq("_centroids", "_codebook", "_meta")

  private def docs: DataFrame =
    Tables.load(spark, Sf, "documents").select("doc_id", "text")

  private def vecs: DataFrame = Tables.load(spark, Sf, "embeddings")
    .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
    .select("vec_id", "emb", "label")

  /** The query panel of the text specs (the q143 slice). */
  private def panel: DataFrame = docs
    .filter(col("doc_id") % 101 === 0 && col("doc_id") < 3500)
    .select(col("doc_id").as("q_id"),
      explode(array_distinct(slice(split(lower(trim(col("text"))), " "), 1, 6))).as("term"))
    .filter(length(col("term")) > 0)

  private def key(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  /** Spark jobs started while `body` runs, counted by a listener on a
    * job group of its own. The listener bus is asynchronous, so the count
    * is read once it has held still for half a second.
    */
  private def jobsOf(body: => Unit): Int = {
    val group = s"serving-budget-${System.nanoTime}"
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "serving job budget")
      try body finally spark.sparkContext.clearJobGroup()
      var last = -1
      val deadline = System.currentTimeMillis() + 10000
      while (started.get != last && System.currentTimeMillis() < deadline) {
        last = started.get
        Thread.sleep(500)
      }
      started.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The serving state's shape (refreshed over 80%, the rest appended)
    * and one query as a request brings it: terms as a local frame, the
    * vector as a parallelized one. `body` gets the page's three searches.
    */
  private def withServingPage(name: String)(
      body: Seq[(String, () => DataFrame)] => Unit): Unit = {
    import spark.implicits._
    val (text, pq) = (s"${name}_text", s"${name}_pq")
    TablePointer.dropAll(spark, text, TextSuf)
    TablePointer.dropAll(spark, pq, PqSuf)
    val d = docs
    val e = vecs
    TextRank.refreshTextIndex(d.filter(col("doc_id") % 5 =!= 0), text)
    TextRank.appendTextIndex(spark, text, d.filter(col("doc_id") % 5 === 0))
    Ann.refreshPqIndex(e.filter(col("vec_id") % 5 =!= 0), pq, quantizer = "kmeans")
    Ann.appendPqIndex(spark, pq, e.filter(col("vec_id") % 5 === 0).select("vec_id", "emb"))
    val doc = d.filter(col("doc_id") === 7).head()
    val terms = doc.getString(1).split(" ").filter(_.nonEmpty).distinct.take(5).toSeq
    val qt = terms.map(t => (900000007L, t)).toDF("q_id", "term")
    val v = e.filter(col("vec_id") === 7).head().getAs[scala.collection.Seq[Double]]("emb").toSeq
      .map(_ * 0.97)
    val qv = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(900000007L, v)), 4), StructType(Seq(
      StructField("vec_id", LongType), StructField("emb", ArrayType(DoubleType)))))
    try body(Seq[(String, () => DataFrame)](
      "text" -> (() => TextRank.searchTextIndex(spark, text, qt, k = 10)),
      "vector" -> (() => Ann.searchPqIndex(spark, pq, qv, k = 10)),
      "hybrid" -> (() => TextRank.hybridSearchIndexed(spark, text, pq, qt, qv,
        k = 10, nprobe = 0, adcTopC = 0, sparseDfFrac = 0.0))))
    finally {
      TablePointer.dropAll(spark, text, TextSuf)
      TablePointer.dropAll(spark, pq, PqSuf)
    }
  }

  test("a warm single-query page stays inside its Spark-job budget per search kind") {
    withServingPage("serve_budget") { searches =>
      // warm: the first call of each kind fills the companion memo
      searches.foreach { case (_, search) => assert(search().collect().nonEmpty) }
      val jobs = searches.map { case (kind, search) =>
        kind -> jobsOf(search().collect())
      }.toMap
      info(s"warm Spark jobs per search: $jobs")
      // measured 6, 10 and 16: the hybrid runs exactly the text and vector
      // searches' jobs and fuses on the driver. One job of slack each for
      // a count that moves between runs
      val budget = Map("text" -> 7, "vector" -> 11, "hybrid" -> 17)
      budget.foreach { case (kind, b) =>
        assert(jobs(kind) <= b, s"$kind search ran ${jobs(kind)} jobs (budget $b): $jobs")
      }
    }
  }

  test("a warm page runs from Spark's default codegen cache: the second page compiles almost nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    withServingPage("serve_codegen") { searches =>
      def page(): Long = {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        searches.foreach { case (_, search) => assert(search().collect().nonEmpty) }
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      val (first, second) = (page(), page())
      info(s"generated classes compiled: first page $first, second page $second")
      // measured 0–6 on a second page. Spark's cache holds 100 classes in
      // four LRU segments, keyed by (class loader, source), and which
      // segment a class lands in changes per JVM, so the budget leaves
      // room over the measured count. A page that outgrows the cache
      // recompiles every class of a thrashing segment each time
      assert(second <= 20, s"a warm page compiled $second classes (first page $first)")
    }
  }

  test("driver-side RRF equals fuseRrf over the same two arms") {
    import spark.implicits._
    // q 1: doc 10 in both arms, 11 sparse-only and 12 dense-only at rank
    // 1 (equal rrf0, broken by doc_id), more docs than k; q 2: one arm
    // only; q 3: a doc in each arm at the same rank
    val sparse = Seq((1L, 11L, 1), (1L, 10L, 2), (1L, 13L, 3), (1L, 14L, 4),
      (2L, 20L, 1), (2L, 21L, 2), (3L, 31L, 2))
      .toDF("q_id", "doc_id", "sparse_rank")
    val dense = Seq((1L, 12L, 1), (1L, 10L, 3), (1L, 15L, 2), (1L, 16L, 4),
      (3L, 30L, 2), (3L, 32L, 1))
      .toDF("q_id", "doc_id", "dense_rank")
    for (k <- Seq(1, 3, 10)) {
      val viaPlan = TextRank.fuseRrf(sparse, dense, k).orderBy("q_id", "rank").collect().toSeq
      val onDriver = TextRank.fuseRrfRows(sparse.collect().toSeq, dense.collect().toSeq, k)
      assert(onDriver == viaPlan, s"k=$k")
    }
    assert(TextRank.fuseRrfRows(sparse.collect().toSeq, dense.collect().toSeq, 3)
      .filter(_.getLong(0) == 1L).map(_.getLong(2)) == Seq(10L, 11L, 12L))
  }

  test("hybridSearchIndexed names itself and its fixed bound when a query side is one row over it") {
    val bound = 100000L
    val smallQt = spark.range(1).select(col("id").as("q_id"), lit("x").as("term"))
    val smallQv = spark.range(1).select(col("id").as("vec_id"), array(lit(1.0)).as("emb"))
    val overQt = spark.range(bound + 1).select(col("id").as("q_id"), lit("x").as("term"))
    val overQv = spark.range(bound + 1).select(col("id").as("vec_id"), array(lit(1.0)).as("emb"))
    for ((qt, qv, side) <- Seq((overQt, smallQv, "terms"), (smallQt, overQv, "vectors"))) {
      val e = intercept[IllegalArgumentException](
        TextRank.hybridSearchIndexed(spark, "serve_guard_text", "serve_guard_pq", qt, qv))
      assert(e.getMessage.contains(s"hybridSearchIndexed broadcasts its query $side"), e.getMessage)
      assert(e.getMessage.contains(s"fixed bound of $bound rows"), e.getMessage)
      assert(!e.getMessage.contains("maxQueryRows"), e.getMessage)
    }
  }

  test("an append after a search: the next search serves bm25TopK over the union") {
    val t = "serve_stale_append"
    TablePointer.dropAll(spark, t, TextSuf)
    val d = docs
    val qt = panel
    TextRank.refreshTextIndex(d.filter(col("doc_id") % 2 === 0), t)
    assert(key(TextRank.searchTextIndex(spark, t, qt)) ==
      key(TextRank.bm25TopK(d.filter(col("doc_id") % 2 === 0), qt).orderBy("q_id", "rk")))
    TextRank.appendTextIndex(spark, t, d.filter(col("doc_id") % 2 === 1))
    assert(key(TextRank.searchTextIndex(spark, t, qt)) ==
      key(TextRank.bm25TopK(d, qt).orderBy("q_id", "rk")))
    TablePointer.dropAll(spark, t, TextSuf)
  }

  test("dropAll then a refresh of another corpus reuses g1: the search serves the new exact ranking") {
    val t = "serve_stale_g1"
    TablePointer.dropAll(spark, t, TextSuf)
    val d = docs
    val qt = panel
    val (first, second) = (d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 4 =!= 0))
    TextRank.refreshTextIndex(first, t)
    assert(TablePointer.resolve(spark, t) == s"${t}__g1")
    val before = key(TextRank.searchTextIndex(spark, t, qt))
    assert(before == key(TextRank.bm25TopK(first, qt).orderBy("q_id", "rk")))
    TablePointer.dropAll(spark, t, TextSuf)
    TextRank.refreshTextIndex(second, t)
    assert(TablePointer.resolve(spark, t) == s"${t}__g1")
    val after = key(TextRank.searchTextIndex(spark, t, qt))
    assert(after == key(TextRank.bm25TopK(second, qt).orderBy("q_id", "rk")))
    assert(after != before, "the two corpora must rank differently for this spec to bite")
    TablePointer.dropAll(spark, t, TextSuf)
  }

  test("a _cal rewrite after an auto-knob search: the next auto search follows the new row") {
    val (t, pq) = ("serve_stale_cal", "serve_stale_cal_pq")
    TablePointer.dropAll(spark, t, TextSuf)
    TablePointer.dropAll(spark, pq, PqSuf)
    val d = docs
    val qt = panel
    // sparse knobs: a strict target, searched at auto, then a loose one
    TextRank.refreshTextIndex(d, t, serveRecallTarget = 1.0)
    val strict = TextRank.textCalOf(spark, t).get
    val autoStrict = key(TextRank.searchTextIndex(spark, t, qt, maxDfFrac = 0.0))
    assert(autoStrict == key(TextRank.searchTextIndex(spark, t, qt,
      maxDfFrac = strict.maxDfFrac)))
    val loose = TextRank.calibrateTextServing(spark, t, 0.25)
    assert(loose.maxDfFrac < strict.maxDfFrac, s"loose $loose vs strict $strict")
    val autoLoose = key(TextRank.searchTextIndex(spark, t, qt, maxDfFrac = 0.0))
    assert(autoLoose == key(TextRank.searchTextIndex(spark, t, qt,
      maxDfFrac = loose.maxDfFrac)))
    assert(autoLoose != autoStrict, "the two thresholds must rank differently")
    // the fused pair: auto hybrid serves exactness until the hybrid sweep
    // rewrites `_cal`, then the calibrated pair
    val e = vecs
    Ann.refreshPqIndex(e, pq)
    val qv = e.select("vec_id", "emb")
      .join(qt.select(col("q_id").as("vec_id")).distinct(), "vec_id")
    def hybrid(np: Int, adc: Int, frac: Double) = key(TextRank.hybridSearchIndexed(
      spark, t, pq, qt, qv, nprobe = np, adcTopC = adc, sparseDfFrac = frac))
    val nlist = Ann.centroidsOf(spark, pq).count().toInt
    assert(hybrid(0, 0, 0.0) == hybrid(nlist, 64, 1.0))
    val hc = TextRank.calibrateHybridServing(spark, t, pq, 0.5)
    assert(hybrid(0, 0, 0.0) == hybrid(hc.nprobe, hc.adcTopC, hc.dfFrac))
    assert((hc.nprobe, hc.dfFrac) != ((nlist, 1.0)),
      s"the sweep should pick a cheaper pair than exactness: $hc")
    TablePointer.dropAll(spark, t, TextSuf)
    TablePointer.dropAll(spark, pq, PqSuf)
  }

  test("hybrid old-reader isolation: a plan built on g1 collects the g1 ranking after both indexes move to g2") {
    val (t, pq) = ("serve_iso_text", "serve_iso_pq")
    TablePointer.dropAll(spark, t, TextSuf)
    TablePointer.dropAll(spark, pq, PqSuf)
    val d = docs
    val e = vecs
    val qt = panel
    val qv = e.select("vec_id", "emb")
      .join(qt.select(col("q_id").as("vec_id")).distinct(), "vec_id")
    TextRank.refreshTextIndex(d.filter(col("doc_id") % 2 === 0), t)
    Ann.refreshPqIndex(e.filter(col("vec_id") % 2 === 0), pq)
    def hybrid() = TextRank.hybridSearchIndexed(spark, t, pq, qt, qv,
      nprobe = 0, adcTopC = 0, sparseDfFrac = 0.0)
    val baseline = hybrid().collect().toSeq.map(_.toString)
    val oldReader = hybrid()
    TextRank.refreshTextIndex(d, t)
    Ann.refreshPqIndex(e, pq)
    assert(TablePointer.resolve(spark, t) == s"${t}__g2")
    assert(TablePointer.resolve(spark, pq) == s"${pq}__g2")
    assert(oldReader.collect().toSeq.map(_.toString) == baseline,
      "a hybrid plan holding the g1 resolution must read the g1 snapshot")
    assert(hybrid().collect().toSeq.map(_.toString) != baseline,
      "a new reader must see the g2 corpus")
    TablePointer.dropAll(spark, t, TextSuf)
    TablePointer.dropAll(spark, pq, PqSuf)
  }
}
