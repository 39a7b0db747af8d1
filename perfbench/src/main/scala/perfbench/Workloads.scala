package perfbench

import java.io.File

import scala.collection.mutable

import graft.operators.{Ann, Briefing, Clusters, Curation, Dedup, Sampling,
  SemanticViews, TextOps, TextRank, TrainingLoad, Windows}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Input sizes. `smoke` shrinks every workload to one cheap operation. */
object Sizes {
  def users(smoke: Boolean): Int = if (smoke) 40 else 1500
  val EventsPerUser = 40
  def curateBase(smoke: Boolean): Int = if (smoke) 150 else 600
  def curatePlanted(smoke: Boolean): Int = if (smoke) 15 else 150
  def standingDocs(smoke: Boolean): Int = if (smoke) 300 else 1000
  val BatchNovel = 150
  val BatchTwins = 10
  val BatchExact = 20
  val BatchPunct = 20
  val BatchNear = 25
  val BatchReencode = 25
  val K = 10
  val RecallPanel = 30
}

object Disk {
  def sizeAndCount(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .map(sizeAndCount).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.getName.endsWith(".parquet")) (f.length(), 1L)
    else (0L, 0L)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

// ------------------------------------------------------------------ medallion

/** The daily medallion refresh: `Pipeline.run` over seeded events, then one
  * query per registered semantic view on the fresh gold table. */
final class Medallion(c: Ctx, epilogue: Boolean = false) extends Workload {
  import c.spark
  private var dataDir = ""
  private var outDir = ""
  private var ev: Gen.Events = _

  def warmup(): Unit = (1 to 2).foreach(k => op(-k, traced = false))

  def inputs(dir: String): Unit = c.tracer.span("setup.inputs_s") {
    ev = Gen.events(c.seed, Sizes.users(c.smoke), Sizes.EventsPerUser)
    dataDir = s"$dir/in"
    outDir = s"$dir/out"
    Gen.writeEvents(spark, ev, dataDir)
  }

  def op(i: Int, traced: Boolean): Outcome = {
    val (nRows, t) = c.timed("medallion.op", traced && !epilogue) {
      val s = graft.Pipeline.run(spark, dataDir, outDir)
      c.layer("semantic_views.query_s", traced) {
        s.views.map(v => spark.table(v).collect().length.toLong).sum
      }
    }
    val gold = spark.read.parquet(s"$outDir/gold_daily_rollup")
    val g = gold.agg(count(lit(1)),
      sum(col("purchase_total").cast("decimal(20,2)")), sum(col("views"))).head()
    val ok = g.getLong(0) == ev.goldRows &&
      g.getDecimal(1).movePointRight(2).longValueExact() == ev.purchaseCents &&
      g.getLong(2) == ev.views && nRows > 0
    if (!ok) c.log(s"medallion check failed: gold $g vs expected " +
      s"${ev.goldRows} rows, ${ev.purchaseCents} cents, ${ev.views} views")
    if (traced) replay(gold)
    Outcome(t, ev.rows.length.toDouble, ok)
  }

  /** The traced run times each layer the pipeline composes by calling it
    * again on the same inputs, into a scratch directory. */
  private def replay(gold: DataFrame): Unit = {
    val scratch = s"${c.runDir}/replay"
    c.layer("windows.rollup_write_s", traced = true) {
      Windows.dailyRollup(spark, dataDir).write.mode("overwrite")
        .partitionBy("year", "month").parquet(s"$scratch/gold")
    }
    c.layer("training_load.s", traced = true) {
      TrainingLoad.asDf(spark, dataDir).write.mode("overwrite").parquet(s"$scratch/tl")
    }
    c.layer("semantic_views.register_s", traced = true)(SemanticViews.registerOver(gold))
    c.layer("briefing.s", traced = true) {
      Briefing.briefingOver(gold).write.mode("overwrite").parquet(s"$scratch/brief")
    }
    Disk.delete(new File(scratch))
    val (bytes, files) = Disk.sizeAndCount(new File(s"$outDir/gold_daily_rollup"))
    c.tracer.add("sources.gold_files_written", files.toDouble)
    c.tracer.add("sources.gold_bytes_written", bytes.toDouble)
  }

  def quality(): Double = 1.0

  def layers(n: Int): Map[String, Double] =
    (Seq("windows.rollup_write_s", "training_load.s", "briefing.s",
      "semantic_views.register_s", "semantic_views.query_s")
      .map(k => k -> c.tracer.seconds(k) / n) ++
    Seq("sources.gold_files_written", "sources.gold_bytes_written")
      .map(k => k -> c.tracer.counter(k) / n)).toMap
}

// --------------------------------------------------------------------- curate

/** LLM-corpus curation: `Curate.run` (default ladder) over a seeded corpus
  * with permuted replicas and planted exact and near-duplicate copies. */
final class CurateWorkload(c: Ctx) extends Workload {
  import c.spark
  private var dataDir = ""
  private var corpus: Gen.Corpus = _
  private var packed = -1L
  private val kept = mutable.ArrayBuffer.empty[Double]

  def warmup(): Unit = (1 to 2).foreach(k => op(-k, traced = false))

  def inputs(dir: String): Unit = c.tracer.span("setup.inputs_s") {
    corpus = Gen.corpus(c.seed, Sizes.curateBase(c.smoke), Sizes.curatePlanted(c.smoke))
    dataDir = s"$dir/in"
    Gen.docsFrame(spark, corpus.docs).write.mode("overwrite")
      .parquet(s"$dataDir/documents.parquet")
  }

  def op(i: Int, traced: Boolean): Outcome = {
    val out = s"${c.runDir}/curate-out"
    val (summary, t) = c.timed("curate.op", traced)(graft.Curate.run(spark, dataDir, out))
    val survivors = spark.read.parquet(s"$out/corpus").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val exactLeft = corpus.exactCopies.keySet.intersect(survivors)
    // a planted pair is resolved when at most one of its two members survives
    val pairs = (corpus.exactCopies ++ corpus.nearCopies).toSeq
    val resolved = pairs.count { case (cp, src) => !(survivors(cp) && survivors(src)) }
    if (packed < 0) packed = summary.packed
    val ok = exactLeft.isEmpty && summary.packed == packed &&
      summary.packed == survivors.size
    if (!ok) c.log(s"curate check failed: ${exactLeft.size} exact copies survived, " +
      s"packed ${summary.packed} vs $packed, ${survivors.size} rows")
    if (i >= 0) kept += resolved.toDouble / pairs.size
    if (traced) replay()
    Disk.delete(new File(out))
    Outcome(t, summary.input.toDouble, ok)
  }

  /** Each curation layer called on its own over the same corpus. */
  private def replay(): Unit = {
    val docs = graft.Tables.load(spark, dataDir, "documents")
    val passing = c.layer("curate.quality_s", traced = true) {
      val q = TextOps.stats(docs).filter(col("quality_score") >= 0.5)
        .select(docs.columns.map(col) :+ col("n_tokens") :+ col("quality_score"): _*)
        .persist()
      q.count(); q
    }
    try {
      val w = Window.partitionBy(md5(lower(trim(col("text"))))).orderBy(col("doc_id"))
      val exact = passing.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1).drop("_rk")
      val pairs = c.layer("dedup.minhash_pairs_s", traced = true) {
        val p = Dedup.minhashPairs(exact, cache = false).persist()
        p.count(); p
      }
      try {
        val candidates = pairs.count().toDouble
        val verified = pairs.filter(col("n_shared_bands") >= 4).count().toDouble
        c.tracer.add("dedup.candidate_pairs", candidates)
        c.tracer.add("dedup.verified_pairs", verified)
        val edges = pairs.filter(col("n_shared_bands") >= 4)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        val labels = c.layer("clusters.components_s", traced = true) {
          val l = Clusters.connectedComponents(edges, exact.select(col("doc_id").as("id")))
            .persist()
          l.count(); l
        }
        try {
          c.layer("clusters.keeper_s", traced = true) {
            Clusters.withKeeper(labels.join(
              exact.select(col("doc_id").as("id"), col("quality_score")), "id"), "id")
              .filter(col("is_keeper") === 1).count()
          }
        } finally labels.unpersist(true)
      } finally pairs.unpersist(true)
      c.layer("curation.decontam_s", traced = true) {
        Curation.q51Decontaminate(spark, dataDir).count()
      }
      c.layer("sampling.pack_write_s", traced = true) {
        val packW = Window.partitionBy("split", "lang", "shard").orderBy("doc_id")
        passing
          .withColumn("bucket", Sampling.bucket100("split", col("doc_id")))
          .withColumn("split", when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "validation").otherwise("test"))
          .withColumn("shard", (col("doc_id") % 32).cast("int"))
          .withColumn("tok_end", sum(col("n_tokens")).over(packW))
          .withColumn("pack_id", expr("(tok_end - n_tokens) div 512"))
          .write.mode("overwrite").partitionBy("split", "lang")
          .parquet(s"${c.runDir}/replay-pack")
      }
      Disk.delete(new File(s"${c.runDir}/replay-pack"))
    } finally passing.unpersist(true)
  }

  def quality(): Double = Main.median(kept.toSeq)

  /** The medallion refresh's layers are measured here, on one checked
    * refresh at the end of each traced run. */
  private val medallion = new Medallion(c, epilogue = true)
  override def epilogue(): Seq[Boolean] = {
    medallion.inputs(s"${c.runDir}/medallion")
    Seq(medallion.op(0, traced = true).ok)
  }

  def layers(n: Int): Map[String, Double] = {
    val cand = c.tracer.counter("dedup.candidate_pairs")
    medallion.layers(1) + ("dedup.pair_precision" ->
      (if (cand > 0) c.tracer.counter("dedup.verified_pairs") / cand else 0.0))
  }
}

// ------------------------------------------------------------- standing state

/** The standing indexes serving and admission run against: band + hash,
  * BM25 and trained-kmeans PQ. 80% of the corpus is refreshed and the rest
  * appended as one batch, so append file layout sits on the read path. */
final class Standing(c: Ctx) {
  import c.spark
  var docs: Seq[Gen.Doc] = Nil
  var vecs: Array[Array[Double]] = Array.empty
  private var dir = ""
  val band = "standing_band"
  val text = "standing_text"
  val pq = "standing_pq"

  def inputs(d: String): Unit = c.tracer.span("setup.inputs_s") {
    val n = Sizes.standingDocs(c.smoke)
    val r = Gen.rng(c.seed, 10)
    docs = (0 until n).map(i => Gen.doc(r, i.toLong, Gen.randomText(r)))
    val cs = Gen.centres(c.seed)
    val labels = Array.fill(n)(r.nextInt(Gen.Labels))
    vecs = labels.map(l => Gen.vector(r, cs, l))
    Gen.docsFrame(spark, docs).write.mode("overwrite").parquet(s"$d/documents.parquet")
    Gen.vecFrame(spark, vecs.indices.map(i => (i.toLong, vecs(i), labels(i))))
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    dir = d
  }

  def build(): Unit = {
    val n = docs.length
    val docsDf = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val vecDf = spark.read.parquet(s"$dir/embeddings.parquet")
    val cut = n - n / 5
    // the band + hash family is read only by admission, which runs in
    // traced runs alone; untimed runs skip its refresh and appends
    val withBand = c.tracer.enabled
    if (withBand) c.tracer.span("setup.refresh_band_s") {
      Dedup.refreshIndex(docsDf.filter(col("doc_id") < cut), band, tokMode = "robust")
    }
    c.tracer.span("setup.refresh_text_s") {
      TextRank.refreshTextIndex(docsDf.filter(col("doc_id") < cut), text, tokMode = "robust")
    }
    c.tracer.span("setup.refresh_pq_s") {
      Ann.refreshPqIndex(vecDf.filter(col("vec_id") < cut), pq, quantizer = "kmeans")
    }
    c.tracer.span("setup.append_s") {
      val d = docsDf.filter(col("doc_id") >= cut)
      if (withBand) Dedup.appendIndex(spark, band, d)
      TextRank.appendTextIndex(spark, text, d)
      Ann.appendPqIndex(spark, pq, vecDf.filter(col("vec_id") >= cut))
    }
  }
}

// ------------------------------------------------------------------ admission

/** One day-2 admission cycle, `Admit.admitBatch`, of a seeded 250-doc batch
  * that mixes novel docs with planted duplicate classes: intra-batch
  * twins, exact and punctuated re-submissions, near-dup edits and vector
  * re-encodes of standing docs. Each public screen probe is timed on the
  * same batch just before the cycle. Returns whether the per-class
  * accounting held. */
final class Admission(c: Ctx, st: Standing) {
  import c.spark
  private var batchNo = 0L
  private var indexedDocs = 0L

  private def batch(b: Long): (Seq[Gen.Doc], Seq[(Long, Array[Double], Int)], Map[Long, String]) = {
    val r = Gen.rng(c.seed, 1000 + b)
    val cs = Gen.centres(c.seed)
    var next = 1000000L * (b + 1)
    val docs = mutable.ArrayBuffer.empty[Gen.Doc]
    val vecs = mutable.ArrayBuffer.empty[(Long, Array[Double], Int)]
    val cls = mutable.Map.empty[Long, String]
    def add(text: String, v: Array[Double], k: String): Unit = {
      next += 1
      docs += Gen.doc(r, next, text); vecs += ((next, v, 0)); cls(next) = k
    }
    def fresh(): Array[Double] = Gen.vector(r, cs, r.nextInt(Gen.Labels))
    def standing(): Gen.Doc = st.docs(r.nextInt(st.docs.length))
    val long = st.docs.filter(_.text.count(_ == ' ') >= 40)
    val novel = (0 until Sizes.BatchNovel).map(_ => (Gen.randomText(r), fresh()))
    novel.foreach { case (t, v) => add(t, v, "novel") }
    novel.take(Sizes.BatchTwins).foreach { case (t, v) => add(t, v, "twin") }
    (0 until Sizes.BatchExact).foreach(_ => add(standing().text, fresh(), "exact"))
    (0 until Sizes.BatchPunct).foreach(_ =>
      add(Gen.punctuate(r, standing().text), fresh(), "punct"))
    (0 until Sizes.BatchNear).foreach(_ =>
      add(Gen.nearEdit(r, long(r.nextInt(long.length)).text), fresh(), "near"))
    (0 until Sizes.BatchReencode).foreach(_ =>
      add(Gen.randomText(r), Gen.reencode(r, st.vecs(r.nextInt(st.vecs.length))), "reencode"))
    (docs.toSeq, vecs.toSeq, cls.toMap)
  }

  def cycle(): Boolean = {
    if (batchNo == 0) indexedDocs = st.docs.length.toLong
    batchNo += 1
    val landing = s"${c.runDir}/landing"
    val (docs, vecs, cls) = batch(batchNo)
    val docsDf = Gen.docsFrame(spark, docs).select("doc_id", "text").localCheckpoint(true)
    val vecDf = Gen.vecFrame(spark, vecs).select("vec_id", "emb").localCheckpoint(true)
    try {
      c.layer("dedup.probe_hash_s", traced = true)(
        Dedup.probeHashIndex(spark, st.band, docsDf).count())
      c.layer("dedup.probe_band_s", traced = true)(
        Dedup.probeIndex(spark, st.band, docsDf).count())
      c.layer("ann.probe_pq_s", traced = true)(
        Ann.probePqIndex(spark, st.pq, vecDf).count())
      val rep = c.tracer.span("admit.cycle_s") {
        graft.Admit.admitBatch(spark, docsDf, st.band, landing, batchNo,
          embeddings = Some(vecDf), pqTable = Some(st.pq), textTable = Some(st.text))
      }
      val landed = spark.read.parquet(s"$landing/batch_id=$batchNo").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      indexedDocs += landed.size
      def of(k: String) = cls.collect { case (d, `k`) => d }.toSeq
      val twinsLanded = of("twin").count(landed) +
        of("novel").take(Sizes.BatchTwins).count(landed)
      val planted = Seq("exact", "punct", "near", "reencode").flatMap(of)
      val rejectedPlanted = planted.count(d => !landed(d)) + (Sizes.BatchTwins * 2 - twinsLanded)
      val rejected = rep.input - rep.admitted
      val ok = rep.input == docs.length && rep.admitted == landed.size &&
        of("exact").forall(d => !landed(d)) && of("punct").forall(d => !landed(d)) &&
        twinsLanded == Sizes.BatchTwins &&
        rep.intraRejected + rep.exactRejected + rep.nearDupRejected +
          rep.semanticRejected + rep.contaminatedRejected + rep.qualityRejected == rejected
      if (!ok) c.log(s"admission check failed: $rep, twins landed $twinsLanded")
      val t = c.tracer
      t.add("admit.cycles", 1)
      t.add("admit.rejected_exact", rep.exactRejected.toDouble)
      t.add("admit.rejected_near", rep.nearDupRejected.toDouble)
      t.add("admit.rejected_semantic", rep.semanticRejected.toDouble)
      t.add("admit.rejected_intra", rep.intraRejected.toDouble)
      t.add("admit.rejected_planted", rejectedPlanted.toDouble)
      t.add("admit.rejected", rejected.toDouble)
      t.add("admit.planted", (planted.length + Sizes.BatchTwins).toDouble)
      t.add("admit.novel", Sizes.BatchNovel.toDouble)
      t.add("admit.novel_admitted", of("novel").count(landed).toDouble)
      t.add("locks.wait_ms", rep.lockWaitMs.toDouble)
      val (bytes, files) = Disk.sizeAndCount(new File(s"${c.runDir}/warehouse"))
      t.add("sources.index_files", files.toDouble)
      t.add("sources.index_bytes_per_doc", bytes.toDouble / indexedDocs)
      ok
    } finally {
      graft.Frames.freePinned(docsDf)
      graft.Frames.freePinned(vecDf)
    }
  }

  /** Per-cycle values of the admission counters. */
  def layers(): Map[String, Double] = {
    val t = c.tracer
    val n = t.counter("admit.cycles")
    if (n == 0) return Map.empty
    def ratio(a: String, b: String) = if (t.counter(b) > 0) t.counter(a) / t.counter(b) else 0.0
    Seq("admit.cycle_s", "dedup.probe_hash_s", "dedup.probe_band_s", "ann.probe_pq_s")
      .map(k => k -> t.seconds(k) / n).toMap ++
    Seq("admit.rejected_exact", "admit.rejected_near", "admit.rejected_semantic",
      "admit.rejected_intra", "locks.wait_ms", "sources.index_files",
      "sources.index_bytes_per_doc").map(k => k -> t.counter(k) / n).toMap ++
    Map("admit.screen_precision" -> ratio("admit.rejected_planted", "admit.rejected"),
      "admit.dup_reject_recall" -> ratio("admit.rejected_planted", "admit.planted"),
      "admit.novel_admit_rate" -> ratio("admit.novel_admitted", "admit.novel"))
  }
}

// ---------------------------------------------------------------------- serve

/** Retrieval serving: each operation is one result page, three
  * single-query requests at k = 10 against the appended standing state,
  * one each of text, vector and hybrid search (a seeded mix of the few
  * requests a run fits would move the median between kinds from run to
  * run); the seed draws every query. Traced runs end with one admission
  * cycle against the same state. */
final class ServeWorkload(c: Ctx) extends Workload {
  import c.spark
  private val st = new Standing(c)
  private val admission = new Admission(c, st)
  private case class Req(kind: String, qid: Long, terms: Seq[String],
                         vec: Array[Double], served: Seq[Long])
  private val served = mutable.ArrayBuffer.empty[Req]
  private val Kinds = Seq("text", "vector", "hybrid")

  private var panel: Seq[Req] = Nil

  def inputs(dir: String): Unit = st.inputs(dir)
  override def build(): Unit = st.build()

  /** A seeded recall panel per approximate kind, served in one call each:
    * it warms the search paths the loop uses, and the recall computed after
    * the loop rests on enough queries to repeat from seed to seed. Text
    * search serves the exact ranking, so it needs no panel. */
  def warmup(): Unit =
    panel = Kinds.indices.filter(Kinds(_) != "text").flatMap { k =>
      searchMany(Kinds(k), (0 until Sizes.RecallPanel).map(j => request(100000 + j, k)))
    }

  private def request(i: Int, kind: Int): Req = {
    val qid = 900000000L + 3L * (i + 1000L) + kind
    val r = Gen.rng(c.seed, qid)
    val terms = st.docs(r.nextInt(st.docs.length)).text.split(" ").distinct.take(5).toSeq
    val v = st.vecs(r.nextInt(st.vecs.length)).map(x => x + (r.nextDouble() * 2 - 1) * 0.3)
    Req(Kinds(kind), qid, terms, v, Nil)
  }

  private def qtFrame(reqs: Seq[Req]): DataFrame = {
    import spark.implicits._
    reqs.flatMap(q => q.terms.map(t => (q.qid, t))).toDF("q_id", "term")
  }

  private def vecFrame(reqs: Seq[Req]): DataFrame =
    Gen.vecFrame(spark, reqs.map(q => (q.qid, q.vec, 0))).select("vec_id", "emb")

  def op(i: Int, traced: Boolean): Outcome = {
    val results = Kinds.indices.map(k => search(request(i, k), traced))
    if (i >= 0) served ++= results.map(_._1)
    Outcome(results.map(_._2).sum, Kinds.length.toDouble, results.forall(_._3))
  }

  /** The public search call of `kind`, as (q_id, doc_id, rank) rows. */
  private def call(kind: String, qt: DataFrame, qv: DataFrame): DataFrame = kind match {
    case "text" => TextRank.searchTextIndex(spark, st.text, qt, k = Sizes.K)
      .select(col("q_id"), col("doc_id"), col("rk").as("rank"))
    case "vector" => Ann.searchPqIndex(spark, st.pq, qv, k = Sizes.K)
      .select(col("q_id"), col("n_id").as("doc_id"), col("rank"))
    case _ => TextRank.hybridSearchIndexed(spark, st.text, st.pq, qt, qv,
        k = Sizes.K, family = "pq", nprobe = 0, adcTopC = 0, sparseDfFrac = 0.0)
      .select("q_id", "doc_id", "rank")
  }

  /** Served doc ids per query, best first. */
  private def ranked(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Number](2).longValue).map(_.getLong(1)).toSeq
    }

  /** One single-query request: the public call, its physical plan and
    * the collect, each its own span. */
  private def search(q: Req, traced: Boolean): (Req, Double, Boolean) = {
    val qt = qtFrame(Seq(q))
    val qv = vecFrame(Seq(q))
    val span = s"${q.kind}_search"
    val (rows, t) = c.timed("serve.request", traced) {
      val df = c.layer(s"$span.call_s", traced)(call(q.kind, qt, qv))
      c.layer(s"$span.plan_s", traced)(df.queryExecution.executedPlan)
      c.layer(s"$span.exec_s", traced)(df.collect())
    }
    val ids = ranked(rows).getOrElse(q.qid, Nil)
    val ok = ids.length == Sizes.K && ids.distinct.length == Sizes.K
    if (!ok) c.log(s"serve check failed: ${q.kind} query ${q.qid} returned ${ids.length} rows")
    if (traced) {
      c.tracer.add("serve.requests", 1)
      c.tracer.add(s"$span.requests", 1)
    }
    (q.copy(served = ids), t, ok)
  }

  /** The same public call over many queries at once. */
  private def searchMany(kind: String, reqs: Seq[Req]): Seq[Req] = {
    val served = ranked(call(kind, qtFrame(reqs), vecFrame(reqs)).collect())
    reqs.map(q => q.copy(served = served.getOrElse(q.qid, Nil)))
  }

  /** recall@10 of every served request and the panel against the exact
    * ranking on the same state: exact BM25 through the unpruned index path,
    * exact cosine over every indexed vector, and their reciprocal-rank
    * fusion. */
  def quality(): Double = {
    val all = served.toSeq ++ panel
    val sparse = all.filter(_.kind != "vector")
    val exactText: Map[Long, Seq[Long]] =
      if (sparse.isEmpty) Map.empty
      else ranked(TextRank.searchTextIndex(spark, st.text, qtFrame(sparse), k = Sizes.K,
          maxDfFrac = 1.0).select("q_id", "doc_id", "rk").collect())
    val norms = st.vecs.map(v => math.sqrt(v.map(x => x * x).sum))
    def exactDense(v: Array[Double]): Seq[Long] = {
      val qn = math.sqrt(v.map(x => x * x).sum)
      st.vecs.indices.map { j =>
        var d = 0.0; var k = 0
        while (k < v.length) { d += v(k) * st.vecs(j)(k); k += 1 }
        val cos = math.floor(d / (qn * norms(j)) * 1e4 + 0.5) / 1e4
        (cos, j.toLong)
      }.sortBy { case (cs, j) => (-cs, j) }.take(Sizes.K).map(_._2)
    }
    def fuse(a: Seq[Long], b: Seq[Long]): Seq[Long] = {
      val score = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      a.zipWithIndex.foreach { case (d, r) => score(d) += 1.0 / (60.0 + r + 1) }
      b.zipWithIndex.foreach { case (d, r) => score(d) += 1.0 / (60.0 + r + 1) }
      score.toSeq.sortBy { case (d, s) => (-s, d) }.take(Sizes.K).map(_._1)
    }
    var hit = 0.0
    var total = 0.0
    all.foreach { q =>
      val truth = q.kind match {
        case "text" => exactText.getOrElse(q.qid, Nil)
        case "vector" => exactDense(q.vec)
        case _ => fuse(exactText.getOrElse(q.qid, Nil), exactDense(q.vec))
      }
      hit += truth.toSet.intersect(q.served.toSet).size
      total += truth.length
    }
    hit / total
  }

  override def epilogue(): Seq[Boolean] = Seq(admission.cycle())

  def layers(n: Int): Map[String, Double] = {
    // search spans are per request of their own kind, not per operation
    val perKind = for {
      kind <- Seq("text_search", "vector_search", "hybrid_search")
      part <- Seq("call_s", "plan_s", "exec_s")
    } yield {
      val k = c.tracer.counter(s"$kind.requests")
      s"$kind.$part" -> (if (k > 0) c.tracer.seconds(s"$kind.$part") / k else 0.0)
    }
    val reqs = math.max(1.0, c.tracer.counter("serve.requests"))
    perKind.toMap ++ admission.layers() +
      ("serve.bytes_scanned_per_request" -> c.tracer.counter("engine.input_bytes") / reqs)
  }
}
