package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Standing text-index rehearsal (round 14 second pass): prices the
  * sparse-retrieval family's lifecycle at scale the way CalRehearsal
  * prices the nprobe calibration — per scale dir: full refresh wall,
  * a 1,000-doc append wall, a bounded-panel `searchTextIndex` wall,
  * and the fully index-backed hybrid (`hybridSearchIndexed`, sparse +
  * PQ arms + RRF fusion) wall. The search walls are the serving
  * latencies that must stay FLAT as the corpus grows (nothing
  * index-side shuffles; the postings scan prunes to the panel's term
  * buckets).
  *
  * Usage: `runMain graft.TextRehearsal <sfDir> [<sfDir> ...]`
  * `--tok` switches to the round-15 tokenizer-fidelity axis: the same
  * corpus with DETERMINISTIC punctuation injected (every 3rd token a
  * trailing comma, every 7th a period, every 11th parenthesized — the
  * real-text shapes), indexed and graded against the clean corpus's
  * index on the clean query panel. The claim under measure: the
  * standing index's robust tokenization of the punctuated corpus
  * recovers the clean corpus's token MULTISET exactly (punctuation runs
  * collapse, tokens survive), so it must serve the clean index's
  * ranking BIT-EQUAL. PLANS.md keeps the round-15 table that also
  * graded the retired default-mode index.
  */
object TextRehearsal {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val scratch = java.nio.file.Files.createTempDirectory("text-rehearsal")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(graft.functions.GraftFunctions.register)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (flags, dirs) = args.partition(_.startsWith("--"))
    if (flags.contains("--tok")) { tokAxis(spark, dirs); spark.stop(); return }
    for (dir <- dirs) {
      val docs = Tables.load(spark, dir, "documents")
      val nDocs = docs.count()
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val (table, vecTable) = ("textreh_" + suffix, "textvec_" + suffix)
      // pin the panel before timing: a served query panel arrives as a
      // bounded frame, not a corpus re-scan — the timed walls must price
      // the SERVING path, not the rehearsal's panel derivation
      val qt = docs.filter(col("doc_id") % 101 === 0 && col("doc_id") < 3500)
        .select(col("doc_id").as("q_id"),
          explode(array_distinct(slice(split(lower(trim(col("text"))), " "), 1, 6))).as("term"))
        .filter(length(col("term")) > 0)
        .persist()
      qt.count()

      def timed[A](body: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val r = body
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val (_, tRefresh) = timed(operators.TextRank.refreshTextIndex(docs, table))
      // day-2 shape: a bounded batch lands ADDITIVELY (new ids so the
      // append is a genuine corpus extension, not a replay)
      val batch = docs.filter(col("doc_id") < 1000)
        .withColumn("doc_id", col("doc_id") + lit(50000000L))
      val (_, tAppend) = timed(operators.TextRank.appendTextIndex(spark, table, batch))
      // one untimed warmup per serving path (the OneQ discipline): the
      // first read after a write pays partition discovery + footers,
      // which a standing serving path pays once per refresh, not per query
      operators.TextRank.searchTextIndex(spark, table, qt).count()
      val (sparseRows, tSearch) = timed(
        operators.TextRank.searchTextIndex(spark, table, qt).count())
      // the approximate serving tiers (round 14 third pass) — the knobs
      // that close the exact path's stopword floor: index elimination
      // drops the stopword-class terms before their corpus-sized
      // posting scans; champion serving caps candidates at |terms|·m
      // per commit regardless of corpus size
      // 0.78 keeps the panel's below-median stopwords (the synthetic
      // vocabulary is ~31 terms at df/N ≈ 0.75–0.80 plus one rare term,
      // so a 0.5 threshold would empty the panel — honest but
      // uninformative); replicas preserve per-term df fractions, so the
      // kept-term set is scale-stable and the cost should track the
      // KEPT terms' posting mass, not the corpus
      operators.TextRank.searchTextIndex(spark, table, qt, maxDfFrac = 0.78).count()
      val (prunedRows, tPruned) = timed(
        operators.TextRank.searchTextIndex(spark, table, qt, maxDfFrac = 0.78).count())
      operators.TextRank.searchTextIndexChampion(spark, table, qt, m = 128).count()
      val (champRows, tChamp) = timed(
        operators.TextRank.searchTextIndexChampion(spark, table, qt, m = 128).count())
      val e = Tables.load(spark, dir, "embeddings")
        .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
        .select(col("vec_id"), col("emb"), col("label"))
      val (_, tVec) = timed(operators.Ann.refreshPqIndex(e, vecTable))
      val queries = e.select("vec_id", "emb")
        .join(qt.select(col("q_id").as("vec_id")).distinct(), "vec_id")
        .persist()
      queries.count()
      operators.TextRank.hybridSearchIndexed(spark, table, vecTable, qt, queries).count()
      val (hybridRows, tHybrid) = timed(
        operators.TextRank.hybridSearchIndexed(spark, table, vecTable, qt, queries).count())
      qt.unpersist(false)
      queries.unpersist(false)
      println(f"""{"dir":"$dir","n_docs":$nDocs,""" +
        f""""refresh_s":$tRefresh%.1f,"append1k_s":$tAppend%.1f,""" +
        f""""search_s":$tSearch%.1f,"search_rows":$sparseRows,""" +
        f""""pruned_s":$tPruned%.1f,"pruned_rows":$prunedRows,""" +
        f""""champ_s":$tChamp%.1f,"champ_rows":$champRows,""" +
        f""""pq_refresh_s":$tVec%.1f,"hybrid_s":$tHybrid%.1f,""" +
        f""""hybrid_rows":$hybridRows}""")
    }
    spark.stop()
  }

  private def tokAxis(spark: SparkSession, dirs: Array[String]): Unit = {
    import graft.operators.TextRank
    for (dir <- dirs) {
      val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
      val punct = docs.withColumn("text", expr(
        "array_join(transform(split(text, ' '), (t, i) -> CASE " +
          "WHEN (doc_id + i) % 11 = 0 THEN concat('(', t, ')') " +
          "WHEN (doc_id + i) % 7 = 0 THEN concat(t, '.') " +
          "WHEN (doc_id + i) % 3 = 0 THEN concat(t, ',') " +
          "ELSE t END), ' ')"))
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val (tClean, tRob) = (s"tokreh_clean_$suffix", s"tokreh_rob_$suffix")
      val suf = Seq("_df", "_meta", "_champ", "_cal")
      Seq(tClean, tRob).foreach(
        graft.sources.TablePointer.dropAll(spark, _, suf))
      // the CLEAN query panel — what a user actually types
      val qt = docs.filter(col("doc_id") % 101 === 0 && col("doc_id") < 3500)
        .select(col("doc_id").as("q_id"),
          explode(array_distinct(slice(split(lower(trim(col("text"))), " "), 1, 6))).as("term"))
        .filter(length(col("term")) > 0)
        .persist()
      qt.count()
      TextRank.refreshTextIndex(docs, tClean)
      TextRank.refreshTextIndex(punct, tRob)
      def terms(t: String): Long =
        spark.table(s"${graft.sources.TablePointer.resolve(spark, t)}_df")
          .select("term").distinct().count()
      def key(t: String) = TextRank.searchTextIndex(spark, t, qt).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rk"),
          r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"))).toSet
      val (kClean, kRob) = (key(tClean), key(tRob))
      println(f"""{"dir":"$dir","terms_clean":${terms(tClean)},""" +
        f""""terms_robust":${terms(tRob)},"clean_rows":${kClean.size},""" +
        f""""robust_rows":${kRob.size},""" +
        f""""robust_bit_equal":${kRob == kClean}}""")
      qt.unpersist(false)
      Seq(tClean, tRob).foreach(
        graft.sources.TablePointer.dropAll(spark, _, suf))
    }
  }
}
