package graft.operators

import graft.{Num, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 corpus-operations family: snapshot diffing, within-document
  * repetition metrics, vocabulary statistics, embedding centroids, and
  * filter-cascade attrition — the observability/maintenance operators a
  * production training-data pipeline runs beside dedup and sampling.
  * Every query here is DuckDB-oracle checked.
  */
object CorpusOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---------------------------------------------------------------- q65

  /** Simulated "yesterday vs today" crawl snapshots: today drops every
    * 13th document, revises every 7th surviving one, and adds a new doc
    * for every 11th id. Deterministic, so the oracle rebuilds both sides.
    */
  private def snapshotB(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 13 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" revised")))
          .otherwise(col("text")))
      .unionByName(
        d.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 30000)
          .withColumn("text", concat(col("text"), lit(" fresh"))))

  /** q65: snapshot diff — classify every document across two corpus
    * snapshots as added / removed / changed / unchanged by comparing
    * content hashes through a full outer join on the id.
    *
    * Scale shape: both sides reduce to (id, md5) before the join — the
    * shuffle moves 48 bytes/doc, never text — and the join is a plain
    * hash join on the id, partition-prunable when snapshots are stored
    * by ingest date. This is the dbt snapshot / data-versioning
    * primitive (reference analog: the incremental re-crawl handling in
    * `oura_normalizer.py` merge-by-key ingest).
    */
  def q65SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val a = d.select(col("doc_id"), md5(col("text")).as("old_md5"))
    val b = snapshotB(d).select(col("doc_id"), md5(col("text")).as("new_md5"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") === col("new_md5"), "unchanged")
          .otherwise("changed").as("status"),
        col("old_md5"), col("new_md5"))
      .orderBy("doc_id")
  }

  val q65Sql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' revised' ELSE text END AS text
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 30000 AS doc_id, text || ' fresh' AS text
      |  FROM documents WHERE doc_id % 11 = 0),
      |ah AS (SELECT doc_id, md5(text) AS old_md5 FROM documents),
      |bh AS (SELECT doc_id, md5(text) AS new_md5 FROM b)
      |SELECT COALESCE(ah.doc_id, bh.doc_id) AS doc_id,
      |  CASE WHEN ah.doc_id IS NULL THEN 'added'
      |       WHEN bh.doc_id IS NULL THEN 'removed'
      |       WHEN old_md5 = new_md5 THEN 'unchanged'
      |       ELSE 'changed' END AS status,
      |  old_md5, new_md5
      |FROM ah FULL OUTER JOIN bh ON ah.doc_id = bh.doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q66

  /** q66: within-document repetition metrics — the Gopher-style quality
    * rules that catch degenerate/boilerplate text: fraction of tokens
    * taken by the most frequent word, by the most frequent 2-gram, and
    * the distinct-token ratio, plus the repetitive flag.
    *
    * Scale shape: two explode→groupBy pipelines (words, bigrams), each a
    * single partial-aggregated shuffle keyed by (doc_id, term); the
    * per-doc maxima come from a second map-side-combined groupBy on
    * doc_id. Nothing is quadratic and no state exceeds one document's
    * term set.
    */
  def q66Repetition(s: SparkSession, dir: String): DataFrame = {
    val w = docs(s, dir)
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), " ")).as("tok"))
    val wordStats = w.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"), count(lit(1)).as("n_distinct_words"),
        max("c").as("top_word_n"))
    val b = docs(s, dir)
      .withColumn("w", split(lower(trim(col("text"))), " "))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(w) - 2), " +
          "i -> concat_ws(' ', w[i], w[i+1]))")).as("bg"))
    val bigramStats = b.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"), max("c").as("top_bigram_n"))
    // inner join: a sub-2-word doc has no bigram row; emitting it with
    // null metrics would hinge the oracle compare on engine null
    // formatting. Such docs are out of scope for repetition scoring.
    wordStats.join(bigramStats, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
        Num.roundD(col("top_word_n").cast("double") / col("n_words")).as("top_word_frac"),
        Num.roundD(col("top_bigram_n").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        Num.roundD(col("n_distinct_words").cast("double") / col("n_words")).as("distinct_ratio"))
      .withColumn("is_repetitive",
        (col("top_word_frac") > 0.12 || col("top_bigram_frac") > 0.05 ||
          col("distinct_ratio") < 0.3).cast("int"))
      .orderBy("doc_id")
  }

  val q66Sql: String =
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
       |  FROM documents),
       |wc AS (SELECT doc_id, tok, COUNT(*) AS c FROM w GROUP BY 1, 2),
       |ws AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
       |    COUNT(*) AS n_distinct_words, MAX(c) AS top_word_n
       |  FROM wc GROUP BY doc_id),
       |t AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS wl
       |  FROM documents WHERE len(string_split(lower(trim(text)), ' ')) >= 2),
       |bi AS (
       |  SELECT doc_id, wl, unnest(range(len(wl) - 1)) AS i FROM t),
       |bg AS (
       |  SELECT doc_id, wl[i+1] || ' ' || wl[i+2] AS bg FROM bi),
       |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
       |bs AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_bigram_n
       |  FROM bc GROUP BY doc_id),
       |j AS (
       |  SELECT ws.doc_id, n_words, n_distinct_words,
       |    ${Num.sqlRoundD("CAST(top_word_n AS DOUBLE) / n_words")} AS top_word_frac,
       |    ${Num.sqlRoundD("CAST(top_bigram_n AS DOUBLE) / n_bigrams")} AS top_bigram_frac,
       |    ${Num.sqlRoundD("CAST(n_distinct_words AS DOUBLE) / n_words")} AS distinct_ratio
       |  FROM ws JOIN bs ON ws.doc_id = bs.doc_id)
       |SELECT doc_id, n_words, n_distinct_words, top_word_frac, top_bigram_frac,
       |  distinct_ratio,
       |  CAST(top_word_frac > 0.12 OR top_bigram_frac > 0.05
       |    OR distinct_ratio < 0.3 AS INT) AS is_repetitive
       |FROM j
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q67

  /** q67: corpus vocabulary statistics — the top 200 unigrams and top
    * 200 bigrams by total occurrences (ties broken by term), with each
    * term's document frequency. The corpus-statistics pass tokenizer
    * training and quality auditing start from.
    *
    * Scale shape: explode → ONE partial-aggregated groupBy over the
    * unioned (kind, doc_id, term) stream, then a rank-filter that
    * compiles to WindowGroupLimit — each shuffle partition keeps only its
    * local top-200 per kind before the final rank, so the sort never
    * sees the full vocabulary. `kind` reaches the window through the
    * union, where its two branch literals differ, so it is a real
    * (non-foldable) partition key: the round-4 shape partitioned by
    * `lit(kind)` per branch, which constant-folded to an EMPTY partition
    * spec and made every bench tail warn "No Partition Defined" —
    * bounded by the group limit, but contradicting PLANS.md's no-global-
    * window claim.
    */
  def q67Vocab(s: SparkSession, dir: String, k: Int = 200): DataFrame = {
    val uni = docs(s, dir)
      .select(lit("unigram").as("kind"), col("doc_id"),
        explode(split(lower(trim(col("text"))), " ")).as("term"))
    val bi = docs(s, dir)
      .withColumn("w", split(lower(trim(col("text"))), " "))
      .filter(size(col("w")) >= 2)
      .select(lit("bigram").as("kind"), col("doc_id"),
        explode(expr("transform(sequence(0, size(w) - 2), " +
          "i -> concat_ws(' ', w[i], w[i+1]))")).as("term"))
    val counts = uni.unionByName(bi).groupBy("kind", "term")
      .agg(count(lit(1)).as("n_total"), countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy("kind").orderBy(col("n_total").desc, col("term"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("kind", "term", "n_total", "n_docs", "rank")
      .orderBy("kind", "rank")
  }

  val q67Sql: String =
    """WITH uni AS (
      |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS wl
      |  FROM documents WHERE len(string_split(lower(trim(text)), ' ')) >= 2),
      |bii AS (
      |  SELECT doc_id, wl, unnest(range(len(wl) - 1)) AS i FROM t),
      |bi AS (
      |  SELECT doc_id, wl[i+1] || ' ' || wl[i+2] AS term FROM bii),
      |ranked AS (
      |  SELECT 'unigram' AS kind, term, COUNT(*) AS n_total,
      |    COUNT(DISTINCT doc_id) AS n_docs,
      |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rank
      |  FROM uni GROUP BY term
      |  UNION ALL
      |  SELECT 'bigram' AS kind, term, COUNT(*) AS n_total,
      |    COUNT(DISTINCT doc_id) AS n_docs,
      |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rank
      |  FROM bi GROUP BY term)
      |SELECT kind, term, n_total, n_docs, rank
      |FROM ranked WHERE rank <= 200
      |ORDER BY kind, rank""".stripMargin

  // ---------------------------------------------------------------- q92

  /** q92: Zipf-law fit — the corpus-health scalar tokenizer and data
    * teams watch: natural text's rank-frequency curve is a power law
    * with exponent ≈ −1 (Zipf 1949; Piantadosi 2014 reviews the modern
    * evidence), so the OLS slope of (ln rank, ln count) over the top of
    * the vocabulary diagnoses corpora that are too repetitive (steep) or
    * too synthetic/templated (flat) before any model sees them. Fit over
    * the q67 top-`topK` unigram vocabulary: the rank window is the same
    * WindowGroupLimit-capped top-k (never the full vocabulary), the fit
    * is the closed-form OLS over decimal-exact sums (q31's discipline),
    * and both ln coordinates quantize at 6dp pre-sum (q85's libm
    * discipline). Output is one row: slope, intercept, r², and a shape
    * CASE evaluated on the rounded slope the row reports.
    */
  def q92ZipfFit(s: SparkSession, dir: String, topK: Int = 1000): DataFrame = {
    val pts = q67Vocab(s, dir, topK).filter(col("kind") === "unigram")
      .select(
        Num.roundD(log(col("rank").cast("double")), 6).as("x"),
        Num.roundD(log(col("n_total").cast("double")), 6).as("y"))
    val g = pts.agg(
      count(lit(1)).cast("double").as("n"),
      Num.exactSum(col("x")).cast("double").as("sx"),
      Num.exactSum(col("y")).cast("double").as("sy"),
      Num.exactSum(col("x") * col("x")).cast("double").as("sxx"),
      Num.exactSum(col("x") * col("y")).cast("double").as("sxy"),
      Num.exactSum(col("y") * col("y")).cast("double").as("syy"))
    val staged = g.select(
      col("n"), col("sx"), col("sy"),
      (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
      (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
      (col("n") * col("syy") - col("sy") * col("sy")).as("deny"))
    staged
      .withColumn("slope_raw", col("num") / col("den"))
      .select(
        col("n").cast("bigint").as("n_points"),
        Num.roundD(col("slope_raw")).as("zipf_slope"),
        Num.roundD((col("sy") - col("slope_raw") * col("sx")) / col("n")).as("intercept"),
        Num.roundD(col("num") * col("num") / (col("den") * col("deny"))).as("r_squared"))
      .withColumn("shape",
        when(abs(col("zipf_slope") + 1.0) <= 0.3, "zipfian")
          .when(col("zipf_slope") > -0.7, "flat")
          .otherwise("steep"))
  }

  val q92Sql: String =
    s"""WITH uni AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
       |  FROM documents),
       |ranked AS (
       |  SELECT term, COUNT(*) AS n_total,
       |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rank
       |  FROM uni GROUP BY term),
       |pts AS (
       |  SELECT ${Num.sqlRoundD("LN(CAST(rank AS DOUBLE))", 6)} AS x,
       |    ${Num.sqlRoundD("LN(CAST(n_total AS DOUBLE))", 6)} AS y
       |  FROM ranked WHERE rank <= 1000),
       |g AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x * x AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(x * y AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(y * y AS DECIMAL(25,6))) AS DOUBLE) AS syy
       |  FROM pts),
       |st AS (
       |  SELECT n, sx, sy,
       |    (n * sxy - sx * sy) AS num,
       |    (n * sxx - sx * sx) AS den,
       |    (n * syy - sy * sy) AS deny
       |  FROM g),
       |fit AS (
       |  SELECT CAST(n AS BIGINT) AS n_points,
       |    ${Num.sqlRoundD("(num / den)")} AS zipf_slope,
       |    ${Num.sqlRoundD("(sy - (num / den) * sx) / n")} AS intercept,
       |    ${Num.sqlRoundD("num * num / (den * deny)")} AS r_squared
       |  FROM st)
       |SELECT n_points, zipf_slope, intercept, r_squared,
       |  CASE WHEN ABS(zipf_slope + 1.0) <= 0.3 THEN 'zipfian'
       |       WHEN zipf_slope > -0.7 THEN 'flat'
       |       ELSE 'steep' END AS shape
       |FROM fit""".stripMargin

  // ---------------------------------------------------------------- q68

  /** q68: per-label embedding centroids — the embedding-space QA pass
    * (are label clusters separated? did a batch drift?): mean of every
    * dimension per label, decimal-exact so the oracle agrees.
    *
    * Scale shape: posexplode fans each vector into (label, dim, value)
    * rows — 64× the row count but 16 bytes wide — then ONE
    * partial-aggregated groupBy on (label, dim): 640 output groups
    * regardless of corpus size. The map-side combine reduces each
    * partition to ≤640 partial sums before the shuffle, so this runs at
    * scan speed on 100 TB of vectors.
    */
  def q68Centroids(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(Num.avgD(col("v").cast("double")).as("centroid"),
        count(lit(1)).as("n_vecs"))
      .orderBy("label", "dim")

  val q68Sql: String =
    s"""WITH e AS (
       |  SELECT label, embedding, unnest(range(len(embedding))) AS dim
       |  FROM embeddings),
       |x AS (
       |  SELECT label, dim, CAST(embedding[dim + 1] AS DOUBLE) AS v FROM e)
       |SELECT label, dim, ${Num.sqlAvg("v")} AS centroid,
       |  COUNT(*) AS n_vecs
       |FROM x GROUP BY label, dim
       |ORDER BY label, dim""".stripMargin

  // ---------------------------------------------------------------- q69

  /** q69: filter-cascade attrition — how many documents survive each
    * stage of the curation cascade (length floor → English → vocabulary
    * diversity → benchmark exclusion → train split), cumulatively. The
    * observability table every corpus release ships with: which rule
    * costs how much data.
    *
    * Scale shape: ONE scan; every stage is a conditional aggregate over
    * the same row (no joins — the split membership and benchmark flag
    * are hash arithmetic), and the 6-row unpivot is a stack over a
    * single aggregated row.
    */
  def q69FilterAttrition(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("n_words",
        size(split(lower(trim(col("text"))), " ")).cast("long"))
      .withColumn("n_distinct",
        size(array_distinct(split(lower(trim(col("text"))), " "))).cast("long"))
    val s1 = col("n_chars") >= 100
    val s2 = s1 && col("lang") === "en"
    val s3 = s2 && col("n_distinct") * 10 >= col("n_words") * 3
    val s4 = s3 && col("doc_id") % 97 =!= 0
    val s5 = s4 && Sampling.bucket100("split", col("doc_id")) < 80
    val agg = d.agg(
      count(lit(1)).as("c0"),
      sum(s1.cast("long")).as("c1"), sum(s2.cast("long")).as("c2"),
      sum(s3.cast("long")).as("c3"), sum(s4.cast("long")).as("c4"),
      sum(s5.cast("long")).as("c5"))
    val stages = Seq("0_input", "1_min_length", "2_english",
      "3_diversity", "4_not_benchmark", "5_train_split")
    val stack = s"stack(6, " + stages.zipWithIndex.map { case (n, i) =>
      s"'$n', c$i" }.mkString(", ") + ") AS (stage, n_pass)"
    agg.select(expr(stack), col("c0"))
      .withColumn("pass_rate", Num.roundD(col("n_pass").cast("double") / col("c0")))
      .select("stage", "n_pass", "pass_rate")
      .orderBy("stage")
  }

  val q69Sql: String = {
    val bucket = Sampling.sqlBucket100
    s"""WITH d AS (
       |  SELECT doc_id, lang, n_chars,
       |    len(string_split(lower(trim(text)), ' ')) AS n_words,
       |    len(list_distinct(string_split(lower(trim(text)), ' '))) AS n_distinct,
       |    ${Sampling.sqlSaltedMd5("split", "doc_id")} AS h
       |  FROM documents),
       |f AS (
       |  SELECT *,
       |    (n_chars >= 100) AS s1,
       |    (n_chars >= 100 AND lang = 'en') AS s2,
       |    (n_chars >= 100 AND lang = 'en' AND n_distinct * 10 >= n_words * 3) AS s3
       |  FROM d),
       |g AS (
       |  SELECT *,
       |    (s3 AND doc_id % 97 <> 0) AS s4,
       |    (s3 AND doc_id % 97 <> 0 AND $bucket < 80) AS s5
       |  FROM f),
       |a AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS c0,
       |    CAST(SUM(CAST(s1 AS INT)) AS BIGINT) AS c1,
       |    CAST(SUM(CAST(s2 AS INT)) AS BIGINT) AS c2,
       |    CAST(SUM(CAST(s3 AS INT)) AS BIGINT) AS c3,
       |    CAST(SUM(CAST(s4 AS INT)) AS BIGINT) AS c4,
       |    CAST(SUM(CAST(s5 AS INT)) AS BIGINT) AS c5
       |  FROM g),
       |u AS (
       |  SELECT '0_input' AS stage, c0 AS n_pass, c0 FROM a
       |  UNION ALL SELECT '1_min_length', c1, c0 FROM a
       |  UNION ALL SELECT '2_english', c2, c0 FROM a
       |  UNION ALL SELECT '3_diversity', c3, c0 FROM a
       |  UNION ALL SELECT '4_not_benchmark', c4, c0 FROM a
       |  UNION ALL SELECT '5_train_split', c5, c0 FROM a)
       |SELECT stage, n_pass,
       |  ${Num.sqlRoundD("CAST(n_pass AS DOUBLE) / c0")} AS pass_rate
       |FROM u
       |ORDER BY stage""".stripMargin
  }

  // --------------------------------------------------------------- q102

  /** q102: BPE merge-pair statistics — the counting step of byte-pair
    * encoding tokenizer training (Sennrich et al., ACL 2016: the
    * procedure GPT-2/RoBERTa-family vocabularies are built with).
    * Pre-tokenize into words, represent each word as its characters
    * followed by an end-of-word marker `</w>`, and count adjacent symbol
    * pairs weighted by word frequency. The top-ranked pair IS the first
    * merge a BPE trainer would take; the ranked table is what a
    * tokenizer team reads to sanity-check a corpus before committing a
    * vocabulary run (and re-reads after every merge — this operator is
    * one iteration of that loop, the part that touches the corpus).
    *
    * Scale shape: the ONLY corpus-sized operation is the word-frequency
    * groupBy (partial-aggregated — the same one shuffle as q67's vocab
    * pass). The pair expansion and the pair aggregate run over the
    * DISTINCT-WORD frame: the vocabulary, millions of rows at 100 TB
    * where the corpus is trillions — per-word work is O(word length),
    * independent of how often the word occurs, which is exactly why BPE
    * trainers operate on (word, freq) tables and not raw text. The final
    * rank window is unpartitioned by design: its input is the pair
    * aggregate, bounded by |symbol alphabet|² + |alphabet| rows, and the
    * rank filter compiles to WindowGroupLimit besides.
    */
  def q102BpePairs(s: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    val words = docs(s, dir)
      .select(explode(split(lower(trim(col("text"))), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val pairs = words
      .withColumn("i", explode(expr("sequence(1, length(word))")))
      .select(
        expr("substr(word, i, 1)").as("sym_left"),
        when(col("i") === length(col("word")), lit("</w>"))
          .otherwise(expr("substr(word, i + 1, 1)")).as("sym_right"),
        col("word"), col("freq"))
    val counts = pairs.groupBy("sym_left", "sym_right")
      .agg(sum(col("freq")).as("pair_count"),
        countDistinct(col("word")).as("n_word_types"))
    val w = Window.orderBy(col("pair_count").desc, col("sym_left"), col("sym_right"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("rank", "sym_left", "sym_right", "pair_count", "n_word_types")
      .orderBy("rank")
  }

  val q102Sql: String =
    """WITH w AS (
      |  SELECT word, COUNT(*) AS freq FROM (
      |    SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
      |    FROM documents) u
      |  WHERE len(word) > 0 GROUP BY word),
      |p AS (
      |  SELECT word, freq, unnest(generate_series(1, len(word))) AS i FROM w),
      |q AS (
      |  SELECT substr(word, i, 1) AS sym_left,
      |    CASE WHEN i = len(word) THEN '</w>'
      |         ELSE substr(word, i + 1, 1) END AS sym_right,
      |    word, freq
      |  FROM p),
      |c AS (
      |  SELECT sym_left, sym_right, CAST(SUM(freq) AS BIGINT) AS pair_count,
      |    COUNT(DISTINCT word) AS n_word_types
      |  FROM q GROUP BY sym_left, sym_right),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    ORDER BY pair_count DESC, sym_left, sym_right) AS rank
      |  FROM c)
      |SELECT rank, sym_left, sym_right, pair_count, n_word_types
      |FROM r WHERE rank <= 50
      |ORDER BY rank""".stripMargin

  // --------------------------------------------------------------- q107

  /** q107: embedding-space health report — the QA pass a pipeline runs
    * BEFORE trusting vectors for ANN/SemDeDup/decontamination (q24–q26,
    * q95–q98 all assume sane embeddings): per label, vector count,
    * non-finite contamination, zero-vector count, mean norm, and a
    * COLLAPSE ratio — ||label centroid|| / mean ||x|| — the standard
    * anisotropy proxy (Ethayarajh, EMNLP 2019 measures contextual
    * embedding anisotropy exactly this way: random directions average
    * out, so a ratio near 1 means the label's vectors point the same
    * way — an encoder collapse or a re-encode bug — while a healthy
    * spread sits well below it).
    *
    * Scale shape: one posexplode → per-vector norm (groupBy vec_id,
    * partial-aggregated) and per-(label, dim) centroid (640 groups,
    * q68's shuffle) → label rollups over both. Norms quantize at 6dp
    * pre-average (q85's libm discipline: sqrt is IEEE on both engines,
    * the decimal average is exact after quantization).
    */
  def q107EmbeddingHealth(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
    val perVec = e.groupBy("vec_id", "label")
      .agg(Num.exactSum(col("v") * col("v")).cast("double").as("norm2"),
        sum(when(col("v").isNaN || col("v") === Double.PositiveInfinity ||
          col("v") === Double.NegativeInfinity, 1L).otherwise(0L))
          .as("n_nonfinite"))
    val centroid = e.groupBy("label", "dim")
      .agg(Num.avgD(col("v"), 6).as("c"))
    val centroidNorm = centroid.groupBy("label")
      .agg(sqrt(Num.exactSum(col("c") * col("c")).cast("double")).as("centroid_norm"))
    perVec
      .withColumn("norm", Num.roundD(sqrt(col("norm2")), 6))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum((col("n_nonfinite") > 0).cast("long")).as("n_nonfinite_vecs"),
        sum((col("norm2") === 0.0).cast("long")).as("n_zero_vecs"),
        Num.avgD(col("norm")).as("mean_norm"))
      .join(broadcast(centroidNorm), Seq("label"))
      .withColumn("collapse_ratio",
        Num.roundD(col("centroid_norm") / col("mean_norm")))
      .withColumn("centroid_norm", Num.roundD(col("centroid_norm")))
      .select("label", "n_vecs", "n_nonfinite_vecs", "n_zero_vecs",
        "mean_norm", "centroid_norm", "collapse_ratio")
      .orderBy("label")
  }

  val q107Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, unnest(range(len(embedding))) AS dim, embedding
       |  FROM embeddings),
       |x AS (
       |  SELECT vec_id, label, dim,
       |    CAST(embedding[dim + 1] AS DOUBLE) AS v
       |  FROM e),
       |pv AS (
       |  SELECT vec_id, label,
       |    CAST(SUM(CAST(v * v AS DECIMAL(25,6))) AS DOUBLE) AS norm2,
       |    CAST(SUM(CASE WHEN isnan(v) OR v = 'infinity'::DOUBLE
       |      OR v = '-infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_nonfinite
       |  FROM x GROUP BY vec_id, label),
       |cd AS (
       |  SELECT label, dim, ${Num.sqlAvg("v", 6)} AS c
       |  FROM x GROUP BY label, dim),
       |cn AS (
       |  SELECT label,
       |    SQRT(CAST(SUM(CAST(c * c AS DECIMAL(25,6))) AS DOUBLE))
       |      AS centroid_norm
       |  FROM cd GROUP BY label),
       |lv AS (
       |  SELECT label, COUNT(*) AS n_vecs,
       |    CAST(SUM(CASE WHEN n_nonfinite > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_nonfinite_vecs,
       |    CAST(SUM(CASE WHEN norm2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_zero_vecs,
       |    ${Num.sqlAvg(Num.sqlRoundD("SQRT(norm2)", 6))} AS mean_norm
       |  FROM pv GROUP BY label)
       |SELECT lv.label, n_vecs, n_nonfinite_vecs, n_zero_vecs, mean_norm,
       |  ${Num.sqlRoundD("centroid_norm")} AS centroid_norm,
       |  ${Num.sqlRoundD("centroid_norm / mean_norm")} AS collapse_ratio
       |FROM lv JOIN cn ON lv.label = cn.label
       |ORDER BY lv.label""".stripMargin

  // --------------------------------------------------------------- q115

  /** q115: Heaps-law type-growth curve — the companion corpus health
    * fit to q92's Zipf check: distinct types V grow with token count N
    * as V ≈ K·N^β (Heaps/Herdan). The types measured are word
    * TRIGRAMS, not unigrams: the n-gram-type count is what sizes every
    * shingle/fingerprint index this engine builds (q21's shingles,
    * q51's 8-gram tables, q67's vocab), and on a closed-vocabulary
    * corpus like the synthetic one the unigram curve saturates in the
    * first decile and carries zero planning signal (measured: all 31
    * word types appear in bucket 0) while trigram types keep minting —
    * exactly the curve an index-growth projection extrapolates. β near
    * 1 means the corpus keeps minting new contexts (or dedup is
    * failing); β near 0 means a saturated/templated corpus — the
    * `shape` column names the regime. The curve is measured over ten
    * ingestion-order prefixes (doc_id range deciles) and fitted in
    * log-log space by the q92 least-squares kernel; each decile row
    * carries the cumulative points plus the shared fit.
    *
    * Scale shape: cumulative distinct without a cumulative distinct —
    * each gram contributes once at its FIRST bucket (min bucket per
    * gram: one corpus-sized shuffle, q67's), so cum_vocab is a running
    * sum over a 10-row frame. The bucket spine is arithmetic on
    * (min, max) doc_id — a 1-row broadcast, no global window anywhere.
    * The degenerate-fit guard (zero y-variance ⇒ β = 0, R² = 1) keeps
    * the report NaN-free on pathological corpora in both engines: the
    * moments are exact decimal sums of identically-quantized doubles,
    * so `deny` is bit-equal cross-engine and the guard fires in both
    * or neither.
    */
  def q115HeapsGrowth(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bounds = d.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val bucketed = d.crossJoin(broadcast(bounds))
      // explicit floor: Spark's double→int cast truncates but DuckDB's
      // ROUNDS — FLOOR on both sides is the only portable bucket
      .withColumn("bucket",
        floor((col("doc_id") - col("mn")) * 10 / (col("mx") - col("mn") + 1)).cast("int"))
      .withColumn("words", split(lower(trim(col("text"))), " "))
    val tokensPerBucket = bucketed
      .groupBy("bucket").agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("words")).cast("long")).as("n_tokens"))
    val firstSeen = bucketed
      .filter(size(col("words")) >= 3)
      .withColumn("i", explode(sequence(lit(1), size(col("words")) - 2)))
      .select(col("bucket"),
        array_join(slice(col("words"), col("i"), lit(3)), " ").as("gram"))
      .groupBy("gram").agg(min(col("bucket")).as("fb"))
      .groupBy(col("fb").as("bucket")).agg(count(lit(1)).as("n_new_types"))
    val w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    val pts = tokensPerBucket
      .join(firstSeen, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_vocab", sum(col("n_new_types")).over(w))
      // zero guard (ADVICE r10): Spark's log(0) returns NULL where
      // DuckDB's LN(0) ERRORS, so a leading decile with no trigram type
      // (or an empty-text prefix) must be excluded from the fit points
      // in BOTH engines — the guarded CASE below mirrors this exactly,
      // and the fit moments count only the guarded points
      .withColumn("x", when(col("cum_tokens") >= 1 && col("cum_vocab") >= 1,
        Num.roundD(log(col("cum_tokens").cast("double")), 6)))
      .withColumn("y", when(col("cum_tokens") >= 1 && col("cum_vocab") >= 1,
        Num.roundD(log(col("cum_vocab").cast("double")), 6)))
    val g = pts.agg(
      count(col("x")).cast("double").as("n"),
      Num.exactSum(col("x")).cast("double").as("sx"),
      Num.exactSum(col("y")).cast("double").as("sy"),
      Num.exactSum(col("x") * col("x")).cast("double").as("sxx"),
      Num.exactSum(col("x") * col("y")).cast("double").as("sxy"),
      Num.exactSum(col("y") * col("y")).cast("double").as("syy"))
    val fit = g.select(
      col("n"), col("sx"), col("sy"),
      (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
      (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
      (col("n") * col("syy") - col("sy") * col("sy")).as("deny"))
      .withColumn("slope_raw",
        when(col("deny") <= 0.0, lit(0.0)).otherwise(col("num") / col("den")))
      .select(
        Num.roundD(col("slope_raw")).as("heaps_beta"),
        Num.roundD((col("sy") - col("slope_raw") * col("sx")) / col("n")).as("log_k"),
        when(col("deny") <= 0.0, lit(1.0)).otherwise(
          Num.roundD(col("num") * col("num") / (col("den") * col("deny"))))
          .as("r_squared"))
      .withColumn("shape",
        when(col("heaps_beta") < 0.2, "saturated")
          .when(col("heaps_beta") > 0.9, "open")
          .otherwise("heaps"))
    pts.crossJoin(broadcast(fit))
      .select(col("bucket"), col("n_docs"), col("cum_tokens"), col("cum_vocab"),
        col("x"), col("y"), col("heaps_beta"), col("log_k"), col("r_squared"),
        col("shape"))
      .orderBy("bucket")
  }

  val q115Sql: String =
    s"""WITH bounds AS (
       |  SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
       |b AS (
       |  SELECT doc_id,
       |    CAST(FLOOR((doc_id - mn) * 10 / (mx - mn + 1)) AS INT) AS bucket,
       |    string_split(lower(trim(text)), ' ') AS words
       |  FROM documents, bounds),
       |tb AS (
       |  SELECT bucket, COUNT(*) AS n_docs,
       |    CAST(SUM(len(words)) AS BIGINT) AS n_tokens
       |  FROM b GROUP BY bucket),
       |fs AS (
       |  SELECT gram, MIN(bucket) AS fb FROM (
       |    SELECT bucket, array_to_string(words[i:i+2], ' ') AS gram
       |    FROM (SELECT bucket, words,
       |            unnest(generate_series(1, len(words) - 2)) AS i
       |          FROM b WHERE len(words) >= 3) z) u
       |  GROUP BY gram),
       |nv AS (
       |  SELECT fb AS bucket, COUNT(*) AS n_new_types FROM fs GROUP BY fb),
       |pts AS (
       |  SELECT tb.bucket, n_docs,
       |    CAST(SUM(n_tokens) OVER (ORDER BY tb.bucket) AS BIGINT) AS cum_tokens,
       |    CAST(SUM(COALESCE(n_new_types, 0)) OVER (ORDER BY tb.bucket) AS BIGINT)
       |      AS cum_vocab
       |  FROM tb LEFT JOIN nv ON tb.bucket = nv.bucket),
       |xy AS (
       |  SELECT bucket, n_docs, cum_tokens, cum_vocab,
       |    CASE WHEN cum_tokens >= 1 AND cum_vocab >= 1
       |      THEN ${Num.sqlRoundD("LN(CAST(cum_tokens AS DOUBLE))", 6)} END AS x,
       |    CASE WHEN cum_tokens >= 1 AND cum_vocab >= 1
       |      THEN ${Num.sqlRoundD("LN(CAST(cum_vocab AS DOUBLE))", 6)} END AS y
       |  FROM pts),
       |g AS (
       |  SELECT CAST(COUNT(x) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x * x AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(x * y AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(y * y AS DECIMAL(25,6))) AS DOUBLE) AS syy
       |  FROM xy),
       |st AS (
       |  SELECT n, sx, sy,
       |    n * sxy - sx * sy AS num,
       |    n * sxx - sx * sx AS den,
       |    n * syy - sy * sy AS deny
       |  FROM g),
       |fit AS (
       |  SELECT
       |    ${Num.sqlRoundD("CASE WHEN deny <= 0.0 THEN 0.0 ELSE num / den END")} AS heaps_beta,
       |    ${Num.sqlRoundD("(sy - (CASE WHEN deny <= 0.0 THEN 0.0 ELSE num / den END) * sx) / n")} AS log_k,
       |    CASE WHEN deny <= 0.0 THEN 1.0
       |      ELSE ${Num.sqlRoundD("num * num / (den * deny)")} END AS r_squared
       |  FROM st),
       |fs2 AS (
       |  SELECT heaps_beta, log_k, r_squared,
       |    CASE WHEN heaps_beta < 0.2 THEN 'saturated'
       |         WHEN heaps_beta > 0.9 THEN 'open'
       |         ELSE 'heaps' END AS shape
       |  FROM fit)
       |SELECT bucket, n_docs, cum_tokens, cum_vocab, x, y,
       |  heaps_beta, log_k, r_squared, shape
       |FROM xy, fs2
       |ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- q119

  /** q119: the corpus DATA CARD — the one-page release artifact
    * (Gebru et al., "Datasheets for Datasets"; the model/data cards
    * every public corpus now ships) as a single oracle-checked query:
    * ten corpus-level metrics, each the headline number of an operator
    * family this engine already runs — size (docs/tokens/vectors),
    * composition (languages/sources), hygiene (exact-dup docs,
    * contaminated train docs by the q51 8-gram rule), quality (mean
    * q27 score), and statistical health (q92's Zipf slope, q115's
    * Heaps exponent). One (metric, value) row each, so a release
    * pipeline diffs cards across corpus versions with the q65 snapshot
    * machinery.
    *
    * Scale shape: every metric is an aggregate the underlying family
    * already pays — nothing here exceeds a corpus scan + the model
    * groupBys (vocab, grams); the fits run on bounded frames. The card
    * unions ten 1-row aggregates, so the assembled query is ten
    * independent subtrees Spark schedules concurrently.
    */
  def q119DataCard(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    def named(name: String, v: org.apache.spark.sql.Column, df: DataFrame): DataFrame =
      df.agg(v.cast("double").as("value"))
        .select(lit(name).as("metric"), col("value"))
    val base = Seq(
      named("corpus_docs", count(lit(1)), d),
      named("corpus_tokens",
        sum(size(split(lower(trim(col("text"))), " ")).cast("long")), d),
      named("languages", countDistinct(col("lang")), d),
      named("sources", countDistinct(col("source")), d),
      named("exact_dup_docs",
        count(lit(1)) - countDistinct(md5(lower(trim(col("text"))))), d),
      named("embedding_vectors", count(lit(1)),
        Tables.load(s, dir, "embeddings")),
      named("mean_quality", Num.avgD(col("quality_score")),
        TextOps.stats(d)))
    val g = Curation.gramHashes(d)
    val bench = g.filter(col("doc_id") % 97 === 0).select("gh").distinct()
    val contam = g.join(broadcast(bench), Seq("gh"))
      .filter(col("doc_id") % 97 =!= 0)
      .agg(countDistinct(col("doc_id")).cast("double").as("value"))
      .select(lit("contaminated_train_docs").as("metric"), col("value"))
    val zipf = q92ZipfFit(s, dir)
      .select(lit("zipf_slope").as("metric"),
        col("zipf_slope").cast("double").as("value"))
    val heaps = q115HeapsGrowth(s, dir)
      .agg(max(col("heaps_beta")).cast("double").as("value"))
      .select(lit("heaps_beta").as("metric"), col("value"))
    (base :+ contam :+ zipf :+ heaps).reduce(_ unionByName _)
      .orderBy("metric")
  }

  /** Frame-grain data card — q119's release-artifact discipline over an
    * ARBITRARY corpus frame (round 13 — VERDICT r12 #8): the metric
    * subset computable from the landed-corpus shape (doc_id, text, plus
    * lang/source when the frame carries them). The registered q119 stays
    * the oracle-checked full card over the testdata layout; this is the
    * composition seam [[dataCardAsOf]] pins a card to an immutable
    * snapshot version with.
    */
  def dataCardOf(d: DataFrame): DataFrame = {
    def named(name: String, v: org.apache.spark.sql.Column, df: DataFrame): DataFrame =
      df.agg(v.cast("double").as("value"))
        .select(lit(name).as("metric"), col("value"))
    val base = Seq(
      named("corpus_docs", count(lit(1)), d),
      named("corpus_tokens",
        sum(size(split(lower(trim(col("text"))), " ")).cast("long")), d),
      named("exact_dup_docs",
        count(lit(1)) - countDistinct(md5(lower(trim(col("text"))))), d),
      named("mean_quality", Num.avgD(col("quality_score")),
        TextOps.stats(d))) ++
      (if (d.columns.contains("lang"))
        Seq(named("languages", countDistinct(col("lang")), d)) else Nil) ++
      (if (d.columns.contains("source"))
        Seq(named("sources", countDistinct(col("source")), d)) else Nil)
    base.reduce(_ unionByName _).orderBy("metric")
  }

  /** The data card of corpus `dir` AS OF snapshot `version` — cards
    * pinned to immutable corpus versions, the release practice
    * Datasheets asks for: publishing a version freezes the file set
    * ([[graft.sources.Snapshots]]), so the card is reproducible for as
    * long as the version validates, REGARDLESS of what landed since.
    */
  def dataCardAsOf(s: SparkSession, dir: String, version: Int): DataFrame =
    dataCardOf(graft.sources.Snapshots.readAsOf(s, dir, version))

  /** The SERVING state a release ships with, as card rows (round 15 —
    * VERDICT r14 #8): a release artifact should pin not just corpus
    * composition but the standing-index state serving it — generations,
    * sizes, and the persisted calibrations (band threshold, PQ nprobe,
    * text df-threshold/champion depth + measured recalls, −1 = never
    * calibrated). Rows come from [[graft.Admit.standingStateReport]] —
    * the single definition of "the calibrations an operator checks" —
    * prefixed `serving_<component>_` so they union into any card and
    * diff under [[dataCardDiff]] like every other metric. The card is a
    * point-in-time artifact: the caller persists it at release, and a
    * later refresh moves only the LIVE recompute, never the persisted
    * rows (the snapshot-card discipline applied to serving state).
    */
  def servingStateRows(s: SparkSession, bandTable: String, outDir: String,
                       pqTable: Option[String] = None,
                       textTable: Option[String] = None): DataFrame =
    graft.Admit.standingStateReport(s, bandTable, outDir, pqTable, textTable)
      .select(concat_ws("_", lit("serving"), col("component"),
        col("metric")).as("metric"), col("value"))

  /** [[dataCardOf]] + [[servingStateRows]] in one frame — the full
    * release card: corpus composition AND the serving state it ships
    * with, one (metric, value) row each.
    */
  def dataCardWithServing(d: DataFrame, bandTable: String, outDir: String,
                          pqTable: Option[String] = None,
                          textTable: Option[String] = None): DataFrame =
    dataCardOf(d).unionByName(
        servingStateRows(d.sparkSession, bandTable, outDir, pqTable, textTable))
      .orderBy("metric")

  /** Doc-grain diff of two PUBLISHED snapshot versions — q65's diff
    * kernel (reduce both sides to (id, md5), full outer join — the
    * shuffle moves 48 bytes/doc, never text) composed with
    * [[graft.sources.Snapshots.readAsOf]], so a release reviewer gets
    * added/removed/changed/unchanged at the DOCUMENT grain between two
    * immutable corpus versions to pair with the metric-grain
    * [[dataCardDiff]]. On an append-only landing every row is `added`
    * or `unchanged` by construction — a `changed`/`removed` row here is
    * itself a history-rewrite signal.
    */
  def snapshotDiffAsOf(s: SparkSession, dir: String, v1: Int, v2: Int): DataFrame = {
    def side(v: Int, as: String) =
      graft.sources.Snapshots.readAsOf(s, dir, v)
        .select(col("doc_id"), md5(lower(trim(col("text")))).as(as))
    side(v1, "old_md5").join(side(v2, "new_md5"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") === col("new_md5"), "unchanged")
          .otherwise("changed").as("status"),
        col("old_md5"), col("new_md5"))
      .orderBy("doc_id")
  }

  /** Version-over-version card diff — the q65 snapshot-diff discipline
    * at metric grain: full outer join on the metric name, one row per
    * metric with both values and a status (`changed` / `unchanged` /
    * `added` / `removed`). The release reviewer's artifact: exactly
    * which headline numbers moved between two published versions.
    */
  def dataCardDiff(prev: DataFrame, cur: DataFrame): DataFrame =
    // added/removed mean ROW presence, not value nullability (ADVICE
    // r13): a metric can legitimately carry a null value (mean_quality
    // over an empty version) and must not be mislabeled — presence
    // flags decide added/removed, and the value comparison is
    // null-safe so two null values are `unchanged` by design
    prev.select(col("metric"), col("value").as("value_prev"),
        lit(true).as("_in_prev"))
      .join(cur.select(col("metric"), col("value").as("value_cur"),
        lit(true).as("_in_cur")), Seq("metric"), "outer")
      .select(col("metric"), col("value_prev"), col("value_cur"),
        when(col("_in_prev").isNull, "added")
          .when(col("_in_cur").isNull, "removed")
          .when(col("value_prev") <=> col("value_cur"), "unchanged")
          .otherwise("changed").as("status"))
      .orderBy("metric")

  val q119Sql: String =
    s"""WITH base AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS corpus_docs,
       |    CAST(SUM(len(string_split(lower(trim(text)), ' '))) AS DOUBLE)
       |      AS corpus_tokens,
       |    CAST(COUNT(DISTINCT lang) AS DOUBLE) AS languages,
       |    CAST(COUNT(DISTINCT source) AS DOUBLE) AS sources,
       |    CAST(COUNT(*) - COUNT(DISTINCT md5(lower(trim(text)))) AS DOUBLE)
       |      AS exact_dup_docs
       |  FROM documents),
       |ev AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM embeddings),
       |qs AS (
       |  SELECT ${Num.sqlRoundD("CAST(len(list_filter(w, x -> x IN ('a', 'the'))) AS DOUBLE) / len(w)")} AS stopword_ratio,
       |    ${Num.sqlRoundD("CAST(len(list_distinct(w)) AS DOUBLE) / len(w)")} AS type_token_ratio,
       |    CAST(len(w) AS BIGINT) AS n_tokens
       |  FROM (SELECT string_split(lower(trim(text)), ' ') AS w FROM documents) z),
       |mq AS (
       |  SELECT ${Num.sqlAvg(Num.sqlRoundD("GREATEST(0.0, LEAST(1.0, 0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) + 0.3 * (1.0 - stopword_ratio) + 0.3 * type_token_ratio))"))} AS v
       |  FROM qs),
       |ct AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
       |  FROM documents WHERE len(string_split(lower(trim(text)), ' ')) >= 8),
       |ce AS (
       |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i FROM ct),
       |cg AS (
       |  SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS gh FROM ce),
       |cbench AS (SELECT DISTINCT gh FROM cg WHERE doc_id % 97 = 0),
       |contam AS (
       |  SELECT CAST(COUNT(DISTINCT cg.doc_id) AS DOUBLE) AS v
       |  FROM cg JOIN cbench USING (gh) WHERE cg.doc_id % 97 <> 0),
       |zuni AS (
       |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
       |  FROM documents),
       |zranked AS (
       |  SELECT term, COUNT(*) AS n_total,
       |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rank
       |  FROM zuni GROUP BY term),
       |zpts AS (
       |  SELECT ${Num.sqlRoundD("LN(CAST(rank AS DOUBLE))", 6)} AS x,
       |    ${Num.sqlRoundD("LN(CAST(n_total AS DOUBLE))", 6)} AS y
       |  FROM zranked WHERE rank <= 1000),
       |zg AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x * x AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(x * y AS DECIMAL(25,6))) AS DOUBLE) AS sxy
       |  FROM zpts),
       |zfit AS (
       |  SELECT ${Num.sqlRoundD("((n * sxy - sx * sy) / (n * sxx - sx * sx))")} AS v
       |  FROM zg),
       |hbounds AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
       |hb AS (
       |  SELECT doc_id,
       |    CAST(FLOOR((doc_id - mn) * 10 / (mx - mn + 1)) AS INT) AS bucket,
       |    string_split(lower(trim(text)), ' ') AS words
       |  FROM documents, hbounds),
       |htb AS (
       |  SELECT bucket, CAST(SUM(len(words)) AS BIGINT) AS n_tokens
       |  FROM hb GROUP BY bucket),
       |hfs AS (
       |  SELECT gram, MIN(bucket) AS fb FROM (
       |    SELECT bucket, array_to_string(words[i:i+2], ' ') AS gram
       |    FROM (SELECT bucket, words,
       |            unnest(generate_series(1, len(words) - 2)) AS i
       |          FROM hb WHERE len(words) >= 3) z) u
       |  GROUP BY gram),
       |hnv AS (SELECT fb AS bucket, COUNT(*) AS n_new FROM hfs GROUP BY fb),
       |hpts AS (
       |  SELECT htb.bucket,
       |    CAST(SUM(n_tokens) OVER (ORDER BY htb.bucket) AS BIGINT) AS cum_tokens,
       |    CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY htb.bucket) AS BIGINT)
       |      AS cum_vocab
       |  FROM htb LEFT JOIN hnv ON htb.bucket = hnv.bucket),
       |hxy AS (
       |  SELECT ${Num.sqlRoundD("LN(CAST(cum_tokens AS DOUBLE))", 6)} AS x,
       |    ${Num.sqlRoundD("LN(CAST(cum_vocab AS DOUBLE))", 6)} AS y
       |  FROM hpts),
       |hg AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x * x AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(x * y AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(y * y AS DECIMAL(25,6))) AS DOUBLE) AS syy
       |  FROM hxy),
       |hfit AS (
       |  SELECT CASE WHEN (n * syy - sy * sy) <= 0.0 THEN 0.0
       |    ELSE ${Num.sqlRoundD("((n * sxy - sx * sy) / (n * sxx - sx * sx))")} END AS v
       |  FROM hg)
       |SELECT metric, value FROM (
       |  SELECT 'corpus_docs' AS metric, corpus_docs AS value FROM base
       |  UNION ALL SELECT 'corpus_tokens', corpus_tokens FROM base
       |  UNION ALL SELECT 'languages', languages FROM base
       |  UNION ALL SELECT 'sources', sources FROM base
       |  UNION ALL SELECT 'exact_dup_docs', exact_dup_docs FROM base
       |  UNION ALL SELECT 'embedding_vectors', v FROM ev
       |  UNION ALL SELECT 'mean_quality', v FROM mq
       |  UNION ALL SELECT 'contaminated_train_docs', v FROM contam
       |  UNION ALL SELECT 'zipf_slope', v FROM zfit
       |  UNION ALL SELECT 'heaps_beta', v FROM hfit) u
       |ORDER BY metric""".stripMargin
}
