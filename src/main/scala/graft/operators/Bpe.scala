package graft.operators

import graft.{Frames, Num, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer TRAINING (Sennrich, Haddow & Birch, ACL
  * 2016) — the iterative loop whose single counting step q102 exposes:
  * start from characters + a `</w>` terminal, repeatedly take the
  * highest-weight adjacent symbol pair and merge it everywhere, k
  * times; the ordered merge list IS the tokenizer.
  *
  * Scale design (why a trainer can run over a 100 TB corpus at all):
  * every round operates on the DISTINCT-WORD frame — (word, freq,
  * symbol array) — so per-word work is independent of how often the
  * word occurs; the corpus is read ONCE to build that table (the only
  * corpus-sized shuffle, q102's), and each merge round is one pass over
  * the word types: explode adjacent pairs weighted by freq,
  * partial-aggregated groupBy to pick the top pair (a ONE-ROW driver
  * pull per round — bounded state, the CC-loop convergence-check
  * discipline), then a row-local fold rewrites each symbol array. The
  * evolving word frame is eagerly localCheckpoint'd each round and the
  * superseded snapshot freed immediately ([[Frames.freePinned]] — the
  * O(1)-pinned loop contract ClustersSpec enforces for CC), which also
  * keeps the plan from accreting k nested fold expressions.
  *
  * Tie-break is (count DESC, left ASC, right ASC) — identical to
  * q102's published ranking, so `train(…, 1)` head equals q102 rank 1
  * by construction (spec-pinned).
  */
object Bpe {

  /** Greedy left-to-right application of one merge to a symbol array —
    * the standard BPE apply order (for "aaa" under merge (a,a):
    * [aa, a]). Row-local fold; no UDF.
    */
  private[graft] def applyMerge(syms: Column, a: String, b: String): Column =
    applyMerges(syms, Seq((a, b)))

  /** One fold pass applying a SYMBOL-DISJOINT merge batch: `pairs` must
    * satisfy the [[disjointBatch]] invariant — across pairs, all left
    * symbols, right symbols, and merged tokens are mutually distinct.
    * Under it, one left-to-right pass equals applying the pairs
    * sequentially in any order (no pair's occurrences are created or
    * destroyed by another: counts of symbol-disjoint pairs are invariant
    * under a merge, and no merged token can seed another pair in the
    * batch because merged tokens are excluded from every pair's
    * symbols). The pair lookup is a map literal, so the expression depth
    * is CONSTANT in the batch size — m merges per round cost one fold,
    * not m nested folds.
    */
  private[graft] def applyMerges(syms: Column, pairs: Seq[(String, String)]): Column = {
    val lookup = map(pairs.flatMap { case (a, b) => Seq(lit(a), lit(b)) }: _*)
    aggregate(syms, typedLit(Array.empty[String]), (acc, x) =>
      when(size(acc) > 0 && element_at(lookup, element_at(acc, -1)) === x,
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(element_at(acc, -1), x))))
        .otherwise(concat(acc, array(x))))
  }

  /** Greedy maximal symbol-disjoint prefix batching: walk `ranked` in
    * order, accepting a pair iff its left symbol, right symbol, AND
    * merged token are all unseen among previously accepted pairs'
    * {left, right, merged} sets, stopping after `limit` acceptances.
    * The invariant [[applyMerges]] needs — and the WHOLE batched-merge
    * policy: the batch is exactly "the top-ranked pairs that cannot
    * interact", so batched training applies each selected pair to the
    * same segmentation state sequential training would have shown it.
    */
  private[graft] def disjointBatch(ranked: Seq[(String, String)],
                                   limit: Int): Seq[(String, String)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val it = ranked.iterator
    while (out.size < limit && it.hasNext) {
      val (a, b) = it.next()
      if (!used(a) && !used(b) && !used(a + b)) {
        out += ((a, b))
        used ++= Seq(a, b, a + b)
      }
    }
    out.toSeq
  }

  /** (word, freq) types of a document corpus — q102's word table. */
  def wordTable(docs: DataFrame): DataFrame =
    docs.select(explode(split(lower(trim(col("text"))), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Character-level start state: one symbol per char plus `</w>`. */
  private def initialSyms(words: DataFrame): DataFrame =
    words.withColumn("syms", concat(
      expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))"),
      array(lit("</w>"))))

  /** Adjacent-pair weights of the CURRENT segmentation. Words already
    * merged to a SINGLE symbol are filtered first: they contribute no
    * pairs, and Spark's `sequence(1, 0)` counts DOWN ([1, 0]) rather
    * than yielding empty, which would index past the array (hit live
    * by the astral-plane parity test — a short word fully merges in
    * two rounds).
    */
  private def pairCounts(syms: DataFrame): DataFrame =
    syms.filter(size(col("syms")) >= 2)
      .withColumn("i", explode(sequence(lit(1), size(col("syms")) - 1)))
      .select(element_at(col("syms"), col("i")).as("a"),
        element_at(col("syms"), col("i") + 1).as("b"), col("freq"))
      .groupBy("a", "b").agg(sum(col("freq")).as("cnt"))

  /** Learn `numMerges` merges over `docs`' text. Returns the ordered
    * merge list (shorter if the corpus runs out of pairs with weight ≥
    * `minCount`). `segment(words, merges)` replays the result.
    *
    * `batchMerges` (round 10 — VERDICT r9 #5) bounds how many merges
    * ONE Spark round may apply: the round ranks the current pair counts
    * once, greedily accepts the top-ranked pairs that interact with
    * nothing already accepted ([[disjointBatch]]), and applies them in
    * one fold pass ([[applyMerges]]). Disjoint pairs' counts are
    * invariant under each other's merges, so every accepted pair is
    * applied against exactly the segmentation a sequential trainer
    * would have shown it; what CAN differ from `batchMerges = 1` is
    * SELECTION after a round's first pair — a merge's newly created
    * pairs (x, a·b) enter the ranking only next round, so a batch may
    * take rank-2..m pairs a strict sequential trainer would defer.
    * That is the standard batched-BPE trade; the policy is
    * deterministic and spec-pinned, and `batchMerges = 1` reproduces
    * strict sequential BPE exactly. The point is the 100 TB trainer's
    * arithmetic: a production 32k-merge vocabulary at one merge per
    * round is 32k Spark jobs + driver round-trips — days of scheduling
    * overhead on ANY cluster size; at m=64 it is ~hundreds of rounds,
    * each still one pass over the word types with a bounded (≤ 32m-row,
    * adaptive — see the headroom ratchet below) driver pull.
    */
  def train(docs: DataFrame, numMerges: Int, minCount: Long = 2L,
            batchMerges: Int = 1): Seq[(String, String)] = {
    require(batchMerges >= 1, s"batchMerges must be >= 1, got $batchMerges")
    var syms = initialSyms(wordTable(docs)).localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // adaptive pull headroom (round 12 — VERDICT r11 #6): the fixed 4×
    // window measured ~14 of 64 accepted per production round — early
    // vocabularies collide on a few hot symbols, so most of a thin
    // window is rejected and the k/m round floor is missed 4×. The
    // policy: a round that accepts under HALF its want doubles the NEXT
    // round's headroom (cap 32×); a healthy round resets to 4×. Still
    // deterministic (the window depends only on the previous round's
    // acceptance, itself deterministic), still bounded (≤ 32m rows —
    // a driver pull of ≤ 2048 at m=64), and spec-pinned: BpeSpec's
    // batched reference policy mirrors the same ratchet.
    var headroom = 4
    try {
      var exhausted = false
      while (merges.size < numMerges && !exhausted) {
        val want = math.min(batchMerges, numMerges - merges.size)
        // headroom× over the batch: candidates rejected for symbol
        // collisions are re-ranked next round, so a thin window costs
        // ROUNDS, never correctness; the pull stays bounded (≤ 32m rows
        // — the round's decision, like CC's delta count)
        val top = pairCounts(syms)
          .filter(col("cnt") >= minCount)
          .orderBy(col("cnt").desc, col("a"), col("b")).limit(headroom * want)
          .collect()
          .toSeq.map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
        val round = disjointBatch(top, want)
        if (round.isEmpty) exhausted = true
        else {
          merges ++= round
          val next = syms
            .withColumn("syms", applyMerges(col("syms"), round))
            .localCheckpoint(true)
          Frames.freePinned(syms) // superseded round — O(1) pinned state
          syms = next
          headroom =
            if (round.size < (want + 1) / 2) math.min(headroom * 2, 32) else 4
        }
      }
      merges.toSeq
    } finally Frames.freePinned(syms)
  }

  /** Segment a (word, …) frame with an ordered merge list: replays the
    * merges in training order over the char start state. Consecutive
    * merges are re-grouped into maximal symbol-disjoint batches (the
    * [[disjointBatch]] invariant, greedily over the list order: flush
    * when the next merge touches a symbol or merged token already in
    * the batch) — result-identical to one-at-a-time replay, because a
    * disjoint batch applied in one fold equals its sequential
    * application, and the grouping never reorders across an
    * interaction. Checkpoint + free per BATCH keeps the O(1)-pinned /
    * bounded-plan-depth contract while cutting a k-merge replay to the
    * same ~k/m rounds training paid.
    */
  def segment(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, String)]]
    val cur = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val used = scala.collection.mutable.Set.empty[String]
    for ((a, b) <- merges) {
      if (used(a) || used(b) || used(a + b)) {
        batches += cur.toSeq; cur.clear(); used.clear()
      }
      cur += ((a, b)); used ++= Seq(a, b, a + b)
    }
    if (cur.nonEmpty) batches += cur.toSeq
    var syms = initialSyms(words).localCheckpoint(true)
    for (batch <- batches) {
      val next = syms.withColumn("syms", applyMerges(col("syms"), batch))
        .localCheckpoint(true)
      Frames.freePinned(syms)
      syms = next
    }
    syms.withColumn("n_tokens", size(col("syms")))
  }

  /** Persist an ordered merge list beside the corpus it tokenizes
    * (rank, left, right) — the quality_model discipline: the tokenizer
    * an experiment trained is the tokenizer it ships. [[loadMerges]]
    * restores training order exactly.
    */
  def saveMerges(s: SparkSession, path: String,
                 merges: Seq[(String, String)]): Unit = {
    import s.implicits._
    merges.zipWithIndex
      .map { case ((a, b), i) => (i + 1, a, b) }
      .toDF("rank", "left", "right")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Ordered merge list back from [[saveMerges]]' table. The pull is
    * bounded by the vocabulary size a trainer chose (tens of thousands
    * of rows at most) — driver-side by design, like the merge list it
    * reconstructs.
    */
  def loadMerges(s: SparkSession, path: String): Seq[(String, String)] =
    s.read.parquet(path)
      .orderBy("rank")
      .collect()
      .toSeq.map(r => (r.getAs[String]("left"), r.getAs[String]("right")))

  // --------------------------------------------------------------- q113

  /** q113: one batched BPE training round as an oracle-checked query —
    * the [[train]] loop's first iteration under `batchMerges = m`,
    * surfaced end to end: rank the initial adjacent-pair counts (q102's
    * table), greedily accept the top `m` pairs that share no symbol and
    * no merged token ([[disjointBatch]]), apply them in ONE fold pass
    * ([[applyMerges]]), and report each frequent word's resulting
    * segmentation. This is the query that promotes the trainer's two
    * kernels — the batched selection policy and the single-pass fold —
    * from module tests into the value-hash gate: the oracle replays the
    * greedy walk (a linear recursive CTE over the ranked list) and the
    * fold (per-merge left-to-right string replace over a
    * sentinel-rendered token string — equal to the one-pass fold
    * exactly because the batch is symbol-disjoint, the [[applyMerges]]
    * invariant) bit for bit.
    *
    * Scale shape: identical to [[train]]'s per-round cost — the only
    * corpus-sized operation is the word-frequency groupBy; ranking,
    * selection (a ≤ 4m-row driver pull, the trainer's own bounded
    * decision pull), and the fold all run on the distinct-word frame.
    * The freq floor on the report keeps the output the head of the
    * vocabulary; it filters AFTER segmentation, which costs nothing
    * (the fold is row-local).
    */
  /** The trainer's first batched round over a corpus: the ranked pull
    * + greedy disjoint selection exactly as one [[train]] iteration
    * performs it. Shared by q113 and its spec.
    */
  private[graft] def firstBatch(docs: DataFrame, m: Int): Seq[(String, String)] = {
    val top = pairCounts(initialSyms(wordTable(docs)))
      .filter(col("cnt") >= 2)
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(4 * m)
      .collect()
      .toSeq.map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
    disjointBatch(top, m)
  }

  def q113BpeSegment(s: SparkSession, dir: String, m: Int = 8,
                     minFreq: Long = 5L): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val syms0 = initialSyms(wordTable(d))
    val round = firstBatch(d, m)
    syms0
      .withColumn("syms", applyMerges(col("syms"), round))
      .filter(col("freq") >= minFreq)
      .select(col("word"), col("freq"),
        array_join(col("syms"), " ").as("tokens"),
        size(col("syms")).as("n_tokens"))
      .orderBy("word")
  }

  /** Oracle for [[q113BpeSegment]] (m = 8, minFreq = 5). Tokens are
    * rendered as chr(1)‖token‖chr(2) so a merge (a, b) is one
    * left-to-right `replace` of the adjacent rendered pair — for a
    * symbol-disjoint batch, sequential per-merge replace equals the
    * Spark side's single fold pass (no pair's occurrences are created
    * or destroyed by another, and a replacement can never complete a
    * later pattern: every pattern needs single-char symbols between
    * sentinels, every replacement writes a 2+-char token). The greedy
    * selection walks the ranked list one row per recursion step with
    * the used-symbol set carried as a chr(1)-delimited string.
    */
  val q113Sql: String = {
    val d1 = "chr(1)"; val d2 = "chr(2)"
    s"""WITH RECURSIVE w AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
       |    FROM documents) u
       |  WHERE len(word) > 0 GROUP BY word),
       |p AS (
       |  SELECT word, freq, unnest(generate_series(1, len(word))) AS i FROM w),
       |c AS (
       |  SELECT substr(word, i, 1) AS a,
       |    CASE WHEN i = len(word) THEN '</w>'
       |         ELSE substr(word, i + 1, 1) END AS b,
       |    CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM p GROUP BY 1, 2),
       |r AS (
       |  SELECT a, b, ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS rk
       |  FROM c WHERE cnt >= 2
       |  QUALIFY rk <= 32),
       |sel AS (
       |  SELECT 0 AS rk, CAST(NULL AS VARCHAR) AS a, CAST(NULL AS VARCHAR) AS b,
       |    0 AS n_sel, $d1 AS used, FALSE AS took
       |  UNION ALL
       |  SELECT r.rk, r.a, r.b,
       |    sel.n_sel + CASE WHEN sel.n_sel < 8
       |        AND NOT contains(sel.used, $d1 || r.a || $d1)
       |        AND NOT contains(sel.used, $d1 || r.b || $d1)
       |        AND NOT contains(sel.used, $d1 || r.a || r.b || $d1)
       |      THEN 1 ELSE 0 END,
       |    CASE WHEN sel.n_sel < 8
       |        AND NOT contains(sel.used, $d1 || r.a || $d1)
       |        AND NOT contains(sel.used, $d1 || r.b || $d1)
       |        AND NOT contains(sel.used, $d1 || r.a || r.b || $d1)
       |      THEN sel.used || r.a || $d1 || r.b || $d1 || r.a || r.b || $d1
       |      ELSE sel.used END,
       |    sel.n_sel < 8
       |      AND NOT contains(sel.used, $d1 || r.a || $d1)
       |      AND NOT contains(sel.used, $d1 || r.b || $d1)
       |      AND NOT contains(sel.used, $d1 || r.a || r.b || $d1)
       |  FROM sel JOIN r ON r.rk = sel.rk + 1),
       |m AS (
       |  SELECT a, b, ROW_NUMBER() OVER (ORDER BY rk) AS mi
       |  FROM sel WHERE took),
       |nm AS (SELECT CAST(COUNT(*) AS INT) AS n_m FROM m),
       |init AS (
       |  SELECT word, freq,
       |    list_aggregate(list_transform(generate_series(1, len(word)),
       |      i -> $d1 || substr(word, i, 1) || $d2), 'string_agg', '')
       |    || $d1 || '</w>' || $d2 AS st
       |  FROM w WHERE freq >= 5),
       |ap AS (
       |  SELECT word, freq, st, 0 AS mi FROM init
       |  UNION ALL
       |  SELECT ap.word, ap.freq,
       |    replace(ap.st, $d1 || m.a || $d2 || $d1 || m.b || $d2,
       |      $d1 || m.a || m.b || $d2),
       |    ap.mi + 1
       |  FROM ap JOIN m ON m.mi = ap.mi + 1)
       |SELECT word, freq,
       |  replace(substr(st, 2, len(st) - 2), $d2 || $d1, ' ') AS tokens,
       |  CAST((len(st) - len(replace(st, $d2, ''))) AS INT) AS n_tokens
       |FROM ap, nm WHERE ap.mi = nm.n_m
       |ORDER BY word""".stripMargin
  }

  // --------------------------------------------------------------- q129

  /** q129: tokenizer fertility report — the round-1 tokenizer (q113's
    * batch, trained on GLOBAL pair counts) applied CORPUS-WIDE, rolled
    * up to the metrics a tokenizer evaluation reads per language:
    * word/char/symbol totals, BPE token totals, fertility (tokens per
    * word), chars per token, and the percent of symbol positions the
    * merges eliminated. This is the query that grades a tokenizer the
    * way a pretraining team does — a merge list wins or loses on the
    * fertility it buys each language, not on its own training loss —
    * and languages whose surface forms the merges never cover show
    * fertility = init symbols/word, oracle-visibly unhelped.
    *
    * Scale shape: the tokenizer applies on the DISTINCT (lang, word)
    * frame — per-type cost, independent of corpus size; the only
    * corpus-sized operations are the two word-frequency groupBys
    * (global for training, per-language for the rollup), both
    * partial-aggregated scans. Output is one row per language.
    */
  def q129TokenizerFertility(s: SparkSession, dir: String, m: Int = 8): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val round = firstBatch(d, m)
    val langWords = d.select(col("lang"),
        explode(split(lower(trim(col("text"))), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
    initialSyms(langWords)
      .withColumn("syms", applyMerges(col("syms"), round))
      .withColumn("n_tok_word", size(col("syms")).cast("long"))
      .groupBy("lang").agg(
        sum(col("freq")).as("words"),
        sum(length(col("word")).cast("long") * col("freq")).as("chars"),
        sum((length(col("word")).cast("long") + 1L) * col("freq"))
          .as("init_syms"),
        sum(col("n_tok_word") * col("freq")).as("bpe_tokens"))
      .withColumn("fertility_r", Num.roundD(
        col("bpe_tokens").cast("double") / col("words").cast("double"), 6))
      .withColumn("chars_per_tok_r", Num.roundD(
        col("chars").cast("double") / col("bpe_tokens").cast("double"), 6))
      .withColumn("saved_pct_r", Num.roundD(
        (col("init_syms") - col("bpe_tokens")).cast("double") * lit(100.0) /
          col("init_syms").cast("double"), 6))
      .select("lang", "words", "chars", "init_syms", "bpe_tokens",
        "fertility_r", "chars_per_tok_r", "saved_pct_r")
      .orderBy("lang")
  }

  /** Oracle for [[q129TokenizerFertility]] (m = 8): q113's training
    * selection verbatim (global counts → ranked walk → disjoint batch)
    * plus a per-(lang, word) application of the same sentinel-replace
    * fold, aggregated per language.
    */
  val q129Sql: String = {
    val d1 = "chr(1)"; val d2 = "chr(2)"
    s"""WITH RECURSIVE w AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
       |    FROM documents) u
       |  WHERE len(word) > 0 GROUP BY word),
       |p AS (
       |  SELECT word, freq, unnest(generate_series(1, len(word))) AS i FROM w),
       |c AS (
       |  SELECT substr(word, i, 1) AS a,
       |    CASE WHEN i = len(word) THEN '</w>'
       |         ELSE substr(word, i + 1, 1) END AS b,
       |    CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM p GROUP BY 1, 2),
       |r AS (
       |  SELECT a, b, ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS rk
       |  FROM c WHERE cnt >= 2
       |  QUALIFY rk <= 32),
       |sel AS (
       |  SELECT 0 AS rk, CAST(NULL AS VARCHAR) AS a, CAST(NULL AS VARCHAR) AS b,
       |    0 AS n_sel, $d1 AS used, FALSE AS took
       |  UNION ALL
       |  SELECT r.rk, r.a, r.b,
       |    sel.n_sel + CASE WHEN sel.n_sel < 8
       |        AND NOT contains(sel.used, $d1 || r.a || $d1)
       |        AND NOT contains(sel.used, $d1 || r.b || $d1)
       |        AND NOT contains(sel.used, $d1 || r.a || r.b || $d1)
       |      THEN 1 ELSE 0 END,
       |    CASE WHEN sel.n_sel < 8
       |        AND NOT contains(sel.used, $d1 || r.a || $d1)
       |        AND NOT contains(sel.used, $d1 || r.b || $d1)
       |        AND NOT contains(sel.used, $d1 || r.a || r.b || $d1)
       |      THEN sel.used || r.a || $d1 || r.b || $d1 || r.a || r.b || $d1
       |      ELSE sel.used END,
       |    sel.n_sel < 8
       |      AND NOT contains(sel.used, $d1 || r.a || $d1)
       |      AND NOT contains(sel.used, $d1 || r.b || $d1)
       |      AND NOT contains(sel.used, $d1 || r.a || r.b || $d1)
       |  FROM sel JOIN r ON r.rk = sel.rk + 1),
       |m AS (
       |  SELECT a, b, ROW_NUMBER() OVER (ORDER BY rk) AS mi
       |  FROM sel WHERE took),
       |nm AS (SELECT CAST(COUNT(*) AS INT) AS n_m FROM m),
       |wl AS (
       |  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT lang, unnest(string_split(lower(trim(text)), ' ')) AS word
       |    FROM documents) u
       |  WHERE len(word) > 0 GROUP BY lang, word),
       |init AS (
       |  SELECT lang, word, freq,
       |    list_aggregate(list_transform(generate_series(1, len(word)),
       |      i -> $d1 || substr(word, i, 1) || $d2), 'string_agg', '')
       |    || $d1 || '</w>' || $d2 AS st
       |  FROM wl),
       |ap AS (
       |  SELECT lang, word, freq, st, 0 AS mi FROM init
       |  UNION ALL
       |  SELECT ap.lang, ap.word, ap.freq,
       |    replace(ap.st, $d1 || m.a || $d2 || $d1 || m.b || $d2,
       |      $d1 || m.a || m.b || $d2),
       |    ap.mi + 1
       |  FROM ap JOIN m ON m.mi = ap.mi + 1),
       |seg AS (
       |  SELECT lang, word, freq,
       |    CAST((len(st) - len(replace(st, $d2, ''))) AS BIGINT) AS n_tok
       |  FROM ap, nm WHERE ap.mi = nm.n_m),
       |g AS (
       |  SELECT lang,
       |    CAST(SUM(freq) AS BIGINT) AS words,
       |    CAST(SUM(len(word) * freq) AS BIGINT) AS chars,
       |    CAST(SUM((len(word) + 1) * freq) AS BIGINT) AS init_syms,
       |    CAST(SUM(n_tok * freq) AS BIGINT) AS bpe_tokens
       |  FROM seg GROUP BY lang)
       |SELECT lang, words, chars, init_syms, bpe_tokens,
       |  ${Num.sqlRoundD("CAST(bpe_tokens AS DOUBLE) / CAST(words AS DOUBLE)", 6)}
       |    AS fertility_r,
       |  ${Num.sqlRoundD("CAST(chars AS DOUBLE) / CAST(bpe_tokens AS DOUBLE)", 6)}
       |    AS chars_per_tok_r,
       |  ${Num.sqlRoundD(
             "CAST(init_syms - bpe_tokens AS DOUBLE) * 100.0 / CAST(init_syms AS DOUBLE)", 6)}
       |    AS saved_pct_r
       |FROM g
       |ORDER BY lang""".stripMargin
  }
}
