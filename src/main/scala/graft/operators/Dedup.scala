package graft.operators

import graft.{Num, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data deduplication: exact content-hash, MinHash-LSH,
  * SimHash, and n-gram-Jaccard verification — the document half; the
  * embedding-space near-dup lives in [[Ann]].
  *
  * Scale design (SURVEY.md §4): every near-dup path is banded/bucketed —
  * candidate pairs only form inside an LSH bucket (band hash or SimHash
  * segment), never via an all-pairs comparison. Physical plans contain
  * shuffle-hash/sort-merge joins on bucket keys and no CartesianProduct
  * (asserted by DedupAnnSpec/PlanSpec). Quadratic blowup is guarded at
  * both levels: a document-frequency cap bounds posting lists of
  * boilerplate shingles ([[shingles]]), and [[guardedPairs]] caps
  * per-bucket pair emission so a k-doc duplicate cluster — identical
  * signatures, one bucket — emits O(k) star edges, never O(k²) pairs.
  */
object Dedup {

  /** Dedup input: the documents table plus a deterministic "second crawl
    * batch" — every 5th doc re-ingested under a new id. The synthetic
    * corpus is duplicate-free; a dedup operator demonstrated on it alone
    * would have nothing to find.
    */
  def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    d.unionByName(
      d.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 10000))
  }

  val corpusSql: String =
    """SELECT * FROM documents
      |UNION ALL
      |SELECT doc_id + 10000 AS doc_id, text, lang, source, n_chars
      |FROM documents WHERE doc_id % 5 = 0""".stripMargin

  /** q20: exact dedup — group by normalized content hash, keep the lowest
    * doc_id as canonical. One partial-aggregated shuffle on the 256-bit
    * hash; at 100 TB the hash groupBy is the textbook exact-dedup plan.
    */
  def q20DedupExact(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir)
      .withColumn("content_hash", sha2(lower(trim(col("text"))), 256))
      .groupBy("content_hash")
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_id")

  val q20Sql: String =
    s"""WITH corpus AS ($corpusSql)
       |SELECT sha256(lower(trim(text))) AS content_hash,
       |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
       |FROM corpus
       |GROUP BY 1
       |ORDER BY canonical_id""".stripMargin

  /** q35: incremental dedup — admit only genuinely-new content from an
    * incoming crawl batch, anti-joined against the historical corpus on
    * the normalized content hash. The day-2 shape of every training-data
    * pipeline: the historical side is just a hash column (not documents),
    * so the state carried between ingests is 32 bytes/doc. The simulated
    * batch mixes exact re-crawls (dropped) with edited documents
    * (admitted).
    */
  def q35DedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    def hashed(df: DataFrame): DataFrame =
      df.withColumn("content_hash", sha2(lower(trim(col("text"))), 256))
    val batch =
      d.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 10000)
        .unionByName(
          d.filter(col("doc_id") % 10 === 0)
            .withColumn("doc_id", col("doc_id") + 20000)
            .withColumn("text", concat(col("text"), lit(" revised edition"))))
    hashed(batch)
      .join(hashed(d).select("content_hash"), Seq("content_hash"), "left_anti")
      .select(col("doc_id").as("batch_doc_id"), col("content_hash"))
      .orderBy("batch_doc_id")
  }

  val q35Sql: String =
    """WITH batch AS (
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000 AS doc_id, text || ' revised edition' AS text
      |  FROM documents WHERE doc_id % 10 = 0),
      |hashed AS (
      |  SELECT doc_id, sha256(lower(trim(text))) AS content_hash FROM batch)
      |SELECT doc_id AS batch_doc_id, content_hash
      |FROM hashed h
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM documents d
      |  WHERE sha256(lower(trim(d.text))) = h.content_hash)
      |ORDER BY batch_doc_id""".stripMargin

  // MinHash-LSH constants live with the native band expression (single
  // source of truth between the kernel and the oracle-SQL generators here)
  private def NumPerms = graft.functions.MinhashParams.NumPerms
  private def Bands = graft.functions.MinhashParams.Bands
  private def RowsPerBand = graft.functions.MinhashParams.RowsPerBand

  /** 60-bit cross-engine string hash: the first 15 hex chars of md5 read
    * as a base-16 integer, in [0, 2⁶⁰). md5 is bit-identical across
    * engines, which is what lets the LSH family carry full DuckDB value
    * oracles (round 4 — previously these paths used Spark-internal
    * xxhash64 and were rows-only). Slower per call than xxhash64, but the
    * hash runs once per shingle/token (the 32 minhash "permutations" on
    * top are plain arithmetic inside [[graft.functions.MinhashBands]]),
    * and the evaluation is the native [[graft.functions.Md5Long60]]
    * expression — digest bytes to long directly, no hex-string round-trip.
    */
  def md5Long60(c: Column): Column =
    call_function("md5_long60", c)

  /** Oracle-SQL fragment mirroring [[md5Long60]]. */
  def sqlMd5Long60(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  private val Mask60 = (1L << 60) - 1

  /** Base 60-bit string hash, selectable per run (round 5 — VERDICT r4 #3):
    *
    *   - `"md5"` — bit-identical across engines; the mode every
    *     oracle-gated query pins, and the 1.4× digest tax the r4 bench
    *     measured on q23.
    *   - `"xxhash64"` — Spark's codegen'd internal hash masked into the
    *     same [0, 2⁶⁰) domain; the production choice at 100 TB. No DuckDB
    *     twin, so no value oracle — the plan shape and every guard are
    *     IDENTICAL to md5 mode (asserted by DedupAnnSpec), only the digest
    *     arithmetic changes.
    *
    * The mask keeps xxhash64 values non-negative so the universal-hash
    * minhash arithmetic `(x mod P)·a + b` stays in range either way.
    */
  def baseHash60(c: Column, mode: String): Column = mode match {
    case "md5" => md5Long60(c)
    case "xxhash64" => xxhash64(c).bitwiseAND(lit(Mask60))
    case other => throw new IllegalArgumentException(
      s"hashMode must be md5 or xxhash64, got $other")
  }

  /** SQL-expression fragment of [[baseHash60]], for hashes built inside
    * `expr(...)` lambdas where a [[Column]] cannot reach.
    */
  private def baseHash60Expr(e: String, mode: String): String = mode match {
    case "md5" => s"md5_long60($e)"
    case "xxhash64" => s"(xxhash64($e) & ${Mask60}L)"
    case other => throw new IllegalArgumentException(
      s"hashMode must be md5 or xxhash64, got $other")
  }

  private def P = graft.functions.MinhashParams.P
  private[graft] def perms = graft.functions.MinhashParams.perms

  /** Default hot-bucket threshold for [[guardedPairs]]. */
  val MaxBucket = 64

  /** Candidate pairs from an LSH bucket table, with a hot-bucket guard.
    *
    * Small buckets (≤ `maxBucket` members) emit all within-bucket pairs —
    * the standard LSH candidate join. Hot buckets are duplicate clusters
    * (boilerplate pages, mirrored content — the common case in a crawl
    * corpus): identical content yields identical signatures, so a k-doc
    * cluster lands on ONE bucket key and a pairwise join would emit O(k²)
    * rows from that key (k = 10⁶ ⇒ 10¹² rows). Those buckets instead emit
    * star edges from the bucket's canonical (minimum) id to each member:
    * O(k) rows that keep the cluster connected for canonical-id /
    * connected-component consumption while bounding any single key's
    * output — per-key emission is ≤ max(maxBucket², k).
    *
    * Plan shape: one partial-aggregated groupBy on the bucket key, an
    * equi-join back on the same key (hash partitioning reused — no extra
    * exchange), and the pair self-join on the bucket key for small buckets
    * only. Never a cartesian product (asserted by PlanSpec).
    *
    * @param buckets     (id, bucket-key..., payload...) rows; callers
    *                    persist it — it is read by the stats groupBy and
    *                    both join sides
    * @param payloadCols columns carried onto both sides of each pair as
    *                    `a_<name>` / `b_<name>` (e.g. a fingerprint to
    *                    verify inside the bucket)
    * @return (id_a, id_b [, a_payload..., b_payload...]) with id_a < id_b
    */
  def guardedPairs(buckets: DataFrame, idCol: String, keyCols: Seq[String],
                   payloadCols: Seq[String] = Nil,
                   maxBucket: Int = MaxBucket,
                   cache: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bucket size + canonical member via ONE window pass over the bucket
    // key (a groupBy + join-back costs two exchanges and a probe; the
    // window is one exchange). min(struct(id, payload...)) orders by the
    // unique id first, so the struct min IS the canonical row.
    val wB = Window.partitionBy(keyCols.map(col): _*)
    // persisted: referenced by both sides of the pair self-join AND the
    // hot-bucket path — Spark re-derives unpersisted subtrees per
    // self-join side, which would re-run the window pipeline twice
    // (measured 2.3x on the minhash bench before this persist).
    // `cache = false` is the unbounded-run setting (a per-micro-batch
    // persist inside a streaming admission cycle would accumulate cached
    // partitions forever — ADVICE r8); the window then recomputes once
    // per referencing side, bounded because the input is batch-sized.
    val annotated0 = buckets
      .withColumn("bucket_n", count(lit(1)).over(wB))
      .withColumn("canon",
        min(struct((idCol +: payloadCols).map(col): _*)).over(wB))
    val annotated = if (cache) annotated0.persist() else annotated0
    val small = annotated.filter(col("bucket_n") <= maxBucket)
      .select((idCol +: (keyCols ++ payloadCols)).map(col): _*)
    val joinCond = keyCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
      col(s"a.$idCol") < col(s"b.$idCol")
    val smallPairs = small.as("a").join(small.as("b"), joinCond)
      .select(col(s"a.$idCol").as("id_a") +: col(s"b.$idCol").as("id_b") +:
        payloadCols.flatMap(p =>
          Seq(col(s"a.$p").as(s"a_$p"), col(s"b.$p").as(s"b_$p"))): _*)
    val hotPairs = annotated
      .filter(col("bucket_n") > maxBucket &&
        col(idCol) =!= col("canon").getField(idCol))
      .select(col("canon").getField(idCol).as("id_a") +: col(idCol).as("id_b") +:
        payloadCols.flatMap(p =>
          Seq(col("canon").getField(p).as(s"a_$p"), col(p).as(s"b_$p"))): _*)
    smallPairs.unionByName(hotPairs)
  }

  /** The band family's text normalization under a [[TextRank.tokWords]]
    * mode, as ONE string: words re-joined by single spaces. Used for the
    * robust exact-hash key (md5 of this == md5 of the token stream) —
    * under `robust` a punctuation-perturbed re-submission normalizes to
    * its source's exact string.
    */
  private[graft] def normTextFor(c: Column, tokMode: String): Column =
    tokMode match {
      case "default" => lower(trim(c))
      case "robust" =>
        // the collapse already leaves single spaces, so the trimmed
        // string IS the robust token stream joined by " "
        trim(regexp_replace(lower(c), "[^\\p{L}\\p{N}]+", " "))
      case other => throw new IllegalArgumentException(
        s"tokenizer mode must be default or robust, got $other")
    }

  /** DuckDB replay of [[normTextFor]]. */
  private[operators] def sqlNormTextFor(e: String, tokMode: String): String =
    tokMode match {
      case "default" => s"lower(trim($e))"
      case "robust" =>
        s"trim(regexp_replace(lower($e), '[^\\p{L}\\p{N}]+', ' ', 'g'))"
      case other => throw new IllegalArgumentException(
        s"tokenizer mode must be default or robust, got $other")
    }

  /** Raw (non-distinct, uncapped) shingle hashes — the minhash input.
    * Word 3-shingles hashed to 60-bit longs ([[baseHash60]]) before any
    * shuffle: downstream distincts/joins move 8-byte keys, and in md5 mode
    * the oracle rebuilds the identical values from DuckDB's md5.
    */
  def rawShingles(docs: DataFrame, hashMode: String = "md5"): DataFrame = {
    val h = baseHash60Expr("concat_ws(' ', w[i], w[i+1], w[i+2])", hashMode)
    // CPU-spread under the per-shingle digest pass (round 18 —
    // Tuning.spreadSmall): the single-row-group scan otherwise runs the
    // whole corpus's md5/xxhash folds as one task; no-op at real scale
    graft.Tuning.spreadSmall(docs.select(col("doc_id"), col("text")))
      .withColumn("w", split(lower(trim(col("text"))), " "))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(0, size(w) - 3), i -> $h)")).as("sh"))
  }

  /** Oracle CTE chain replaying the shingle pass: `words` → `shx(doc_id, x)`
    * with x = [[md5Long60]] of each word 3-shingle (non-distinct). Callers
    * append their own aggregation. `src` must provide (doc_id, text).
    * `tok` is the word-array SQL expression — the DuckDB replay of the
    * [[TextRank.tokWords]] mode the Spark side shingled under.
    */
  private def sqlShingleCte(src: String, prefix: String = "",
                            tok: String = SqlTokDefault): String =
    s"""${prefix}words AS (
       |  SELECT doc_id, $tok AS w FROM $src
       |  WHERE len($tok) >= 3),
       |${prefix}widx AS (
       |  SELECT doc_id, w, unnest(range(len(w) - 2)) AS i FROM ${prefix}words),
       |${prefix}shx AS (
       |  SELECT doc_id,
       |    ${sqlMd5Long60("w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]")} AS x
       |  FROM ${prefix}widx)""".stripMargin

  /** DuckDB word-array replays of the two [[TextRank.tokWords]] modes. */
  private val SqlTokDefault = "string_split(lower(trim(text)), ' ')"
  private[operators] val SqlTokRobust =
    "string_split_regex(trim(regexp_replace(lower(text), " +
      "'[^\\p{L}\\p{N}]+', ' ', 'g')), '\\s+')"

  /** Oracle CTE chain ending in `mh(doc_a, doc_b, n_shared_bands)` — the
    * DuckDB replay of [[minhashPairs]] over the given (doc_id, text)
    * source CTE, including the hot-bucket guard. Shared by q21 and q46.
    */
  /** Oracle CTE chain ending in `${prefix}bands(doc_id, band_idx,
    * band_hash)` — the DuckDB replay of [[minhashBands]] over `src`. The
    * prefix keeps two band tables (index + batch, q83) in one WITH chain.
    */
  private def sqlBandCte(src: String, prefix: String,
                         tok: String = SqlTokDefault): String = {
    val mins = perms.zipWithIndex.map { case ((a, b), i) =>
      s"MIN((x % $P * $a + $b) % $P) AS m$i"
    }.mkString(", ")
    val bandSelects = (0 until Bands).map { bi =>
      val parts = (0 until RowsPerBand).map(r => s"m${bi * RowsPerBand + r}")
      s"SELECT doc_id, $bi AS band_idx, concat_ws(':', ${parts.mkString(", ")}) AS band_hash FROM ${prefix}sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""${sqlShingleCte(src, prefix, tok)},
       |${prefix}sigs AS (
       |  SELECT doc_id, $mins FROM ${prefix}shx GROUP BY doc_id),
       |${prefix}bands AS (
       |  $bandSelects)""".stripMargin
  }

  private[operators] def sqlMinhashCte(src: String): String = {
    s"""${sqlBandCte(src, "")},
       |bann AS (
       |  SELECT doc_id, band_idx, band_hash,
       |    COUNT(*) OVER wb AS bucket_n,
       |    MIN(doc_id) OVER wb AS canon
       |  FROM bands
       |  WINDOW wb AS (PARTITION BY band_idx, band_hash)),
       |bpairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bann a JOIN bann b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id
       |  WHERE a.bucket_n <= $MaxBucket
       |  UNION ALL
       |  SELECT canon AS id_a, doc_id AS id_b
       |  FROM bann WHERE bucket_n > $MaxBucket AND doc_id <> canon),
       |mh AS (
       |  SELECT id_a AS doc_a, id_b AS doc_b, COUNT(*) AS n_shared_bands
       |  FROM bpairs GROUP BY 1, 2)""".stripMargin
  }

  val q21Sql: String =
    s"""WITH corpus AS ($corpusSql),
       |${sqlMinhashCte("corpus")}
       |SELECT doc_a, doc_b, n_shared_bands FROM mh
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q21: MinHash-LSH near-dedup. Signatures are cut into 8 bands of 4
    * rows; docs colliding on any band hash become candidates (banding:
    * P[collide] = 1-(1-s^4)^8, steep around s≈0.6). The self-join is on
    * (band_idx, band_hash) — bucketed, never all-pairs.
    */
  def q21DedupMinhash(s: SparkSession, dir: String): DataFrame =
    minhashPairs(corpus(s, dir))

  /** MinHash-LSH candidate pairs over an arbitrary (doc_id, text) corpus —
    * the q21 body, parameterized so the hot-bucket guard is testable on an
    * injected duplicate cluster (DedupAnnSpec).
    */
  def minhashPairs(docs: DataFrame, hashMode: String = "md5",
                   cache: Boolean = true,
                   tokMode: String = "default"): DataFrame = {
    // persisted in addition to guardedPairs' annotated cache: the union
    // branches there can schedule concurrently, and concurrent stages
    // racing on a cold cache each recompute its parent — with the
    // signature pass cached here, a race duplicates only the cheap
    // window, never the 32-hash signature pipeline (measured 2.7x).
    // `cache = false` for unbounded callers (the admission cycle's
    // intra-batch screen runs this per micro-batch — a leak-free
    // recompute of a batch-sized signature pass beats a persist that
    // never dies)
    // spread rides the cache flag: cache=false IS the per-batch seam
    val banded0 = minhashBands(docs, hashMode, tokMode, spread = cache)
    val banded = if (cache) banded0.persist() else banded0
    guardedPairs(banded, "doc_id", Seq("band_idx", "band_hash"), cache = cache)
      .groupBy(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy("doc_a", "doc_b")
  }

  /** Band table (doc_id, band_idx, band_hash) — the LSH index rows both
    * the batch self-join (q21/q46) and the incremental probe (q83) key
    * on. In production this frame IS the standing index: materialized
    * once, bucketed by band_hash, and probed by each new batch.
    */
  def minhashBands(docs: DataFrame, hashMode: String = "md5",
                   // the [[TextRank.tokWords]] mode the shingle pass
                   // tokenizes under (round 16 — VERDICT r15 #1):
                   // `robust` collapses punctuation runs before the
                   // split, so a `word,`-perturbed re-submission signs
                   // IDENTICALLY to its source instead of perturbing
                   // every shingle past the band screen. Standing
                   // indexes always sign under [[TextRank.StandingTok]].
                   tokMode: String = "default",
                   // CPU-spread the signature scan (round 18 —
                   // Tuning.spreadSmall): corpus-sized batch callers keep
                   // the default; the per-micro-batch admission probes
                   // pass false (a per-batch round-robin exchange is pure
                   // latency on the cache=false seam)
                   spread: Boolean = true): DataFrame = {
    // Signature stage is ROW-LOCAL (round 6): a document's shingles are
    // one row's array, so the 32 per-permutation minimums never needed an
    // aggregation — the native `minhash_bands` expression walks the array
    // once per row and the exploded-shingles shuffle (the corpus-sized
    // exchange that used to dominate this family at scale) is GONE. The
    // oracle still replays the exploded GROUP BY formulation: min over
    // the same multiset gives identical values.
    //
    // md5 mode: the band key is the minhash 4-tuple itself (m:m:m:m) —
    // bucket membership is exactly tuple equality, which the oracle
    // replays verbatim, at the price of ~40-byte shuffle keys. xxhash64
    // mode is the 100 TB shape: the tuple is compressed to an 8-byte key
    // (a false band collision needs a 64-bit hash collision AND a shared
    // band index — vanishing next to the banding false-positive rate, and
    // candidates are verified downstream anyway). Same plan either way.
    val h = baseHash60Expr("concat_ws(' ', w[i], w[i+1], w[i+2])", hashMode)
    val base = if (spread) graft.Tuning.spreadSmall(docs) else docs
    val bands = base
      .withColumn("w", TextRank.tokWords(col("text"), tokMode))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        posexplode(call_function("minhash_bands",
          expr(s"transform(sequence(0, size(w) - 3), i -> $h)")))
          .as(Seq("band_idx", "band_hash")))
    if (hashMode == "xxhash64")
      bands.withColumn("band_hash", xxhash64(col("band_hash")))
    else bands
  }

  /** q83: incremental near-dedup — each new-batch document probed against
    * the STANDING corpus band index, instead of re-LSHing corpus∪batch
    * (the near-dup analog of q35's exact incremental path; the reference
    * has no incremental near-dup — its dedup reruns whole-corpus). Batch
    * shape matches q35: an exact-copy slice (+10000) and a
    * "revised edition" near-dup slice (+20000).
    *
    * Scale contract: the probe costs O(|batch| bands) against an index
    * that is already materialized — per ingest batch, the corpus is never
    * re-shingled. Locally the index frame is recomputed (the query
    * contract is self-contained); in production [[minhashBands]] is
    * written bucketed by band_hash once and every batch probe co-locates
    * on the bucket key with no index-side shuffle.
    */
  def q83IncrementalMinhash(s: SparkSession, dir: String,
                            hashMode: String = "md5"): DataFrame = {
    val d = Tables.load(s, dir, "documents").select("doc_id", "text")
    val batch = d.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
      .unionByName(
        d.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 20000)
          .withColumn("text", concat(col("text"), lit(" revised edition"))))
    incrementalMinhash(d, batch, hashMode)
  }

  /** The q83 body: probe `batch` bands against the `index` corpus bands.
    * Hot index buckets (> maxBucket members — boilerplate clusters) are
    * probed through their canonical (minimum-id) member only: the batch
    * doc still surfaces as a near-dup of the cluster, but a viral bucket
    * can never multiply the probe output by its member count — the
    * asymmetric analog of [[guardedPairs]]' star edges. Output: one row
    * per batch doc with its best match (most shared bands, ties to the
    * lowest id), 0 / null-match for batch docs colliding nowhere.
    */
  def incrementalMinhash(index: DataFrame, batch: DataFrame,
                         hashMode: String = "md5",
                         maxBucket: Int = MaxBucket): DataFrame =
    incrementalProbe(guardedIndex(minhashBands(index, hashMode), maxBucket),
      batch, hashMode)

  /** The standing index with its hot-bucket guard applied — precompute
    * ONCE (batch refresh or at stream start) and reuse across probes:
    * buckets over `maxBucket` keep only their canonical member.
    */
  def guardedIndex(indexBands: DataFrame, maxBucket: Int = MaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wB = Window.partitionBy("band_idx", "band_hash")
    indexBands
      .withColumn("bucket_n", count(lit(1)).over(wB))
      .withColumn("canon", min(col("doc_id")).over(wB))
      .filter(col("bucket_n") <= maxBucket || col("doc_id") === col("canon"))
      .select(col("doc_id").as("match_doc_id"), col("band_idx"), col("band_hash"))
  }

  /** Index refresh: materialize the GUARDED standing band index as a
    * managed table bucketed by the probe's join keys (band_idx,
    * band_hash) — the write the q83/streaming docstrings promise. The
    * corpus is shingled, signed, and guard-filtered ONCE per refresh;
    * every later batch or stream probe's equi-join then co-locates on
    * the bucket key with NO index-side exchange (the scan's bucketing IS
    * the join partitioning — only the batch side shuffles, and a probe
    * batch is small by definition). Pay the corpus shuffle once in the
    * refresh, never per probe: [[graft.sources.Ingest.writeBucketed]]'s
    * §4 co-location contract applied to the near-dup family.
    *
    * Generation-isolated like the vector and text families (round 15 —
    * VERDICT r14 missing #1): each refresh lands the band table, the
    * `_hashes` companion, and (when calibrated) the `_meta` knobs as a
    * complete NEW [[graft.sources.TablePointer]] generation behind the
    * atomic current pointer. Round 14 left this family refreshing in
    * place on the argument that its readers are admission-internal
    * (writer serialization under the admission lock IS their
    * isolation), which holds for [[graft.Admit]] — but a lock-free
    * cross-session consumer ([[probeIndex]]/[[probeHashIndex]]/
    * [[graft.streaming.EventStreams.nearDupQuery]] racing another
    * session's refresh) could still observe a cleared location, the
    * exact pre-r14 PQ failure measured in PLANS.md "Round-14: serving
    * under refresh — the isolation claim, measured". Symmetry closes
    * it: readers resolve the pointer once per plan, old generations
    * retire on the one-generation grace, and the WRITE ORDER note
    * below becomes moot within a generation (the swap publishes hashes
    * + bands + knobs as one atomic unit — a crash before the swap
    * leaves the old generation fully live).
    */
  def refreshIndex(docs: DataFrame, table: String, numBuckets: Int = 32,
                   // ≥ 0 calibrates the band-probe THRESHOLD at refresh
                   // time (round 14 — VERDICT r13 #1): the boundary
                   // shared-band threshold whose planted-twin recall at
                   // the policy overlap tier meets the target lands in
                   // `_meta`, and [[probeIndex]]'s auto default reads it
                   // — the nlist/nprobe move applied to the LAST
                   // hand-set screen knob
                   screenRecallTarget: Double = -1.0,
                   // accepts only [[TextRank.StandingTok]]; kept while
                   // callers still pass it by name
                   tokMode: String = TextRank.StandingTok): Unit = {
    TextRank.requireStandingTok(tokMode)
    // the content-hash companion (round 13 — VERDICT r12 #1): the band
    // screen has a geometric floor — a document too short to shingle
    // (< 3 words) has no bands, so an EXACT re-submission of it sails
    // past the band probe. Exact copies are the most common duplicate
    // class; their membership test must not depend on shingle geometry,
    // so every refresh also lands the q20-kernel hash set, bucketed on
    // the hash for exchange-free probes. 32 B/doc: at 10⁹ docs this is
    // ~50 GB beside a multi-TB band table — the cheapest standing state
    // in the family.
    //
    // WRITE ORDER (ADVICE r13): the companion lands FIRST — under
    // generations (round 15) a crash anywhere before the swap leaves
    // the OLD generation fully live, so the order now only guards the
    // staged partial against a same-name re-stage; kept because it
    // still states the invariant (a published generation never has
    // fresh bands beside stale hashes).
    val s = docs.sparkSession
    // knob carry-forward (ADVICE r15, the medium finding): an
    // UNCALIBRATED refresh — the WAL-recovery rebuild's shape — of a
    // previously calibrated index must not silently discard the
    // persisted threshold and revert auto probes to the historical
    // default. The previous generation's `_meta`
    // row carries forward with its ORIGINAL docs_at_cal anchor, so the
    // staleness drift stays visible ([[graft.Admit.standingStateReport]])
    // until a calibrated refresh or [[graft.Admit.recalibrateBandScreen]]
    // re-derives it; a refresh WITH a target overwrites everything fresh.
    val prev = bandMetaOf(s, table)
    val phys = graft.sources.TablePointer.stage(s, table)
    graft.sources.Ingest.writeBucketed(contentHashKeys(docs),
      hashTableOf(phys), "h", numBuckets)
    graft.sources.Ingest.writeBucketed(standingBands(docs, spread = true),
      phys, "band_idx", numBuckets, sortCol = None,
      moreBucketCols = Seq("band_hash"))
    // `_meta` lands on EVERY refresh: the carried-over calibration
    // (threshold -1 = never calibrated; the auto probe then uses the
    // historical default)
    writeBandMeta(s, phys,
      prev.map(_.threshold).getOrElse(-1),
      prev.map(_.policyTier).getOrElse(-1),
      prev.map(_.target).getOrElse(-1.0),
      prev.map(_.measured).getOrElse(-1.0),
      prev.map(_.docsAtCal).getOrElse(-1L))
    // calibration must probe the index it will screen against, so it
    // runs LAST, against the just-staged generation (refreshPqIndex's
    // rule) — the swap then publishes index + knobs as one unit
    if (screenRecallTarget >= 0)
      calibrateBandThreshold(s, phys, docs, targetRecall = screenRecallTarget)
    graft.sources.TablePointer.swap(s, table, phys)
    graft.sources.TablePointer.retire(s, table, BandSuffixes)
  }

  /** The band family's companion-table suffixes (stage/retire/drop). */
  val BandSuffixes: Seq[String] = Seq("_hashes", "_meta")

  /** A standing band index's rows: md5 band keys over
    * [[TextRank.StandingTok]] shingles, [[MaxBucket]]-guarded — the one
    * encoding every refresh, append and probe of the family shares.
    */
  private def standingBands(docs: DataFrame, spread: Boolean): DataFrame =
    guardedIndex(minhashBands(docs, "md5", TextRank.StandingTok, spread))

  /** The [[refreshIndex]] content-hash companion's table name. */
  def hashTableOf(table: String): String = s"${table}_hashes"

  /** One (doc_id, h) row per document — h is the q20 exact-dedup kernel
    * (md5 over case/whitespace-normalized text), the key of the standing
    * hash set.
    */
  private def contentHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(lower(trim(col("text")))).as("h"))

  /** The standing hash set's KEY rows (round 14 — VERDICT r13 #6): the
    * q20 kernel h for every document, PLUS a whitespace-COLLAPSED
    * variant for documents where internal whitespace makes the two
    * differ — a double-spaced re-submission of a sub-3-word document
    * previously escaped BOTH screens (different h; no shingles, hence
    * no bands). Both keys live in the ONE bucketed `h` column, so the
    * probe's membership test becomes {h, h_collapsed} ∩ standing ≠ ∅
    * with no schema or plan change, and the q20/q140 oracle kernel
    * ([[contentHashes]]) is untouched. Cost: an extra row only for
    * documents that actually contain run-on (or non-space) whitespace.
    *
    * The collapse runs BEFORE the trim: Spark's `trim` strips SPACE
    * characters only, so a tab/newline variant would survive a
    * trim-first normalization at the edges — collapsing every
    * whitespace run (regex `\s+`) to one space first makes the
    * trailing/leading residue a plain space the trim then removes,
    * closing the whole whitespace class, not just 0x20 runs.
    *
    * A THIRD key (round 16 — VERDICT r15 #1) joins the set: md5 of the
    * [[TextRank.StandingTok]] normalization ([[normTextFor]]) — a
    * `word,`-perturbed re-submission's key equals its source's, so the
    * exact screen catches the class that would otherwise escape both
    * hash keys AND (via perturbed shingles) the band screen.
    */
  private def contentHashKeys(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(array(
        md5(lower(trim(col("text")))),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))),
        md5(normTextFor(col("text"), TextRank.StandingTok))))).as("h"))

  /** Incremental index maintenance: append an ADMITTED batch's bands to
    * the standing [[refreshIndex]] table without re-shingling the corpus
    * — the write a production ingest issues after [[probeIndex]] clears
    * a batch. The batch is shingled, signed, and guard-filtered ALONE
    * (one batch-sized shuffle), then appended under the table's bucket
    * spec so probes keep their no-index-side-exchange plan. The
    * hot-bucket guard is therefore per-append: a bucket can grow past
    * the cap ACROSS appends until the next full [[refreshIndex]]
    * re-tightens it — the standard delta-plus-compaction trade, priced
    * at one capped batch per append vs a corpus rebuild.
    */
  def appendIndex(s: SparkSession, table: String, batch: DataFrame): Unit = {
    // appends land in the CURRENT generation (the text family's rule):
    // additive growth, never a rewrite a concurrent reader could tear
    val phys = graft.sources.TablePointer.resolve(s, table)
    graft.sources.Ingest.appendBucketed(standingBands(batch, spread = false),
      phys, "band_idx", Seq("band_hash"))
    // refresh through the PROBING session `s`, not just the writing
    // frame's session: the two differ whenever the batch plan's left
    // side came from another session (a foreachBatch clone probing a
    // table an outer-session frame appended to would otherwise keep
    // serving its stale pre-append listing)
    s.catalog.refreshTable(phys)
    // the content-hash companion grows in lockstep (every refresh lands
    // it corpus-complete)
    graft.sources.Ingest.appendBucketed(contentHashKeys(batch),
      hashTableOf(phys), "h")
    s.catalog.refreshTable(hashTableOf(phys))
  }

  /** Probe a batch against a [[refreshIndex]]-materialized index table —
    * [[incrementalProbe]] over the bucketed scan, the batch signed under
    * the index's own encoding (md5, [[TextRank.StandingTok]]).
    */
  def probeIndex(s: SparkSession, table: String, batch: DataFrame,
                 // 0 = AUTO (round 14): use the `_meta`-persisted
                 // calibrated threshold when [[calibrateBandThreshold]]
                 // ran on this table, else the historical default 4 —
                 // [[graft.Ann.probePqIndex]]'s nprobe-auto rule applied
                 // to the band family
                 threshold: Int = 0): DataFrame = {
    // resolve ONCE per plan (the searchTextIndex rule): a refresh
    // landing mid-probe never moves this probe's files
    val phys = graft.sources.TablePointer.resolve(s, table)
    incrementalProbe(s.table(phys), batch, "md5",
      if (threshold >= 1) threshold
      else bandThresholdOf(s, phys).getOrElse(DefaultBandThreshold),
      TextRank.StandingTok)
  }

  /** Probe `batch` documents against a prepared [[guardedIndex]] — the
    * q83 tail, factored so the STREAMING twin
    * ([[graft.streaming.EventStreams.nearDupQuery]]) reuses it per
    * micro-batch against an index built once — pass
    * `spark.table(TablePointer.resolve(s, <refreshIndex table>))` to
    * stream against the CURRENT generation of the materialized index
    * (round 15: the band family is generation-versioned; a stream binds
    * one generation for its lifetime, the reader-isolation contract).
    * The batch's own signature stage is the
    * row-local `minhash_bands` expression, so this is a stateless scan +
    * one band-key join.
    */
  def incrementalProbe(guarded: DataFrame, batch: DataFrame,
                       hashMode: String = "md5",
                       threshold: Int = DefaultBandThreshold,
                       tokMode: String = "default"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probe = minhashBands(batch, hashMode, tokMode, spread = false)
      .select(col("doc_id").as("batch_doc_id"), col("band_idx"), col("band_hash"))
    val matches = probe.join(guarded, Seq("band_idx", "band_hash"))
      .groupBy("batch_doc_id", "match_doc_id")
      .agg(count(lit(1)).as("n_shared_bands"))
    val best = matches.withColumn("rn", row_number().over(
        Window.partitionBy("batch_doc_id")
          .orderBy(col("n_shared_bands").desc, col("match_doc_id"))))
      .filter(col("rn") === 1).drop("rn")
    batch.select(col("doc_id").as("batch_doc_id"))
      .join(best, Seq("batch_doc_id"), "left")
      .select(col("batch_doc_id"), col("match_doc_id"),
        coalesce(col("n_shared_bands"), lit(0L)).as("n_shared_bands"),
        (coalesce(col("n_shared_bands"), lit(0L)) >= threshold)
          .cast("int").as("is_near_dup"))
      .orderBy("batch_doc_id")
  }

  /** Probe a batch against the standing content-hash companion of a
    * [[refreshIndex]] table: one row per batch document, the lowest
    * standing doc_id sharing its normalized content hash (null when
    * novel), and the membership flag. The admission cycle's screen 0.5
    * ([[graft.Admit.admitBatch]]): catches exact re-submissions the
    * band probe geometrically cannot (sub-3-word documents have no
    * shingles, hence no bands). Plan shape: the standing side scans
    * bucketed-on-h with NO exchange; only the batch shuffles; the
    * match-pick aggregate is batch-sized.
    */
  def probeHashIndex(s: SparkSession, table: String, batch: DataFrame): DataFrame = {
    val phys = graft.sources.TablePointer.resolve(s, table)
    val standing = s.table(hashTableOf(phys))
      .select(col("doc_id").as("match_doc_id"), col("h"))
    // the probe emits EVERY key form the index persists (raw-
    // normalized, whitespace-collapsed, punctuation-collapsed —
    // [[contentHashKeys]]): a batch doc matching a standing doc under
    // any normalization hits, and the min-aggregate already collapses a
    // doc whose keys multi-match
    val matches = contentHashKeys(batch)
      .select(col("doc_id").as("batch_doc_id"), col("h"))
      .join(standing, Seq("h"))
      .groupBy("batch_doc_id").agg(min("match_doc_id").as("match_doc_id"))
    batch.select(col("doc_id").as("batch_doc_id"))
      .join(matches, Seq("batch_doc_id"), "left")
      .select(col("batch_doc_id"), col("match_doc_id"),
        col("match_doc_id").isNotNull.cast("int").as("is_exact_dup"))
      .orderBy("batch_doc_id")
  }

  /** The historical hand-set probe threshold — the fallback for indexes
    * never calibrated, and [[incrementalProbe]]'s default (q83's oracle
    * pins it).
    */
  val DefaultBandThreshold: Int = 4

  /** The [[calibrateBandThreshold]] companion's table name. */
  def metaTableOf(table: String): String = s"${table}_meta"

  /** The persisted knob row of a standing band index (its `_meta`):
    * the calibrated probe threshold with its policy/targets and the
    * corpus size when the calibration sweep ran (round 16 —
    * VERDICT r15 #2: the staleness anchor `docs_now − docs_at_cal` is
    * the drift signal [[graft.Admit.standingStateReport]] surfaces, the
    * text family's `_cal` contract applied to this knob). Sentinels:
    * threshold −1 / docsAtCal −1 = never calibrated.
    */
  case class BandMeta(threshold: Int, policyTier: Int, target: Double,
                      measured: Double, docsAtCal: Long)

  /** Read a band index's `_meta` row — None only when the resolved
    * generation has no catalogued tables: before the index's first
    * refresh, which then starts from the never-calibrated sentinels.
    */
  def bandMetaOf(s: SparkSession, table0: String): Option[BandMeta] = {
    val table = graft.sources.TablePointer.resolve(s, table0)
    if (!s.catalog.tableExists(metaTableOf(table))) None
    else s.table(metaTableOf(table)).collect().headOption.map(r =>
      BandMeta(r.getAs[Int]("band_threshold"), r.getAs[Int]("policy_tier"),
        r.getAs[Double]("recall_target"), r.getAs[Double]("recall_measured"),
        r.getAs[Long]("docs_at_cal")))
  }

  /** The calibrated band-probe threshold of a standing index, from its
    * `_meta` row — None for an index never calibrated.
    */
  def bandThresholdOf(s: SparkSession, table0: String): Option[Int] =
    bandMetaOf(s, table0).map(_.threshold).filter(_ >= 1)

  private def writeBandMeta(s: SparkSession, table: String, threshold: Int,
                            policyTier: Int, target: Double,
                            measured: Double, docsAtCal: Long): Unit = {
    import s.implicits._
    graft.sources.Ingest.clearStaleLocation(s, metaTableOf(table))
    Seq((threshold, policyTier, target, measured, docsAtCal))
      .toDF("band_threshold", "policy_tier", "recall_target",
        "recall_measured", "docs_at_cal")
      .write.mode("overwrite").format("parquet")
      .saveAsTable(metaTableOf(table))
  }

  /** Derive the band-probe threshold from planted near-dup truth
    * (round 14 — VERDICT r13 #1, the LAST hand-set screen knob, retired
    * by the same move as the nlist rule and the nprobe calibration):
    * q141's machinery — prefix twins at a KNOWN overlap tier — is run
    * against the standing index itself, and the measured recall curve
    * picks the threshold the admission cycle runs at, persisted in a
    * `_meta` companion beside the band table. `docs` must be the corpus
    * the index was refreshed from (the twins' sources have to BE in the
    * index for the probe to have truth to recall).
    *
    * The policy contract: "a re-submission sharing ≥ `policyTier`% of a
    * standing document's content must be caught with recall ≥
    * `targetRecall`". Recall is NON-increasing in the threshold (q141's
    * nested events), so the qualifying set {t : recall(t) ≥ target} is
    * downward-closed and its interesting extremum is the MAXIMUM: every
    * smaller threshold also meets the recall floor but only at a
    * strictly worse false-catch rate (q138/q141's precision
    * counterweight — threshold 1 would flag any single shared band),
    * so the persisted value is the unique BOUNDARY point — qualifying,
    * with threshold+1 disqualified. When even threshold 1 misses the
    * target (an index whose twins mostly fall below the banding cliff),
    * 1 is persisted with its measured recall and a loud warning — the
    * residual is the target's documented complement, never a silent
    * choice (the nprobe calibration's rule).
    *
    * Cost: one bounded twin build (≤ `nSample` docs) + ONE probe join —
    * all 8 candidate thresholds price out of the same 9-bin shared-band
    * histogram. Paid once per refresh.
    */
  def calibrateBandThreshold(s: SparkSession, table0: String, docs: DataFrame,
                             policyTier: Int = 90,
                             targetRecall: Double = 0.75,
                             nSample: Int = 200): (Int, Double) = {
    // resolve at entry: the `_meta` must land beside the generation it
    // measured (a refresh passes the staged physical — identity here)
    val table = graft.sources.TablePointer.resolve(s, table0)
    val nsbHist = bandScreenHist(s, table, docs, policyTier, nSample)
    val n = nsbHist.values.sum
    def recallAt(t: Int): Double =
      nsbHist.filter(_._1 >= t).values.sum.toDouble / n
    val maxT = graft.functions.MinhashParams.Bands
    val chosen = (1 to maxT).filter(t => recallAt(t) >= targetRecall)
      .lastOption.getOrElse(1)
    val measured = recallAt(chosen)
    if (measured < targetRecall) System.err.println(
      s"[graft.Dedup] band-threshold calibration on $table: even " +
        s"threshold 1 reaches only $measured < target $targetRecall " +
        s"at tier $policyTier — persisting 1; the residual is the " +
        "target's complement")
    // docs_at_cal: the corpus the sweep measured (VERDICT r15 #2 — the
    // staleness anchor; appends growing the corpus past this show as
    // drift in the standing-state report)
    writeBandMeta(s, table, chosen, policyTier, targetRecall, measured,
      docs.count())
    (chosen, measured)
  }

  /** Planted-twin screen recall of a standing index at ONE threshold —
    * the calibration's measurement exposed on its own (the
    * [[graft.operators.Ann.pqScreenRecall]] analog), so a spec or an
    * operator can re-derive the persisted choice and its boundary
    * (threshold+1 misses the target). Deterministic: the same `docs`
    * and knobs reproduce the calibration's numbers exactly.
    */
  def bandScreenRecall(s: SparkSession, table: String, docs: DataFrame,
                       threshold: Int, policyTier: Int = 90,
                       nSample: Int = 200): Double = {
    val nsbHist = bandScreenHist(s, table, docs, policyTier, nSample)
    val n = nsbHist.values.sum
    nsbHist.filter(_._1 >= threshold).values.sum.toDouble / n
  }

  /** The calibration's shared measurement: plant one `policyTier`%
    * prefix twin per sampled eligible document, probe the standing
    * index ONCE, and return the best-shared-band-count histogram
    * (≤ 9 bins — every candidate threshold prices out of it without
    * re-probing).
    */
  private def bandScreenHist(s: SparkSession, table: String, docs: DataFrame,
                             policyTier: Int, nSample: Int): Map[Long, Long] = {
    require(policyTier >= 1 && policyTier <= 100,
      s"policyTier must be a percentage, got $policyTier")
    // q141's eligibility: ≥ 7 words keeps every tier ≥ 3 words — the
    // shingle floor (a twin with no shingles has no bands to recall).
    // Words come from the index's own tokenizer so the planted twins
    // measure the geometry the screen actually runs on.
    val eligible = docs
      .withColumn("_w", TextRank.tokWords(col("text"), TextRank.StandingTok))
      .withColumn("_n", size(col("_w")).cast("long"))
      .filter(col("_n") >= 7)
    val nElig = eligible.count()
    require(nElig > 0,
      s"band calibration on $table: no eligible (≥ 7-word) documents " +
        "to plant twins from")
    val step = math.max(1L, nElig / nSample)
    // id-modulo with the non-empty fallback (the pqScreenProbes rule)
    val preferred = eligible.filter(col("doc_id") % step === 0)
    val sampled = if (preferred.isEmpty) eligible else preferred
    val twins = sampled.orderBy("doc_id").limit(nSample)
      .select((col("doc_id") + 900000000L).as("doc_id"),
        array_join(
          expr(s"slice(_w, 1, cast((_n * $policyTier) div 100 as int))"),
          " ").as("text"))
      .localCheckpoint(true)
    try {
      val hist = probeIndex(s, table, twins, threshold = 1)
        .groupBy("n_shared_bands").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      require(hist.values.sum > 0,
        s"band calibration on $table produced no probe rows")
      hist
    } finally graft.Frames.freePinned(twins)
  }

  /** q140: the standing exact-hash probe as a SELF-CONTAINED oracle
    * query — [[probeHashIndex]]'s semantics with the hash set built
    * inline so DuckDB replays it (the q83 pattern applied to the exact
    * screen). The batch mixes verbatim re-submissions (every 3rd corpus
    * doc under a fresh id — must flag regardless of length, THE case
    * the band probe misses on sub-3-word docs) with suffixed variants
    * (every 7th doc + " revised edition" — one character of drift and
    * the hash differs, so they must pass; near-dup catching is the band
    * screen's job, not this one's). DedupAnnSpec proves this oracle
    * twin row-equal to the materialized [[probeHashIndex]] path.
    */
  def q140ExactProbe(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val batch = c.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      .unionByName(c.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(col("text"), lit(" revised edition")).as("text")))
    val standing = contentHashes(c)
      .select(col("doc_id").as("match_doc_id"), col("h"))
    val matches = contentHashes(batch)
      .select(col("doc_id").as("batch_doc_id"), col("h"))
      .join(standing, Seq("h"))
      .groupBy("batch_doc_id").agg(min("match_doc_id").as("match_doc_id"))
    batch.select(col("doc_id").as("batch_doc_id"))
      .join(matches, Seq("batch_doc_id"), "left")
      .select(col("batch_doc_id"), col("match_doc_id"),
        col("match_doc_id").isNotNull.cast("int").as("is_exact_dup"))
      .orderBy("batch_doc_id")
  }

  val q140Sql: String =
    s"""WITH corpus AS ($corpusSql),
       |batch AS (
       |  SELECT doc_id + 200000 AS doc_id, text FROM corpus WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + 300000 AS doc_id, text || ' revised edition' AS text
       |  FROM corpus WHERE doc_id % 7 = 0),
       |standing AS (
       |  SELECT doc_id AS match_doc_id, md5(lower(trim(text))) AS h
       |  FROM corpus),
       |probe AS (
       |  SELECT doc_id AS batch_doc_id, md5(lower(trim(text))) AS h
       |  FROM batch),
       |matches AS (
       |  SELECT batch_doc_id, MIN(match_doc_id) AS match_doc_id
       |  FROM probe JOIN standing USING (h)
       |  GROUP BY batch_doc_id)
       |SELECT b.doc_id AS batch_doc_id, m.match_doc_id,
       |  CAST(m.match_doc_id IS NOT NULL AS INT) AS is_exact_dup
       |FROM batch b LEFT JOIN matches m ON b.doc_id = m.batch_doc_id
       |ORDER BY batch_doc_id""".stripMargin

  /** q141: band-threshold calibration against NEAR-dup planted truth
    * (round 13 — VERDICT r12 #3): q138 grades the threshold against
    * exact copies, for which recall 1.0 at the full-band threshold is
    * the exact-copy tautology; the threshold choice actually trades
    * against PARTIAL overlap, so this query plants twins with KNOWN
    * overlap tiers and grades recall per (tier, threshold). Each
    * eligible document (≥ 7 words, so every tier keeps ≥ 3 — the
    * shingle floor) gets ONE twin: the first ⌊n·tier/100⌋ words of its
    * text, tier ∈ {90, 75, 60, 45} by doc_id mod 4. A prefix twin's
    * shingle set is a subset of its source's, so the tier IS a
    * controlled Jaccard band (≈ (k−2)/(n−2)); truth pairs are
    * (source, twin) by construction. The output is the operator's
    * actual placement curve: per tier, recall decays monotonically in
    * the shared-band threshold (nested events), and lower tiers decay
    * FASTER — the banding-probability cliff (1−(1−s⁴)⁸) the probe
    * threshold must sit on. Integer arithmetic only (div/`//` and the
    * same IEEE split both engines); the grid left-join keeps the
    * 4×8 grain even where nothing is caught (the q138 ADVICE lesson,
    * applied from birth).
    */
  def q141NearCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.load(s, dir, "documents").select("doc_id", "text")
    val eligible = base
      .withColumn("_w", split(col("text"), " "))
      .withColumn("_n", size(col("_w")).cast("long"))
      .filter(col("_n") >= 7)
      .withColumn("tier",
        expr("element_at(array(90, 75, 60, 45), cast(doc_id % 4 as int) + 1)"))
    val twins = eligible
      .select((col("doc_id") + 500000L).as("doc_id"),
        array_join(expr("slice(_w, 1, cast((_n * tier) div 100 as int))"), " ")
          .as("text"))
    val corpus2 = base.unionByName(twins)
    val pairs = minhashPairs(corpus2)
    // truth is consumed by the mark-join only (one lineage); the grid
    // aggregate below is bounded by |truth| × 8
    val truth = eligible
      .select(col("doc_id").as("doc_a"),
        (col("doc_id") + 500000L).as("doc_b"), col("tier"))
    val marked = truth
      .join(pairs, Seq("doc_a", "doc_b"), "left")
      .select(col("tier"),
        coalesce(col("n_shared_bands"), lit(0L)).as("nsb"))
    val th = (1 to 8).toDF("threshold")
    val counts = marked.crossJoin(broadcast(th))
      .groupBy("tier", "threshold")
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("nsb") >= col("threshold"), 1L).otherwise(0L))
          .as("n_caught"))
    val grid = Seq(90, 75, 60, 45)
      .flatMap(t => (1 to 8).map(b => (t, b))).toDF("tier", "threshold")
    grid.join(counts, Seq("tier", "threshold"), "left")
      .select(col("tier"), col("threshold"),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"))
      .withColumn("recall_r", when(col("n_truth") > 0, Num.roundD(
        col("n_caught").cast("double") / col("n_truth").cast("double"), 6)))
      .orderBy(col("tier").desc, col("threshold"))
  }

  /** q142: the band-SCREEN recall kernel as a SELF-CONTAINED oracle
    * query (round 14 — the value anchor for [[calibrateBandThreshold]],
    * row 216's q83-pattern twin): one 90%-overlap prefix twin per
    * eligible (≥ 7-word) document probes the corpus's own GUARDED band
    * index — the PROBE shape the admission screen runs, where q141
    * grades the symmetric pair kernel — each twin keeps its BEST
    * shared-band count (max over standing matches, 0 when nothing
    * collides), and recall per candidate threshold falls out of the
    * 8-row grid. This is exactly the histogram the calibration
    * collects: DedupAnnSpec proves `bandScreenRecall` at full sample
    * reproduces this query's recall column bit-for-bit, so the
    * persisted `_meta` choice is anchored to a DuckDB-replayed value,
    * not just a module test.
    */
  def q142BandScreenRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.load(s, dir, "documents").select("doc_id", "text")
    val eligible = base
      .withColumn("_w", split(col("text"), " "))
      .withColumn("_n", size(col("_w")).cast("long"))
      .filter(col("_n") >= 7)
    val twins = eligible
      .select((col("doc_id") + 900000L).as("doc_id"),
        array_join(expr("slice(_w, 1, cast((_n * 90) div 100 as int))"), " ")
          .as("text"))
    val best = incrementalProbe(guardedIndex(minhashBands(base)), twins)
      .select(col("n_shared_bands").as("nsb"))
    val th = (1 to 8).toDF("threshold")
    best.crossJoin(broadcast(th))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("nsb") >= col("threshold"), 1L).otherwise(0L))
          .as("n_caught"))
      .select(col("threshold"), col("n_truth"), col("n_caught"),
        Num.roundD(col("n_caught").cast("double") /
          col("n_truth").cast("double"), 6).as("recall_r"))
      .orderBy("threshold")
  }

  val q142Sql: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       |el AS (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM base
       |  WHERE len(string_split(text, ' ')) >= 7),
       |twins AS (
       |  SELECT doc_id + 900000 AS doc_id,
       |    array_to_string(w[1:CAST((n * 90) // 100 AS INT)], ' ') AS text
       |  FROM el),
       |${sqlBandCte("base", "i")},
       |${sqlBandCte("twins", "b")},
       |guarded AS (
       |  SELECT doc_id, band_idx, band_hash FROM (
       |    SELECT doc_id, band_idx, band_hash,
       |      COUNT(*) OVER wb AS bucket_n, MIN(doc_id) OVER wb AS canon
       |    FROM ibands WINDOW wb AS (PARTITION BY band_idx, band_hash))
       |  WHERE bucket_n <= $MaxBucket OR doc_id = canon),
       |matches AS (
       |  SELECT b.doc_id AS batch_doc_id, g.doc_id AS match_doc_id,
       |    COUNT(*) AS n_shared_bands
       |  FROM bbands b JOIN guarded g USING (band_idx, band_hash)
       |  GROUP BY 1, 2),
       |best AS (
       |  SELECT t.doc_id AS batch_doc_id,
       |    COALESCE(MAX(m.n_shared_bands), 0) AS nsb
       |  FROM twins t LEFT JOIN matches m ON m.batch_doc_id = t.doc_id
       |  GROUP BY 1),
       |th AS (SELECT CAST(unnest(range(1, 9)) AS INT) AS threshold)
       |SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_truth,
       |  CAST(SUM(CASE WHEN nsb >= threshold THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_caught,
       |  ${graft.Num.sqlRoundD(
            "CAST(SUM(CASE WHEN nsb >= threshold THEN 1 ELSE 0 END) AS DOUBLE)" +
              " / CAST(COUNT(*) AS DOUBLE)", 6)} AS recall_r
       |FROM best CROSS JOIN th
       |GROUP BY threshold
       |ORDER BY threshold""".stripMargin

  val q141Sql: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       |el AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS w,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
       |    CAST(([90, 75, 60, 45])[CAST(doc_id % 4 AS INT) + 1] AS INT)
       |      AS tier
       |  FROM base
       |  WHERE len(string_split(text, ' ')) >= 7),
       |twins AS (
       |  SELECT doc_id + 500000 AS doc_id,
       |    array_to_string(w[1:CAST((n * tier) // 100 AS INT)], ' ') AS text
       |  FROM el),
       |corpus2 AS (
       |  SELECT doc_id, text FROM base
       |  UNION ALL
       |  SELECT doc_id, text FROM twins),
       |${sqlMinhashCte("corpus2")},
       |truth AS (
       |  SELECT doc_id AS doc_a, doc_id + 500000 AS doc_b, tier FROM el),
       |mk AS (
       |  SELECT t.tier, COALESCE(mh.n_shared_bands, 0) AS nsb
       |  FROM truth t LEFT JOIN mh
       |    ON mh.doc_a = t.doc_a AND mh.doc_b = t.doc_b),
       |th AS (SELECT CAST(unnest(range(1, 9)) AS INT) AS threshold),
       |g AS (
       |  SELECT tier, threshold, CAST(COUNT(*) AS BIGINT) AS n_truth,
       |    CAST(SUM(CASE WHEN nsb >= threshold THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_caught
       |  FROM mk CROSS JOIN th
       |  GROUP BY tier, threshold),
       |grid AS (
       |  SELECT CAST(unnest([90, 75, 60, 45]) AS INT) AS tier, threshold
       |  FROM th)
       |SELECT grid.tier, grid.threshold,
       |  CAST(COALESCE(g.n_truth, 0) AS BIGINT) AS n_truth,
       |  CAST(COALESCE(g.n_caught, 0) AS BIGINT) AS n_caught,
       |  CASE WHEN g.n_truth > 0 THEN ${graft.Num.sqlRoundD(
            "CAST(g.n_caught AS DOUBLE) / CAST(g.n_truth AS DOUBLE)", 6)} END
       |    AS recall_r
       |FROM grid LEFT JOIN g USING (tier, threshold)
       |ORDER BY tier DESC, threshold""".stripMargin

  val q83Sql: String =
    s"""WITH batch AS (
       |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 20000 AS doc_id, text || ' revised edition' AS text
       |  FROM documents WHERE doc_id % 10 = 0),
       |${sqlBandCte("documents", "i")},
       |${sqlBandCte("batch", "b")},
       |guarded AS (
       |  SELECT doc_id, band_idx, band_hash FROM (
       |    SELECT doc_id, band_idx, band_hash,
       |      COUNT(*) OVER wb AS bucket_n, MIN(doc_id) OVER wb AS canon
       |    FROM ibands WINDOW wb AS (PARTITION BY band_idx, band_hash))
       |  WHERE bucket_n <= $MaxBucket OR doc_id = canon),
       |matches AS (
       |  SELECT b.doc_id AS batch_doc_id, g.doc_id AS match_doc_id,
       |    COUNT(*) AS n_shared_bands
       |  FROM bbands b JOIN guarded g USING (band_idx, band_hash)
       |  GROUP BY 1, 2),
       |best AS (
       |  SELECT batch_doc_id, match_doc_id, n_shared_bands FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY batch_doc_id
       |      ORDER BY n_shared_bands DESC, match_doc_id) AS rn
       |    FROM matches)
       |  WHERE rn = 1)
       |SELECT bt.doc_id AS batch_doc_id, best.match_doc_id,
       |  CAST(COALESCE(best.n_shared_bands, 0) AS BIGINT) AS n_shared_bands,
       |  CAST(COALESCE(best.n_shared_bands, 0) >= 4 AS INT) AS is_near_dup
       |FROM batch bt LEFT JOIN best ON bt.doc_id = best.batch_doc_id
       |ORDER BY batch_doc_id""".stripMargin

  // --------------------------------------------------------------- q152

  /** q152: the punctuation-perturbation admission hole, closed and
    * value-anchored (round 16 — VERDICT r15 #1): PLANS.md "Round-15:
    * the robust tokenizer mode, fidelity-measured" measured `word,`-class
    * perturbations fragmenting the text
    * vocabulary 4× — the same class perturbs EVERY word shingle and
    * both legacy hash keys, so a punctuated re-submission of an
    * admitted document sailed past the exact AND band screens. This
    * query probes a perturbed batch (every 9th document, each space
    * rewritten to `", "` — every word but the last gains a trailing
    * comma) against the corpus band index under BOTH tokenizer modes,
    * plus the per-mode exact-hash membership ([[normTextFor]] keys):
    * under `robust` the perturbed copy signs bit-identically to its
    * source (8 shared bands, exact-hash hit), under `default` it
    * escapes both — the hole and its closure in one DuckDB-replayed
    * grid. The admission stack runs this class through the SAME kernels
    * ([[probeIndex]]/[[probeHashIndex]] always encode under the `robust`
    * arm, [[TextRank.StandingTok]]), so AdmitSpec's rejection case and
    * the adversarial batch of PLANS.md "Round-16: the composition
    * re-priced with the punctuated adversarial class" are anchored to
    * these values.
    *
    * Scale shape: two band passes over the corpus + two batch-sized
    * probes (the q83 read shape twice) and two hash equi-joins — no new
    * plan class; in production the index side is the STANDING bucketed
    * table, built once.
    */
  def q152PunctRobustProbe(s: SparkSession, dir: String,
                           // the oracle pins md5; the x152 bench twin
                           // runs the identical grid under the 100 TB
                           // hash (the band arms only — the exact-hash
                           // keys are md5 on every production path)
                           hashMode: String = "md5"): DataFrame = {
    val d = Tables.load(s, dir, "documents").select("doc_id", "text")
    val batch = d.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 400000L).as("doc_id"),
        regexp_replace(col("text"), " ", ", ").as("text"))
    def probeUnder(mode: String): DataFrame =
      incrementalProbe(guardedIndex(minhashBands(d, hashMode, mode)), batch,
        hashMode, DefaultBandThreshold, mode)
    def exactMatches(mode: String, out: String): DataFrame = {
      val standing = d.select(col("doc_id").as("m"),
        md5(normTextFor(col("text"), mode)).as("h"))
      batch.select(col("doc_id").as("batch_doc_id"),
          md5(normTextFor(col("text"), mode)).as("h"))
        .join(standing, Seq("h"))
        .groupBy("batch_doc_id").agg(min("m").as(out))
    }
    probeUnder("robust")
      .join(probeUnder("default")
        .select(col("batch_doc_id"),
          col("n_shared_bands").as("n_shared_bands_default"),
          col("is_near_dup").as("is_near_dup_default")),
        Seq("batch_doc_id"))
      .join(exactMatches("robust", "xr"), Seq("batch_doc_id"), "left")
      .join(exactMatches("default", "xd"), Seq("batch_doc_id"), "left")
      .select(col("batch_doc_id"), col("match_doc_id"),
        col("n_shared_bands"), col("is_near_dup"),
        col("n_shared_bands_default"), col("is_near_dup_default"),
        col("xr").isNotNull.cast("int").as("is_exact_dup"),
        col("xd").isNotNull.cast("int").as("is_exact_dup_default"))
      .orderBy("batch_doc_id")
  }

  val q152Sql: String = {
    def guardProbe(ip: String, bp: String, op: String): String =
      s"""${op}guard AS (
         |  SELECT doc_id, band_idx, band_hash FROM (
         |    SELECT doc_id, band_idx, band_hash,
         |      COUNT(*) OVER wb AS bucket_n, MIN(doc_id) OVER wb AS canon
         |    FROM ${ip}bands WINDOW wb AS (PARTITION BY band_idx, band_hash))
         |  WHERE bucket_n <= $MaxBucket OR doc_id = canon),
         |${op}match AS (
         |  SELECT b.doc_id AS batch_doc_id, g.doc_id AS match_doc_id,
         |    COUNT(*) AS n_shared_bands
         |  FROM ${bp}bands b JOIN ${op}guard g USING (band_idx, band_hash)
         |  GROUP BY 1, 2),
         |${op}best AS (
         |  SELECT batch_doc_id, match_doc_id, n_shared_bands FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY batch_doc_id
         |      ORDER BY n_shared_bands DESC, match_doc_id) AS rn
         |    FROM ${op}match)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |batch AS (
       |  SELECT doc_id + 400000 AS doc_id,
       |    regexp_replace(text, ' ', ', ', 'g') AS text
       |  FROM d WHERE doc_id % 9 = 0),
       |${sqlBandCte("d", "ri", SqlTokRobust)},
       |${sqlBandCte("batch", "rp", SqlTokRobust)},
       |${sqlBandCte("d", "di")},
       |${sqlBandCte("batch", "dp")},
       |${guardProbe("ri", "rp", "r")},
       |${guardProbe("di", "dp", "e")},
       |rexs AS (
       |  SELECT doc_id AS m, ${sqlNormTextFor("text", "robust")} AS nt
       |  FROM d),
       |rexb AS (
       |  SELECT doc_id AS batch_doc_id, ${sqlNormTextFor("text", "robust")} AS nt
       |  FROM batch),
       |rex AS (
       |  SELECT batch_doc_id, MIN(m) AS xr
       |  FROM rexb JOIN rexs ON md5(rexb.nt) = md5(rexs.nt)
       |  GROUP BY 1),
       |dexs AS (SELECT doc_id AS m, lower(trim(text)) AS nt FROM d),
       |dexb AS (
       |  SELECT doc_id AS batch_doc_id, lower(trim(text)) AS nt FROM batch),
       |dex AS (
       |  SELECT batch_doc_id, MIN(m) AS xd
       |  FROM dexb JOIN dexs ON md5(dexb.nt) = md5(dexs.nt)
       |  GROUP BY 1)
       |SELECT bt.doc_id AS batch_doc_id, rbest.match_doc_id,
       |  CAST(COALESCE(rbest.n_shared_bands, 0) AS BIGINT) AS n_shared_bands,
       |  CAST(COALESCE(rbest.n_shared_bands, 0) >= $DefaultBandThreshold AS INT)
       |    AS is_near_dup,
       |  CAST(COALESCE(ebest.n_shared_bands, 0) AS BIGINT)
       |    AS n_shared_bands_default,
       |  CAST(COALESCE(ebest.n_shared_bands, 0) >= $DefaultBandThreshold AS INT)
       |    AS is_near_dup_default,
       |  CAST(rex.xr IS NOT NULL AS INT) AS is_exact_dup,
       |  CAST(dex.xd IS NOT NULL AS INT) AS is_exact_dup_default
       |FROM batch bt
       |LEFT JOIN rbest ON rbest.batch_doc_id = bt.doc_id
       |LEFT JOIN ebest ON ebest.batch_doc_id = bt.doc_id
       |LEFT JOIN rex ON rex.batch_doc_id = bt.doc_id
       |LEFT JOIN dex ON dex.batch_doc_id = bt.doc_id
       |ORDER BY batch_doc_id""".stripMargin
  }

  /** q93: repeated-substring detection — the exact-substring member of
    * the dedup family (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better": duplicated ≥k-token SPANS are removed
    * even when the documents containing them are distinct — the published
    * complement to document-level MinHash, which this repo's q21/q46
    * already cover). A token position is duplicated when its word k-gram
    * occurs in ≥2 distinct documents; runs of duplicated positions merge
    * into maximal spans (two marked gram positions closer than k overlap
    * in token space, so the island break is `gap > k` — the span union is
    * exact and disjoint). Output: per affected document, the span count,
    * duplicated-token total, longest span, and duplicated fraction — the
    * report a substring-dedup pass publishes before cutting. Within-doc
    * self-repetition is q66's metric; this one is strictly cross-doc
    * (distinct-doc frequency), so boilerplate shared across pages is
    * what it finds.
    *
    * Scale shape: the positional gram stream is a linear explode hashed
    * row-locally to 8-byte keys; the duplicated-gram table is ONE
    * partial-aggregated distinct-count groupBy; the mark-back is an
    * equi-join on the gram hash (AQE skew-split handles viral grams —
    * the join carries one row per gram, never a posting list); islands
    * are per-doc windows. The reference has no substring dedup; the
    * suffix-array formulation of the paper is replaced by the k-gram
    * positional join, which distributes and needs no global sort.
    */
  def q93RepeatedSubstrings(s: SparkSession, dir: String): DataFrame =
    repeatedSubstrings(corpus(s, dir))

  /** q93 body over any (doc_id, text) corpus, k and hash mode selectable. */
  def repeatedSubstrings(docs: DataFrame, k: Int = 8,
                         hashMode: String = "md5"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = baseHash60Expr(s"array_join(slice(w, i, $k), ' ')", hashMode)
    val grams = docs
      .withColumn("w", split(lower(trim(col("text"))), " "))
      .withColumn("n_tokens", size(col("w")).cast("bigint"))
      .filter(col("n_tokens") >= k)
      .select(col("doc_id"), col("n_tokens"),
        posexplode(expr(
          s"transform(sequence(1, size(w) - ${k - 1}), i -> $h)"))
          .as(Seq("pos", "gh")))
    val dupGrams = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select("gh")
    val wSeq = Window.partitionBy("doc_id").orderBy("pos")
    val spans = grams.join(dupGrams, Seq("gh"))
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(wSeq) > k, 1).otherwise(0))
      .withColumn("span_id", sum("brk").over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("n_tokens"), col("span_id"))
      .agg(min("pos").as("s"), max("pos").as("e"))
    spans.groupBy("doc_id", "n_tokens")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + k).cast("bigint").as("dup_tokens"),
        max(col("e") - col("s") + k).cast("bigint").as("longest_span_tokens"))
      .withColumn("dup_fraction",
        Num.roundD(col("dup_tokens").cast("double") / col("n_tokens")))
      .select("doc_id", "n_tokens", "n_dup_spans", "dup_tokens",
        "longest_span_tokens", "dup_fraction")
      .orderBy("doc_id")
  }

  val q93Sql: String =
    s"""WITH corpus AS ($corpusSql),
       |t AS (
       |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM corpus
       |  WHERE len(string_split(lower(trim(text)), ' ')) >= 8),
       |e AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, w,
       |    unnest(generate_series(1, len(w) - 7)) AS i
       |  FROM t),
       |grams AS (
       |  SELECT doc_id, n_tokens, i AS pos,
       |    ${sqlMd5Long60("array_to_string(w[i:i+7], ' ')")} AS gh
       |  FROM e),
       |dup AS (
       |  SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
       |marked AS (
       |  SELECT g.doc_id, g.n_tokens, g.pos FROM grams g JOIN dup USING (gh)),
       |isl AS (
       |  SELECT doc_id, n_tokens, pos,
       |    CASE WHEN pos - LAG(pos) OVER w > 8 THEN 1 ELSE 0 END AS brk
       |  FROM marked
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |sp AS (
       |  SELECT doc_id, n_tokens, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS span_id
       |  FROM isl),
       |spans AS (
       |  SELECT doc_id, n_tokens, span_id, MIN(pos) AS s, MAX(pos) AS e
       |  FROM sp GROUP BY 1, 2, 3),
       |perdoc AS (
       |  SELECT doc_id, n_tokens, COUNT(*) AS n_dup_spans,
       |    CAST(SUM(e - s + 8) AS BIGINT) AS dup_tokens,
       |    CAST(MAX(e - s + 8) AS BIGINT) AS longest_span_tokens
       |  FROM spans GROUP BY 1, 2)
       |SELECT doc_id, n_tokens, n_dup_spans, dup_tokens, longest_span_tokens,
       |  ${Num.sqlRoundD("CAST(dup_tokens AS DOUBLE) / n_tokens")} AS dup_fraction
       |FROM perdoc
       |ORDER BY doc_id""".stripMargin

  /** q94: substring-dedup cut — the operational step above q93's report:
    * REMOVE every cross-doc duplicated span and rebuild each document
    * from its surviving tokens (Lee et al. 2021's ExactSubstr
    * deduplication applied, not just measured). Covered token positions
    * come from exploding each span's token range (bounded by document
    * length); the kept stream is the (doc_id, pos) anti-join — both
    * sides co-partitioned on doc_id — and the rebuild is one per-doc
    * sort_array(collect_struct) so token order is restored without a
    * per-doc window. The rebuilt text's md5 is the oracle contract
    * (q52's redaction discipline: the oracle verifies the OUTPUT TEXT
    * byte-for-byte, not just the counts). Documents losing every token
    * (full duplicates) survive as zero-token rows — the caller's drop
    * decision, reported, not silently applied.
    */
  def q94SubstringCut(s: SparkSession, dir: String): DataFrame =
    cutRepeatedSubstrings(corpus(s, dir))

  /** q94 body: rebuild documents with cross-doc duplicated spans removed
    * — the md5 contract view over [[cutCorpusText]] (the oracle verifies
    * the output text byte-for-byte via its hash; [[graft.Curate]]
    * consumes the text itself).
    */
  def cutRepeatedSubstrings(docs: DataFrame, k: Int = 8,
                            hashMode: String = "md5"): DataFrame =
    cutCorpusText(docs, k, hashMode)
      .select(col("doc_id"), col("n_kept_tokens"),
        md5(col("kept_text")).as("kept_md5"))
      .orderBy("doc_id")

  /** The substring-cut rebuild with the surviving TEXT materialized:
    * (doc_id, n_kept_tokens, kept_text), one row per input document —
    * fully-cut documents surface as zero-token / empty-text rows (the
    * caller's drop decision, reported, not silently applied). This is
    * the operational form a curation pipeline consumes
    * ([[graft.Curate]]'s ExactSubstr stage); [[cutRepeatedSubstrings]]
    * is its hash-contract view for the q94 oracle.
    */
  def cutCorpusText(docs: DataFrame, k: Int = 8,
                    hashMode: String = "md5"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Tokens keep their ORIGINAL case and bytes — the rebuild must not
    // normalize documents (the reference recipe, Lee et al. 2021,
    // removes only the duplicated spans from the original text — ADVICE
    // r8); only the GRAM KEYS are lowercased, so span matching stays
    // case-insensitive and agrees exactly with [[repeatedSubstrings]]'
    // gram stream (lowercasing commutes with the space split).
    val h = baseHash60Expr(s"lower(array_join(slice(w, i, $k), ' '))", hashMode)
    val toks = docs
      .withColumn("w", split(trim(col("text")), " "))
      .select(col("doc_id"), col("w"),
        posexplode(col("w")).as(Seq("pos", "tok")))
    val grams = docs
      .withColumn("w", split(trim(col("text")), " "))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(1, size(w) - ${k - 1}), i -> $h)"))
          .as(Seq("pos", "gh")))
    val dupGrams = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select("gh")
    val wSeq = Window.partitionBy("doc_id").orderBy("pos")
    val spans = grams.join(dupGrams, Seq("gh"))
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(wSeq) > k, 1).otherwise(0))
      .withColumn("span_id", sum("brk").over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min("pos").as("s"), max("pos").as("e"))
    val covered = spans.select(col("doc_id"),
      explode(sequence(col("s"), col("e") + lit(k - 1))).as("pos"))
    val rebuilt = toks.select("doc_id", "pos", "tok")
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept"),
        concat_ws(" ", expr("transform(sort_array(collect_list(" +
          "struct(pos, tok))), x -> x.tok)")).as("ktext"))
    // fully-cut documents (every token covered) have no kept rows: the
    // doc-list left join restores them as zero-token / empty-text rows
    // without re-running the span pipeline. Documents that lost NO
    // tokens pass through VERBATIM (original bytes, original whitespace
    // runs) — only actually-cut documents get the single-space rebuild
    // (ADVICE r8: the cut must not rewrite the whole corpus).
    docs
      .select(col("doc_id"), col("text"),
        size(split(trim(col("text")), " ")).cast("bigint").as("n_total"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept"), lit(0L)).as("n_kept_tokens"),
        when(coalesce(col("kept"), lit(0L)) === col("n_total"), col("text"))
          .otherwise(coalesce(col("ktext"), lit(""))).as("kept_text"))
  }

  val q94Sql: String =
    s"""WITH corpus AS ($corpusSql),
       |tk0 AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM corpus),
       |toks AS (
       |  SELECT doc_id, unnest(generate_series(1, len(w))) - 1 AS pos, w
       |  FROM tk0),
       |tok AS (SELECT doc_id, pos, w[pos + 1] AS tok FROM toks),
       |t AS (SELECT doc_id, w FROM tk0 WHERE len(w) >= 8),
       |e AS (
       |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i FROM t),
       |grams AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    ${sqlMd5Long60("lower(array_to_string(w[i:i+7], ' '))")} AS gh
       |  FROM e),
       |dup AS (
       |  SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
       |marked AS (
       |  SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gh)),
       |isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - LAG(pos) OVER w > 8 THEN 1 ELSE 0 END AS brk
       |  FROM marked
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |sp AS (
       |  SELECT doc_id, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS span_id
       |  FROM isl),
       |spans AS (
       |  SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) AS e
       |  FROM sp GROUP BY 1, 2),
       |covered AS (
       |  SELECT DISTINCT doc_id, unnest(generate_series(s, e + 7)) AS pos
       |  FROM spans),
       |kept AS (
       |  SELECT tk.doc_id, tk.pos, tk.tok
       |  FROM tok tk LEFT JOIN covered c
       |    ON c.doc_id = tk.doc_id AND c.pos = tk.pos
       |  WHERE c.doc_id IS NULL),
       |rebuilt AS (
       |  SELECT doc_id, COUNT(*) AS kept,
       |    md5(array_to_string(list(tok ORDER BY pos), ' ')) AS kmd5
       |  FROM kept GROUP BY doc_id)
       |SELECT c.doc_id,
       |  CAST(COALESCE(r.kept, 0) AS BIGINT) AS n_kept_tokens,
       |  CASE WHEN COALESCE(r.kept, 0) = len(string_split(trim(c.text), ' '))
       |       THEN md5(c.text)
       |       ELSE COALESCE(r.kmd5, md5('')) END AS kept_md5
       |FROM corpus c LEFT JOIN rebuilt r ON r.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  private val SimBits = 60
  private val SegBits = SimBits / 4

  /** q22: SimHash 60-bit near-dedup. Per-token 60-bit hashes
    * ([[md5Long60]] — replayable by the oracle) vote on each fingerprint
    * bit (+1/-1 weighted by occurrence); the fingerprint is the sign
    * vector. Candidates share at least one of four 15-bit segments
    * (pigeonhole: hamming ≤ 3 guarantees a shared segment); the pair's
    * true hamming distance is checked inside the bucket only.
    */
  def q22DedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashPairs(corpus(s, dir))

  /** SimHash candidate pairs over an arbitrary (doc_id, text) corpus — the
    * q22 body, parameterized for the injected-cluster guard test.
    */
  def simhashPairs(docs: DataFrame, hashMode: String = "md5"): DataFrame = {
    // Signature stage is ROW-LOCAL (round 6, same rework as
    // [[minhashBands]]): the native `simhash60` expression accumulates
    // the 60 bit votes in one pass over the row's own token-hash array —
    // the exploded (doc_id, token) shuffle into a 60-column vote
    // aggregate is GONE, and the oracle still replays the exploded GROUP
    // BY (identical votes, identical sign vector).
    val h = baseHash60Expr("t", hashMode)
    // CPU-spread tried and REVERTED (round 18 A/B: 0.92 s → 1.10 s
    // min-of-3) — the simhash60 fold is cheap next to the banded
    // self-join, so the extra exchange only added latency
    val withFp = docs
      .withColumn("toks", split(lower(trim(col("text"))), " "))
      .select(col("doc_id"),
        call_function("simhash60", expr(s"transform(toks, t -> $h)")).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
    val segs = withFp.select(col("doc_id"), col("fingerprint"),
      posexplode(array((0 until 4).map(k =>
        shiftright(col("fingerprint"), SegBits * k).bitwiseAND(lit((1L << SegBits) - 1))): _*))
        .as(Seq("seg_idx", "seg_val")))
      .persist() // the bit-vote pass is the expensive parent — see q21
    guardedPairs(segs, "doc_id", Seq("seg_idx", "seg_val"),
        payloadCols = Seq("fingerprint"))
      .select(
        col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        bit_count(col("a_fingerprint").bitwiseXOR(col("b_fingerprint"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy("doc_a", "doc_b")
  }

  val q22Sql: String = {
    val votes = (0 until SimBits).map(i =>
      s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(", ")
    val fp = (0 until SimBits).map(i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString("(", " + ", ")")
    val segSelects = (0 until 4).map(k =>
      s"SELECT doc_id, fingerprint, $k AS seg_idx, " +
        s"(fingerprint >> ${SegBits * k}) & ${(1L << SegBits) - 1} AS seg_val FROM fps"
    ).mkString("\n  UNION ALL\n  ")
    s"""WITH corpus AS ($corpusSql),
       |tokens AS (
       |  SELECT doc_id, ${sqlMd5Long60("tok")} AS h
       |  FROM corpus, unnest(string_split(lower(trim(text)), ' ')) AS t(tok)),
       |votes AS (
       |  SELECT doc_id, $votes FROM tokens GROUP BY doc_id),
       |fps AS (
       |  SELECT doc_id, CAST($fp AS BIGINT) AS fingerprint FROM votes),
       |segs AS (
       |  $segSelects),
       |sann AS (
       |  SELECT doc_id, fingerprint, seg_idx, seg_val,
       |    COUNT(*) OVER ws AS bucket_n,
       |    MIN(doc_id) OVER ws AS canon_id,
       |    FIRST_VALUE(fingerprint) OVER (PARTITION BY seg_idx, seg_val ORDER BY doc_id) AS canon_fp
       |  FROM segs
       |  WINDOW ws AS (PARTITION BY seg_idx, seg_val)),
       |spairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.fingerprint AS a_fp, b.fingerprint AS b_fp
       |  FROM sann a JOIN sann b
       |    ON a.seg_idx = b.seg_idx AND a.seg_val = b.seg_val
       |   AND a.doc_id < b.doc_id
       |  WHERE a.bucket_n <= $MaxBucket
       |  UNION ALL
       |  SELECT canon_id, doc_id, canon_fp, fingerprint
       |  FROM sann WHERE bucket_n > $MaxBucket AND doc_id <> canon_id)
       |SELECT DISTINCT id_a AS doc_a, id_b AS doc_b,
       |  bit_count(xor(a_fp, b_fp)) AS hamming
       |FROM spairs
       |WHERE bit_count(xor(a_fp, b_fp)) <= 8
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q23: n-gram Jaccard — exact verification of candidate pairs. Pairs
    * form only through a shared shingle (inverted-index join), then
    * |A∩B| / |A∪B| from shingle-set sizes. The df cap in [[shingles]]
    * bounds each posting list, keeping the join linear in corpus size.
    */
  def q23NgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(corpus(s, dir))

  /** N-gram Jaccard body over an arbitrary (doc_id, text) corpus — the q23
    * pipeline with the base hash selectable ([[baseHash60]]).
    */
  def ngramJaccardPairs(docs: DataFrame, hashMode: String = "md5",
                        maxDf: Int = 50,
                        minJaccard: Double = 0.5): DataFrame = {
    // The ENTIRE inverted index is ONE corpus-wide shuffle (round 6): a
    // groupBy(sh) with a partial-aggregated distinct-set builds the sorted
    // posting list per shingle (map-side set merge dedups locally — the
    // separate distinct pass is redundant), the df cap bounds posting
    // lists of boilerplate shingles (a viral phrase would otherwise
    // create a quadratic bucket), and per-doc set sizes come from
    // exploding the CAPPED lists, a post-guard sliver. The round-5 chain
    // paid three corpus-wide shuffles for the same numbers: distinct →
    // df-count groupBy + broadcast anti-join → separate sizes/lists
    // groupBys. Persisted because sizes and pair emission both consume it
    // and the md5 digest pass should run once; at 100 TB the capped
    // posting lists would be materialized to storage once and reused
    // across the whole dedup pipeline.
    //
    // Memory bound (round 7 — closes VERDICT r6 #1): the df cap is a
    // property of the AGGREGATION BUFFER, not a post-filter.
    // `collect_set_capped` ([[graft.functions.CollectSetCapped]]) stops
    // buffering the moment a shingle's distinct-doc count exceeds maxDf
    // and evaluates that key to NULL, so per-key state is ≤ maxDf longs
    // in every mode (partial, shuffle row, merge, final) — a viral
    // boilerplate shingle with df 10⁸ costs the same 400 B as one at the
    // cap, instead of an ~800 MB single-key buffer. Same rows as
    // `sort_array(collect_set) + filter(size <= maxDf)` bit-for-bit
    // (FunctionsSpec pins it; the oracle's HAVING replay is unchanged),
    // still ONE corpus-wide shuffle and one digest pass.
    val lists = rawShingles(docs, hashMode)
      .groupBy("sh")
      .agg(call_function("collect_set_capped", col("doc_id"), lit(maxDf)).as("ids"))
      .filter(col("ids").isNotNull)
      .persist()
    // eager: the sizes and pair stages race this cache when cold (see q21)
    lists.count()
    val sizes = lists.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    // Intersection counts via posting-list pair emission: the i<j pairs
    // unfold map-side from each ≤maxDf-long sorted list — emission is
    // O(maxDf²) per shingle, and sort_array makes doc_a < doc_b by
    // construction.
    val inter = lists
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids) - i - 1), " +
          "y -> named_struct('doc_a', x, 'doc_b', y))))")).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        Num.roundD(col("n_inter").cast("double") /
          (col("sa.n_shingles") + col("sb.n_shingles") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("doc_a", "doc_b")
  }

  val q23Sql: String =
    s"""WITH corpus AS ($corpusSql),
       |${sqlShingleCte("corpus")},
       |sh AS (SELECT DISTINCT doc_id, x FROM shx),
       |hot AS (SELECT x FROM sh GROUP BY x HAVING COUNT(*) > 50),
       |shc AS (SELECT doc_id, x FROM sh WHERE x NOT IN (SELECT x FROM hot)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |  FROM shc a JOIN shc b ON a.x = b.x AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    ${graft.Num.sqlRoundD("CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)")} AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------------- q131

  /** q131: dedup threshold-sensitivity sweep — the tuning artifact an
    * operator reads BEFORE committing a 100 TB near-dedup pass: for
    * each candidate Jaccard threshold, the verified pair count, the
    * documents that would be flagged (keep-lowest-id convention: the
    * higher id of each pair drops), and the character mass removed.
    * q96 publishes this for the semantic family (eps); this is the
    * surface-form twin (τ), computed from ONE run of q23's verified
    * pair table — the sweep itself is arithmetic over the (tiny)
    * pair set crossed with a 6-row literal threshold frame, so trying
    * six thresholds costs one dedup pass, not six.
    *
    * Scale shape: identical to q23 (the capped inverted index is the
    * only corpus-sized work); everything after it is bounded by the
    * verified pair count.
    */
  def q131ThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // pair floor sits BELOW the sweep grid so the report shows the whole
    // curve, incidental-overlap cloud included — the knee between "τ
    // flags chance shingle collisions" and "τ flags real duplicates" is
    // exactly what the artifact exists to locate. The verified pair
    // table is PERSISTED: both rollups below fan out from it, and
    // without the pin each would re-run the whole q23 pipeline (the
    // harness sweeps persistent RDDs between queries, the house
    // contract for in-query pins)
    val pairs = ngramJaccardPairs(corpus(s, dir), minJaccard = 0.01).persist()
    pairs.count()
    val taus = Seq(0.01, 0.05, 0.1, 0.3, 0.5, 0.9).toDF("tau")
    val hit = pairs.crossJoin(broadcast(taus))
      .filter(col("jaccard") >= col("tau"))
    val pairAgg = hit.groupBy("tau").agg(count(lit(1)).as("n_pairs"))
    val docAgg = hit.select("tau", "doc_b").distinct()
      .join(corpus(s, dir).select(col("doc_id").as("doc_b"), col("n_chars")),
        "doc_b")
      .groupBy("tau").agg(count(lit(1)).as("n_docs_flagged"),
        sum("n_chars").as("chars_dropped"))
    taus.join(pairAgg, Seq("tau"), "left")
      .join(docAgg, Seq("tau"), "left")
      .select(col("tau"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"),
        coalesce(col("chars_dropped"), lit(0L)).as("chars_dropped"))
      .orderBy("tau")
  }

  val q131Sql: String =
    s"""WITH corpus AS ($corpusSql),
       |${sqlShingleCte("corpus")},
       |sh AS (SELECT DISTINCT doc_id, x FROM shx),
       |hot AS (SELECT x FROM sh GROUP BY x HAVING COUNT(*) > 50),
       |shc AS (SELECT doc_id, x FROM sh WHERE x NOT IN (SELECT x FROM hot)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |  FROM shc a JOIN shc b ON a.x = b.x AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    ${graft.Num.sqlRoundD("CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)")} AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id),
       |jf AS (SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.01),
       |taus AS (SELECT * FROM (VALUES (0.01), (0.05), (0.1), (0.3), (0.5), (0.9)) t(tau)),
       |hit AS (
       |  SELECT tau, doc_a, doc_b FROM jf JOIN taus ON jaccard >= tau),
       |pa AS (SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM hit GROUP BY tau),
       |fl AS (SELECT DISTINCT tau, doc_b FROM hit),
       |da AS (
       |  SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_docs_flagged,
       |    CAST(SUM(n_chars) AS BIGINT) AS chars_dropped
       |  FROM fl JOIN corpus c ON c.doc_id = fl.doc_b GROUP BY tau)
       |SELECT taus.tau,
       |  COALESCE(n_pairs, 0) AS n_pairs,
       |  COALESCE(n_docs_flagged, 0) AS n_docs_flagged,
       |  COALESCE(chars_dropped, 0) AS chars_dropped
       |FROM taus LEFT JOIN pa USING (tau) LEFT JOIN da USING (tau)
       |ORDER BY taus.tau""".stripMargin

  // --------------------------------------------------------------- q138

  /** q138: band-threshold calibration GRADED against planted truth —
    * q131 prices τ by what it flags; this query grades the MinHash-LSH
    * band threshold against ground truth the corpus actually contains
    * (the re-ingested exact copies), the q135 discipline applied to the
    * dedup family: per `n_shared_bands` threshold 1..8, flagged pairs,
    * true positives, precision, and recall. The curve an operator reads
    * to place the probe threshold (the standing-index screens run at
    * ≥ 4): low thresholds admit the chance band-collision cloud
    * (precision collapses), the top threshold keeps the true copies
    * (recall stays 1.0 — an exact copy shares ALL bands).
    *
    * Truth is the exact-duplicate pair set, emitted through the SAME
    * [[guardedPairs]] hot-bucket guard as the candidate side (a viral
    * exact cluster stars to its canonical on BOTH sides, so pair-grain
    * grading stays consistent and no path is O(k²)). One caveat the
    * number carries at scale: the two guards key on DIFFERENT buckets
    * (band hash vs content hash), so a band bucket blown past the guard
    * by CHANCE colliders stars to the band bucket's minimum — a true
    * pair caught in it can lose that band and top-threshold recall dips
    * below 1.0 even though the exact cluster itself is small. That is a
    * property of the guarded candidate generator being graded, not a
    * grading error — the report showing it is the report working.
    * Scale shape: one q21 band pass + one hash-key pair pass;
    * everything after is bounded by the pair counts crossed with an
    * 8-row literal frame (the q131 pattern).
    */
  def q138BandCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    // the candidate pairs flow through ONE lineage (fan-out → mark →
    // aggregate), so only the truth table — consumed by its count AND
    // the tp-join — needs the in-query pin the harness sweeps
    val pairs = minhashPairs(c)
    val truth = guardedPairs(
        c.select(col("doc_id"), md5(lower(trim(col("text")))).as("h")),
        "doc_id", Seq("h"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .persist()
    val nTruth = truth.count()
    val th = (1 to 8).toDF("threshold")
    val flagged = pairs.crossJoin(broadcast(th))
      .filter(col("n_shared_bands") >= col("threshold"))
    val marked = flagged
      .join(truth.withColumn("tp", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .withColumn("tp", coalesce(col("tp"), lit(0L)))
    // LEFT-join the 8-row threshold frame to the aggregates (ADVICE
    // r12, the q131 pattern): the report's grain is "per threshold
    // 1..8" by contract, so a threshold that flags NOTHING must still
    // appear (zero counts), and the rate divisions are guarded
    // explicitly in BOTH engines — Spark nulls x/0 while DuckDB's
    // IEEE doubles produce inf/nan, so an unguarded empty corpus
    // (n_truth = 0) would hash-diverge, not just read oddly
    val agg = marked.groupBy("threshold")
      .agg(count(lit(1)).as("n_flagged"), sum("tp").as("n_tp"))
    th.join(agg, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        lit(nTruth).as("n_truth"),
        coalesce(col("n_tp"), lit(0L)).as("n_tp"))
      .select(col("threshold"), col("n_flagged"), col("n_truth"), col("n_tp"),
        when(col("n_flagged") > 0, Num.roundD(
          col("n_tp").cast("double") / col("n_flagged").cast("double"), 6))
          .as("precision_r"),
        when(col("n_truth") > 0, Num.roundD(
          col("n_tp").cast("double") / col("n_truth").cast("double"), 6))
          .as("recall_r"))
      .orderBy("threshold")
  }

  val q138Sql: String =
    s"""WITH corpus AS ($corpusSql),
       |${sqlMinhashCte("corpus")},
       |hx AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM corpus),
       |hann AS (
       |  SELECT doc_id, h,
       |    COUNT(*) OVER wh AS bucket_n,
       |    MIN(doc_id) OVER wh AS canon
       |  FROM hx WINDOW wh AS (PARTITION BY h)),
       |truth AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM hann a JOIN hann b ON a.h = b.h AND a.doc_id < b.doc_id
       |  WHERE a.bucket_n <= $MaxBucket
       |  UNION ALL
       |  SELECT canon AS doc_a, doc_id AS doc_b
       |  FROM hann WHERE bucket_n > $MaxBucket AND doc_id <> canon),
       |tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
       |th AS (SELECT CAST(unnest(range(1, 9)) AS INT) AS threshold),
       |fl AS (
       |  SELECT th.threshold, mh.doc_a, mh.doc_b
       |  FROM th JOIN mh ON mh.n_shared_bands >= th.threshold),
       |mk AS (
       |  SELECT fl.threshold, fl.doc_a, fl.doc_b,
       |    CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS tp
       |  FROM fl LEFT JOIN truth t
       |    ON t.doc_a = fl.doc_a AND t.doc_b = fl.doc_b),
       |g AS (
       |  SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_flagged,
       |    CAST(SUM(tp) AS BIGINT) AS n_tp
       |  FROM mk GROUP BY threshold),
       |j AS (
       |  SELECT th.threshold,
       |    CAST(COALESCE(g.n_flagged, 0) AS BIGINT) AS n_flagged,
       |    CAST(COALESCE(g.n_tp, 0) AS BIGINT) AS n_tp
       |  FROM th LEFT JOIN g USING (threshold))
       |SELECT threshold, n_flagged, n_truth, n_tp,
       |  CASE WHEN n_flagged > 0 THEN ${graft.Num.sqlRoundD(
            "CAST(n_tp AS DOUBLE) / CAST(n_flagged AS DOUBLE)", 6)} END
       |    AS precision_r,
       |  CASE WHEN n_truth > 0 THEN ${graft.Num.sqlRoundD(
            "CAST(n_tp AS DOUBLE) / CAST(n_truth AS DOUBLE)", 6)} END
       |    AS recall_r
       |FROM j CROSS JOIN tc
       |ORDER BY threshold""".stripMargin

  /** q62: entity resolution — blocked fuzzy matching over the customer
    * dimension: candidate pairs form ONLY inside a blocking key
    * (name length + 16-char prefix + nation), then exact Levenshtein
    * verification within the block. The record-linkage shape: blocking
    * bounds the candidate set (each block is a handful of records, so the
    * pairwise step is quadratic only in block size, linear overall),
    * and the expensive edit distance runs solely on block-mates — never
    * a corpus cross join.
    *
    * Blocking keys on real entity data are Zipf-distributed — one viral
    * (nation, length, prefix) block of k records would emit O(k²)
    * Levenshtein evaluations from a single key — so the pair step routes
    * through [[guardedPairs]] (round 5): oversize blocks emit star edges
    * from the block's minimum-key record instead, the same representative
    * discipline as every LSH path, and the Levenshtein verify runs only
    * on the guarded candidates. The oracle replays the guard with the
    * identical windows (`bucket_n`/canonical), like q21's.
    */
  def q62FuzzyMatch(s: SparkSession, dir: String): DataFrame =
    fuzzyMatchPairs(
      graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey")))

  /** Blocked fuzzy-match body over an arbitrary
    * (c_custkey, c_name, c_nationkey) frame — parameterized so the
    * hot-block guard is testable on an injected oversized block
    * (DedupAnnSpec), mirroring the minhash/simhash guard tests.
    */
  def fuzzyMatchPairs(customers: DataFrame,
                      maxBucket: Int = MaxBucket): DataFrame = {
    val c = customers
      .withColumn("blk", concat_ws(":",
        col("c_nationkey"), length(col("c_name")),
        substring(col("c_name"), 1, 16)))
      .select(col("blk"), col("c_custkey"), col("c_name"))
    guardedPairs(c, "c_custkey", Seq("blk"),
        payloadCols = Seq("c_name"), maxBucket = maxBucket)
      .withColumn("edit_dist", levenshtein(col("a_c_name"), col("b_c_name")))
      .filter(col("edit_dist") <= 1)
      .select(col("id_a").as("key_a"), col("id_b").as("key_b"),
        col("a_c_name").as("name_a"), col("b_c_name").as("name_b"),
        col("edit_dist"))
      .orderBy("key_a", "key_b")
  }

  val q62Sql: String =
    s"""WITH c AS (
       |  SELECT c_custkey, c_name,
       |    CAST(c_nationkey AS VARCHAR) || ':' || CAST(len(c_name) AS VARCHAR)
       |      || ':' || substr(c_name, 1, 16) AS blk
       |  FROM customer),
       |ann AS (
       |  SELECT c_custkey, c_name, blk,
       |    COUNT(*) OVER wb AS bucket_n,
       |    MIN(c_custkey) OVER wb AS canon_id,
       |    FIRST_VALUE(c_name) OVER (PARTITION BY blk ORDER BY c_custkey) AS canon_name
       |  FROM c
       |  WINDOW wb AS (PARTITION BY blk)),
       |pairs AS (
       |  SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       |    a.c_name AS name_a, b.c_name AS name_b
       |  FROM ann a JOIN ann b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
       |  WHERE a.bucket_n <= $MaxBucket
       |  UNION ALL
       |  SELECT canon_id, c_custkey, canon_name, c_name
       |  FROM ann WHERE bucket_n > $MaxBucket AND c_custkey <> canon_id)
       |SELECT key_a, key_b, name_a, name_b,
       |  levenshtein(name_a, name_b) AS edit_dist
       |FROM pairs
       |WHERE levenshtein(name_a, name_b) <= 1
       |ORDER BY key_a, key_b""".stripMargin

  /** q101: cross-split leakage audit — the QA gate a training pipeline
    * runs before shipping a train/validation/test split. The q47 split
    * is assigned per DOCUMENT (salted hash of the id), so duplicate
    * CONTENT under different ids can straddle splits — the evaluation
    * contamination Lee et al. 2021 (§6.2) measure: near-duplicates of
    * eval examples in the training set inflate measured performance.
    * This operator reports every duplicate pair whose members landed in
    * different splits, with the duplicate grade attached.
    *
    * Two legs, both linear-guarded shapes this file already pays for:
    * exact twins come from ONE window over the normalized content hash
    * (star edges from the canonical doc — never quadratic in a viral
    * copy-group), near-duplicates from q23's df-capped verified-Jaccard
    * pipeline. The legs union into one pair set (a pair found by both
    * keeps jaccard 1.0 via MAX), and the per-doc metadata joins key the
    * TINY pair set against the corpus — at 100 TB the pair side is the
    * broadcast candidate, and the split filter cuts before output.
    * leak_type grades each surviving pair by comparing content hashes,
    * so non-star members of an exact copy-group (surfaced by the near
    * leg at jaccard 1.0) still read `exact`.
    */
  def q101SplitLeakage(s: SparkSession, dir: String): DataFrame =
    splitLeakagePairs(corpus(s, dir))

  /** q101 body over an arbitrary (doc_id, text) corpus. */
  def splitLeakagePairs(docs: DataFrame): DataFrame = {
    val meta = docs.select(col("doc_id"),
      md5(lower(trim(col("text")))).as("ch"),
      when(Sampling.bucket100("split", col("doc_id")) < 80, lit("train"))
        .when(Sampling.bucket100("split", col("doc_id")) < 90, lit("validation"))
        .otherwise(lit("test")).as("split"))
    val near = ngramJaccardPairs(docs).select("doc_a", "doc_b", "jaccard")
    val exact = meta
      .withColumn("rep", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("ch")))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    val pairs = near.unionByName(exact)
      .groupBy("doc_a", "doc_b").agg(max(col("jaccard")).as("jaccard"))
    pairs
      .join(meta.select(col("doc_id").as("doc_a"), col("ch").as("ch_a"),
        col("split").as("split_a")), Seq("doc_a"))
      .join(meta.select(col("doc_id").as("doc_b"), col("ch").as("ch_b"),
        col("split").as("split_b")), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .withColumn("leak_type",
        when(col("ch_a") === col("ch_b"), lit("exact")).otherwise(lit("near")))
      .select("doc_a", "doc_b", "split_a", "split_b", "leak_type", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  val q101Sql: String =
    s"""WITH corpus AS ($corpusSql),
       |${sqlShingleCte("corpus")},
       |sh AS (SELECT DISTINCT doc_id, x FROM shx),
       |hot AS (SELECT x FROM sh GROUP BY x HAVING COUNT(*) > 50),
       |shc AS (SELECT doc_id, x FROM sh WHERE x NOT IN (SELECT x FROM hot)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |  FROM shc a JOIN shc b ON a.x = b.x AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    ${graft.Num.sqlRoundD("CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)")} AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id),
       |near AS (SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5),
       |mh AS (
       |  SELECT doc_id, md5(lower(trim(text))) AS ch,
       |    ${Sampling.sqlSaltedMd5("split", "doc_id")} AS h
       |  FROM corpus),
       |meta AS (
       |  SELECT doc_id, ch,
       |    CASE WHEN ${Sampling.sqlBucket100} < 80 THEN 'train'
       |         WHEN ${Sampling.sqlBucket100} < 90 THEN 'validation'
       |         ELSE 'test' END AS split
       |  FROM mh),
       |ex AS (
       |  SELECT ch, MIN(doc_id) AS rep FROM mh GROUP BY ch HAVING COUNT(*) > 1),
       |exact AS (
       |  SELECT e.rep AS doc_a, m.doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
       |  FROM ex e JOIN mh m ON m.ch = e.ch AND m.doc_id <> e.rep),
       |pairs AS (
       |  SELECT doc_a, doc_b, MAX(jaccard) AS jaccard FROM
       |    (SELECT * FROM near UNION ALL SELECT * FROM exact) GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, ma.split AS split_a, mb.split AS split_b,
       |  CASE WHEN ma.ch = mb.ch THEN 'exact' ELSE 'near' END AS leak_type,
       |  p.jaccard
       |FROM pairs p
       |JOIN meta ma ON p.doc_a = ma.doc_id
       |JOIN meta mb ON p.doc_b = mb.doc_id
       |WHERE ma.split <> mb.split
       |ORDER BY p.doc_a, p.doc_b""".stripMargin
}
