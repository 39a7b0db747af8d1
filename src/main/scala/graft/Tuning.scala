package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Input-proportional shuffle sizing — the sf3 rehearsal's rule
  * ("partitions ∝ corpus bytes for the posting-list shuffle",
  * PLANS.md round-9 rehearsal) turned into code.
  *
  * The finding: q23's one corpus-wide shuffle (tokenize → explode →
  * posting-list aggregate) is stable at the session default of one
  * partition per core through sf1.0, but at sf3.0 (30× data) the
  * per-partition aggregation state crosses the spill/GC boundary and
  * identical runs go bimodal (4.5 s / 26 s / 32 s); widening to 96
  * partitions — 3× the default, tracking the 3× data step — restores
  * sf1.0-level walls. The PLAN is correct at every scale; the WIDTH is
  * the knob, and it must scale with input bytes, not stay pinned at
  * core count.
  *
  * Calibration from that measurement: sf3's documents table is ~17 MB
  * of snappy parquet and needed ≥96 partitions, i.e. ≈180 KB of
  * compressed input per partition. Expressed as the two quantities that
  * generalize: the tokenize-and-explode family inflates one parquet
  * byte into ≈256 bytes of shuffle/aggregation state (measured ≈310×
  * at sf3: 1.5 M docs × ~150 token-position rows ≈ 5.4 GB exploded
  * state from 17 MB of parquet — high-entropy text compresses well,
  * and the explode multiplies row count by token count), and a shuffle
  * partition should hold ≈32 MB of that state to stay clear of the
  * spill boundary with room for the hash-aggregate overhead.
  *
  * Overshooting is safe by construction: AQE
  * (`spark.sql.adaptive.coalescePartitions`, on by default) merges
  * small post-shuffle partitions back together, so the width computed
  * here is an upper bound the runtime trims — the idiomatic Spark
  * pairing is "set the initial number generously, let AQE coalesce".
  * Undershooting is what cannot be repaired at runtime (AQE never
  * splits a too-big partition except in skew-join paths), which is why
  * the default stays the floor and this helper only ever raises it.
  *
  * On a real cluster the same rule sets `spark.sql.shuffle.partitions`
  * from the planned scan bytes; here it is wired into the pipeline
  * mains (Curate) whose input is open-ended, while the bench/verify
  * harnesses keep the fixed per-core width so their numbers stay
  * comparable across rounds.
  */
object Tuning {

  /** Shuffle/aggregation-state bytes produced per byte of compressed
    * parquet input by the tokenize-and-explode family (posting lists,
    * gram joins). Measured ≈310× at sf3; 256 keeps the round number on
    * the conservative (wider) side.
    */
  val GramExpansion = 256L

  /** Target shuffle-state bytes per partition. 32 MB held the sf3
    * posting-list aggregate clear of the spill boundary (96 partitions
    * × ~56 MB observed state was stable; 32 × ~170 MB was bimodal).
    */
  val TargetBytesPerPartition: Long = 32L * 1024 * 1024

  /** Clamp on the frame-estimate width: upstream of a join the
    * optimizer's estimate can be off by orders of magnitude, and the
    * clamp bounds the scheduling overhead (AQE still coalesces inside
    * it).
    */
  val MaxWidth = 4096

  /** Total on-disk bytes of the named parquet tables under `dir`
    * (file or directory per table). One driver-side file listing —
    * the same metadata read the scan planner itself performs.
    */
  def inputBytes(spark: SparkSession, dir: String, tables: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.map { t =>
      val p = new Path(s"$dir/$t.parquet")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
  }

  /** The shuffle width for a corpus-wide explode-and-aggregate over
    * `bytes` of parquet input:
    * `ceil(bytes × GramExpansion / TargetBytesPerPartition)`, floored
    * at the session's default parallelism (one partition per
    * core — never narrower than the machine, exactly the pre-rule
    * behavior at small scale, so this helper changes nothing below the
    * boundary where the rule starts to matter).
    */
  def scaledShufflePartitions(spark: SparkSession, bytes: Long): Int = {
    val scaled = ((bytes * GramExpansion + TargetBytesPerPartition - 1) /
      TargetBytesPerPartition).toInt
    math.max(spark.sparkContext.defaultParallelism, scaled)
  }

  /** [[scaledShufflePartitions]] from a data directory's table files. */
  def shufflePartitionsFor(
      spark: SparkSession,
      dir: String,
      tables: Seq[String] = Seq("documents")): Int =
    scaledShufflePartitions(spark, inputBytes(spark, dir, tables))

  /** The width rule for a DataFrame input (round 10 — VERDICT r9 #6:
    * the admission cycle's batches arrive as frames, not directories):
    * input bytes come from the optimizer's OWN size estimate for the
    * frame's plan — file sizes for source scans, conservative
    * propagated estimates elsewhere. Estimates above [[MaxWidth]]
    * partitions are clamped. The floor
    * stays the session default, so below the boundary where the rule
    * matters this changes nothing — exactly [[scaledShufflePartitions]]'s
    * contract.
    */
  def scaledShufflePartitionsForFrame(
      spark: SparkSession,
      df: org.apache.spark.sql.DataFrame): Int = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val bytes =
      if (est > BigInt(Long.MaxValue)) Long.MaxValue else est.toLong
    math.min(MaxWidth, scaledShufflePartitions(spark, bytes))
  }

  /** CPU-spread rule for a small-bytes, compute-heavy frame (round 18 —
    * VERDICT r17 #5, the AQE byte-blind 1-task serialization): when a
    * corpus fits one scan split (the test files are single-row-group
    * parquet, so the scan is one task no matter what
    * `files.maxPartitionBytes` says) or AQE coalesces a KB-sized
    * shuffle to one partition, every downstream per-row computation —
    * a corpus × panel decimal-cosine pass, a shingle-and-minhash
    * scan — runs SERIALLY on one core while the other 31 idle. Byte
    * schedulers cannot see CPU cost.
    *
    * The rule, expressed at PLAN level so it is not a local-mode
    * session knob: if the optimizer's own size estimate for the frame
    * is under `floorBytes`, round-robin repartition it across the
    * session's default parallelism before the expensive projection.
    * Scale honesty comes from the floor: the repartition only ever
    * engages when the frame is SMALL — the shuffle it introduces is
    * bounded by `floorBytes` (64 MB default, pennies) — and at real
    * corpus sizes (anything past ~sf4 here, let alone 100 TB) the
    * estimate exceeds the floor and the plan is byte-identical to
    * today's, where scan splits already provide the parallelism.
    * Callers put it UNDER per-row-expensive math whose results are
    * partition-order-free (decimal folds, row-local projections,
    * window ranks keyed by id — the repo's portability discipline).
    */
  def spreadSmall(df: org.apache.spark.sql.DataFrame,
                  floorBytes: Long = 64L * 1024 * 1024): org.apache.spark.sql.DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est < BigInt(floorBytes))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df
  }

  /** Run `body` with `spark.sql.shuffle.partitions` set to `width`,
    * restoring the previous value (or unsetting, if none) afterwards —
    * failure paths included. The conf is session-scoped, so this is
    * NOT safe under concurrent queries on the same session; the
    * pipeline mains that use it are single-flow.
    */
  def withShuffleWidth[T](spark: SparkSession, width: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, width.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
