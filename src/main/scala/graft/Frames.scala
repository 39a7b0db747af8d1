package graft

import org.apache.spark.sql.DataFrame

/** Storage hygiene for eager localCheckpoints. */
object Frames {

  /** Spill-safe EAGER materialization for corpus-sized frames (round 18
    * — VERDICT r17 #3): persist at MEMORY_AND_DISK with lineage KEPT and
    * force the cache with a count. Latency-wise this is the eager
    * localCheckpoint contract (consumers — typically broadcast builds
    * racing the main stages — find materialized blocks instead of
    * re-running the pass), but an executor loss recomputes from lineage
    * instead of failing the query, and an overflow spills instead of
    * OOMing the block manager — the §5 failure modes an unbounded
    * lineage-truncated pin has on a real cluster. Bounded aggregates
    * (nlist rows, top-k tables) keep using eager localCheckpoint, whose
    * blocks are trivially small; THIS is for frames that scale with the
    * corpus. The cache is cacheManager-registered, so the harnesses'
    * between-run sweep (clearCache) releases it.
    */
  def eagerPersist(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Free an eager localCheckpoint's pinned blocks: walk the RDD
    * lineage under the frame to its persisted checkpoint RDD and
    * unpersist it. Callers use this the moment a checkpointed frame is
    * superseded — an admission cycle's pinned screens (ADVICE r8), or an
    * iterative loop's previous round — so pinned state stays O(1) per
    * consumer instead of accumulating for the run's lifetime. Only
    * frames that nothing will read again may be freed: a localCheckpoint
    * has no lineage to recompute from.
    */
  def freePinned(df: DataFrame): Unit = {
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) {
        r.unpersist(blocking = false); ()
      } else r.dependencies.foreach(d => walk(d.rdd))
    walk(df.rdd)
  }
}
