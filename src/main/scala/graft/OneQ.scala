package graft
/** The fresh-JVM child that graft.Bench forks for its isolated section:
  * times each named query in a new JVM. It builds the same
  * [[Session.local]] as the suite (the fork inherits SPARK_GRAFT_CPUS),
  * so an isolated read and its in-suite twin differ only by the JVM's
  * history, which is what Bench's 1.5 × in-suite re-fork rule assumes.
  */
object OneQ {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Two untimed warmups per query before the timed min-of-3: wide generated
    // aggregates need ~3 executions before C2 fully compiles them (see the
    // measurement note in Bench.scala), so a cold first slot would publish
    // order-dependent numbers and defeat cross-round isolated compares.
    // the persistent-RDD sweep mirrors Bench/Verify (VERDICT r10 #1):
    // eager localCheckpoint blocks aren't cacheManager-tracked, and a
    // fork measuring a pin-carrying query must not let run N's blocks
    // pressure run N+1
    def sweep(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    for (q <- args) {
      for (_ <- 1 to 2) {
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
        sweep()
      }
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
        println(f"$q run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        sweep()
      }
    }
    spark.stop()
  }
}
