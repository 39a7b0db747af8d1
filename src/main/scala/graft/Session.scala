package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a Spark session. Every main (Verify, Bench
  * and the OneQ forks it compares against its own suite, Curate,
  * Pipeline, Discover, ScaleUp) and the specs' shared session go through
  * [[local]], so they all run graft's confs: UTC session time, no UI,
  * the graft SQL functions, one shuffle partition per core and WARN
  * logging. A session-wide conf belongs here, not at a call site.
  */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, else the JVM's available processors. */
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  // spark.sql.codegen.cache.maxEntries stays at Spark's default (100):
  // capping it lower to relieve code-cache pressure at 60+ queries made
  // graft.Bench WORSE (32 entries → q51 recompiled across its runs,
  // 2.0 s → 7.0 s).
  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(graft.functions.GraftFunctions.register)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
