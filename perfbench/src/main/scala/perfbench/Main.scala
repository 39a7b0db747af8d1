package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation's outcome: its latency (the operation alone — the
  * benchmark's own preparation, checks and traced layer replays are
  * outside it), the items it processed, and whether every output check
  * passed.
  */
case class Outcome(seconds: Double, items: Double, ok: Boolean)

/** A workload: a standing state built once per run, then a closed loop of
  * operations against it. */
trait Workload {
  /** Generate and write the inputs under `dir`. Set-up repeats this and
    * takes the median; the inputs of the last call are the ones used. */
  def inputs(dir: String): Unit
  /** Build the standing state the operations run against, once. */
  def build(): Unit = ()
  /** Untimed operations before the loop, so it measures a warm JVM. */
  def warmup(): Unit
  def op(i: Int, traced: Boolean): Outcome
  /** The workload's answer-quality ratio, computed untimed after the loop. */
  def quality(): Double
  /** Traced runs only: extra checked operations after the loop whose
    * spans feed per-layer metrics; returns each one's check result. */
  def epilogue(): Seq[Boolean] = Nil
  /** Workload-specific per-layer values, normalized per traced op. */
  def layers(tracedOps: Int): Map[String, Double]
}

/** Shared run context handed to the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val runDir: String,
                val tracer: Tracer, val probe: EngineProbe, val smoke: Boolean) {
  /** Time `body` as the operation itself: with tracing on, inside a span
    * named `name` with the engine counters live. */
  def timed[T](name: String, traced: Boolean)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r =
      if (traced) probe.measure(tracer)(tracer.span(name)(body))
      else body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A span around a benchmark call into one layer (traced ops only). */
  def layer[T](name: String, traced: Boolean)(body: => T): T =
    if (traced) tracer.span(name)(body) else body

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

object Main {
  /** Task slots. On the four-core host the benchmark was sized on, two
    * cores stay free for the Spark driver thread, the JIT compilers and GC: with
    * every core running tasks, operation times inside one run kept
    * drifting by 10-20% as compilation competed with tasks; at two slots
    * they repeat within a few percent. */
  val Cores = 2

  def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload NAME --seed N " +
      "--seconds S --trace 0|1 --run-dir DIR --trace-file FILE [--smoke]")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val opts = mutable.Map.empty[String, String]
    var smoke = false
    val it = argv.iterator
    while (it.hasNext) it.next() match {
      case "--smoke" => smoke = true
      case k if k.startsWith("--") && it.hasNext => opts(k.drop(2)) = it.next()
      case k => usage(s"unexpected argument $k")
    }
    def opt(k: String): String = opts.getOrElse(k, usage(s"--$k is required"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") match {
      case "0" => false
      case "1" => true
      case v => usage(s"--trace must be 0 or 1, got $v")
    }
    val runDir = opt("run-dir")
    val traceFile = opts.get("trace-file")

    val tracer = new Tracer(trace)
    val probe = new EngineProbe(Cores)
    val t0 = System.nanoTime()
    val spark = tracer.span("setup.session_s") {
      SparkSession.builder()
        .master(s"local[$Cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
        .config("spark.local.dir", s"$runDir/spark-local")
        // the status store keeps recent executions in the Spark driver's heap and
        // trims them in bulk past its limit; a small limit keeps the heap
        // after a run independent of how close it came to that limit
        .config("spark.sql.ui.retainedExecutions", "20")
        .config("spark.ui.retainedJobs", "20")
        .config("spark.ui.retainedStages", "20")
        .withExtensions(graft.functions.GraftFunctions.register)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(probe)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, seed, runDir, tracer, probe, smoke)
    val w: Workload = workload match {
      case "medallion" => new Medallion(ctx)
      case "curate" => new CurateWorkload(ctx)
      case "serve" => new ServeWorkload(ctx)
      case other => usage(s"unknown workload $other")
    }

    // input generation is repeated and its median taken; the standing
    // state is built once (its refreshes dominate and are steady)
    val reps = if (smoke) 1 else 3
    val gens = (1 to reps).map { rep =>
      val b0 = System.nanoTime()
      w.inputs(s"$runDir/inputs$rep")
      (System.nanoTime() - b0) / 1e9
    }
    val b0 = System.nanoTime()
    w.build()
    val buildS = (System.nanoTime() - b0) / 1e9
    val w0 = System.nanoTime()
    if (!smoke) tracer.span("setup.warmup_s")(w.warmup())
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(gens) + buildS + warmupS

    // leak / isolation guard: after every operation the persistent RDDs
    // and temp views must be those present after warm-up. What an
    // operation leaves behind is counted, then released, so the next
    // operation starts from the same state.
    val sc = spark.sparkContext
    def views = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val basePinned = sc.getPersistentRDDs.keySet.toSet
    val baseViews = views

    val lat = mutable.ArrayBuffer.empty[Double]
    val tracedLat = mutable.ArrayBuffer.empty[Double]
    var items = 0.0
    var attempted = 0
    var failed = 0
    val start = System.nanoTime()
    val minOps = if (trace) 2 else 1
    while (attempted < minOps || (System.nanoTime() - start) / 1e9 < seconds) {
      // a traced run alternates traced and untraced operations, so the
      // tracing overhead is measured within the run
      val traced = trace && attempted % 2 == 1
      tracer.op = attempted
      val o =
        try w.op(attempted, traced)
        catch {
          case e: Exception =>
            ctx.log(s"operation $attempted failed: $e")
            e.printStackTrace()
            Outcome(Double.NaN, 0, ok = false)
        }
      val extra = sc.getPersistentRDDs.filter { case (id, _) => !basePinned(id) }
      val newViews = views.diff(baseViews)
      val lostViews = baseViews.diff(views)
      if (traced) tracer.add("frames.pinned_rdds_after_op", extra.size.toDouble)
      if (extra.nonEmpty || newViews.nonEmpty)
        ctx.log(s"operation $attempted left ${extra.size} pinned RDDs and temp " +
          s"views ${newViews.mkString(",")}; released")
      extra.values.foreach(_.unpersist(blocking = true))
      newViews.foreach(spark.catalog.dropTempView)
      // a view the program registered and then lost is an output failure
      if (lostViews.nonEmpty) ctx.log(s"operation $attempted dropped temp views " +
        lostViews.mkString(","))
      attempted += 1
      if (!o.ok || lostViews.nonEmpty) failed += 1
      if (!o.seconds.isNaN) {
        (if (traced) tracedLat else lat) += o.seconds
        if (!traced) items += o.items
      }
    }
    tracer.op = -1
    val quality = w.quality()
    // Spark releases blocks of unreachable broadcasts and RDDs only after
    // a GC has found them unreachable, so collect a few times over
    val heapMb = {
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_s", median(lat.toSeq), "s"),
        ("items_per_s", items / lat.sum, "1/s"),
        ("quality_ratio", quality, "ratio"),
        ("ok_ratio", (attempted - failed).toDouble / attempted, "ratio"),
        ("live_heap_mb", heapMb, "MB"))
      else {
        // the loop's own per-layer values, taken before the epilogue so
        // its extra work never mixes into the per-operation engine counts
        val n = math.max(1, tracedLat.length)
        val perOp = PerLayer.names.map { case (name, unit) =>
          val v =
            if (name == "trace.overhead_s") median(tracedLat.toSeq) - median(lat.toSeq)
            else if (name == "setup.session_s") sessionS
            else if (name == "setup.warmup_s") warmupS
            else if (name == "setup.inputs_s") median(gens)
            else if (name.startsWith("setup.")) tracer.seconds(name)
            else if (name == "jvm.heap_peak_mb") tracer.counter(name)
            else if (tracer.seconds(name) > 0) tracer.seconds(name) / n
            else tracer.counter(name) / n
          (name, v, unit)
        }
        w.epilogue().foreach { ok =>
          attempted += 1
          if (!ok) failed += 1
        }
        val extra = w.layers(n)
        perOp.map { case (k, v, u) => (k, extra.getOrElse(k, v), u) }
      }
    traceFile.foreach(f => tracer.write(Paths.get(f)))

    val body = metrics.map { case (k, v, u) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString(", ")
    val line = s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}"""
    ctx.log(f"setup inputs ${gens.map(b => f"$b%.2f").mkString(",")} s, " +
      f"build $buildS%.2f s, session $sessionS%.2f s, " +
      f"warm-up $warmupS%.2f s, ops ${lat.map(l => f"$l%.2f").mkString(",")}")
    Files.write(Paths.get(runDir, "result.json"), (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

/** Every per-layer metric the traced run prints, with its unit. Values are
  * per traced operation unless the name says otherwise. */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.codegen_compiles" -> "count", "engine.codegen_compile_s" -> "s",
    "engine.slot_idle_s" -> "s", "engine.task_run_s" -> "s", "engine.task_cpu_s" -> "s",
    "engine.shuffle_write_bytes" -> "bytes", "engine.shuffle_read_bytes" -> "bytes",
    "engine.input_bytes" -> "bytes", "engine.spill_bytes" -> "bytes",
    "engine.gc_s" -> "s", "engine.failed_tasks" -> "count",
    "engine.files_discovered" -> "count",
    "jvm.jit_compile_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "windows.rollup_write_s" -> "s", "training_load.s" -> "s", "briefing.s" -> "s",
    "semantic_views.register_s" -> "s", "semantic_views.query_s" -> "s",
    "sources.gold_files_written" -> "count", "sources.gold_bytes_written" -> "bytes",
    "curate.quality_s" -> "s", "dedup.minhash_pairs_s" -> "s",
    "clusters.components_s" -> "s", "clusters.keeper_s" -> "s",
    "curation.decontam_s" -> "s", "sampling.pack_write_s" -> "s",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.pair_precision" -> "ratio",
    "admit.cycle_s" -> "s", "dedup.probe_hash_s" -> "s", "dedup.probe_band_s" -> "s",
    "ann.probe_pq_s" -> "s", "locks.wait_ms" -> "ms",
    "admit.rejected_exact" -> "count", "admit.rejected_near" -> "count",
    "admit.rejected_semantic" -> "count", "admit.rejected_intra" -> "count",
    "admit.screen_precision" -> "ratio", "admit.dup_reject_recall" -> "ratio",
    "admit.novel_admit_rate" -> "ratio",
    "sources.index_files" -> "count", "sources.index_bytes_per_doc" -> "bytes",
    "text_search.call_s" -> "s", "text_search.plan_s" -> "s", "text_search.exec_s" -> "s",
    "vector_search.call_s" -> "s", "vector_search.plan_s" -> "s",
    "vector_search.exec_s" -> "s",
    "hybrid_search.call_s" -> "s", "hybrid_search.plan_s" -> "s",
    "hybrid_search.exec_s" -> "s",
    "serve.bytes_scanned_per_request" -> "bytes",
    "frames.pinned_rdds_after_op" -> "count",
    "setup.session_s" -> "s", "setup.inputs_s" -> "s", "setup.refresh_band_s" -> "s",
    "setup.refresh_text_s" -> "s", "setup.refresh_pq_s" -> "s", "setup.append_s" -> "s",
    "setup.warmup_s" -> "s",
    "trace.overhead_s" -> "s")
}
