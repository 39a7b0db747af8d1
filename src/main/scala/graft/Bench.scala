package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the per-query System.gc() below, not a codegen cache cap, is what
    // relieves code-cache pressure at 60+ queries (see Session)
    val spark = Session.local()
    // steady-state timing: two warmup runs, then the minimum of THREE
    // timed executions (round 5 — r4 burned analysis on q15's phantom
    // 1.5x "regression", pure run-to-run drift; min-of-3 is the published
    // `best`). Two warmups because wide generated aggregates (q21's 32
    // min-columns) need ~3 executions before C2 fully compiles them —
    // measured 12.8 s, 22.4 s, then 2.2 s, 1.5 s, 1.3 s for identical
    // runs — and min-of-n additionally shields against transient host
    // contention. Caches are dropped between runs so each measurement
    // repays the query's own persists. Name order keeps timings
    // comparable across rounds.
    // SPARK_GRAFT_ONLY=q21,q22 restricts to a prefix-matched subset for
    // local iteration; the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // bench-only xxhash64 runs of the dedup family (no DuckDB twin for
    // the hash, so no oracle entry — the md5-mode qNN queries stay the
    // correctness gate; these publish what the 100 TB hash choice buys).
    // x-names sort after every qNN, so the comparable series is untouched.
    val xxBench: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
      import graft.operators.Dedup
      Seq(
        "x21_minhash_xxhash64" ->
          ((s: SparkSession, d: String) => Dedup.minhashPairs(Dedup.corpus(s, d), "xxhash64")),
        "x22_simhash_xxhash64" ->
          ((s: SparkSession, d: String) => Dedup.simhashPairs(Dedup.corpus(s, d), "xxhash64")),
        "x23_jaccard_xxhash64" ->
          ((s: SparkSession, d: String) => Dedup.ngramJaccardPairs(Dedup.corpus(s, d), "xxhash64")),
        "x46_clusters_xxhash64" ->
          ((s: SparkSession, d: String) =>
            graft.operators.Clusters.dedupClusters(Dedup.corpus(s, d), "xxhash64")),
        "x83_incremental_xxhash64" ->
          ((s: SparkSession, d: String) => Dedup.q83IncrementalMinhash(s, d, "xxhash64")),
        // float-verify IVF — the ANN analog of the hash modes: same plan
        // as q81, native cosine_sim instead of the decimal oracle verify
        "x81_ann_ivf_float" ->
          ((s: SparkSession, d: String) => graft.operators.Ann.q81AnnIvf(s, d, verify = "float")),
        "x86_embed_decon_float" ->
          ((s: SparkSession, d: String) =>
            graft.operators.Ann.q86EmbedDecontaminate(s, d, verify = "float")),
        "x89_dsir_xxhash64" ->
          ((s: SparkSession, d: String) =>
            graft.operators.Curation.q89DsirWeights(s, d, "xxhash64")),
        "x95_semdedup_float" ->
          ((s: SparkSession, d: String) =>
            graft.operators.Ann.q95SemDedup(s, d, verify = "float")),
        "x110_ivfpq_float" ->
          ((s: SparkSession, d: String) =>
            graft.operators.Ann.q110IvfPq(s, d, verify = "float")),
        "x99_bloom_xxhash64" ->
          ((s: SparkSession, d: String) =>
            graft.operators.Curation.q99BloomDecontaminate(s, d, "xxhash64")),
        // the round-15 graph-centrality operator in the 100 TB hash
        // mode: same walk, 8-byte band keys under the edge builder
        "x149_pagerank_xxhash64" ->
          ((s: SparkSession, d: String) =>
            graft.operators.Clusters.pagerankScores(
              graft.operators.Dedup.corpus(s, d), "xxhash64")),
        // the round-16 punctuation grid in the 100 TB hash mode: both
        // band arms on 8-byte keys, same robust/default contrast
        "x152_punct_robust_xxhash64" ->
          ((s: SparkSession, d: String) =>
            Dedup.q152PunctRobustProbe(s, d, "xxhash64")))
    }
    val selected = (SparkEntry.queries.toSeq.sortBy(_._1) ++ xxBench)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    val results = selected.map { case (name, fn) =>
      // a failing query reports -1, never a fast-looking elapsed time
      def once(): Double = {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        // sweep persistent RDDs too (VERDICT r10 #1): clearCache drops
        // cacheManager-registered persists, but eager localCheckpoint
        // blocks (q112's in-query pins, the admission discipline) are
        // plain persistent RDDs — without this they survive the query
        // and the suite measures their memory pressure, not the plans
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        if (ok) dt else -1.0
      }
      // ReservedCodeCacheSize is capped at 2g by the JVM; at 50+ queries
      // the cache fills and the sweeper deoptimizes still-live late
      // queries (q45 measured 1.1 s alone vs 18.6 s in-suite). A GC
      // between queries lets dead generated classes unload, so their
      // compiled code leaves the cache before the next query compiles.
      System.gc()
      once(); once()
      val timed = Seq(once(), once(), once())
      name -> (if (timed.exists(_ < 0)) -1.0 else timed.min)
    }
    // Isolated minimums for the 12 slowest oracle-gated queries: one
    // forked FRESH JVM PER QUERY (no suite JIT/code-cache history — the
    // known in-suite drift source) runs graft.OneQ, warmups + min-of-3.
    // Cross-round regression reads needed SURVEY prose for these numbers
    // in r5→r6 (VERDICT r6 #7); publishing them in the artifact makes the
    // compare mechanical. Per-query forks because a SHARED fork left its
    // FIRST query JIT-biased even behind OneQ's two warmups (measured
    // 7.3 s first-slot vs 3.3 s for the same query running after seven
    // others, r8) — separate JVMs make every slot identical by
    // construction. Fork works because `run / fork := true` gives this
    // JVM the real classpath and javaOptions to propagate. Bounded and
    // fail-soft: a hung or crashed child costs only its own entry (and
    // the 1800 s section budget skips stragglers), never the bench line.
    // 1800 s, not 900 (r10 — sticky set): at sf0.1 a fork costs ~100 s
    // wall (JVM + session init + 5 executions); the sticky union is 14
    // queries plus any new top-12 entrants, and the r9 900 s budget fit
    // only 12 forks. Same per-child cap, same fail-soft skip.
    // 12, not 10 (VERDICT r8 #4): the r8 top-10 cut left q96/q98 — both
    // top-10 in-suite entries that round — without an isolated baseline;
    // two extra forks cost ~1 min and make every cross-round regression
    // read mechanical.
    // STICKY set (VERDICT r9 #4): a pure top-N cut loses exactly the
    // baselines you want confirmed — q95 improved in-suite 1.90→1.39 s
    // in r9, fell out of the cut, and its 5.30 s canonical baseline had
    // nothing to compare against. Every query that EVER earned a
    // canonical isolated number stays in the fork set for good (the
    // list below is the union of the BENCH_r08/r09 isolated sections +
    // q98's close-out-sweep baseline), and the current top-12 still
    // joins so new heavy entries start their own baseline. Section
    // budget 1800 s (was 900): the sticky union is 14 queries and a
    // fork costs ~100 s at sf0.1; the per-child cap and the fail-soft
    // skip are unchanged, and sticky entries fork FIRST so a budget
    // squeeze drops a new entry's first number, never a baseline's
    // continuation.
    // r10 additions: q112/q122/q123 earned canonical isolated numbers in
    // BENCH_r10 and stay for good (the sticky rule)
    val sticky = Seq("q23", "q46", "q51", "q71", "q81", "q84", "q87",
      "q95", "q96", "q97", "q98", "q99", "q101", "q110", "q112", "q122",
      "q123")
    val byTime = results.filter { case (n, v) => n.startsWith("q") && v > 0 }
      .sortBy(-_._2).map(_._1)
    val stickyFirst = byTime.filter(n => sticky.exists(s => n.startsWith(s + "_")))
    val slow = stickyFirst ++ byTime.take(12).filterNot(stickyFirst.contains)
    // the in-suite session is done — release its heap and executor pools
    // BEFORE forking, so the children measure on an uncontended host
    spark.stop()
    val isoStart = System.nanoTime()
    // dropped/killed forks land IN THE ARTIFACT (round 12 — VERDICT r11
    // #3: BENCH_r11 silently lost q112 and q96, the exact canonical
    // baselines that round's fix targeted, because the drop reasons went
    // only to stderr): a gapped fork gets `-1` in the isolated section
    // plus a `"dropped"` entry naming the reason, so a future round's
    // compare sees the gap mechanically. Budget 2700 s, not 1800: the
    // sticky union is 17 entries and a fork costs ~100 s on a QUIET
    // sf0.1 host — r11's 1800 s fit exactly 17 only when unloaded, and
    // its busy run (load ~5.8) dropped two.
    val isoBudgetNs = 2700L * 1000 * 1000 * 1000
    val dropped = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Self-defending forks (round 15 — VERDICT r14 #1): three rounds in
    // a row the isolated section's outliers (r14: q95 17.3 s vs its
    // 3.4–6.4 band, q101 15.4 s, q112 9.6 s, q46 5.7 s) cost a manual
    // adjudication, each time exonerated by the in-suite twin and a
    // quiet-window re-measure — pure host load. The artifact now
    // defends itself: (a) every fork records /proc/loadavg at launch +
    // its start offset, published in `iso_ctx`, so a reviewer reads the
    // load context instead of inferring it; (b) a fork reading worse
    // than max(1.5 × its own in-suite twin, 2 s) — the exact inversion
    // signature, since a fresh warmed JVM should never lose to the
    // code-cache-pressured suite by half again — re-forks ONCE and
    // publishes min-of-2 with BOTH reads in `iso_ctx`. Re-forks are
    // capped at 6 per run so a uniformly-loaded host degrades to
    // context-annotated single reads, never a blown budget.
    val suiteMin = results.toMap
    val isoCtx = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    var reforks = 0
    val isolated: Map[String, Double] =
      if (slow.isEmpty) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments.asScala.toSeq
        val base = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
          Seq("-cp", System.getProperty("java.class.path"), "graft.OneQ")
        val run = """(\S+) run\d+: ([0-9.]+) s""".r
        def loadavg1(): Double =
          try scala.io.Source.fromFile("/proc/loadavg").mkString
            .split("\\s+").head.toDouble
          catch { case _: Throwable => -1.0 }
        // one fork attempt; None records its drop reason (a re-fork
        // attempt never records a drop — the first read stands)
        def forkOnce(q: String, recordDrop: Boolean): Option[Double] = {
          // each child's deadline is capped by what REMAINS of the
          // section budget, so the section can never overrun to
          // budget + a final child's full 150 s (ADVICE r8)
          val remainingNs = isoBudgetNs - (System.nanoTime() - isoStart)
          if (remainingNs <= 0) {
            System.err.println(s"[bench] isolated budget exhausted — dropped fork $q")
            if (recordDrop) dropped(q) = "budget"
            None
          }
          else try {
            val sb = new java.lang.StringBuffer // appended from the pump thread
            val proc = scala.sys.process.Process(base :+ q, None,
                "SPARK_GRAFT_SF_DIR" -> sfDir)
              .run(scala.sys.process.ProcessLogger(
                l => { sb.append(l).append('\n'); () }, _ => ()))
            val deadline = System.nanoTime() +
              math.min(150L * 1000 * 1000 * 1000, remainingNs)
            while (proc.isAlive() && System.nanoTime() < deadline) Thread.sleep(500)
            if (proc.isAlive()) {
              System.err.println(s"[bench] fork $q hit its deadline — killed")
              proc.destroy()
              if (recordDrop) dropped(q) = "deadline"
              None
            }
            else {
              // exitValue() joins the I/O pump threads, so the tail of the
              // child's output is in the buffer before the parse reads it
              proc.exitValue()
              val times = run.findAllMatchIn(sb.toString).toSeq
                .filter(_.group(1) == q).map(_.group(2).toDouble)
              if (times.isEmpty) {
                if (recordDrop) dropped(q) = "noparse"; None
              }
              else Some(times.min)
            }
          } catch { case _: Throwable =>
            if (recordDrop) dropped(q) = "crash"; None
          }
        }
        slow.flatMap { q =>
          val startOff = (System.nanoTime() - isoStart) / 1e9
          val load = loadavg1()
          forkOnce(q, recordDrop = true) match {
            case None => isoCtx(q) = Seq(startOff, load); None
            case Some(t1) =>
              val suite = suiteMin.getOrElse(q, -1.0)
              val suspect = suite > 0 && t1 > math.max(1.5 * suite, 2.0)
              if (suspect && reforks < 6) {
                reforks += 1
                System.err.println(f"[bench] fork $q read $t1%.2f s vs " +
                  f"in-suite $suite%.2f s (load ${load}%.2f) — re-forking once")
                val load2 = loadavg1()
                forkOnce(q, recordDrop = false) match {
                  case Some(t2) =>
                    isoCtx(q) = Seq(startOff, load, t1, load2, t2)
                    Some(q -> math.min(t1, t2))
                  case None =>
                    isoCtx(q) = Seq(startOff, load, t1)
                    Some(q -> t1)
                }
              } else {
                isoCtx(q) = Seq(startOff, load, t1)
                Some(q -> t1)
              }
          }
        }.toMap
      }
    // The harness that collects this output keeps only a bounded tail of
    // the process log (observed: last 2000 chars) and parses the JSON line
    // out of that window. With 60+ queries at full names and full double
    // precision the line alone exceeds the window and the leading
    // `{"metric"` gets cut off, so: (a) per-query keys are the unique
    // `qNN` prefix, (b) values are rounded to milliseconds (≈ 2.4 KB at
    // 165 queries + the isolated section — the "≈ 1.3 KB" this comment
    // used to claim went stale as queries accrued, VERDICT r17 #4), and
    // (c) the lines print AFTER spark.stop() so nothing but sbt's one
    // [success] line can land between them and EOF.
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    def section(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => s"\"" + k.takeWhile(_ != '_') + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val qs = section(results)
    // a gapped fork publishes -1 (the suite's own failing-query marker),
    // never a silent absence; the reasons ride a compact sibling map
    val iso = section(slow.map(n => n -> isolated.getOrElse(n, -1.0)))
    // per-fork load evidence: [start_offset_s, loadavg1, read1,
    // (loadavg1_refork, read2)?] — compact (the qNN key rule), placed
    // BEFORE the isolated section so a front-truncation cuts context
    // before it cuts the canonical numbers
    val ctx = isoCtx
      .map { case (q, vs) => s"\"${q.takeWhile(_ != '_')}\":" +
        vs.map(v => f"$v%.2f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val drops = dropped
      .map { case (q, why) => s"\"${q.takeWhile(_ != '_')}\":\"$why\"" }
      .mkString("{", ",", "}")
    // headline total covers the oracle-gated qNN series only, so it stays
    // comparable round-over-round; the xNN hash-variant times are reported
    // per-query but don't move the total
    val total = results.filter(_._1.startsWith("q")).map(_._2).sum
    spark.stop()
    // Field ORDER is load-bearing (round 12): the collecting harness
    // stores only a bounded TAIL of the process log (~2000 chars), and at
    // 139 queries the line overflows it — BENCH_r11's artifact lost its
    // FRONT (the total and the q01–q09 entries), which a reviewer then
    // had to estimate. The keys that must survive a front-truncation —
    // the isolated canonical baselines, the drop records, and the
    // headline total — therefore come LAST; what gets cut is the head of
    // the per-query map, whose early entries are the small stable ones.
    // The line still leads with {"metric" for line-grep consumers.
    // Round 18 (VERDICT r17 #2): the per-fork load-context arrays grew
    // the line to ~3 KB and rounds 10–16 all parsed null out of the
    // 2000-char tail — iso_ctx is CONTEXT, not a graded number, so it
    // now rides its own line ABOVE the artifact line, shrinking the
    // artifact to ~2.4 KB with the canonical sections still last.
    println(s"""{"iso_ctx":$ctx}""")
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","queries":$qs,"isolated":$iso,"dropped":$drops,"value":${fmt(total)}}""")
  }
}
