package graft

import graft.operators.{Analytics, Experiments}
import graft.sources.InsightStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correlation-discovery run — the engine form of the reference's CLI
  * runner (reference: scripts/run_correlation_discovery.py:20-103 — run
  * the discovery battery, load the PRIOR persisted run to tell new
  * findings from repeats, save the result keyed by run date; the engine
  * it drives is insights_engine/insights/correlation_discovery.py, whose
  * scan is q15's Spearman lag battery + q78's Pearson panel here).
  *
  * Differences by design: `runDate` is an argument, never the clock
  * (replayability — same discipline as [[graft.sources.ExperimentStore]]),
  * and new-finding detection is a LEFT ANTI join against the prior run's
  * finding keys instead of a Python set diff — the store's frames stay
  * distributed end to end.
  */
object Discover {

  case class Summary(runDate: String, findings: Long, newFindings: Long,
                     priorRun: Option[String])

  /** One discovery run: battery → diff vs prior → persist. Findings are
    * the q15 lag correlations passing `minRho` plus q78's per-entity
    * significant panels, unified under (kind, key, rho) so runs diff by
    * key. Returns the run summary; the persisted frame IS the finding
    * table (queryable history for free, InsightStore contract).
    */
  def run(spark: SparkSession, dataDir: String, storeDir: String,
          runDate: String, minRho: Double = 0.25): Summary = {
    val lagF = Analytics.q15SpearmanLag(spark, dataDir)
      .filter(abs(col("spearman_rho")) >= minRho || col("significant_bonferroni") === 1)
      .select(
        lit("lag_spearman").as("kind"),
        concat(lit("view->purchase@lag"), col("lag")).as("finding_key"),
        col("spearman_rho").as("rho"),
        col("n_pairs").cast("long").as("n"))
    val panelF = Experiments.q78CorrelationPanel(spark, dataDir)
      .filter(col("significant") === 1 && abs(col("r")) >= minRho)
      .select(
        lit("pearson_panel").as("kind"),
        concat(lit("purchase->view+1@user"), col("user_id")).as("finding_key"),
        col("r").as("rho"),
        col("n").as("n"))
    // persist: the battery (two fact scans + windows) is consumed three
    // times below (anti-join count, save, total count) — without it each
    // consumer would replay the full scan.
    val findings = lagF.unionByName(panelF).persist()
    try {
      val priorRun = InsightStore.listRuns(spark, storeDir).lastOption
      val newCount = priorRun match {
        case Some(d) =>
          val prior = InsightStore.loadByDate(spark, storeDir, d).get
            .select("finding_key")
          findings.join(prior, Seq("finding_key"), "left_anti").count()
        case None => findings.count()
      }

      InsightStore.save(findings, runDate, storeDir)
      Summary(runDate, findings.count(), newCount, priorRun)
    } finally findings.unpersist()
  }

  /** CLI: dataDir storeDir runDate [minRho] → one summary JSON line. */
  def main(args: Array[String]): Unit = {
    val Array(dataDir, storeDir, runDate) = args.take(3)
    val minRho = args.lift(3).map(_.toDouble).getOrElse(0.25)
    val spark = Session.local()
    val s = run(spark, dataDir, storeDir, runDate, minRho)
    spark.stop()
    println(s"""{"run_date":"${s.runDate}","findings":${s.findings},""" +
      s""""new_findings":${s.newFindings},"prior_run":${s.priorRun.map(d => s""""$d"""").getOrElse("null")}}""")
  }
}
