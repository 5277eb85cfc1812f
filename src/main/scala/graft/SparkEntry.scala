package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each module under graft.analytics contributes (name, query, oracle)
  * triples; queries without DuckDB-expressible semantics contribute None
  * and get the driver's weaker rows-only check.
  */
object SparkEntry {

  private def modules: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    analytics.Relational.defs ++ analytics.ChainOps.defs ++
      analytics.LLMOps.defs ++ analytics.TemporalOps.defs ++
      analytics.CurationOps.defs ++ analytics.ScaleOps.defs ++
      analytics.GraphOps.defs ++ analytics.MiningOps.defs ++
      analytics.StatsOps.defs ++ analytics.EvalOps.defs ++
      analytics.AuditOps.defs ++ analytics.InferOps.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The pricing summary always yields the 6 (returnflag, linestatus)
    * groups regardless of scale factor.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Golden-pinned statistical variants. History: an interrupted
    * round-13 session DEMOTED these 39 from the declared surface
    * (VERDICT r12 ask #2's retire clause, written under build-round
    * semantics). The optimization-round driver contract is stricter —
    * a declared query that disappears is a REGRESSION regardless of
    * speed — so the demotion was reverted the same round: [[queries]] /
    * [[oracleSql]] expose the FULL surface again. The set itself is
    * kept because the golden row-hash pins it gained
    * (GoldenPinnedSpec, sf0.001, captured oracle-green) are free extra
    * regression coverage for the plan families they sample.
    */
  val goldenPinned: Set[String] = Set(
    // two-phase midrank family (anchor: q310_mann_whitney)
    "q349_ansari_bradley", "q346_wilcoxon_signed_rank", "q320_mood_median",
    "q239_kruskal_wallis", "q248_friedman", "q351_page_trend",
    // contingency/count-test + moment-scalar family (anchor: q141_chi2_terms)
    "q321_g_test", "q294_cramers_v", "q318_cochran_armitage",
    "q247_mcnemar", "q236_prop_test", "q237_cmh_odds", "q240_anova_f",
    "q327_jarque_bera", "q339_effect_size", "q338_wilson_ci",
    "q249_cochran_q",
    // two-sample distribution tests (anchor: q193_ks_test)
    "q345_cvm_test", "q195_welch_drift", "q315_brown_forsythe",
    // serial-correlation scalar family (anchor: q183_autocorr)
    "q263_acf_ljung_box", "q323_durbin_watson", "q341_dickey_fuller",
    "q324_granger_lagf", "q347_pacf", "q322_runs_test",
    // composites / sweeps / per-pair-kernel variants of declared plans
    "q308_percolation_sweep", "q231_threshold_sweep", "q113_dedup_funnel",
    "q89_curation_v2", "q114_mad_outliers", "q271_neyman_sample",
    "q266_conformal", "q337_key_discovery", "q177_er_damerau",
    "q151_basket_triples",
    // layout-advisor family (anchors: q303_zorder_advisor, q155_zorder_layout)
    "q326_rle_advisor", "q314_hilbert_advisor", "q267_zonemap_advisor")

  /** One entry per implemented operator from SURVEY.md §2 — the
    * DECLARED surface the driver benches and oracle-checks. Every
    * query ever declared stays declared (optimization-round contract:
    * entries may be added, never removed or renamed). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map { case (n, f, _) => n -> f }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.collect { case (n, _, Some(sql)) => n -> sql.trim }.toMap
}
