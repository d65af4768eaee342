package graft.tools

/** Automated physical-plan audit over the whole driver-contract query
  * surface — the per-round "is every plan still the plan we want" sweep,
  * as a tool instead of a by-hand Explain loop. For every
  * `SparkEntry.queries` entry it builds the plan (no execution unless the
  * operator materializes during construction) and reports:
  *
  *   - CartesianProduct occurrences (always a finding),
  *   - BroadcastNestedLoopJoin occurrences (compared against the known
  *     bounded-broadcast allowlist — q54/q60/q83/q101/q102/q153 and the
  *     pure-range similarity disjunct — so only NEW ones flag),
  *   - `WholeStageCodegen` span count (a plan suddenly dropping to zero
  *     spans signals an interpreted regression),
  *   - unpartitioned `WindowExec` / `WindowGroupLimitExec` (an empty
  *     partition spec collapses the frame into ONE partition — the
  *     global-rank scale-killer that hid in the eval-stats family until
  *     round 9's judge caught it live; bounded frames — |strata|-row
  *     quota ranking, ≤bins cumulative — ride the windowAllowlist),
  *   - per-query construction status (a query that throws at plan time is
  *     a finding even before Verify runs).
  *
  * Prints one line per flagged query and a `[audit]` summary; exits 0 on
  * a clean sweep, 1 otherwise. Run:
  * `sbt "runMain graft.tools.PlanAudit <sfDir> [query ...]"`.
  */
object PlanAudit {

  /** Queries whose BroadcastNestedLoopJoin is a documented, bounded
    * broadcast by design (small side is an eval set / query batch /
    * centroid table / one-row sketch / group matrix), plus the
    * similarity classifier's pure-range disjunct.
    */
  private val bnlAllowlist: Set[String] = Set(
    "q54_text_bm25",              // query-term literals probe the postings
    "q60_embed_nearest_centroid", // broadcast centroid table
    "q173_centroid_margin",       // same broadcast |labels|-row centroid fanout as q60
    "q83_knn_join",               // query batch broadcast into TopKAgg
    "q236_retrieval_metrics",     // q83's query-batch broadcast feeding the eval
    "q101_heavy_hitters",         // one-row sketch crossJoin
    "q102_decontaminate_semantic", // eval side broadcast — exactness is the contract
    "q127_ann_ivfpq_knn",         // literal centroid struct array broadcast
    "q140_join_size_est",         // two one-row sketch frames
    "q144_event_decay",           // one-row max-ts broadcast
    "q146_drift_chisq",           // two one-row total broadcasts
    "q148_key_skew",              // one-row totals broadcast
    "q139_validate_report",       // one-row counter frame
    "q149_validate_merge",        // one-row counter frames
    "q151_source_diversity",      // one-row totals broadcast
    "q152_embed_drift",           // one-row scalar crossJoins
    "q153_source_overlap_est",    // |keys|² group matrix — the requested output
    "q155_graph_hits",            // one-row norm crossJoins
    "q195_embed_dist_hist",       // all-pairs bounded by the hash sample — the diagnostic's contract
    "q192_reciprocity",           // one-row vertex-count crossJoin (the q148 scalar-attach class)
    "q197_ks_test",               // one-row group-totals crossJoin (same scalar-attach class)
    "q199_psi",                   // one-row group-totals crossJoin (same scalar-attach class)
    "q211_temporal_split",        // one-row corpus-start crossJoin (same scalar-attach class)
    "q214_psi_from_state",        // one-row bin-totals crossJoin (same scalar-attach class)
    "q215_cramers_v",             // one-row contingency-totals crossJoin (same scalar-attach class)
    "q217_benford",               // one-row digit-total crossJoin (same scalar-attach class)
    "q225_anova",                 // one-row grand-totals crossJoin (same scalar-attach class)
    "q228_ks_from_state",         // one-row bin-totals crossJoin (same scalar-attach class)
    "q231_js_divergence",         // one-row bin-totals crossJoin (same scalar-attach class)
    "q232_emd_from_state",        // one-row bin-totals crossJoin (same scalar-attach class)
    "q234_mutual_information",    // one-row contingency-total crossJoins (same scalar-attach class)
    "q235_info_gain",             // q234's per-feature one-row total crossJoins
    "q240_water_fill",            // one-row |strata|-count and water-level crossJoins
    "q241_term_chi2",             // one-row doc-total crossJoin (same scalar-attach class)
    "q242_betweenness",           // one-row max-pair-mass threshold crossJoin (same class)
    "q245_closeness",             // same one-row threshold crossJoin on the same graph build
    "q248_kappa",                 // one-row observed×chance-agreement crossJoin (scalar-attach class)
    "q251_t_closeness",           // one-row corpus-total crossJoin (same scalar-attach class)
    "q252_kendall",               // |cells|² upper-triangle pair fold (the q153 bounded-matrix class)
    "q255_target_encoding",       // one-row global-mean crossJoin (scalar-attach class)
    "q256_best_split",            // one-row class-totals crossJoin (scalar-attach class)
    "q260_prob_eval",             // one-row min/max score crossJoin (scalar-attach class)
    "q263_brown_forsythe",        // anovaF's one-row grand-totals crossJoin (the q225 class)
    "q264_nelson_aalen",          // one-row max-duration crossJoin (the q219 obs-frame class)
    "q265_acf",                   // one-row global-moments crossJoin (scalar-attach class)
    "q273_cochran_q",             // one-row row-margins × column-margins crossJoin (scalar-attach class)
    "q274_runs_test",             // one-row median broadcast crossJoin (scalar-attach class)
    "q275_mase",                  // types × hour-axis dense fill — |types|·|buckets| bounded expansion
    "q276_changepoint",           // one-row series-totals crossJoin (scalar-attach class)
    "q279_rrf_fusion",            // q54's one-row corpus-scalar (N/Σdl) attach inside the BM25 leg
    "q285_salt_plan",             // one-row table-total crossJoin (scalar-attach class)
    "q286_good_turing",           // one-row token-total crossJoin (scalar-attach class)
    "q288_hellinger",             // one-row side-totals crossJoin (the q231/q232 state class)
    "q289_brier_decomp",          // one-row min/max + base-rate attaches (the q260 class)
    "q290_dispersion",            // types × hour-axis dense fill (the q275 bounded class)
    "q291_capture_recapture",     // three one-row count frames crossJoined (scalar-attach class)
    "q294_nzv",                   // per-leg one-row totals × top-2 crossJoins (scalar-attach class)
    "q296_cuped",                 // one-row corpus-start-day crossJoin (scalar-attach class)
    "q297_bh_fdr",                // one-row k* step-up-threshold crossJoin (scalar-attach class)
    "q302_avg_precision",         // q236's query-batch broadcast knnJoin feeding the AP fold
    "q306_basket_pairs",          // one-row distinct-basket-total crossJoin (scalar-attach class)
    "q308_eb_rates",              // one-row Beta-prior crossJoin (scalar-attach class)
    "q311_kruskal_wallis",        // one-row tie-sum crossJoin (the q225 grand-totals class)
    "q312_wilcoxon_signed",       // one-row corpus-start-day crossJoin (the q296 class)
    "q313_friedman",              // one-row k / blocks×k totals crossJoins (scalar-attach class)
    "q314_c_index",               // |cells|² censoring-honest pair fold (the q252 bounded-matrix class) + one-row scalar attaches
    "q316_holm",                  // one-row k* step-down-threshold crossJoin (the q297 class)
    "q318_durbin_watson",         // one-row axis-origin + fit-scalar crossJoins (scalar-attach class)
    "q319_ljung_box",             // one-row global-moments crossJoin (the q265 class)
    "q320_breusch_pagan",         // one-row pass-1 fit crossJoin (scalar-attach class)
    "q321_cooks_distance",        // one-row fit/x̄/Sxx/SSE crossJoin (scalar-attach class)
    "q322_moods_median",          // one-row grand-median + 2×k-totals crossJoins (scalar-attach class)
    "q323_gk_gamma",              // |cells|² upper-triangle pair fold (the q252 bounded-matrix class)
    "q324_gk_lambda",             // four one-row margin-extrema crossJoins (scalar-attach class)
    "q327_icc",                   // anovaF's one-row grand-totals crossJoin (the q225 class)
    "q328_fleiss_kappa",          // one-row Σx²/column-total/dropped-count crossJoins (scalar-attach class)
    "q331_yule_walker",           // one-row global-moments crossJoin (the q265/q319 class)
    "q333_assoc_rules",           // one-row basket-total crossJoin (the q306 class, both rule directions)
    "q334_morans_i",              // one-row mean/num/den crossJoins (scalar-attach class)
    "q376_gearys_c",              // q334's one-row mean/num/den crossJoins (scalar-attach class)
    "q335_grubbs",                // one-row fit + max-deviation crossJoins (scalar-attach class)
    "q339_rmst",                  // one-row n/area crossJoins (scalar-attach class)
    "q340_page_trend",            // one-row k / L-fold crossJoins (the q313 class)
    "q341_jonckheere",            // |cells|² group-ordered pair fold (the q252 bounded-matrix class) + one-row margin attaches
    "q343_bland_altman",          // one-row bias/sd/limits crossJoin (scalar-attach class)
    "q346_quade",                 // one-row k / A4·B4 fold crossJoins (the q313 class)
    "q348_winsorized_corr",       // two one-row clamp crossJoins (scalar-attach class)
    "q350_newey_west",            // one-row global-moments + kernel-sum crossJoins (the q319 class)
    "q354_calinski",              // one-row W/B moment crossJoin (scalar-attach class)
    "q355_inequality",            // one-row log-moments/mean crossJoin (scalar-attach class)
    "q357_logrank_binned",        // one-row max-duration crossJoin (the q307 obs-frame class)
    "q358_km_binned",             // one-row max-duration crossJoin (the q219 obs-frame class)
    "q370_na_binned",             // one-row max-duration crossJoin (the q219 obs-frame class)
    "q359_cox",                   // one-row max-duration crossJoin (the q307 obs-frame class; bench face)
    "q360_by_fdr",                // one-row k* step-up-threshold crossJoin (the q297 class)
    "q362_hodges_lehmann",        // |cellsA|×|cellsB| difference fold (the q252 bounded-matrix class) + one-row totals/median-pick attaches
    "q363_ansari_bradley",        // one-row N-total crossJoin (scalar-attach class)
    "q364_cvm_from_state",        // one-row side-totals crossJoin (the q228/q231 state class)
    "q368_welch_anova",           // one-row weight-totals crossJoin (the q225 grand-totals class)
    "q372_cox_efron",             // q359's one-row state attaches (bench face)
    "q374_dunn"                   // k-row per-group summary pair fold (k = group cardinality, a dimension — the q252 bounded-matrix class) + one-row totals attach
  )

  /** Queries whose unpartitioned window runs over a frame that is BOUNDED
    * by construction — the input to the window is already collapsed to
    * ≤bins / |strata| / |checks| rows, so a single partition is the right
    * plan, not a scale risk. Anything NOT listed here that plans an
    * empty-partition-spec WindowExec is a finding: global rank/ntile/CDF
    * belongs on the Stats.runningTotal / globalNtile prefix-sum path.
    */
  private val windowAllowlist: Set[String] = Set(
    "q101_heavy_hitters",  // rank window over the ≤20-row TakeOrdered frame
    "q148_key_skew",       // rank window over the ≤topK-row TakeOrdered frame
    "q163_sample_quota",   // largest-remainder allocation over the |strata|-row count frame
    "q193_bootstrap_ci",   // rank-rule quantiles over the B(=200)-row replicate-mean frame
    "q203_hist_quantiles", // cumulative over the ≤bins-row histogram state
    "q206_neyman_sample",  // seat allocation over the |strata|-row moments frame
    "q220_gains",          // cumulative over the ≤bins-row binned frame (the ntile itself is prefix-sum)
    "q228_ks_from_state",  // bin-CDF cumulative over the ≤bins-row state
    "q229_auc_from_state", // neg-below cumulative over the ≤bins-row state
    "q232_emd_from_state", // bin-CDF cumulative over the ≤bins-row state
    "q233_lorenz",         // cumulative shares over the ≤bins-row binned frame (ntile is prefix-sum)
    "q240_water_fill",     // interval scan over the |strata|-row mass frame (q163/q206 class)
    "q242_betweenness",    // state-id ranking over the |event types|-row frame
    "q245_closeness",      // same |event types|-row state-id ranking
    "q247_mst",            // same |event types|-row state-id ranking
    "q264_nelson_aalen",   // at-risk + hazard cumulatives over the ≤|distinct durations| collapsed axis (the kaplanMeier class)
    "q274_runs_test",      // median rank pick + run lag over the ≤|buckets| collapsed series
    "q279_rrf_fusion",     // per-system rank over the ≤topK TakeOrdered survivor frames
    "q307_logrank",        // at-risk/total cumulatives over the ≤|distinct durations| collapsed axis (the q264 class)
    "q309_isotonic",       // monotonicity lag over the ≤bins LocalTableScan curve (the gate face)
    "q339_rmst",           // lag segments over the ≤|distinct durations| collapsed KM curve (the q264 class)
    "q340_page_trend",     // dose rank over the ≤k-row treatment frame (bounded by construction)
    "q351_km_ci",          // Greenwood cumsum over the ≤|distinct durations| collapsed axis (the q264 class)
    "q357_logrank_binned", // at-risk/total cumulatives over the ≤|bins| merged survival state — bounded by the bin grid, not |durations|
    "q358_km_binned",      // at-risk cumulative over the ≤|bins| merged survival state (the q357 class)
    "q369_gehan_wilcoxon", // at-risk/total cumulatives over the ≤|bins| merged survival state (the q357 class)
    "q370_na_binned",      // at-risk + hazard cumulatives over the ≤|bins| merged survival state (the q357 class)
    "q364_cvm_from_state"  // bin-CDF cumulative over the ≤bins-row state (the q228 class)
  )

  /** Queries whose RESULT frame is a driver-local table (LocalTableScan —
    * zero codegen subtrees by construction) because the distributed scan
    * ran eagerly during query construction and a bounded driver endgame
    * produced the final rows. The audit can't see the eager phase's plan;
    * the operator's scaladoc documents the split.
    */
  private val codegenExempt: Set[String] = Set(
    "q283_mmr",             // TakeOrdered pool scan (the q21 shape) + ≤poolSize driver greedy
    "q216_densest_subgraph", // Charikar peel loop runs EAGERLY at construction; the returned best-snapshot frame is local
    "q222_modularity",       // LPA label loop runs eagerly at construction; the scored result frame is local
    "q367_blocking_eval"     // the four counts run EAGERLY at construction; the one-row eval frame is local (the q283 class)
  )

  /** Count of window nodes whose partition spec is EMPTY — each one plans
    * the whole input into a single partition. Tree-walk, not string-parse:
    * the node's OWN partitionSpec is the signal (a window's string form
    * mentions its order spec either way). Spec-pinned against a
    * deliberately global window so the check cannot silently rot.
    */
  def unpartitionedWindows(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // AdaptiveSparkPlanExec keeps its physical tree OUT of `children`, so a
    // plain collect sees nothing under AQE — descend explicitly
    def walk(p: SparkPlan): Int = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty           => 1
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => 1
        case _                                                  => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _                        => p.children
      }
      self + kids.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    // AQE defers stage compilation, so a pre-execution plan reports zero
    // codegen subtrees and hides join strategy in AdaptiveSparkPlan —
    // the audit wants the STATIC plan shape (prod runs keep AQE on)
    val spark = graft.GraftSession("spark.sql.adaptive.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    var findings = 0
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        val cart = "CartesianProduct".r.findAllIn(plan).length
        val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
        // under AQE the executedPlan string carries no codegen markers
        // before execution — the codegen explain mode compiles the stages
        // and reports the subtree count directly
        val codegenStr = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
        val wsc = """Found (\d+) WholeStageCodegen""".r
          .findFirstMatchIn(codegenStr).map(_.group(1).toInt).getOrElse(0)
        val unpartWin = unpartitionedWindows(df)
        val newBnl = bnl > 0 && !bnlAllowlist.contains(name)
        val newWin = unpartWin > 0 && !windowAllowlist.contains(name)
        val noCodegen = wsc == 0 && !codegenExempt.contains(name)
        if (cart > 0 || newBnl || newWin || noCodegen) {
          findings += 1
          println(s"[audit] FLAG $name cartesian=$cart bnl=$bnl (allowed=${!newBnl}) " +
            s"unpartWindow=$unpartWin (allowed=${!newWin}) codegenSpans=$wsc")
        }
      } catch {
        case e: Throwable =>
          findings += 1
          println(s"[audit] FLAG $name plan construction failed: ${e.getMessage}")
      }
      graft.Caches.clear()
    }
    println(s"[audit] ${names.size} queries audited, $findings flagged")
    spark.stop()
    if (findings > 0) sys.exit(1)
  }
}
