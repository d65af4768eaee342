package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ids.ZipWithIndex
import graft.ops.{Decontaminate, Dedup, Multimodal, SimilaritySearch, TextAnalysis, VectorOps}
import graft.rules._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 plus the training-data-pipeline operators, each with a
  * DuckDB-equivalent oracle in [[SparkEntry.oracleSql]] where the semantics
  * are ANSI-SQL-expressible (xxhash64-based operators get rows-only checks).
  *
  * Conventions:
  *  - every computed column is aliased identically in the Spark plan and the
  *    oracle SQL (the driver's compare sorts columns by name before hashing);
  *  - double aggregates are rounded (2 for money sums, 6 for ratios/scores)
  *    so cross-engine float summation order cannot flip the hash;
  *  - results with engine-nondeterministic pair orientation (clique edges)
  *    are canonicalized with least/greatest.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The events table with `ts` normalized to a NANO-epoch long whatever
    * the file's physical unit: a TIMESTAMP(NANOS) file arrives as a long
    * already (the `nanosAsLong` conf in Verify/Bench/specs — pass-through),
    * while a µs/ms-precision file arrives as TIMESTAMP(_NTZ) and converts
    * via `unix_micros` at the session's pinned UTC zone — exactly the
    * oracles' `epoch_ns(ts)`. Every ts-arithmetic query must read events
    * through this, not [[T]]: the driver regenerates the testdata between
    * rounds and the unit has changed before (nanos → µs at round 8).
    */
  private def E(s: SparkSession, dir: String): DataFrame = {
    val df = T(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn(
        "ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }
  }

  /** Gap-filled DAILY event-volume series `(t, x)` — the q265 hourly
    * construction one granularity up, shared by the time-series
    * diagnostics (q318 Durbin–Watson, q319 Ljung–Box): day buckets off
    * the nano axis, missing days filled with 0 so consecutive-lag
    * pairing sees the true axis.
    */
  private def dailySeries(s: SparkSession, dir: String): DataFrame = {
    val days = E(s, dir).select(expr("ts div 86400000000000").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("x"))
    val bounds = days.agg(min(col("d")).as("_lo"), max(col("d")).as("_hi"))
    // axis starts at 0, not the epoch day: t² on the absolute axis
    // overflows DuckDB's int64 decimal fast path, and a near-origin
    // axis is better-conditioned for the moment fits either way
    val axis = bounds.select(col("_lo"),
      explode(sequence(col("_lo"), col("_hi"))).as("_d0"))
    axis.join(days.withColumnRenamed("d", "_d0"), Seq("_d0"), "left")
      .select((col("_d0") - col("_lo")).as("t"), coalesce(col("x"), lit(0L)).as("x"))
  }

  /** Hash family for the sketch queries (q18/q22/q29). Defaults to
    * [[graft.ops.Md5Hash]] — the portable family the DuckDB oracles
    * replicate, which is what Verify (the correctness gate) must run.
    * [[graft.Bench]] switches to the production XxHash path
    * (`-Dgraft.hash=xxhash`, overridable via `SPARK_GRAFT_HASH`) so the
    * recorded numbers measure what deployments actually run: md5 carries a
    * ~3× penalty on the minhash signature aggregation.
    */
  private[graft] def activeHash: graft.ops.HashFamily =
    sys.props.get("graft.hash").orElse(sys.env.get("SPARK_GRAFT_HASH")) match {
      case Some("xxhash") => graft.ops.XxHash
      case _              => graft.ops.Md5Hash
    }

  /** True inside [[graft.Bench]] (`-Dgraft.mode=bench`): q27 then times the
    * plain IVF cell-restricted query. Everywhere else q27 evaluates the
    * recall gate vs brute force — the Verify-facing contract (seeded KMeans
    * isn't SQL-expressible, so recall IS the checkable property, but it must
    * not pollute the latency signal of the index path).
    */
  private[graft] def benchMode: Boolean = sys.props.get("graft.mode").contains("bench")

  /** Optional ANF per-round shuffle budget in MB (`graft.anf.budget.mb`
    * property / `SPARK_GRAFT_ANF_BUDGET_MB` env) — set by the heavy-tier
    * scale probe so q304's lgK auto-downgrades on a single box instead of
    * filling the disk with dense sketches; unset under Verify/Bench, so
    * default runs keep lgK=11 exactly. */
  private[graft] def anfShuffleBudget: Option[Long] =
    sys.props.get("graft.anf.budget.mb")
      .orElse(sys.env.get("SPARK_GRAFT_ANF_BUDGET_MB"))
      .map(_.trim.toLong << 20)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Full reference pipeline shape: dense-id assignment + similarity
    * self-theta-join (SURVEY.md §2.3 J1, §2.4 A7).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val vertices = ZipWithIndex.zipWithIndex(
      T(spark, dir, "customer").orderBy("c_custkey").select(col("c_custkey"), col("c_nationkey")),
      offset = 200
    )
    val rule = new SimilarityClassifier(SimilarityConfig("c_nationkey"))
    rule.classify(vertices.limit(0), vertices)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ------------------------------------------------- eval / weighting drawer 2

    // per-class precision/recall/F1 of the q136 language classifier —
    // the multiclass scoreboard (WHERE it fails, class by class)
    "q258_prf_report" -> ((s, dir) =>
      graft.ops.Stats.classificationReport(
        T(s, dir, "documents"),
        pred = TextAnalysis.langId(col("text")), label = col("lang"))),

    // McNemar paired test: langId vs the hashed-ngram model as "is it
    // English?" detectors on the SAME documents — only the discordant
    // pairs carry evidence
    "q259_mcnemar" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val scores = TextAnalysis.hashedNgramScore(docs, hash = activeHash)
      val j = docs.select(col("doc_id"), col("lang"), col("text"))
        .join(scores, Seq("doc_id"))
      graft.ops.Stats.mcnemarTest(j,
        predA = TextAnalysis.langId(col("text")) === "en",
        predB = col("score") > 0.0,
        label = col("lang") === "en")
    }),

    // probability quality of the hashed-ngram score min-max squashed
    // into [0,1]: Brier + log-loss + ECE in one row
    "q260_prob_eval" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val scores = TextAnalysis.hashedNgramScore(docs, hash = activeHash)
      val mm = scores.agg(min(col("score")).as("_lo"), max(col("score")).as("_hi"))
      val p = scores.crossJoin(broadcast(mm))
        .withColumn("_p", when(col("_hi") > col("_lo"),
          (col("score") - col("_lo")) / (col("_hi") - col("_lo"))).otherwise(lit(0.5)))
      val lab = p.join(
        docs.select(col("doc_id"), (col("lang") === "en").as("_y")), Seq("doc_id"))
      graft.ops.Stats.probEvalReport(lab, col("_p"), col("_y"))
    }),

    // A/B read: do even-id users convert to purchase more than odd-id
    // users? pooled z + Wilson intervals off per-user conversion flags
    "q261_ab_test" -> ((s, dir) => {
      val per = E(s, dir).groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("_cv"))
        .select(when(col("user_id") % 2 === 0, "even").otherwise("odd").as("_v"),
          (col("_cv") === 1L).as("_s"))
      graft.ops.Stats.twoProportionTest(per, col("_v"), col("_s"))
    }),

    // entropy l-diversity of language inside each source — does knowing
    // the source effectively disclose the language?
    "q262_l_diversity" -> ((s, dir) =>
      graft.ops.Privacy.entropyLDiversity(
        T(s, dir, "documents"), quasiCols = Seq("source"), sensitive = "lang", l = 2.0)),

    // Brown–Forsythe: do doc-length SPREADS differ across languages?
    // (q225 asked about the means; this is the variance prerequisite)
    "q263_brown_forsythe" -> ((s, dir) =>
      graft.ops.Stats.brownForsythe(
        T(s, dir, "documents"), value = col("n_chars"), groupCol = col("lang"))),

    // Nelson–Aalen cumulative hazard of the q219 churn observations —
    // the additive twin of the Kaplan–Meier curve
    "q264_nelson_aalen" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val u = days.groupBy(col("user_id"))
        .agg(min(col("day")).as("_fd"), max(col("day")).as("_ld"))
      val obs = u.crossJoin(broadcast(u.agg(max(col("_ld")).as("_md"))))
        .select((col("_ld") - col("_fd")).as("dur"),
          (col("_ld") <= col("_md") - 3).as("ev"))
      graft.ops.EventAnalytics.nelsonAalen(obs, col("dur"), col("ev"))
    }),

    // sample ACF of the hourly event volume at lags 0..12 (gap hours
    // filled with 0 so the lag pairing sees the true axis)
    "q265_acf" -> ((s, dir) => {
      val hours = E(s, dir).select(expr("ts div 3600000000000").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("x"))
      val bounds = hours.agg(min(col("h")).as("_lo"), max(col("h")).as("_hi"))
      val axis = bounds.select(explode(sequence(col("_lo"), col("_hi"))).as("t"))
      val series = axis.join(hours.withColumnRenamed("h", "t"), Seq("t"), "left")
        .select(col("t"), coalesce(col("x"), lit(0L)).as("x"))
      graft.ops.EventAnalytics.autocorrelation(series, maxLag = 12)
    }),

    // Dunning G² collocations: the 20 most significant adjacent bigrams
    // (q134's lift rewards rare coincidences; G² demands evidence)
    "q266_collocations" -> ((s, dir) =>
      TextAnalysis.collocationsG2(T(s, dir, "documents"), topK = 20, minPairCount = 20L)),

    // raking: IPF cell weights balancing source × language to uniform
    // margins — the "fix my training mix" table
    "q267_raking" -> ((s, dir) =>
      graft.ops.Sampling.ipfWeights(
        T(s, dir, "documents"), rowCol = col("source"), colCol = col("lang"), rounds = 3)),

    // split-conformal length bands per language: q131's hash fold 0
    // calibrates the 90% threshold, the other folds check coverage
    "q268_conformal" -> ((s, dir) => {
      val folded = graft.ops.Sampling.kFold(
        T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        key = col("doc_id"), k = 5, hash = activeHash)
      graft.ops.Stats.conformalQuantile(folded,
        score = col("n_chars"), isCal = col("fold") === 0, groupCols = Seq("lang"))
    }),

    // recurring 3-step behavior motifs mined from anywhere in the stream
    // (q166 ranks each user's leading path; this slides the window)
    "q269_seq_patterns" -> ((s, dir) =>
      graft.ops.EventAnalytics.frequentEpisodes(
        E(s, dir).withColumn("tsu", expr("ts div 1000")), n = 3, topK = 20,
        tsCol = "tsu")),

    // TextRank keywords: PageRank over the adjacent-bigram word graph —
    // the company-you-keep counterpart of RAKE's phrase scoring
    "q270_textrank" -> ((s, dir) =>
      TextAnalysis.textRank(T(s, dir, "documents"), topK = 20, minPairCount = 20L)),

    // Hill tail index of doc length per language — how heavy is the long
    // tail the token-budget planner must survive?
    "q271_hill_tail" -> ((s, dir) =>
      graft.ops.Stats.hillEstimator(
        T(s, dir, "documents"), value = col("n_chars"), k = 30,
        strataCols = Seq("lang"))),

    // covariate balance of the q293 arms: is the even-hash split actually
    // balanced on length/tokens? |SMD| ≤ 0.1 is the health bar
    "q295_smd_balance" -> ((s, dir) =>
      graft.ops.Stats.smdBalance(
        T(s, dir, "documents"),
        treated = graft.ops.Sampling.bucket(col("source"), 9, activeHash) % 2 === 0,
        covariates = Seq(
          "n_chars" -> col("n_chars"),
          "n_tokens" -> size(split(lower(trim(col("text"))), "\\s+")).cast("long")))),

    // CUPED: how much post-period activity variance does the pre-period
    // explain? — the experiment-sensitivity multiplier
    "q296_cuped" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val m0 = days.agg(min(col("day")).as("_m0"))
      val per = days.crossJoin(broadcast(m0))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("_m0") + 15, 1L).otherwise(0L)).as("x"),
          sum(when(col("day") >= col("_m0") + 15, 1L).otherwise(0L)).as("y"))
      graft.ops.Stats.cuped(per, metric = col("y"), covariate = col("x"))
    }),

    // Mantel–Haenszel: controlling for language, do even-hash sources
    // produce long documents? — the stratified 2×2 pooled honestly
    "q293_mantel_haenszel" -> ((s, dir) =>
      graft.ops.Stats.mantelHaenszel(
        T(s, dir, "documents"),
        stratum = col("lang"),
        treated = graft.ops.Sampling.bucket(col("source"), 9, activeHash) % 2 === 0,
        outcome = col("n_chars") >= 500)),

    // near-zero-variance screen over the document metadata columns —
    // which features are constants in disguise?
    "q294_nzv" -> ((s, dir) =>
      graft.ops.Stats.nzvScreen(
        T(s, dir, "documents").withColumn("has_text", col("text").isNotNull),
        cols = Seq("lang", "source", "n_chars", "has_text"))),

    // Benjamini–Hochberg over a deterministic per-doc p table (p = u²
    // with u = (n_chars mod 1000)/1000 — a small-p-heavy mix so the
    // step-up actually crosses): which "effects" survive FDR α = 0.05?
    "q297_bh_fdr" -> ((s, dir) => {
      val u = col("n_chars") % 1000
      val pt = T(s, dir, "documents")
        .select(col("doc_id"), round((u * u).cast("double") / 1000000.0, 6).as("p"))
      graft.ops.Stats.bhFdr(pt, p = col("p"), tie = col("doc_id"),
          alphaNum = 1, alphaDen = 20)
        .select(col("doc_id"), col("p"), col("p_rank"), col("m"), col("reject"))
    }),

    // Benjamini–Yekutieli on the q297 p grid: the dependence-proof FDR
    // step-up (same rank machinery, bound deflated by the ascending-
    // folded harmonic c(m) — the oracle replays the identical IEEE fold
    // via a recursive CTE)
    "q360_by_fdr" -> ((s, dir) => {
      val u = col("n_chars") % 1000
      val pt = T(s, dir, "documents")
        .select(col("doc_id"), round((u * u).cast("double") / 1000000.0, 6).as("p"))
      graft.ops.Stats.byFdr(pt, p = col("p"), tie = col("doc_id"),
          alphaNum = 1, alphaDen = 20)
        .select(col("doc_id"), col("p"), col("p_rank"), col("m"), col("c_m"), col("reject"))
    }),

    // Kish effective sample size of quantity-weighted lineitems per
    // return flag — how many unweighted rows is the weighted set worth?
    "q298_ess_weights" -> ((s, dir) =>
      graft.ops.Stats.effectiveSampleSize(
        T(s, dir, "lineitem"), weight = col("l_quantity"),
        strataCols = Seq("l_returnflag"))),

    // standardized effect size of English-vs-rest document length — is
    // the shift big in σ units, not merely significant?
    "q299_effect_size" -> ((s, dir) =>
      graft.ops.Stats.cohensD(
        T(s, dir, "documents"), value = col("n_chars"),
        label = col("lang") === "en")),

    // Cliff's delta of the same contrast: the ordinal "how often does an
    // English doc outsize a non-English one" — prefix-sum pair masses,
    // exact integers, no quadratic fold
    "q361_cliffs_delta" -> ((s, dir) =>
      graft.ops.Stats.cliffsDelta(
        T(s, dir, "documents"), value = col("n_chars"),
        label = col("lang") === "en")),

    // Hodges–Lehmann shift en vs de: the robust "by how much" companion —
    // exact type-1 weighted median over the cell-collapsed difference axis
    "q362_hodges_lehmann" -> ((s, dir) =>
      graft.ops.Stats.hodgesLehmann(
        T(s, dir, "documents").where(col("lang").isin("en", "de")),
        value = col("n_chars"), label = col("lang") === "en")),

    // Ansari–Bradley en vs de: same medians, different SPREAD? — the
    // dispersion complement of q204's location test, doubled-midrank
    // integer scores
    "q363_ansari_bradley" -> ((s, dir) =>
      graft.ops.Stats.ansariBradley(
        T(s, dir, "documents").where(col("lang").isin("en", "de")),
        value = col("n_chars"), label = col("lang") === "en")),

    // Gehan–Breslow–Wilcoxon on q359's purchase-clock states: the
    // EARLY-difference-weighted survival A/B (run next to q357's
    // unweighted log-rank — disagreement means the curves cross)
    "q369_gehan_wilcoxon" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"), col("event_type"))
      val u = days.groupBy(col("user_id")).agg(
        min(col("day")).as("_fd"), max(col("day")).as("_ld"),
        min(when(col("event_type") === "purchase", col("day"))).as("_pd"))
      val obs = graft.Caches.track(
        u.select(
          (coalesce(col("_pd"), col("_ld")) - col("_fd")).as("dur"),
          col("_pd").isNotNull.as("ev"),
          (col("user_id") % 2 === 0).as("arm")))
      graft.ops.EventAnalytics.gehanWilcoxonFromStates(
        graft.ops.EventAnalytics.survivalPartials(
          obs.where(col("arm")), col("dur"), col("ev"), binWidth = 3L),
        graft.ops.EventAnalytics.survivalPartials(
          obs.where(!col("arm")), col("dur"), col("ev"), binWidth = 3L))
    }),

    // Nelson–Aalen from q358's split-and-merged survival state: the
    // additive-hazard leg of the FromState family, ≤|bins| rows read
    "q370_na_binned" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val u = days.groupBy(col("user_id")).agg(min(col("day")).as("_fd"), max(col("day")).as("_ld"))
      val obs = graft.Caches.track(
        u.crossJoin(broadcast(u.agg(max(col("_ld")).as("_md"))))
          .select(col("_fd"), (col("_ld") - col("_fd")).as("dur"),
            (col("_ld") <= col("_md") - 3).as("ev")))
      val state = graft.ops.EventAnalytics.survivalMerge(Seq(
        graft.ops.EventAnalytics.survivalPartials(
          obs.where(col("_fd") % 2 === 0), col("dur"), col("ev"), binWidth = 3L),
        graft.ops.EventAnalytics.survivalPartials(
          obs.where(col("_fd") % 2 =!= 0), col("dur"), col("ev"), binWidth = 3L)))
      graft.ops.EventAnalytics.nelsonAalenFromState(state)
    }),

    // Welch's ANOVA of document length across ALL languages: the k-group
    // mean test that doesn't assume the equal variances q225 does —
    // weight-by-precision, Satterthwaite df
    "q368_welch_anova" -> ((s, dir) =>
      graft.ops.Stats.welchAnova(
        T(s, dir, "documents"), value = col("n_chars"), groupCol = col("lang"))),

    // blocking-quality eval: does cheap length-bucket blocking keep the
    // REAL near-dup truth pairs (q48's exact jaccard ≥ 0.7 set) while
    // avoiding the all-pairs compare? — pairs completeness + reduction
    // ratio, the ER candidate-stage gate
    "q367_blocking_eval" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val truth = Dedup.prefixJaccardPairs(docs, threshold = 0.7)
        .select(col("id_a"), col("id_b"))
      val blk = graft.Caches.track(docs.select(col("doc_id"),
        (col("n_chars") / 50).cast("long").as("_k")))
      val cand = blk.select(col("_k"), col("doc_id").as("id_a"))
        .join(blk.select(col("_k"), col("doc_id").as("id_b")), Seq("_k"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      Dedup.blockingEval(docs, cand, truth)
    }),

    // Brunner–Munzel en vs de: the heteroskedasticity-honest rank test —
    // q204's question asked without the equal-spread assumption q363
    // just tested; doubled-midrank placements, exact integer moments
    "q365_brunner_munzel" -> ((s, dir) =>
      graft.ops.Stats.brunnerMunzel(
        T(s, dir, "documents").where(col("lang").isin("en", "de")),
        value = col("n_chars"), label = col("lang") === "en")),

    // Cramér–von Mises from q228's histogram STATES: the whole-curve
    // drift statistic next to KS's single worst gap — same mergeable
    // state, ≤bins rows read
    "q364_cvm_from_state" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ops.Stats.cvmFromHists(
        graft.ops.Stats.histPartials(docs.where(col("lang") === "en"),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12),
        graft.ops.Stats.histPartials(docs.where(col("lang") === "de"),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12))
    }),

    // outlier-robust doc-length center: 5% trimmed + winsorized means via
    // the exact global prefix-sum rank — never a single-partition window
    "q300_trimmed_mean" -> ((s, dir) =>
      graft.ops.Stats.trimmedStats(
        T(s, dir, "documents"), value = col("n_chars"),
        tieCols = Seq(col("doc_id")), trimNum = 1, trimDen = 20)),

    // the price below which half the QUANTITY mass sits — a weighted
    // median, not a row median (type-1 pick on the cumulative weight)
    "q301_weighted_median" -> ((s, dir) =>
      graft.ops.Stats.weightedQuantile(
        T(s, dir, "lineitem"), value = col("l_extendedprice"),
        weight = col("l_quantity"),
        tieCols = Seq(col("l_orderkey"), col("l_linenumber")),
        qNum = 1, qDen = 2)),

    // resharding migration plan: 3 → 4 rendezvous shards — every moved
    // key lands on the NEW shard (HRW's minimal-disruption contract)
    "q292_reshard_plan" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"))
      val before = graft.ops.Sampling.rendezvousAssign(
        docs, col("doc_id"), Seq("s0", "s1", "s2"), hash = activeHash)
        .withColumnRenamed("shard", "shard_old")
      val after = graft.ops.Sampling.rendezvousAssign(
        docs, col("doc_id"), Seq("s0", "s1", "s2", "s3"), hash = activeHash)
        .withColumnRenamed("shard", "shard_new")
      before.join(after, Seq("doc_id"))
        .select(col("doc_id"), col("shard_old"), col("shard_new"),
          (col("shard_old") =!= col("shard_new")).as("moved"))
    }),

    // overdispersion check: is each event type's hourly volume Poisson
    // (vmr≈1) or bursty? — the alert-band sizing prerequisite
    "q290_dispersion" -> ((s, dir) => {
      val hours = E(s, dir)
        .select(col("event_type"), expr("ts div 3600000000000").as("h"))
        .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("x"))
      val axis = hours.agg(min(col("h")).as("_lo"), max(col("h")).as("_hi"))
        .select(explode(sequence(col("_lo"), col("_hi"))).as("t"))
      val dense = hours.select(col("event_type")).distinct()
        .crossJoin(broadcast(axis))
        .join(hours.withColumnRenamed("h", "t"), Seq("event_type", "t"), "left")
        .select(col("event_type"), coalesce(col("x"), lit(0L)).as("x"))
      graft.ops.Stats.dispersionIndex(dense,
        value = col("x"), strataCols = Seq("event_type"))
    }),

    // Chapman capture–recapture: estimate the distinct-token universe
    // from two independent 20% hash samples — no full countDistinct scan
    "q291_capture_recapture" -> ((s, dir) => {
      val toks = T(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .where(col("tok") =!= "").distinct()
      val a = toks.where(graft.ops.Sampling.bucket(col("tok"), 7, activeHash) < 200000L)
      val b = toks.where(graft.ops.Sampling.bucket(col("tok"), 8, activeHash) < 200000L)
      graft.ops.Stats.captureRecapture(a, b)
    }),

    // Hellinger + Bhattacharyya from the q231 histogram states — the
    // metric-form divergence completing the drift drawer
    "q288_hellinger" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ops.Stats.hellingerFromHists(
        graft.ops.Stats.histPartials(docs.where(col("lang") === "en"),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12),
        graft.ops.Stats.histPartials(docs.where(col("lang") === "de"),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12))
    }),

    // Murphy decomposition of the q260 probability: is the Brier bad
    // because of calibration (REL) or weak discrimination (RES)?
    "q289_brier_decomp" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val scores = TextAnalysis.hashedNgramScore(docs, hash = activeHash)
      val mm = scores.agg(min(col("score")).as("_lo"), max(col("score")).as("_hi"))
      val p = scores.crossJoin(broadcast(mm))
        .withColumn("_pr", when(col("_hi") > col("_lo"),
          (col("score") - col("_lo")) / (col("_hi") - col("_lo"))).otherwise(lit(0.5)))
      val lab = p.join(
        docs.select(col("doc_id"), (col("lang") === "en").as("_y")), Seq("doc_id"))
      graft.ops.Stats.brierDecomposition(lab, col("_pr"), col("_y"))
    }),

    // Good–Turing smoothing table: adjusted counts per frequency class +
    // the unseen-mass estimate (the r=1 row's share), exact integers in
    "q286_good_turing" -> ((s, dir) =>
      TextAnalysis.goodTuring(T(s, dir, "documents"))),

    // Heaps'-law vocabulary growth at 10 nested corpus fractions in ONE
    // pass — a token first exists at its docs' minimum sample bucket
    "q287_heaps_curve" -> ((s, dir) =>
      TextAnalysis.heapsCurve(T(s, dir, "documents"), steps = 10, hash = activeHash)),

    // rendezvous sharding: which serving node owns each document —
    // highest-random-weight routing, minimal disruption on resharding
    "q284_rendezvous" -> ((s, dir) =>
      graft.ops.Sampling.rendezvousAssign(
        T(s, dir, "documents").select(col("doc_id")),
        key = col("doc_id"), shards = Seq("s0", "s1", "s2", "s3"),
        hash = activeHash)),

    // skew diagnosis + salting plan for the event-type key: how many
    // reducers does each hot key need at 1000 rows/task?
    "q285_salt_plan" -> ((s, dir) =>
      graft.ops.SkewJoin.saltPlan(
        E(s, dir), keys = Seq("event_type"), targetPerTask = 1000L)),

    // MMR-diversified retrieval: the q21 pool re-ranked to trade
    // relevance against redundancy — plain top-k's near-dup antidote
    "q283_mmr" -> ((s, dir) =>
      graft.ops.SimilaritySearch.mmrDiversify(
        T(s, dir, "embeddings"), SparkEntry.benchQueryVec,
        k = 5, poolSize = 20, lambda = 0.7)),

    // session-relative ML features per event: ordinal, time since start,
    // session size, next-event label mask — q30's frame engineered
    "q281_session_features" -> ((s, dir) =>
      graft.ops.Sessionize.sessionFeatures(
        graft.ops.Sessionize.byGap(E(s, dir), gap = 28800000000000L))
        .select(col("user_id"), col("event_id"), col("session_seq"),
          col("event_index"), col("dt_since_start"), col("session_events"),
          col("is_last"))),

    // last-5 chronological behavior history per user — the sequence-model
    // serving table (rank cut BEFORE assembly, struct-sorted arrays).
    // The query face string-joins the history column: the driver's
    // pandas-based compare cannot hash list cells, so every queries()
    // result must be atomic-typed (EntryContractSpec pins this); the
    // array-returning API stays on lastNHistory itself.
    "q282_last_history" -> ((s, dir) =>
      graft.ops.EventAnalytics.lastNHistory(
        E(s, dir).withColumn("tsu", expr("ts div 1000")), n = 5, tsCol = "tsu")
        .withColumn("history", concat_ws("|", col("history")))),

    // hybrid-retrieval fusion: the q54 BM25 leg and the hashed-ngram
    // model leg merged by reciprocal rank — no score calibration at all
    "q279_rrf_fusion" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val lexical = graft.ops.SimilaritySearch.topKRanking(
        TextAnalysis.bm25(docs, Seq("join", "scan", "filter")),
        score = col("bm25"), id = col("doc_id"), topK = 50)
      val model = graft.ops.SimilaritySearch.topKRanking(
        TextAnalysis.hashedNgramScore(docs, hash = activeHash),
        score = col("score"), id = col("doc_id"), topK = 50)
      graft.ops.SimilaritySearch.rrfFuse(Seq(lexical, model), k = 60, topK = 10)
    }),

    // systematic sample: every 7th document in doc_id order (offset 3) —
    // the evenly-spaced coverage slice, positioned by the prefix-sum rank
    "q280_systematic" -> ((s, dir) =>
      graft.ops.Sampling.systematicSample(
        T(s, dir, "documents").select(col("doc_id"), col("lang"), col("source")),
        orderCol = col("doc_id"), every = 7L, offset = 3L)),

    // approximate GROUP BY from a 10% hash sample — Horvitz–Thompson
    // totals with ±1.96·SE bars, the 100×-cheaper dashboard answer
    "q277_approx_groupby" -> ((s, dir) =>
      graft.ops.Sampling.approxAggregate(
        T(s, dir, "orders"), key = col("o_orderkey"), value = col("o_totalprice"),
        groupCols = Seq("o_orderpriority"), fraction = 0.1, hash = activeHash)),

    // incremental join-view maintenance: V₁ = V₀ ∪ (ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB)
    // over hash-split customer/orders batches; the maintained view's
    // rollup must equal the full-join recompute (the oracle)
    "q278_ivm_join" -> ((s, dir) => {
      val cust = T(s, dir, "customer")
      val ords = T(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
      val cNewP = graft.ops.Sampling.bucket(col("c_custkey"), 7, activeHash) < 200000L
      val oNewP = graft.ops.Sampling.bucket(col("o_orderkey"), 8, activeHash) < 200000L
      val v0 = cust.where(!cNewP).join(ords.where(!oNewP), Seq("c_custkey"))
      val dv = graft.ops.ChangeCapture.deltaJoin(
        cust.where(!cNewP), cust.where(cNewP),
        ords.where(!oNewP), ords.where(oNewP), Seq("c_custkey"))
      v0.unionByName(dv)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice").cast("decimal(28,6)")), 2).as("revenue"))
    }),

    // Cochran's Q omnibus over THREE "is it English?" detectors (langId,
    // hashed-ngram, length≥500) on the same docs — q259's k-way extension
    "q273_cochran_q" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val scores = TextAnalysis.hashedNgramScore(docs, hash = activeHash)
      val j = docs.select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
        .join(scores, Seq("doc_id"))
      val y = col("lang") === "en"
      val base = j.select(col("doc_id"),
        ((TextAnalysis.langId(col("text")) === "en") === y).as("ok_langid"),
        ((col("score") > 0.0) === y).as("ok_ngram"),
        ((col("n_chars") >= 500) === y).as("ok_len"))
      val long = base.select(col("doc_id"), lit("langid").as("clf"), col("ok_langid").as("ok"))
        .unionByName(base.select(col("doc_id"), lit("ngram").as("clf"), col("ok_ngram").as("ok")))
        .unionByName(base.select(col("doc_id"), lit("len").as("clf"), col("ok_len").as("ok")))
      graft.ops.Stats.cochranQ(long,
        subject = col("doc_id"), treatment = col("clf"), success = col("ok"))
    }),

    // Wald–Wolfowitz runs test on the hourly volume series — does the
    // load streak above/below its median, or mix randomly?
    "q274_runs_test" -> ((s, dir) => {
      val hours = E(s, dir).select(expr("ts div 3600000000000").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("x"))
      graft.ops.Stats.runsTest(hours, tCol = col("h"), xCol = col("x"))
    }),

    // seasonal-naive vs last-hour baselines per event type (MASE < 1 ⇔
    // the 24h pattern beats momentum); dense axis, gap hours = 0
    "q275_mase" -> ((s, dir) => {
      val hours = E(s, dir)
        .select(col("event_type"), expr("ts div 3600000000000").as("h"))
        .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("x"))
      val bounds = hours.agg(min(col("h")).as("_lo"), max(col("h")).as("_hi"))
      val axis = bounds.select(explode(sequence(col("_lo"), col("_hi"))).as("t"))
      val dense = hours.select(col("event_type")).distinct()
        .crossJoin(broadcast(axis))
        .join(hours.withColumnRenamed("h", "t"), Seq("event_type", "t"), "left")
        .select(col("event_type"), col("t"), coalesce(col("x"), lit(0L)).as("x"))
      graft.ops.EventAnalytics.maseBacktest(dense, season = 24,
        strataCols = Seq("event_type"))
    }),

    // single best level-shift split of the hourly volume series — the
    // retrospective complement of q202's online CUSUM; prefix-sum G(i)
    "q276_changepoint" -> ((s, dir) => {
      val hours = E(s, dir).select(expr("ts div 3600000000000").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("x"))
      val bounds = hours.agg(min(col("h")).as("_lo"), max(col("h")).as("_hi"))
      val axis = bounds.select(explode(sequence(col("_lo"), col("_hi"))).as("t"))
      val dense = axis.join(hours.withColumnRenamed("h", "t"), Seq("t"), "left")
        .select(col("t"), coalesce(col("x"), lit(0L)).as("x"))
      graft.ops.Stats.changepoint(dense, tCol = col("t"), xCol = col("x"))
    }),

    // Holt linear-trend smoothing of the q276 dense hourly series: the
    // level+trend tracker whose 1-step forecast residual feeds control
    // charts — α=½, β=¼ (exact binary literals), sequential fold over
    // the collapsed axis (the cusum class)
    "q366_holt_linear" -> ((s, dir) => {
      val hours = E(s, dir).select(expr("ts div 3600000000000").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("x"))
      val bounds = hours.agg(min(col("h")).as("_lo"), max(col("h")).as("_hi"))
      val axis = bounds.select(explode(sequence(col("_lo"), col("_hi"))).as("t"))
      val dense = axis.join(hours.withColumnRenamed("h", "t"), Seq("t"), "left")
        .select(col("t"), coalesce(col("x"), lit(0L)).as("x"))
      graft.ops.EventAnalytics.holtLinear(dense, tsCol = col("t"), valueCol = col("x"),
        alpha = 0.5, beta = 0.25)
    }),

    // Mann–Kendall: does each event type's hourly volume carry a monotone
    // trend beyond chance? (q254 fits the robust slope; this tests it)
    "q272_mann_kendall" -> ((s, dir) => {
      val counts = E(s, dir).withColumn("tsu", expr("ts div 1000"))
        .groupBy(col("event_type"), expr("tsu div 3600000000").as("x"))
        .agg(count(lit(1)).as("yv"))
      graft.ops.Stats.mannKendall(counts,
        x = col("x"), y = col("yv"), strataCols = Seq("event_type"))
    }),

    // ---------------------------------------------------------- reference surface

    // S2/P1-P3: projection + rename + SQL-expression derived column
    "q01_scan_derive" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag").as("flag"))
        .withColumn("rowkey", expr("l_orderkey || '_' || l_linenumber"))),

    // A-family: hash aggregation with partial (map-side) combine
    "q02_agg_pricing" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))),

    // J2: shuffle/broadcast equi-join + aggregation
    "q03_join_agg" -> ((s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))),

    // J4: broadcast dimension joins (3-way star)
    "q04_join_region" -> ((s, dir) =>
      T(s, dir, "customer")
        .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"))),

    // A1: global max — the reference's fetchId aggregation
    "q05_max_id" -> ((s, dir) =>
      T(s, dir, "orders").agg(max(col("o_orderkey")).as("max_id"))),

    // §2.5: positional union of identically-shaped projections
    "q06_union_ids" -> ((s, dir) =>
      T(s, dir, "customer").select(col("c_custkey").as("id"), lit("customer").as("kind"))
        .union(T(s, dir, "supplier").select(col("s_suppkey").as("id"), lit("supplier").as("kind")))),

    // J1 + §2.8 DSL: similarity self-theta-join, default null-safe-equality leaf
    "q07_sim_selfjoin" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
    }),

    // A6: per-leaf similarity counting under an OR expression
    "q08_sim_or_leaves" -> ((s, dir) => {
      val v = T(s, dir, "supplier")
        .select(col("s_suppkey").as("id"), col("s_nationkey"), col("s_acctbal"))
      new SimilarityClassifier(SimilarityConfig("s_nationkey OR s_acctbal")).classify(v.limit(0), v)
    }),

    // J3+A4: same-value clique (flatMapGroups) + new×loaded equi-join
    "q09_samevalue_edges" -> ((s, dir) => {
      val all = T(s, dir, "orders")
        .select(col("o_orderkey").as("id"), col("o_custkey").cast("string").as("custkey"))
      val rule  = new SameValueClassifier(SameValueSimilarityConfig(List("custkey")))
      val edges = rule.classify(all.filter(col("id") % 2 === 0), all.filter(col("id") % 2 === 1))
      // clique pair orientation depends on row order within a group — canonicalize
      edges.select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"),
        col("propVal"))
    }),

    // P8/J4: two-mode catalog exact-match (broadcast literal map)
    "q10_twomode_catalog" -> ((s, dir) => {
      val v = E(s, dir).select(col("event_id").as("id"), col("event_type").as("cdsxmatch"))
      val fixed = List(
        FixedVertex(11L, "catalog", List(
          FixedVertexProperty("recipe", "string", "catalog"),
          FixedVertexProperty("equals", "string", "click"))),
        FixedVertex(12L, "catalog", List(
          FixedVertexProperty("recipe", "string", "catalog"),
          FixedVertexProperty("equals", "string", "view"))))
      new TwoModeClassifier(TwoModeSimilarityConfig(List("catalog")), fixed).classify(v.limit(0), v)
    }),

    // P7: two-mode direct row-predicate recipe (asteroids: roid > 1)
    "q11_twomode_direct" -> ((s, dir) => {
      val v = E(s, dir)
        .select(col("event_id").as("id"), floor(col("value") / 100).cast("int").as("roid"))
      val fixed = List(
        FixedVertex(21L, "asteroids", List(FixedVertexProperty("recipe", "string", "asteroids"))))
      new TwoModeClassifier(TwoModeSimilarityConfig(List("asteroids")), fixed).classify(v.limit(0), v)
    }),

    // P7 multi-recipe: microlensing + asteroids in one pass (explode over
    // per-recipe dst expressions; 0..2 edges per row)
    "q38_twomode_multi" -> ((s, dir) => {
      val v = E(s, dir).select(
        col("event_id").as("id"),
        when(col("event_type") === "click", "ML").otherwise("CV").as("mulens_class_1"),
        when(col("value") > 250, "ML").otherwise("CV").as("mulens_class_2"),
        floor(col("value") / 100).cast("int").as("roid"))
      val fixed = List(
        FixedVertex(31L, "mulens", List(FixedVertexProperty("recipe", "string", "microlensing"))),
        FixedVertex(32L, "roid", List(FixedVertexProperty("recipe", "string", "asteroids"))))
      new TwoModeClassifier(TwoModeSimilarityConfig(List("microlensing", "asteroids")), fixed)
        .classify(v.limit(0), v)
    }),

    // P7 supernova recipe: the full 6-predicate + 19-class membership rule
    "q39_twomode_supernova" -> ((s, dir) => {
      val v = E(s, dir).select(
        col("event_id").as("id"),
        (col("value") / 500).as("snn_snia_vs_nonia"),
        (col("value") / 490).as("snn_sn_vs_all"),
        (col("value") / 600).as("drb"),
        floor(col("value")).cast("int").as("ndethist"),
        (col("value") / 700).cast("float").as("classtar"),
        when(col("event_type") === "click", "SN")
          .when(col("event_type") === "view", "Unknown")
          .when(col("event_type") === "purchase", "Transient")
          .otherwise("NotInSet").as("cdsxmatch"))
      val fixed = List(
        FixedVertex(41L, "sn", List(FixedVertexProperty("recipe", "string", "supernova"))))
      new TwoModeClassifier(TwoModeSimilarityConfig(List("supernova")), fixed)
        .classify(v.limit(0), v)
    }),

    // A7: dense contiguous id assignment continuing from an offset —
    // via the custom DenseIdPlan/DenseIdExec operator
    "q12_dense_ids" -> ((s, dir) =>
      org.apache.spark.sql.graft.DenseId.assign(
        T(s, dir, "supplier").orderBy("s_suppkey").select(col("s_suppkey"), col("s_name")),
        offset = 200
      ).select(col("id"), col("s_suppkey"), col("s_name"))),

    // sort + limit (TakeOrderedAndProject — per-partition heaps, k-row merge)
    "q13_topk_orders" -> ((s, dir) =>
      T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("total"))
        .orderBy(col("total").desc, col("o_orderkey"))
        .limit(10)),

    // time-bucketed aggregation over the events table (ts read as nano-epoch
    // long — see the nanosAsLong conf in Verify/Bench; integer division keeps
    // the bucket exact, a double round-trip would lose precision above 2^53)
    "q14_window_hourly" -> ((s, dir) =>
      E(s, dir)
        .groupBy(expr("ts div 3600000000000").as("hour_bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))),

    // ranking window function: latest event per user
    "q15_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id"))
      E(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
    }),

    // ------------------------------------------------ training-data pipeline ops

    // text analysis: token counts, quality, language id, fingerprint
    "q16_text_analyze" -> ((s, dir) =>
      TextAnalysis.analyze(T(s, dir, "documents"))
        .select("doc_id", "token_count", "bpeish_tokens", "punct_ratio", "stopword_ratio",
          "mean_word_len", "quality_score", "lang_pred", "fingerprint")),

    // rolling (windowed) document fingerprints — near-dup candidate keys
    "q28_text_rolling_fp" -> ((s, dir) =>
      TextAnalysis.rollingFingerprintsExploded(T(s, dir, "documents"), window = 8)),

    // SimHash near-dup pairs. Under Verify the portable Md5Hash makes the
    // full sketch pipeline — tokenize → per-bit majority vote → chunk-blocked
    // pair join → hamming filter — hash-checkable against the DuckDB oracle;
    // under Bench the production XxHash family is timed (see activeHash).
    "q29_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(
        Dedup.simhash(T(s, dir, "documents"), hash = activeHash), maxHamming = 8)),

    // exact dedup by content hash
    "q17_dedup_exact" -> ((s, dir) =>
      Dedup.exactByHash(T(s, dir, "documents"))),

    // MinHash+LSH near-dup candidates. 16 hashes × 4 bands keeps the same
    // rows-per-band (LSH threshold) as 32×8 at half the aggregate width
    // (codegen compile time scales with it). Verify: Md5Hash → the banding,
    // candidate join, and verified jaccard are all oracle-checkable;
    // Bench: production XxHash (see activeHash).
    "q18_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(T(s, dir, "documents"), numHashes = 16, bands = 4,
        verifyThreshold = 0.2, hash = activeHash)),

    // n-gram Jaccard near-dup pairs via inverted-index join; the doc-frequency
    // cap prunes hot shingles (the quadratic term of the postings join)
    "q19_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), threshold = 0.2, maxDocFreq = 100)),

    // sketch-quality audit over q18's candidate pairs: the minhash
    // AGREEMENT estimate of Jaccard next to the exact value and the
    // absolute error — how numHashes gets tuned before a 100-TB dedup run;
    // the agreement count is an unrolled 16-term codegen sum the oracle
    // replays component by component
    "q124_dedup_minhash_est" -> ((s, dir) =>
      Dedup.minhashEstimates(T(s, dir, "documents"), numHashes = 16, bands = 4,
        hash = activeHash)),

    // embedding-cosine near-dup pairs, blocked by label
    "q20_embed_cosine" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("label"), col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Dedup.embeddingCosinePairs(e, blockCol = "label", threshold = 0.25)
    }),

    // exact brute-force ANN baseline: global top-k cosine
    "q21_ann_brute" -> ((s, dir) =>
      SimilaritySearch.bruteForceTopK(
        T(s, dir, "embeddings"), SparkEntry.benchQueryVec, k = 20)),

    // LSH-bucketed ANN. Under Verify the Md5Hash-derived hyperplanes are
    // reproducible in the DuckDB oracle, so bucket assignment AND the
    // bucket-restricted top-k are hash-checked; under Bench the production
    // XxHash hyperplanes are timed. The index is built once per dataset and
    // hash family and cached — the deployment shape (build once, query
    // many), and what the query times measure.
    "q22_ann_lsh" -> ((s, dir) => {
      val hash = activeHash
      val lsh = SimilaritySearch.RandomHyperplaneLsh(bits = 4, dim = 64, hash = hash)
      val indexed = SparkEntry.memo(s"lsh-$hash:$dir") { lsh.index(T(s, dir, "embeddings")).cache() }
      lsh.query(indexed, SparkEntry.benchQueryVec, k = 10)
    }),

    // distinct aggregation (expand + two-phase agg under the hood)
    "q34_distinct_agg" -> ((s, dir) =>
      T(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("c_nationkey")).as("n_nations"), count(lit(1)).as("n_customers"))),

    // approximate distinct count (HyperLogLog++ sketch — the constant-memory
    // path for 100 TB cardinalities where exact countDistinct's expand +
    // shuffle of every distinct value is the bottleneck). HLL estimates are
    // engine-specific, so the checkable contract is a tolerance gate vs the
    // exact count (deterministic: HLL++ has no RNG); the oracle computes the
    // exact side and pins the gate.
    "q41_approx_distinct" -> ((s, dir) =>
      T(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          countDistinct(col("c_custkey")).as("exact_custkeys"),
          approx_count_distinct(col("c_custkey"), rsd = 0.05).as("_approx"))
        .select(
          col("c_mktsegment"),
          col("exact_custkeys"),
          (abs(col("_approx") - col("exact_custkeys"))
            <= col("exact_custkeys") * 0.15).as("approx_ok"))),

    // approximate percentiles (Greenwald-Khanna-style sketch, mergeable
    // partials — the single-pass alternative to an exact global sort at
    // scale). Same gate pattern: approx within 1% of the exact percentile.
    "q42_approx_quantile" -> ((s, dir) =>
      T(s, dir, "orders")
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("_p50"),
          percentile_approx(col("o_totalprice"), lit(0.95), lit(10000)).as("_p95"),
          expr("percentile(o_totalprice, 0.5)").as("_e50"),
          expr("percentile(o_totalprice, 0.95)").as("_e95"))
        .select(
          (abs(col("_p50") - col("_e50")) <= col("_e50") * 0.01).as("p50_ok"),
          (abs(col("_p95") - col("_e95")) <= col("_e95") * 0.01).as("p95_ok"))),

    // rollup grouping sets; subtotal nulls coalesced for a stable compare
    "q35_rollup" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"))),

    // left-semi + left-anti joins (EXISTS / NOT EXISTS)
    "q36_semi_anti" -> ((s, dir) => {
      val c = T(s, dir, "customer").select(col("c_custkey").as("id"))
      val o = T(s, dir, "orders").select(col("o_custkey"))
      c.join(o, col("id") === col("o_custkey"), "left_semi").withColumn("tag", lit("has_order"))
        .union(
          c.join(o, col("id") === col("o_custkey"), "left_anti").withColumn("tag", lit("no_order")))
    }),

    // pivot: event-type counts as columns per user
    "q37_pivot" -> ((s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val p = E(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .count()
      p.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    }),

    // spark.sql entry path: scalar subquery over a temp view (the SQL face
    // of the engine — same Catalyst plans as the DataFrame API)
    "q40_sql_scalar_subquery" -> ((s, dir) => {
      T(s, dir, "customer").createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT c_custkey, round(c_acctbal, 2) AS acctbal
          |FROM customer_v
          |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer_v)""".stripMargin)
    }),

    // gap-based sessionization: two stacked windows, one shuffle on user_id
    "q30_sessionize" -> ((s, dir) =>
      graft.ops.Sessionize.byGap(E(s, dir), gap = 28800000000000L) // 8h in ns
        .select(col("user_id"), col("event_id"), col("session_seq"), col("session_id"))),

    // per-session aggregates over the sessionized stream. Session bounds are
    // reported in microseconds: DuckDB truncates parquet TIMESTAMP(NANOS) to
    // µs, so the ns-exact bounds would differ below the µs in the oracle.
    "q31_session_stats" -> ((s, dir) =>
      graft.ops.Sessionize.sessionStats(
        graft.ops.Sessionize.byGap(E(s, dir), gap = 28800000000000L))
        .withColumn("session_start", expr("session_start div 1000"))
        .withColumn("session_end", expr("session_end div 1000"))),

    // multimodal: per-partition batched (stub) feature extraction → vector,
    // exploded to (doc_id, bin, share) rows for the relational compare
    "q32_mm_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
        T(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("payload")),
        binCol = "payload")
        .select(col("doc_id"), posexplode(col("features")).as(Seq("bin", "share")))),

    // multimodal: aspect-preserving resize metadata over decoded dims
    "q33_mm_resize" -> ((s, dir) =>
      Multimodal.resizeMeta(
        Multimodal.decodeMeta(
          T(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("payload")),
          binCol = "payload"),
        maxSide = 100)),

    // graph query surface: degree per vertex over a bidirectional edge set
    "q25_graph_degrees" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      val bidir = e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
      graft.graph.GraphQueries.degrees(bidir)
    }),

    // graph query surface: connected components (GraphX Pregel) — same-nation
    // supplier cliques, so component = min supplier id per nation
    "q26_graph_components" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      graft.graph.GraphQueries.connectedComponents(s, v.select("id"), e)
    }),

    // graph query surface: connected components as a pure DataFrame loop
    // (large-star/small-star, Kiveris et al.) — the no-GraphX scale path:
    // per-round state is one (long,long) edge list, spillable and
    // AQE-planned; same contract and oracle as q26
    "q61_graph_components_df" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      graft.graph.GraphQueries.connectedComponentsDF(s, v.select("id"), e)
    }),

    // eval-set decontamination: every-20th document plays the benchmark
    // corpus; training docs sharing >= 5 distinct 3-grams with any eval doc
    // are flagged. Asymmetric probe: eval grams built once + bloom-pruned
    // training postings (map-side) before the gram join
    "q62_decontaminate" -> ((s, dir) => {
      val docs  = T(s, dir, "documents")
      val train = docs.where(col("doc_id") % 20 =!= 0)
      val ev    = docs.where(col("doc_id") % 20 === 0)
      Decontaminate.overlap(train, ev, n = 3, minShared = 5L)
    }),

    // exact-substring contamination: rolling 8-token md5 fingerprints
    // joined train × eval — one shared window is a verbatim 8-token
    // quotation of an eval doc (position-free exact-substring evidence,
    // complementing q62's distributed n-gram overlap)
    "q63_decontaminate_substr" -> ((s, dir) => {
      val docs  = T(s, dir, "documents")
      val train = docs.where(col("doc_id") % 20 =!= 0)
      val ev    = docs.where(col("doc_id") % 20 === 0)
      Decontaminate.substringOverlap(train, ev, window = 8)
    }),

    // corpus-statistics LM quality scoring (perplexity proxy): bigram LM
    // trained on the documents corpus, every document scored by mean
    // log-probability — the model-free CCNet-style quality filter
    "q64_text_lm_score" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextAnalysis.bigramLmScore(docs, docs)
    }),

    // canonical text normalization: the corpus is already clean, so the
    // query plants tabs/newlines/case noise per row (the oracle plants the
    // identical string) — control-strip, case-fold, whitespace-collapse
    // and the byte saving are hash-checked doing real work
    "q76_text_normalize" -> ((s, dir) => {
      val messy = T(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"), lit("  MiXeD \tCase\n  ")).as("text"))
      messy.select(
        col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("clean_text"),
        (length(col("text")) - length(TextAnalysis.normalizeText(col("text"))))
          .cast("long").as("chars_saved"))
    }),

    // DataFrame power-iteration PageRank on the same k-regular clique
    // graph as q44 — identical closed-form fixed point, identical oracle
    // shape; the plain-shuffle twin that replaces GraphX's pinned
    // in-memory graph at scale (CC already has its DF twin in q61)
    "q75_graph_pagerank_df" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      val bidir = e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
      // 10 iterations: the k-regular fixed point is reached after round 1,
      // so this is well past convergence (the 20-iteration GraphX-equality
      // contract is spec'd on a random graph in GraphQueriesSpec)
      graft.graph.GraphQueries.pageRankDF(s, v.select("id"), bidir, numIter = 10)
        .select(col("id"), round(col("pagerank"), 6).as("pagerank"))
    }),

    // personalized PageRank from a seed supplier over the clique graph
    // (proximity-to-seed, the "accounts/documents near this one" serving
    // query): the teleport concentrates on the source, ranks sum to 1.
    // Iterated doubles aren't bit-portable across engines, so the
    // contract is the q116-style self-verifying gate — the DF loop must
    // match GraphX staticPersonalizedPageRank to 1e-6 on the same graph
    "q126_graph_ppr" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      val bidir = e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
      // 10 iterations, the q75 budget: the gate compares DF vs GraphX at
      // the SAME count, so equality holds at any budget; the 20-iteration
      // contract is spec'd on a random graph in GraphQueriesSpec
      val ppr = graft.graph.GraphQueries.pageRankDF(
        s, v.select("id"), bidir, numIter = 10, personalized = Some(1L))
      if (benchMode) ppr.select(col("id"), round(col("pagerank"), 6).as("pagerank"))
      else {
        val gx = graft.graph.GraphQueries.pageRank(
            s, v.select("id"), bidir, numIter = 10, personalized = Some(1L))
          .select(col("id"), col("pagerank").as("gx_rank"))
        val maxErr = ppr.join(gx, Seq("id"))
          .agg(max(abs(col("pagerank") - col("gx_rank")))).head().getDouble(0)
        s.range(1).select(lit(1L).as("source_id"), lit(maxErr <= 1e-6).as("ppr_pass"))
      }
    }),

    // deterministic corpus shuffle (training-order randomization): the
    // permutation key is a pure function of (seed, doc_id) — the oracle
    // recomputes every shuffle_id exactly, so the full permutation is
    // hash-checked even though row order itself never is
    "q74_shuffle_deterministic" -> ((s, dir) =>
      graft.ops.Sampling.deterministicShuffle(
          T(s, dir, "documents"), key = col("doc_id"), seed = 42, hash = activeHash)
        .select(col("doc_id"), col("lang"), col("shuffle_id"))),

    // embedding-space outlier screen: cosine of each vector to its OWN
    // label centroid, flagged below 0.0 (≈ bottom decile here) — the
    // mislabeled-example filter; broadcast equi-join on label, map-side
    // cosine, no shuffle of the embedding table
    "q73_embed_outliers" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      VectorOps.centroidOutliers(emb, VectorOps.labelCentroids(emb), tau = 0.0)
    }),

    // heavy-hitter tokens: top-25 by corpus frequency, deterministic
    // tie-break — TakeOrderedAndProject after the vocabulary agg, the
    // long tail never shuffles past its partition
    "q72_text_top_tokens" -> ((s, dir) =>
      TextAnalysis.topTokens(T(s, dir, "documents"), k = 25)),

    // temperature-flattened domain mixture (p_d ∝ c_d^0.5): α-smoothed
    // sampling rates from one count pass (power sum folded in sorted-
    // stratum order, sqrt not pow — both make the thresholds bit-
    // reproducible in the oracle), then the same map-side hash filter as
    // every sampler
    "q71_sample_temperature" -> ((s, dir) =>
      graft.ops.Sampling.temperatureMix(
          T(s, dir, "documents"), "lang",
          alpha = 0.5, targetFraction = 0.5,
          key = col("doc_id"), seed = 42, hash = activeHash)
        .select(col("doc_id"), col("lang"))),

    // context-window chunking: 128-token windows every 64 tokens (64-token
    // overlap), the split step that turns documents into training
    // sequences — pure explode projection, zero shuffle
    "q70_text_chunk" -> ((s, dir) =>
      TextAnalysis.chunk(T(s, dir, "documents"), maxTokens = 128, stride = 64)),

    // Z-order layout rewrite (OPTIMIZE ZORDER BY as plain Spark): the
    // hash-checkable contract is content preservation — the oracle is the
    // identity projection, so a lost/duplicated row in the range exchange
    // or partition-local sort hash-fails. Clustering quality (per-
    // partition min-max spans on BOTH clustered columns) is asserted in
    // LayoutSpec
    "q69_zorder_layout" -> ((s, dir) =>
      graft.io.Layout.zorderBy(
        T(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"),
        cols = Seq("l_partkey", "l_suppkey"),
        numPartitions = 8)),

    // PII scrubbing: the corpus itself is PII-free, so the query plants a
    // deterministic email + IP + account number per document (the oracle
    // plants the identical string) — redaction and the per-category counts
    // are then hash-checked doing real work on every row
    "q68_text_pii_redact" -> ((s, dir) => {
      val tainted = T(s, dir, "documents").select(
        col("doc_id"),
        concat(
          col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com via 10."), pmod(col("doc_id"), lit(200)),
          lit(".0.7 acct "), (lit(4000000000L) + col("doc_id")).cast("string")).as("text"))
      TextAnalysis.redactPii(tainted)
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_long_numbers"), col("clean_text"))
    }),

    // SemDeDup-style semantic dedup over the embedding corpus: block by the
    // 4-bit LSH sign-projection bucket (the deterministic, oracle-
    // replicable analogue of the paper's k-means cells), within-bucket
    // cosine pairs at >= 0.25, min-id representative kept. Unlike the ANN
    // gates, the full keep/drop decision is hash-checked row by row
    "q67_dedup_semantic" -> ((s, dir) => {
      val lsh = SimilaritySearch.RandomHyperplaneLsh(bits = 4, dim = 64, hash = activeHash)
      Dedup.semanticDedup(
        T(s, dir, "embeddings"),
        bucketCol = lsh.bucketExpr(col("embedding").cast("array<double>")),
        threshold = 0.25)
    }),

    // cross-source overlap matrix: near-dup pairs bucketed by the
    // (unordered) source pair — the dataset-overlap report of corpus
    // releases ("crawl A duplicates crawl B"): which ingests re-collect
    // each other, and how much intra-source duplication each carries.
    // Pair generation is q48's exact prefix-filtered Jaccard; the matrix
    // is one grouped count over slim (id, id) pairs + two id-joins for
    // the source lookup
    "q86_source_overlap" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      Dedup.prefixJaccardPairs(docs, threshold = 0.7)
        .join(src.select(col("doc_id").as("id_a"), col("source").as("_sa")), Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("_sb")), Seq("id_b"))
        .groupBy(
          least(col("_sa"), col("_sb")).as("source_x"),
          greatest(col("_sa"), col("_sb")).as("source_y"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // edit-distance similarity self-join (entity resolution): all customer
    // name pairs within Levenshtein distance 1, EXACT, via symmetric-delete
    // (FastSS) blocking — candidates share a deletion variant (codegen
    // explode, equi-join on the variant key), verify is the
    // threshold-bounded native levenshtein; never an all-pairs compare
    "q87_fuzzy_editdist" -> ((s, dir) =>
      graft.ops.FuzzyJoin.editDistancePairs(
        T(s, dir, "customer"), strCol = "c_name", idCol = "c_custkey", maxDist = 1)),

    // per-document TF-IDF top terms (keyword extraction): rank by the
    // ROUNDED score so an ulp of ln() divergence between engines cannot
    // reorder rows; ties by token text — the full top-5 table hash-checks
    "q88_text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(T(s, dir, "documents"))),

    // asymmetric containment pairs (snippet/quote detection): every 5th
    // document's first 10 tokens are planted as a standalone snippet doc
    // (the oracle plants the identical rows) — each snippet is found
    // inside its parent at containment 1.0, exactly the relation Jaccard
    // misses (10 tokens vs a full document is far below any useful
    // symmetric threshold)
    "q89_dedup_containment" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val toks = split(lower(trim(col("text"))), "\\s+")
      val snippets = T(s, dir, "documents")
        .where(pmod(col("doc_id"), lit(5)) === 0 && size(toks) >= 12)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          array_join(slice(toks, 1, 10), " ").as("text"))
      Dedup.containmentPairs(docs.union(snippets), threshold = 0.9)
    }),

    // weighted sampling without replacement (Efraimidis–Spirakis): 50 docs
    // per language with inclusion probability ∝ n_chars — token-weighted
    // selection, so a fixed doc budget draws representative token mass;
    // the full selection (ranks included) hash-checks against the oracle's
    // replica of u, ln(u)/w and the tie rule
    "q94_sample_weighted" -> ((s, dir) =>
      graft.ops.Sampling.weightedTopK(
          T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          strataCols = Seq("lang"), k = 50,
          weight = col("n_chars"), rowKey = col("doc_id"), hash = activeHash)
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    // hashed unigram+bigram linear classifier score (fastText-style
    // hashing-trick quality model): integer bucket weights keep the
    // per-document sum exact, so both engines agree up to one division
    // and the final sigmoid; the whole feature stage is one codegen
    // explode — no window, no HOF
    "q95_text_ngram_classifier" -> ((s, dir) =>
      TextAnalysis.hashedNgramScore(
        T(s, dir, "documents"), hash = activeHash)),

    // label-propagation communities on the q44/q75/q93 clique-union
    // graph: with the self-vote tie-broken by min, every nation clique
    // settles on its minimum supplier id in round one — the closed form
    // the oracle computes without iterating; isolated suppliers keep
    // their own id via the caller-side coalesce (the kCore contract)
    "q96_graph_lpa" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      val labels = graft.graph.GraphQueries.labelPropagation(s, e, numIter = 4)
      v.select(col("id").cast("long").as("id"))
        .join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("community"))
    }),

    // the stream-stream "follows" join's BATCH face (StreamJoins.follows
    // is one code path for live streams and backfills — watermarks no-op
    // here): purchases within 1 hour AFTER a view, per user; the
    // equi-key + both-sided time-range triple is what bounds streaming
    // state
    "q137_stream_follows" -> ((s, dir) => {
      val ev = E(s, dir).withColumn("tss", timestamp_micros(expr("ts div 1000")))
      val v = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("tss").as("v_ts"))
      val b = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("tss").as("p_ts"))
      graft.streaming.StreamJoins.follows(v, b, "user_id", "v_ts", "p_ts",
          window = "1 hour", watermark = "1 hour")
        .select("user_id", "view_id", "purchase_id")
    }),

    // interval-OVERLAP join (exposure windows): each view's 1-hour window
    // against each purchase's 1-hour window per user — bucketized
    // equi-join with the exactly-once max-start bucket claim, never the
    // per-key nested loop the raw theta join would plan
    "q130_interval_overlap" -> ((s, dir) => {
      val ev = E(s, dir).withColumn("tsu", expr("ts div 1000"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("tsu").as("v_start"), (col("tsu") + 3600000000L).as("v_end"))
      val buys = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("tsu").as("p_start"), (col("tsu") + 3600000000L).as("p_end"))
      graft.ops.IntervalJoin.intervalOverlap(views, buys, Seq("user_id"),
          "v_start", "v_end", "p_start", "p_end", bucketWidth = 3600000000L)
        .select(col("user_id"), col("view_id"), col("purchase_id"))
    }),

    // windowed conversion funnel view → click → purchase (earliest-anchor
    // greedy, 7-day window): each stage is a scan-pruned filter + one
    // user-keyed min — the shuffles carry per-user scalars, never raw
    // events; timestamps compared at µs so the oracle sees identical
    // values (events carry genuine nanos)
    "q97_event_funnel" -> ((s, dir) =>
      graft.ops.EventAnalytics.funnel(
        E(s, dir).withColumn("tsu", expr("ts div 1000")),
        steps = Seq("view", "click", "purchase"),
        windowTs = 604800000000L, tsCol = "tsu")),

    // daily cohort retention matrix: cohort = epoch-day of a user's first
    // event, cell = distinct users active at each day offset — two
    // user-keyed aggregates and a |cohorts|×|offsets| result
    "q98_cohort_retention" -> ((s, dir) =>
      graft.ops.EventAnalytics.cohortRetention(
        E(s, dir).withColumn("tsu", expr("ts div 1000")),
        bucketTs = 86400000000L, tsCol = "tsu")),

    // first-order event-type transition matrix (Markov view of the event
    // stream): per-user lead() window, exact integer counts, one division
    "q99_event_transitions" -> ((s, dir) =>
      graft.ops.EventAnalytics.transitionCounts(
        E(s, dir).withColumn("tsu", expr("ts div 1000")),
        tsCol = "tsu")),

    // per-language winsorized length trim (drop shortest/longest 5%):
    // rank-based on purpose — percent_rank is one exact integer ratio
    // per row, so both engines keep the identical row set (a value
    // threshold from interpolated percentiles could flip boundary rows)
    "q100_length_trim" -> ((s, dir) =>
      graft.ops.Sampling.rankTrim(
        T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        value = col("n_chars"), strataCols = Seq("lang"), loP = 0.05, hiP = 0.95)),

    // embedding-space decontamination (the third screen after q62 n-gram
    // and q63 exact-substring): exact cosine of every train vector vs the
    // BROADCAST eval set — an intentional BroadcastNestedLoopJoin with the
    // native codegen cosine inside, because a recall-trading candidate
    // join is wrong where one missed pair poisons an eval
    "q102_decontaminate_semantic" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Decontaminate.semanticOverlap(
        emb.where(col("vec_id") % 20 =!= 0),
        emb.where(col("vec_id") % 20 === 0),
        threshold = 0.25)
    }),

    // Count-Min heavy hitters: exact top-20 tokens joined with their CMS
    // estimates from the 8 KB sketch — CMS is a linear sketch, so every
    // counter is a plain group-by sum the oracle replicates exactly (no
    // tolerance gate); est ≥ n is the sketch's one-sided guarantee
    "q101_heavy_hitters" -> ((s, dir) => {
      val toks = T(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .where(col("token") =!= "")
      val exact = toks.groupBy("token").agg(count(lit(1)).as("n"))
      // limit-BEFORE-rank (the keySkewReport pattern): orderBy+limit plans
      // TakeOrderedAndProject map-side heaps; the rank window then runs on
      // the 20-row frame only, instead of ranking the whole vocabulary in
      // one partition and filtering after
      val top = exact
        .orderBy(col("n").desc, col("token")).limit(20)
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("token"))))
      top
        .crossJoin(broadcast(graft.ops.CountMin.sketch(toks, col("token"), hash = activeHash)))
        .select(col("token"), col("n"),
          graft.ops.CountMin.estimate(col("cms"), col("token"), hash = activeHash).as("est"),
          col("rnk").cast("long").as("rnk"))
    }),

    // single-pass data-quality gate: six declarative checks (completeness,
    // uniqueness, set membership, bounds, format, row count) compiled into
    // the conditional counters of ONE aggregate scan — adding a check adds
    // a counter, never a pass; metrics are exact-integer ratios so the
    // report (including the deliberately-failing lang-set check) is
    // engine-exact
    "q139_validate_report" -> ((s, dir) => {
      import graft.ops.Validate._
      graft.ops.Validate.report(T(s, dir, "documents"), Seq(
        NotNull("text"),
        Unique("doc_id"),
        InSet("lang", Seq("en", "de", "es", "fr"), minFraction = 0.9),
        InRange("n_chars", 100, 2000, minFraction = 0.9),
        MatchesRegex("source", "^src[0-9]+$"),
        RowCountBetween(100L, 1000000000L)))
    }),

    // join-cardinality estimation from two 8 KB Count-Min sketches (the
    // planner's broadcast-vs-shuffle sizing input, computed WITHOUT running
    // the join): CMS is linear, so each depth row's counter inner product
    // overestimates Σ_k a_k·b_k one-sidedly — est ≥ exact always, and the
    // oracle replays every counter exactly (q101 discipline)
    "q140_join_size_est" -> ((s, dir) => {
      val est = graft.ops.CountMin.joinSizeEstimate(
        graft.ops.CountMin.sketch(T(s, dir, "lineitem"), col("l_partkey"), hash = activeHash),
        graft.ops.CountMin.sketch(T(s, dir, "part"), col("p_partkey"), hash = activeHash))
      val exact = T(s, dir, "lineitem")
        .join(T(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("exact"))
      est.crossJoin(exact)
        .select(col("est"), col("exact"), (col("est") >= col("exact")).as("one_sided_ok"))
    }),

    // hourly event series with a trailing 3-bucket moving average: the
    // corpus-sized stream collapses to |types|×|hours| counts BEFORE the
    // per-type ordering window ever shuffles a row
    "q103_event_timeseries" -> ((s, dir) =>
      graft.ops.EventAnalytics.timeSeries(
        E(s, dir).withColumn("tsu", expr("ts div 1000")),
        bucketTs = 3600000000L, maBuckets = 3, tsCol = "tsu")),

    // Gopher-style top-bigram concentration: fraction of word characters
    // captured by each doc's single most frequent bigram — computed
    // entirely inside one projection (array_sort + linear fold over the
    // row's own token array), zero shuffle at any corpus size
    "q104_text_gopher" -> ((s, dir) =>
      graft.ops.TextAnalysis.topNgramStats(T(s, dir, "documents"), n = 2)),

    // schema-on-read JSON promotion: props."k" becomes a typed column in
    // one map-side parse, then a per-type rollup — the shuffle carries
    // five aggregate rows, never payloads
    "q105_json_props" -> ((s, dir) =>
      graft.ops.SemiStructured.extractJson(E(s, dir), "props", "k INT")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          round(avg(col("k")), 6).as("avg_k"))),

    // per-language equi-width length histogram: one integer floor per row
    // at the scan, one partial-aggregated shuffle, |langs|×12 result rows;
    // under/overflow clamp into the edge bins so Σn = corpus size
    "q106_length_histogram" -> ((s, dir) =>
      graft.ops.Stats.histogram(
        T(s, dir, "documents").select(col("lang"), col("n_chars")),
        value = col("n_chars"), lo = 0.0, hi = 600.0, bins = 12,
        strataCols = Seq("lang"))),

    // per-language quartile binning (equal-frequency discretization):
    // ntile over (n_chars, doc_id) — the unique tie-break makes the
    // assignment exact and engine-portable where interpolated quantile
    // THRESHOLDS are not
    "q107_ntile_bins" -> ((s, dir) =>
      graft.ops.Stats.ntileBins(
        T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        bins = 4, orderCols = Seq(col("n_chars"), col("doc_id")),
        strataCols = Seq("lang"))),

    // per-language least-squares fit of chars vs tokens (the scaling-law-
    // fit primitive): the five moment sums run as EXACT decimals, so the
    // final double arithmetic is bit-identical in any engine — a plain
    // double-summed corr() would be partitioning- and engine-dependent
    "q108_linear_fit" -> ((s, dir) =>
      graft.ops.Stats.linearFit(
        T(s, dir, "documents").select(col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tok"), col("n_chars")),
        x = col("n_tok"), y = col("n_chars"), strataCols = Seq("lang"))),

    // per-source repeat factors (epochs): en 2.5 passes, de half a pass,
    // everything else one — pure map-side explode, the extra-copy choice is
    // the same (seed, key) hash filter as q45, so the oracle replays it
    "q109_sample_epochs" -> ((s, dir) =>
      graft.ops.Sampling.withEpochs(
        T(s, dir, "documents").select(col("doc_id"), col("lang")),
        strataCol = "lang", repeats = Map("en" -> 2.5, "de" -> 0.5),
        defaultRepeat = 1.0, key = col("doc_id"), hash = activeHash)),

    // k-core decomposition on the same clique-union similarity graph as
    // q44/q75: a c-clique is a (c−1)-core, so the 3-core is exactly the
    // nations with ≥ 4 suppliers, every survivor at core_degree c−1 — the
    // closed form the oracle computes without iterating
    "q93_graph_kcore" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      graft.graph.GraphQueries.kCore(s, e, k = 3)
    }),

    // two-phase entity resolution: block exact and cheap (q87's deletion-
    // variant edit-distance join), then RE-SCORE candidates with the
    // native codegen Jaro-Winkler — the canonical block-then-refine shape;
    // every (pair, dist, jw) row hash-checks against DuckDB's
    // jaro_winkler_similarity
    "q92_fuzzy_jw_score" -> ((s, dir) => {
      val names = T(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      graft.ops.FuzzyJoin.editDistancePairs(
          T(s, dir, "customer"), strCol = "c_name", idCol = "c_custkey", maxDist = 1)
        .join(names.select(col("c_custkey").as("id_a"), col("c_name").as("_na")), Seq("id_a"))
        .join(names.select(col("c_custkey").as("id_b"), col("c_name").as("_nb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("dist"),
          round(graft.ops.FuzzyJoin.jaroWinkler(col("_na"), col("_nb")), 6).as("jw"))
    }),

    // BPE tokenizer training, counting stage: the weighted adjacent-char
    // pair table over the word vocabulary — the exact table bpeMerges
    // ranks each step (the sequential learn loop itself is spec-gated:
    // data-dependent iteration is not SQL-expressible)
    "q91_text_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(TextAnalysis.bpeVocabulary(T(s, dir, "documents")))),

    // stateful-streaming exact dedup, batch face: flatMapGroupsWithState
    // over fingerprint buckets — in a single batch the verdict contract
    // reduces to "novel ⇔ min doc_id of its fingerprint", which is what
    // the oracle checks row by row; the cross-micro-batch state path is
    // spec-asserted with MemoryStream (StreamingFpDedupSpec)
    "q90_dedup_stream_fp" -> ((s, dir) =>
      graft.streaming.StreamingFpDedup.verdicts(s, T(s, dir, "documents"))
        .toDF()
        .withColumn("novel", col("novel").cast("long"))),

    // exact-substring span dedup: every 3rd document gets the SAME planted
    // 10-token license sentence (the oracle plants the identical string);
    // its 8-token windows are duplicated corpus-wide, so every holder but
    // the smallest-id one loses those tokens while organic text survives —
    // rebuild, totals and removal counts hash-checked row by row
    "q85_text_dedup_spans" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"),
            lit(" this content is provided under the standard license agreement terms")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.dedupSpans(docs, window = 8)
    }),

    // shard assembly: q52's packing joined back to the texts, one
    // concatenated training sequence per (stream, bin) in packing order —
    // the text itself is hash-checked, so a lost/duplicated/misordered
    // document inside any bin fails
    "q84_pack_assemble" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ops.Packing.assembleBins(
        graft.ops.Packing.packSequences(
          docs, tokens = TextAnalysis.tokenCount(col("text")), budget = 1024, streams = 32),
        docs)
    }),

    // batch k-NN join: every 100th vector queries the whole corpus for its
    // top-5 cosine neighbors — broadcast queries, map-side scoring, and
    // the per-query top-k rides the TopKAgg partial aggregate (the shuffle
    // carries bounded heaps, never the scored cross product); the full
    // (query, neighbor, score, rank) table is hash-checked
    "q83_knn_join" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      SimilaritySearch.knnJoin(
        emb.where(pmod(col("vec_id"), lit(100)) === 0), emb, k = 5)
    }),

    // leakage-safe train/test split: the split key is the near-dup CLUSTER
    // id, so a document can never land in train while its near-duplicate
    // sits in test (the classic eval-contamination pitfall of doc-keyed
    // splits) — deterministic, map-side after the cluster labeling, and
    // the whole (cluster → side) assignment is hash-checked
    "q82_split_leakage_safe" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val labels = Dedup.clusters(s, Dedup.prefixJaccardPairs(docs, threshold = 0.7),
          docs = Some(docs))
        .select(col("doc_id"), col("cluster_id"))
      graft.ops.Sampling.trainTestSplit(labels, key = col("cluster_id"),
        testFraction = 0.2, seed = 42, hash = activeHash)
    }),

    // per-language corpus data card: counts, exact-decimal quality mean,
    // low-quality fraction, fingerprint dup rate — |strata| result rows
    // from two pre-combined shuffles, no countDistinct Expand
    "q81_corpus_report" -> ((s, dir) =>
      TextAnalysis.corpusReport(T(s, dir, "documents"))),

    // per-language exact quantile profile (p50/p90/p99 lengths): the
    // rank-based (type-1) quantile — an ACTUAL value at an integer rank,
    // engine-exact where interpolated quantiles are not
    "q119_length_quantiles" -> ((s, dir) =>
      graft.ops.Stats.quantileProfile(
        T(s, dir, "documents").select(col("lang"), col("n_chars")),
        value = col("n_chars"), strataCols = Seq("lang"),
        ps = Seq(0.5, 0.9, 0.99))),

    // served-model n-gram scoring: the q95 classifier scored through the
    // BROADCAST weight-table path (weights = the derived rule
    // materialized), so hash equality with q95's expected output proves
    // the serving join computes exactly what the inline rule does
    "q120_text_ngram_serve" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextAnalysis.hashedNgramScoreWith(
        docs, TextAnalysis.derivedNgramWeights(docs, hash = activeHash),
        hash = activeHash)
    }),

    // multi-source BFS hop distances over the part–supplier bipartite
    // graph (distinct lineitem links; suppliers offset into a disjoint id
    // space): level-synchronous frontier expansion — per round one slim
    // equi-join of the edge list against the shrinking frontier — under
    // the same radius cap the oracle's recursive CTE walks with
    "q121_graph_bfs" -> ((s, dir) => {
      val e = T(s, dir, "lineitem").select(
        col("l_partkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + lit(10000000L)).as("dst"))
      graft.graph.GraphQueries.shortestPaths(
        s, e, sources = Seq(1L, 2L, 3L, 4L, 5L), maxDist = 8)
    }),

    // deterministic random walks (the node2vec/DeepWalk corpus generator)
    // on the q121 graph: 2 walks × 5 hops from each of 10 parts, next hop
    // = hash(seed, walk, step) mod degree over id-ranked neighbors — fully
    // replayable, so the ENTIRE walk table is hash-checked, not sampled
    "q141_graph_walks" -> ((s, dir) => {
      val e = T(s, dir, "lineitem").select(
        col("l_partkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + lit(10000000L)).as("dst"))
      graft.graph.GraphQueries.randomWalks(
        s, e, starts = (1L to 10L), numWalks = 2, walkLength = 5,
        seed = 42, hash = activeHash)
    }),

    // weighted shortest paths (Bellman-Ford DF rounds) on the q121 graph
    // with integer edge costs: parallel edges collapse to min weight, the
    // cost cap prunes map-side, and the oracle's recursive walk under the
    // same cap makes every (vertex, cost) row exact
    "q142_graph_sssp" -> ((s, dir) => {
      val e = T(s, dir, "lineitem").select(
        col("l_partkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + lit(10000000L)).as("dst"),
        (lit(1) + col("l_linenumber") % 3).cast("long").as("weight"))
      graft.graph.GraphQueries.weightedDistances(
        s, e, sources = Seq(1L, 2L, 3L), maxCost = 8)
    }),

    // common-neighbor link prediction on the q147 projected supplier
    // graph: non-adjacent pairs sharing >= 2 neighbors, scored by exact
    // common count + neighborhood Jaccard (one division — Adamic-Adar's
    // log is the ulp lottery the q88/q134 rule avoids)
    "q156_graph_linkpred" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("src"),
        col("l_partkey").cast("long").as("dst"))
      val proj = graft.graph.GraphQueries.bipartiteProject(li, minShared = 150L)
        .select(col("a").as("src"), col("b").as("dst"))
      graft.graph.GraphQueries.linkPrediction(proj, minCommon = 2L)
    }),

    // degree assortativity of the projected supplier graph: Pearson corr
    // over (deg_u, deg_v) of every directed edge instance — computed by
    // the decimal-moment linearFit, so the correlation is engine-exact
    "q157_graph_assortativity" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("src"),
        col("l_partkey").cast("long").as("dst"))
      val proj = graft.graph.GraphQueries.bipartiteProject(li, minShared = 150L)
      val bi = proj.select(col("a").as("u"), col("b").as("v"))
        .union(proj.select(col("b").as("u"), col("a").as("v")))
      val deg = bi.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val withDegs = bi
        .join(deg.select(col("u"), col("deg").as("du")), Seq("u"))
        .join(deg.select(col("u").as("v"), col("deg").as("dv")), Seq("v"))
      graft.ops.Stats.linearFit(withDegs, col("du"), col("dv"))
    }),

    // column profiling report (the "describe this table" ingest check):
    // one aggregation pass — multi-column exact distincts plan as a
    // single Expand shuffle, per-column rows via a stack generator over
    // the one aggregated row; min/max aggregate on the native type and
    // only the scalar casts to string
    "q158_profile" -> ((s, dir) =>
      graft.ops.Stats.profile(
        T(s, dir, "documents"), Seq("doc_id", "lang", "source", "n_chars"))),

    // CDC apply (MERGE-INTO): a synthesized ordered change batch —
    // updates (%7), deletes (%11, later seq so latest-wins is exercised
    // on the overlap keys), inserts (%13 under shifted keys) — applied
    // onto the orders snapshot; one window over the delta + one anti-join
    "q159_cdc_apply" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val upd = o.where(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
        .withColumn("op", lit("U")).withColumn("seq", lit(1L))
      val del = o.where(col("o_orderkey") % 11 === 3)
        .withColumn("op", lit("D")).withColumn("seq", lit(2L))
      val ins = o.where(col("o_orderkey") % 13 === 5)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("op", lit("I")).withColumn("seq", lit(1L))
      graft.ops.ChangeCapture.applyChanges(
        o, upd.unionByName(del).unionByName(ins), Seq("o_orderkey"))
    }),

    // trailing-window rate anomalies (spike monitoring): hourly per-type
    // counts z-scored against the 12 prior present buckets — frame sums
    // are exact integers, so z is one sqrt + one division per bucket row
    "q160_event_anomaly" -> ((s, dir) =>
      graft.ops.EventAnalytics.anomalies(
        E(s, dir), bucketTs = 3600000000000L, trailing = 12,
        threshold = 2.0, minPrior = 4)),

    // token-mass weighted quantiles: the doc length below which half /
    // 90% / 99% of the corpus CHARACTERS sit, per language — integer
    // cumulative weights, target rank one multiply+ceil off the exact
    // total, selected q an actual data value
    "q161_weighted_quantiles" -> ((s, dir) =>
      graft.ops.Stats.weightedQuantileProfile(
        T(s, dir, "documents"), value = col("n_chars"),
        weight = col("n_chars"), strataCols = Seq("lang"),
        ps = Seq(0.5, 0.9, 0.99), tieCol = col("doc_id"))),

    // markup stripping (raw crawl → plain text): docs wrapped in synthetic
    // HTML + markdown, then stripped — links keep labels, tags/entities →
    // whitespace, emphasis marks drop; pure codegen regexp, zero shuffle
    "q162_strip_markup" -> ((s, dir) => {
      val marked = concat(
        lit("<div class=\"d\">[doc](http://x/"), col("doc_id"), lit(") # "),
        col("text"), lit(" &amp; more</div>"))
      T(s, dir, "documents").select(
        col("doc_id"), graft.ops.TextAnalysis.stripMarkup(marked).as("clean"))
    }),

    // exact-count proportional quota sample (largest-remainder): exactly
    // 200 docs at the corpus' language mix (distinct from the corpus size
    // at every SF so the allocation path actually runs) — integer allocation on the
    // |strata|-row count frame, per-stratum hash-rank cut, one data shuffle
    "q163_sample_quota" -> ((s, dir) =>
      graft.ops.Sampling.quotaSample(
        T(s, dir, "documents").select("doc_id", "lang", "source"),
        strataCol = "lang", total = 200L, key = col("doc_id"),
        hash = activeHash)),

    // token-budget corpus cut via the DISTRIBUTED prefix sum (range
    // partitions + per-partition offsets — never a single-partition global
    // window): shortest-docs-first under a 1M-char budget, cum kept as the
    // audit column
    "q164_token_budget" -> ((s, dir) =>
      graft.ops.Sampling.tokenBudget(
        T(s, dir, "documents").select("doc_id", "n_chars"),
        tokens = col("n_chars"), budget = 1000000L,
        sortCols = Seq(col("n_chars"), col("doc_id")))),

    // Unicode NFC normalization (native codegen expression — Spark has no
    // built-in normalizer): decomposed combining sequences injected ahead
    // of each doc must compose to the precomposed forms; the length column
    // proves composition happened (both engines count code points)
    "q165_nfc_normalize" -> ((s, dir) => {
      // explicit escapes: the injected marks are DECOMPOSED combining chars
      val marked = concat(lit("Cafe\u0301 nai\u0308ve "), col("text"))
      T(s, dir, "documents").select(
        col("doc_id"),
        graft.ops.TextAnalysis.nfcNormalize(marked).as("clean"))
        .withColumn("n", length(col("clean")))
    }),

    // top user journeys: first-5 event types per user joined ">", counted,
    // top-20 — path assembly is max(when(rn=i)) per step, NO arrays/HOFs
    // (both interpreted); final top-k plans as TakeOrderedAndProject
    "q166_event_paths" -> ((s, dir) =>
      graft.ops.EventAnalytics.topPaths(E(s, dir), k = 20, maxSteps = 5)),

    // last-touch attribution report: each purchase attributes to the
    // nearest preceding view/click within a day (the q46 one-shuffle
    // union-scan as-of), revenue rolled up per touch type — decimal-cast
    // sums keep the money totals order-free
    "q167_attribution" -> ((s, dir) => {
      val ev = E(s, dir).withColumn("tsu", expr("ts div 1000"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tsu"),
          coalesce(col("value"), lit(0.0)).as("value"))
      val touches = ev.where(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("tsu"), col("event_id"),
          col("event_type").as("touch_type"))
      graft.ops.AsOfJoin.backward(purchases, touches, Seq("user_id"), "tsu",
          rightCols = Seq("event_id", "touch_type"), prefix = "touch_",
          tolerance = Some(86400000000L))
        .groupBy(coalesce(col("touch_touch_type"), lit("unattributed")).as("touch"))
        .agg(
          count(lit(1)).as("purchases"),
          round(sum(col("value").cast("decimal(38,12)")).cast("double"), 2)
            .as("revenue"))
    }),

    // TPC-H Q5-shaped star join (the optimizer showcase): lineitem ⋈
    // orders ⋈ customer ⋈ supplier (same-nation condition) ⋈ nation ⋈
    // region, revenue per region/nation — dims broadcast, fact shuffles
    // only on join keys, AQE reorders; decimal-cast revenue sums
    "q168_star_join" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      li.join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(T(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_items"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(38,12)")).cast("double"), 2).as("revenue"))
    }),

    // per-day value percentile bands (latency-dashboard shape): exact
    // rank-based quantiles per time bucket — selected values are actual
    // data, the q119 rule with time strata
    "q169_latency_bands" -> ((s, dir) => {
      val ev = E(s, dir).where(col("value").isNotNull)
        .withColumn("day", expr("ts div 86400000000000"))
      graft.ops.Stats.quantileProfile(ev, col("value"), Seq("day"), Seq(0.5, 0.9, 0.99))
    }),

    // rolling 7-day distinct actives + daily actives: events collapse to
    // the deduped (user, day) frame, each row fans out map-side to the 7
    // buckets it keeps alive, one exact-distinct aggregate per bucket —
    // never a distinct-over-range rescan per day
    "q170_rolling_active" -> ((s, dir) =>
      graft.ops.EventAnalytics.rollingDistinct(
        E(s, dir), bucketTs = 86400000000000L, window = 7)),

    // median imputation per language (nulls synthesized on %13): the fill
    // value is the rank-based median — an ACTUAL data value, engine-exact
    // where a mean would float-sum; broadcast |strata| medians, data
    // never shuffles
    "q171_impute_median" -> ((s, dir) => {
      val d = T(s, dir, "documents").withColumn("n_chars",
        when(col("doc_id") % 13 === 0, lit(null).cast("long"))
          .otherwise(col("n_chars")))
      graft.ops.Stats.imputeMedian(d, "n_chars", Seq("lang"))
        .select("doc_id", "lang", "n_chars", "imputed")
    }),

    // per-language winsorization to the [p05, p95] band: outliers CLAMP
    // (rankTrim's keep-every-row complement); band edges are actual data
    // values, broadcast back — the data never shuffles for the clamp
    "q172_winsorize" -> ((s, dir) =>
      graft.ops.Stats.winsorize(
        T(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        col("n_chars"), Seq("lang"), loP = 0.05, hiP = 0.95)),

    // silhouette-style per-class separation: margin = own-centroid cosine
    // minus best other-centroid cosine, negative ⇒ mislabel/overlap
    // signal; rounded cosines, decimal-summed margins, one division
    "q173_centroid_margin" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      VectorOps.centroidMargin(emb, VectorOps.labelCentroids(emb))
    }),

    // item co-visitation (recommender candidate generation): canonical
    // item pairs sharing users, binary-cosine scored off exact counts;
    // deduped (user, item) frame, per-user hub cap, tracked-persisted
    // self-join
    "q175_covisitation" -> ((s, dir) =>
      graft.ops.EventAnalytics.coVisitation(
        T(s, dir, "events"),
        item = get_json_object(col("props"), "$.k").cast("long"),
        minSupport = 5L)),

    // calibration curve of the q95 hashed-ngram classifier against the
    // lang='en' label: 10 equal-count score bins, observed positive rate
    // vs mean score — exact-integer rates, decimal-summed mean scores
    "q176_calibration" -> ((s, dir) => {
      val scores = TextAnalysis.hashedNgramScore(T(s, dir, "documents"), hash = activeHash)
      val labeled = scores.join(
        T(s, dir, "documents").select(col("doc_id"), (col("lang") === "en").as("y")),
        Seq("doc_id"))
      graft.ops.Stats.calibrationCurve(
        labeled, col("score"), col("y"), bins = 10, tieCol = col("doc_id"))
    }),

    // strongly connected components (directed): supplier→part edges on odd
    // line numbers, part→supplier on even — pairs traded with both
    // parities form 2-cycles that merge into large SCCs; the DF
    // forward-backward coloring loop (GraphX-twin spec-pinned)
    "q182_graph_scc" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").where(col("l_partkey") % 20 === 0)
      val fwd = li.where(col("l_linenumber") % 2 === 1)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey").cast("long") + 10000000L).as("dst")).distinct()
      val bwd = li.where(col("l_linenumber") % 2 === 0)
        .select((col("l_partkey").cast("long") + 10000000L).as("src"),
          col("l_suppkey").cast("long").as("dst")).distinct()
      graft.graph.GraphQueries.sccDF(s, fwd.unionByName(bwd))
    }),

    // coordinated (join-preserving) sampling: customer and orders filtered
    // by the SAME (seed, custkey) hash rule — referential closure holds by
    // construction (the ORPHAN segment would catch any sampled order whose
    // customer was dropped; it never appears), with zero joins in the
    // sampling itself — each table is a map-side filter on its own key copy
    "q183_coordinated_sample" -> ((s, dir) => {
      val Seq(cust, ord) = graft.ops.Sampling.coordinatedSample(
        Seq(
          (T(s, dir, "customer"), col("c_custkey")),
          (T(s, dir, "orders"), col("o_custkey"))),
        fraction = 0.3, seed = 42, hash = activeHash)
      ord.join(cust.select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy(coalesce(col("c_mktsegment"), lit("ORPHAN")).as("segment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"))
    }),

    // 2-D pareto frontier per return flag: (quantity, extendedprice) points
    // no other point weakly dominates — collapse-first (distinct points →
    // best price per quantity), then one running-max scan over ≤|distinct
    // qty| rows; raw parquet doubles compare engine-identically
    "q184_skyline" -> ((s, dir) =>
      graft.ops.Stats.skyline(
        T(s, dir, "lineitem").withColumnRenamed("l_returnflag", "flag"),
        x = col("l_quantity"), y = col("l_extendedprice"),
        keys = Seq("flag"))),

    // referential-integrity audit over three FKs, one row each; the first
    // relation's parent is pruned (custkey % 7 = 0 customers dropped) so
    // the orphan counter is exercised against a known-dirty dimension
    "q185_fk_orphans" -> ((s, dir) => {
      val orders = T(s, dir, "orders")
      val li = T(s, dir, "lineitem")
      graft.ops.Validate.fkOrphans(
          orders, col("o_custkey"),
          T(s, dir, "customer").where(col("c_custkey") % 7 =!= 0), col("c_custkey"),
          "orders>customer_pruned")
        .unionByName(graft.ops.Validate.fkOrphans(
          li, col("l_orderkey"), orders, col("o_orderkey"), "lineitem>orders"))
        .unionByName(graft.ops.Validate.fkOrphans(
          li, col("l_partkey"), T(s, dir, "part"), col("p_partkey"), "lineitem>part"))
    }),

    // exact per-key mode (majority vote): each nation's most common market
    // segment — count collapse + one max(struct) election, ties to the
    // greatest segment, no window sort anywhere
    "q186_mode_by" -> ((s, dir) =>
      graft.ops.Stats.modeBy(
        T(s, dir, "customer")
          .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey")),
        value = col("c_mktsegment"), keys = Seq("n_name"))),

    // CUBE grouping sets — all four aggregation grains (flag×status, per
    // flag, per status, grand total) in ONE pass over the scan (q35's
    // rollup completed to the full lattice)
    "q187_cube" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"))),

    // tf/df-weighted cosine similarity join (the weighted complement of
    // q19's binary Jaccard): inverse-df weights are exact rational
    // divisions, dot/norm sums decimal-cast order-free, hot terms df>55
    // structurally out of the candidate join
    "q188_weighted_cosine" -> ((s, dir) =>
      TextAnalysis.weightedCosinePairs(
        T(s, dir, "documents").where(col("lang") === "de"),
        threshold = 0.8, maxDocFreq = 55L)),

    // Welch's t-test on document length between en and de — one aggregate
    // scan of exact decimal moments, then scalar IEEE statistics in a
    // pinned formula order the oracle mirrors text-for-text
    "q189_welch_ttest" -> ((s, dir) =>
      graft.ops.Stats.welchTtest(
        T(s, dir, "documents").where(col("lang").isin("en", "de")),
        value = col("n_chars"), label = col("lang") === "en")),

    // per-language token-distribution entropy (corpus diversity): exact
    // integer counts, decimal-summed c·ln c terms, three scalar ops
    "q190_token_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(T(s, dir, "documents"), keys = Seq("lang"))),

    // DAG longest-path levels over the k → 2k / 2k+1 binary tree on part
    // keys: max-relaxation DF wavefront loop, rounds = tree depth (~11),
    // cycle-guarded by the round budget
    "q191_dag_levels" -> ((s, dir) => {
      val keys = T(s, dir, "part").select(col("p_partkey").cast("long").as("k"))
      val kids = keys.select(col("k").as("src"), (col("k") * 2).as("dst"))
        .unionByName(keys.select(col("k").as("src"), (col("k") * 2 + 1).as("dst")))
      val e = kids.join(keys.select(col("k").as("dst")), Seq("dst"), "left_semi")
      graft.graph.GraphQueries.dagLevels(s, e)
    }),

    // the q143 corpus-scale face end-to-end: IvfIndex → cell-restricted
    // batch kNN (no corpus broadcast) → mutualEdges → componentLabels.
    // Verify gates mutual-edge recall of the nprobe=4/8 probe against the
    // exact path (same index, nprobe=k probes everything — spec-pinned
    // ≡ the q143 broadcast path); bench times the approx pipeline alone
    "q230_mutual_knn_approx" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val approx = SimilaritySearch.mutualKnnClustersApprox(
        s, emb, k = 4, SimilaritySearch.IvfIndex(k = 8, nprobe = 4))
      if (benchMode) approx
      else {
        val (indexed, cents) = SimilaritySearch.IvfIndex(k = 8, nprobe = 8).index(emb)
        val tracked = graft.Caches.track(indexed)
        def edgesAt(nprobe: Int) = SimilaritySearch.mutualEdges(
          SimilaritySearch.IvfIndex(k = 8, nprobe = nprobe)
            .knnJoin(tracked, cents, emb, 4,
              excludeSelf = true, broadcastQueries = false)
            .select(col("query_id"), col("neighbor_id")))
        val exactE  = edgesAt(8).cache()
        val approxE = edgesAt(4).cache()
        val nExact = exactE.count()
        val nHit   = approxE.join(exactE, Seq("src", "dst"), "left_semi").count()
        val nRows  = approx.count()
        val nEmb   = emb.count()
        exactE.unpersist(); approxE.unpersist()
        // measured 0.73 at sf0.01 on uniform-random embeddings (the
        // no-cluster-structure worst case) — gate at the q27 convention:
        // half the probes must keep at least half the exact mutual edges.
        // (range(1), not a local Seq.toDF: the gate row should still be a
        // codegen'd plan so the audit's zero-span check keeps meaning)
        s.range(1).select(
          lit(nEmb).as("n_vertices"),
          lit(nRows == nEmb).as("all_labeled"),
          lit(nExact == 0L || nHit * 2 >= nExact).as("recall_pass"))
      }
    }),

    // two-sample KS served from histogram STATES (the q214 grid): the
    // corpus-scale CDF comparison — each side folds batches via histMerge,
    // the statistic reads ≤bins rows per side; integer-maximized like q197
    "q228_ks_from_state" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ops.Stats.ksFromHists(
        graft.ops.Stats.histPartials(docs.where(col("lang") === "en"),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12),
        graft.ops.Stats.histPartials(docs.where(col("lang") === "de"),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12))
    }),

    // ROC-AUC served from the labeled score-histogram STATE: the q177
    // classifier eval at corpus scale — scores pre-bin to a [0,1)×20
    // grid (bin = midrank tie group), state mergeable by scoreHistMerge
    "q229_auc_from_state" -> ((s, dir) => {
      val scores = TextAnalysis.hashedNgramScore(T(s, dir, "documents"), hash = activeHash)
      val labeled = scores.join(
        T(s, dir, "documents").select(col("doc_id"), (col("lang") === "en").as("y")),
        Seq("doc_id"))
      graft.ops.Stats.aucFromHist(
        graft.ops.Stats.scoreHistPartials(labeled, col("score"), col("y"),
          lo = 0.0, hi = 1.0, bins = 20))
    }),

    // Jensen–Shannon divergence from the same histogram states: the
    // bounded symmetric drift score (≤ ln 2, one-sided bins contribute
    // finitely — the PSI complement with no dropped bins)
    "q231_js_divergence" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ops.Stats.jsDivergenceFromHists(
        graft.ops.Stats.histPartials(docs.where(col("lang") === "en"),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12),
        graft.ops.Stats.histPartials(docs.where(col("lang") === "de"),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12))
    }),

    // 1-D Wasserstein (earth mover's) from the states: drift that knows
    // how FAR the mass moved, in value units — integer CDF cross-products
    // (the q197 discipline: KS takes their max, EMD their sum)
    "q232_emd_from_state" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ops.Stats.emdFromHists(
        graft.ops.Stats.histPartials(docs.where(col("lang") === "en"),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12),
        graft.ops.Stats.histPartials(docs.where(col("lang") === "de"),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12),
        lo = 0.0, hi = 600.0, bins = 12)
    }),

    // Lorenz curve of per-user event mass: the q198 Gini's curve —
    // equal-population deciles via the globalNtile prefix-sum rank,
    // exact cumulative masses, shares as single divisions
    "q233_lorenz" -> ((s, dir) => {
      val cnt = E(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ev"))
      graft.ops.Stats.lorenzCurve(cnt, col("n_ev"), bins = 10, tieCol = col("user_id"))
    }),

    // DAU/WAU stickiness — how much of the weekly audience shows up
    // daily (the product-health ratio off the exact rolling actives)
    "q227_stickiness" -> ((s, dir) =>
      graft.ops.EventAnalytics.rollingDistinct(
          E(s, dir), bucketTs = 86400000000000L, window = 7)
        .withColumn("stickiness",
          round(col("dau").cast("double") / col("rolling_active"), 6))),

    // trending terms per bucket — the serving math of StreamingTrending
    // (whose incremental state ≡ this by the straddle/replay specs):
    // bucketed token counts, top-3 by count with greatest-token ties
    "q226_trending_terms" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
        .select(expr("doc_id div 100").as("bucket"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .where(col("token") =!= "")
      val counts = docs.groupBy(col("bucket"), col("token")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("n").desc, col("token").desc)
      counts.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
    }),

    // one-way ANOVA on document length across ALL languages — SSB/SSW
    // from exact decimal moments, pinned scalar arithmetic, one F
    "q225_anova" -> ((s, dir) =>
      graft.ops.Stats.anovaF(
        T(s, dir, "documents"), value = col("n_chars"), groupCol = col("lang"))),

    // lagged cross-correlation of the daily view and purchase series:
    // literal lag axis, one bucket-key join per lag, decimal moments
    "q223_cross_correlation" -> ((s, dir) => {
      val ev = E(s, dir)
      def series(t: String, cName: String) = ev.where(col("event_type") === t)
        .groupBy(expr("ts div 86400000000000").as("t")).agg(count(lit(1)).as(cName))
      graft.ops.EventAnalytics.crossCorrelation(
        series("view", "x"), series("purchase", "y"), maxLag = 3)
    }),

    // the minhash-LSH tuning table: p = 1 − (1 − jʳ)ᵇ for every valid
    // split of a 16-hash signature — the S-curve the q18 generator
    // realizes physically
    "q224_lsh_curve" -> ((s, dir) => graft.ops.Dedup.lshOperatingCurve(16)),

    // EXACTLY balanced stratified k-fold: per-language round-robin over
    // hash-rank order — fold sizes within one of each other per stratum,
    // where the plain hash kFold only balances in expectation
    "q221_stratified_kfold" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedKFold(
        T(s, dir, "documents").select(col("doc_id"), col("lang")),
        strataCol = "lang", key = col("doc_id"), k = 5, hash = activeHash)),

    // Newman modularity of the LPA communities on the clique graph:
    // exact intra-edge/degree integers, pinned per-community arithmetic,
    // decimal-summed contributions
    "q222_modularity" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      val labels = graft.graph.GraphQueries.labelPropagation(s, e, numIter = 2)
      graft.graph.GraphQueries.modularity(s, e, labels)
    }),

    // Kaplan-Meier retention: per-user activity spans, churn = went quiet
    // 3+ days before corpus end (later quitters are CENSORED, not
    // churned) — collapsed time axis, censoring-aware product recurrence
    "q219_survival" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val u = days.groupBy(col("user_id")).agg(min(col("day")).as("_fd"), max(col("day")).as("_ld"))
      val obs = u.crossJoin(broadcast(u.agg(max(col("_ld")).as("_md"))))
        .select((col("_ld") - col("_fd")).as("dur"),
          (col("_ld") <= col("_md") - 3).as("ev"))
      graft.ops.EventAnalytics.kaplanMeier(obs, col("dur"), col("ev"))
    }),

    // cumulative gains / lift of the q95 classifier against the lang=en
    // label: top-score deciles, exact integer counts, pinned divisions
    "q220_gains" -> ((s, dir) => {
      val scores = TextAnalysis.hashedNgramScore(T(s, dir, "documents"), hash = activeHash)
      val labeled = scores.join(
        T(s, dir, "documents").select(col("doc_id"), (col("lang") === "en").as("y")),
        Seq("doc_id"))
      graft.ops.Stats.gainsTable(labeled, col("score"), col("y"),
        bins = 10, tieCol = col("doc_id"))
    }),

    // Benford first-digit screen on order totals: digits from the exact
    // integer-part STRING (no log10 in the extraction), exact shares,
    // closed-form expectations
    "q217_benford" -> ((s, dir) =>
      graft.ops.Stats.benford(T(s, dir, "orders"), value = col("o_totalprice"))),

    // Zipf rank-frequency fit over the corpus vocabulary: log-log
    // regression through the decimal-moment linearFit — slope ≈ −α
    "q218_zipf_fit" -> ((s, dir) => {
      // tracked: the explode-heavy vocabulary agg feeds the prefix-sum's
      // sample + sums + consumer jobs
      val vocab = graft.Caches.track(TextAnalysis.vocabulary(T(s, dir, "documents")))
      // global frequency rank over the |vocab| frame via the prefix-sum
      // (weight 1 in a total order IS the rank) — |vocab| grows with the
      // corpus, so no single-partition rank window
      val ranked = graft.ops.Stats.runningTotal(
        vocab, Seq(col("tf").desc, col("token")), lit(1L), "_rk")
      graft.ops.Stats.linearFit(ranked,
        x = log(col("_rk").cast("double")), y = log(col("tf").cast("double")))
    }),

    // densest-subgraph 2-approx (Charikar peel, Bahmani rounds) on the
    // nation-clique graph: the peel provably lands on the union of the
    // LARGEST cliques at density (n_max−1)/2 — the oracle's closed form
    "q216_densest_subgraph" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      graft.graph.GraphQueries.densestSubgraph(s, e)
    }),

    // Cramér's V association between language and source: exact
    // contingency cells, pinned-order χ² contributions, one sqrt
    "q215_cramers_v" -> ((s, dir) =>
      graft.ops.Stats.cramersV(
        T(s, dir, "documents"), a = col("lang"), b = col("source"))),

    // mutual information + entropies + NMI on the same pair — the
    // magnitude-in-nats face of the q215 association question; decimal
    // count products inside the ln (corpus-safe), decimal-summed terms
    "q234_mutual_information" -> ((s, dir) =>
      graft.ops.Stats.mutualInformation(
        T(s, dir, "documents"), a = col("lang"), b = col("source"))),

    // info-gain sweep: which metadata column best predicts the language?
    // source (categorical) vs a 400-char length band — one MI pass per
    // feature, Theil's U from the rounded mi/h_label (engine-portable)
    "q235_info_gain" -> ((s, dir) =>
      graft.ops.Stats.infoGainProfile(
        T(s, dir, "documents"), label = col("lang"),
        features = Seq(
          "source" -> col("source"),
          "len_band" -> floor(col("n_chars") / lit(400)).cast("long")))),

    // harmonic closeness on q242's thresholded transition graph — the
    // "close to everything" complement of betweenness, same exact-face
    // contract (pivots ≥ |V|)
    "q245_closeness" -> ((s, dir) => {
      val tc = graft.ops.EventAnalytics.transitionCounts(
        E(s, dir).withColumn("tsu", expr("ts div 1000")), tsCol = "tsu")
      val pc = tc.where(col("from_type") =!= col("to_type"))
        .groupBy(least(col("from_type"), col("to_type")).as("a"),
          greatest(col("from_type"), col("to_type")).as("b"))
        .agg(sum(col("n")).as("w"))
      val pairs = pc.crossJoin(pc.agg(max(col("w")).as("_mx")))
        .where(col("w") >= lit(0.96) * col("_mx"))
      val types = pairs.select(col("a").as("t"))
        .union(pairs.select(col("b"))).distinct()
      val m = types.withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("t"))).cast("long"))
      val edges = pairs
        .join(m.select(col("t").as("a"), col("id").as("src")), Seq("a"))
        .join(m.select(col("t").as("b"), col("id").as("dst")), Seq("b"))
        .select("src", "dst")
      graft.graph.GraphQueries.approxCloseness(s, edges, numSources = 64)
        .join(m, Seq("id"))
        .select(col("t").as("state"), col("n_reached"), col("harmonic"))
    }),

    // Flesch + FK grade per doc from portable regexp group counts
    "q244_readability" -> ((s, dir) =>
      graft.ops.TextAnalysis.readability(T(s, dir, "documents"))),

    // q189's A/B question asked nonparametrically: Mann-Whitney U on the
    // en-vs-de length distributions — integer midrank algebra over the
    // distinct-length frame, tie-corrected z, rank-biserial effect size
    "q246_mann_whitney" -> ((s, dir) =>
      graft.ops.Stats.mannWhitney(
        T(s, dir, "documents").where(col("lang").isin("en", "de")),
        value = col("n_chars"), label = col("lang") === "en")),

    // 6-step hitting probability of 'purchase' per starting state — the
    // conversion question asked of q237's chain; fixed rounds, oracle
    // replays the recursion unrolled
    "q257_hitting_prob" -> ((s, dir) => {
      val tc = graft.ops.EventAnalytics.transitionCounts(
        E(s, dir).withColumn("tsu", expr("ts div 1000")), tsCol = "tsu")
      graft.ops.EventAnalytics.hittingProbability(tc, target = "purchase", steps = 6)
    }),

    // decision-stump best split: the single most informative n_chars
    // threshold for "is it English?" — candidate scores off the prefix-
    // sum CDF, rounded-score rank, TakeOrdered arg-min
    "q256_best_split" -> ((s, dir) =>
      graft.ops.Stats.bestSplit(
        T(s, dir, "documents"),
        feature = col("n_chars"), label = col("lang") === "en")),

    // out-of-fold target encoding of source by mean doc length — the
    // leakage-safe mean-encoding table (q131's folds; smoothed toward
    // the global mean so own-fold-only categories degrade to the prior)
    "q255_target_encoding" -> ((s, dir) =>
      graft.ops.Sampling.targetEncode(
        T(s, dir, "documents"), category = col("source"),
        target = col("n_chars"), key = col("doc_id"), k = 5,
        smoothing = 10.0, hash = activeHash)),

    // Theil-Sen robust trend of each event type's hourly volume — the
    // outlier-proof twin of q108's least-squares fit; type-1 medians are
    // picked values, so the whole row is engine-exact
    "q254_theil_sen" -> ((s, dir) => {
      val counts = E(s, dir).withColumn("tsu", expr("ts div 1000"))
        .groupBy(col("event_type"), expr("tsu div 3600000000").as("x"))
        .agg(count(lit(1)).as("yv"))
      graft.ops.Stats.theilSenFit(counts,
        x = col("x"), y = col("yv"), strataCols = Seq("event_type"))
    }),

    // RAKE keyphrases: stopword-delimited candidate runs, deg/freq word
    // scores, decimal-summed phrase scores, top-20 on the rounded score
    "q253_rake" -> ((s, dir) =>
      graft.ops.TextAnalysis.rakeKeyphrases(T(s, dir, "documents"))),

    // Kendall's τ-b between quantity and the 10k price band — the pair-
    // concordance face of q212's rank question, quadratic only in the
    // bounded contingency cells
    "q252_kendall" -> ((s, dir) =>
      graft.ops.Stats.kendallTauB(
        T(s, dir, "lineitem"),
        x = col("l_quantity"), y = floor(col("l_extendedprice") / 10000))),

    // t-closeness: does any source's language mix diverge from the
    // corpus-wide mix enough to leak membership? TVD per source with the
    // absent-value tail folded closed-form
    "q251_t_closeness" -> ((s, dir) =>
      graft.ops.Privacy.tCloseness(
        T(s, dir, "documents"), quasiCols = Seq("source"),
        sensitive = "lang", t = 0.2)),

    // time-decayed activity level per event type: half-per-bucket EWMA —
    // every weight and term is a power-of-two scaling, so the whole table
    // is exact in both engines; gap buckets surface with n = 0
    "q250_ewma" -> ((s, dir) =>
      graft.ops.EventAnalytics.ewmaSmooth(
        E(s, dir).withColumn("tsu", expr("ts div 1000")),
        bucketTs = 3600000000L, tsCol = "tsu")),

    // chance-corrected agreement of the q136 language classifier against
    // the metadata label — multiclass Cohen's kappa off the contingency
    // cells; kappa from the ROUNDED po/pe (the q235 quotient discipline)
    "q248_kappa" -> ((s, dir) =>
      graft.ops.Stats.cohenKappa(
        T(s, dir, "documents"),
        a = col("lang"), b = TextAnalysis.langId(col("text")))),

    // the same classifier judged as the BINARY "is it English?" detector:
    // Matthews correlation from the exact confusion counts
    "q249_mcc" -> ((s, dir) =>
      graft.ops.Stats.matthewsCorr(
        T(s, dir, "documents"),
        pred = TextAnalysis.langId(col("text")) === "en",
        label = col("lang") === "en")),

    // minimum spanning forest of the FULL weighted transition graph
    // (Borůvka, (w,a,b)-tie-broken) — the oracle derives the same edge
    // set through the cycle property ("in the forest iff endpoints not
    // connected by strictly smaller edges"), two independent algorithms
    // agreeing; name-rank ids make the id order ≡ the name order
    "q247_mst" -> ((s, dir) => {
      val tc = graft.ops.EventAnalytics.transitionCounts(
        E(s, dir).withColumn("tsu", expr("ts div 1000")), tsCol = "tsu")
      val pc = tc.where(col("from_type") =!= col("to_type"))
        .groupBy(least(col("from_type"), col("to_type")).as("a"),
          greatest(col("from_type"), col("to_type")).as("b"))
        .agg(sum(col("n")).as("w"))
      val types = pc.select(col("a").as("t")).union(pc.select(col("b"))).distinct()
      val m = types.withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("t"))).cast("long"))
      val edges = pc
        .join(m.select(col("t").as("a"), col("id").as("src")), Seq("a"))
        .join(m.select(col("t").as("b"), col("id").as("dst")), Seq("b"))
        .select(col("src"), col("dst"), col("w").as("weight"))
      graft.graph.GraphQueries.minSpanningForest(s, edges)
        .join(m.select(col("t").as("state_a"), col("id").as("src")), Seq("src"))
        .join(m.select(col("t").as("state_b"), col("id").as("dst")), Seq("dst"))
        .select(col("state_a"), col("state_b"), col("weight"))
    }),

    // the q177 classifier scored per SOURCE — the sliced-eval scoreboard;
    // slice-partitioned cumulative (no prefix-sum machinery needed)
    "q243_auc_by_slice" -> ((s, dir) => {
      val scores = TextAnalysis.hashedNgramScore(T(s, dir, "documents"), hash = activeHash)
      val labeled = scores.join(
        T(s, dir, "documents").select(col("doc_id"), col("source"),
          (col("lang") === "en").as("y")),
        Seq("doc_id"))
      graft.ops.Stats.aucBySlice(labeled, col("score"), col("y"), Seq("source"))
    }),

    // betweenness over the event-type transition graph (undirected):
    // numSources ≥ |V| degrades sampled Brandes to EXACT, and the oracle
    // computes the same number through the pairwise σ_sv·σ_vt/σ_st form —
    // two independent algorithms agreeing is the check
    "q242_betweenness" -> ((s, dir) => {
      val tc = graft.ops.EventAnalytics.transitionCounts(
        E(s, dir).withColumn("tsu", expr("ts div 1000")), tsCol = "tsu")
      // keep the BUSY transition pairs — ≥ 0.96 × the max undirected pair
      // mass (relative, so it holds at every SF; the complete 5-type graph
      // has all-zero betweenness — the thresholded one routes around the
      // dropped edges: 5 of 10 pairs survive at sf0.01)
      val pc = tc.where(col("from_type") =!= col("to_type"))
        .groupBy(least(col("from_type"), col("to_type")).as("a"),
          greatest(col("from_type"), col("to_type")).as("b"))
        .agg(sum(col("n")).as("w"))
      val pairs = pc.crossJoin(pc.agg(max(col("w")).as("_mx")))
        .where(col("w") >= lit(0.96) * col("_mx"))
      val types = pairs.select(col("a").as("t"))
        .union(pairs.select(col("b"))).distinct()
      // |event types|-row frame: name-rank ids (bounded global window)
      val m = types.withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("t"))).cast("long"))
      val edges = pairs
        .join(m.select(col("t").as("a"), col("id").as("src")), Seq("a"))
        .join(m.select(col("t").as("b"), col("id").as("dst")), Seq("b"))
        .select("src", "dst")
      graft.graph.GraphQueries.approxBetweenness(s, edges, numSources = 64)
        .join(m, Seq("id"))
        .select(col("t").as("state"), col("bc"))
    }),

    // per-term χ² against the language label: top-5 marker terms per
    // language from the 2×2 doc-presence contingency (minDf 3)
    "q241_term_chi2" -> ((s, dir) =>
      graft.ops.TextAnalysis.termLabelChi2(
        T(s, dir, "documents"), minDf = 3L, topK = 5)),

    // water-filling cap: char-mass budget 140k over the 20 sources — the
    // level lands at ~7095, capping 16 sources and keeping 4 whole
    "q240_water_fill" -> ((s, dir) =>
      graft.ops.Sampling.waterFillBudget(
        T(s, dir, "documents"), Seq("source"), col("n_chars"), budget = 140000.0)),

    // daily seasonality over q103's hourly buckets: 2×MA trend (period 24
    // is even), per-phase detrended means, residual — "is that spike real
    // or just that hour of day"
    "q239_seasonal_decompose" -> ((s, dir) =>
      graft.ops.EventAnalytics.seasonalDecompose(
        E(s, dir).withColumn("tsu", expr("ts div 1000")),
        bucketTs = 3600000000L, period = 24, tsCol = "tsu")),

    // FD discovery sweep over the documents metadata columns: 6 ordered
    // pairs, holds + g3 deletion-error each (doc metadata archaeology)
    "q238_fd_discover" -> ((s, dir) =>
      graft.ops.Stats.fdDiscover(
        T(s, dir, "documents"), Seq("lang", "source", "n_chars"))),

    // long-run journey mass: power iteration over q99's transition chain,
    // 10 pinned rounds from uniform (a deterministic contract the oracle
    // replays verbatim), absorbing self-loops on dangling states
    "q237_markov_stationary" -> ((s, dir) =>
      graft.ops.EventAnalytics.markovStationary(
        graft.ops.EventAnalytics.transitionCounts(
          E(s, dir).withColumn("tsu", expr("ts div 1000")), tsCol = "tsu"),
        iterations = 10)),

    // retrieval eval closing the ANN loop: exact kNN (q83's mod-100 query
    // batch, k=6 so the guaranteed-rank-1 self-match can be dropped and
    // re-ranked to a clean top-5) scored against same-label relevance —
    // recall@5 / reciprocal rank / nDCG@5 per query
    "q236_retrieval_metrics" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.where(pmod(col("vec_id"), lit(100)) === 0)
      val ranked = graft.ops.SimilaritySearch.knnJoin(queries, emb, k = 6)
        .where(col("neighbor_id") =!= col("query_id"))
        .withColumn("r2", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("query_id")
            .orderBy(col("score").desc, col("neighbor_id"))))
      val truth = queries.select(col("vec_id").as("query_id"), col("label"))
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label")), Seq("label"))
        .where(col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id")
      graft.ops.SimilaritySearch.retrievalMetrics(ranked, truth, k = 5,
        docCol = "neighbor_id", rankCol = "r2")
    }),

    // average precision over the q236 ranking — the order-sensitive
    // binary-label eval (MAP's per-query core)
    "q302_avg_precision" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.where(pmod(col("vec_id"), lit(100)) === 0)
      val ranked = graft.ops.SimilaritySearch.knnJoin(queries, emb, k = 6)
        .where(col("neighbor_id") =!= col("query_id"))
        .withColumn("r2", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("query_id")
            .orderBy(col("score").desc, col("neighbor_id"))))
      val truth = queries.select(col("vec_id").as("query_id"), col("label"))
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label")), Seq("label"))
        .where(col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id")
      graft.ops.SimilaritySearch.averagePrecision(ranked, truth, k = 5,
        docCol = "neighbor_id", rankCol = "r2")
    }),

    // the q199 PSI served from two persisted-shape histogram STATES
    // (en-hist vs de-hist on the same grid): its oracle is q199's SQL
    // VERBATIM — hash equality proves state-served ≡ inline
    "q214_psi_from_state" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ops.Stats.psiFromHists(
        graft.ops.Stats.histPartials(docs.where(col("lang") === "en"),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12),
        graft.ops.Stats.histPartials(docs.where(col("lang") === "de"),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12))
    }),

    // purged temporal split: train < day 18, embargo [18, 20), test ≥ 20
    // (relative to corpus start) — the look-ahead-leakage-safe time split
    "q211_temporal_split" -> ((s, dir) => {
      val ev = E(s, dir).select(col("event_id"), col("ts"))
      val rel = ev.crossJoin(broadcast(ev.agg(min(col("ts")).as("_m"))))
      graft.ops.Sampling.temporalSplit(rel, col("ts") - col("_m"),
          cutoff = 20L * 86400000000000L, embargo = 2L * 86400000000000L)
        .select(col("event_id"), col("split"))
    }),

    // Spearman rank correlation of quantity vs extended price per return
    // flag: exact average ranks (half-integers), decimal rank moments,
    // pinned Pearson closed form
    "q212_spearman" -> ((s, dir) =>
      graft.ops.Stats.spearmanCorr(
        T(s, dir, "lineitem"), x = col("l_quantity"), y = col("l_extendedprice"),
        strataCols = Seq("l_returnflag"))),

    // 4-truss of the nation-clique graph: degree-oriented triangle
    // enumeration, per-edge support peeling — cliques of n ≥ 4 survive
    // whole with support n − 2 (the oracle's closed form)
    "q213_graph_ktruss" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      graft.graph.GraphQueries.kTruss(s, e, k = 4)
    }),

    // full core decomposition (every vertex's core NUMBER) by H-index
    // iteration on the nation-clique graph — converges in one round
    // there, giving the oracle the clique closed form (core = n − 1)
    "q209_graph_core_numbers" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      graft.graph.GraphQueries.coreNumbers(s, e)
    }),

    // Gopher duplicate-n-gram coverage: fraction of token characters
    // inside ANY within-doc repeated 3-gram — exact position-union
    // arithmetic, one division
    "q210_dup_ngram_coverage" -> ((s, dir) =>
      TextAnalysis.dupNgramCoverage(T(s, dir, "documents"), n = 3)),

    // Q-Q comparison of the en vs de length distributions at the deciles:
    // two rank-rule quantile profiles joined on p — the distribution-
    // shape face of the q197 KS scalar
    "q207_qq_compare" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val ps = (1 to 9).map(_ / 10.0)
      val qa = graft.ops.Stats.quantileProfile(
        docs.where(col("lang") === "en"), col("n_chars"), Nil, ps)
        .select(col("p"), col("q").as("q_en"))
      val qb = graft.ops.Stats.quantileProfile(
        docs.where(col("lang") === "de"), col("n_chars"), Nil, ps)
        .select(col("p"), col("q").as("q_de"))
      qa.join(qb, Seq("p")).withColumn("diff", col("q_en") - col("q_de"))
    }),

    // nearest-direction as-of join: each click's closest purchase within
    // ±2h (ties prefer at-or-before) — two union scans, never a per-key
    // nested loop
    "q208_asof_nearest" -> ((s, dir) => {
      val ev = E(s, dir).withColumn("tsu", expr("ts div 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("tsu"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tsu"), col("event_id"))
      graft.ops.AsOfJoin.nearest(clicks, purchases, Seq("user_id"), "tsu",
          rightCols = Seq("event_id", "tsu"), prefix = "purchase_",
          tolerance = Some(7200000000L))
        .select(col("event_id"), col("user_id"), col("tsu").as("click_ts"),
          coalesce(col("purchase_event_id"), lit(-1L)).as("purchase_id"),
          coalesce(col("purchase_tsu"), lit(-1L)).as("purchase_ts"))
    }),

    // Neyman (variance-optimal) stratified sample: budget split
    // n_h ∝ N_h·σ_h from exact decimal moments, largest-remainder seats,
    // the q163 hash-rank draw — big AND noisy strata get the rows
    "q206_neyman_sample" -> ((s, dir) =>
      graft.ops.Sampling.neymanQuota(
        T(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        strataCol = "lang", value = col("n_chars"), total = 120L,
        key = col("doc_id"), seed = 42, hash = activeHash)),

    // linear multi-touch attribution over a 7-day lookback: every view /
    // click before a purchase splits the credit 1/n — exact rational
    // shares, decimal-cast sums, interval-join shape
    "q204_linear_attribution" -> ((s, dir) =>
      graft.ops.EventAnalytics.linearAttribution(
        E(s, dir), touchTypes = Seq("view", "click"), convType = "purchase",
        windowTs = 604800000000000L)),

    // code-vs-prose screen with PLANTED code (docs ≡ 0 mod 7 get a
    // snippet appended in BOTH engines — the q68 planted-PII discipline,
    // so the detector is verified doing real work): exact integer
    // signals, one division, codegen projections only
    "q205_code_screen" -> ((s, dir) => {
      val planted = T(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" def main() { return x; } import os; if (a<b) { y=2; }")))
          .otherwise(col("text")))
      TextAnalysis.codeScore(planted)
    }),

    // CUSUM change-point scores over the daily click series: sequential
    // drift detector on the COLLAPSED series (30 rows at sf0.01), exact
    // decimal mean, bit-reproducible IEEE recurrence
    "q202_cusum" -> ((s, dir) => {
      val series = E(s, dir).where(col("event_type") === "click")
        .groupBy(expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("x"))
      graft.ops.EventAnalytics.cusum(series, col("day"), col("x"), k = 5.0, h = 15.0)
    }),

    // grid-quantiles served from MERGED per-batch histogram states (id
    // parity split): mergeable-by-sum counts, all-integer rank rule —
    // the MaterializedAgg discipline for distribution dashboards
    "q203_hist_quantiles" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val st = graft.ops.Stats.histMerge(Seq(
        graft.ops.Stats.histPartials(docs.where(col("doc_id") % 2 === 0),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12),
        graft.ops.Stats.histPartials(docs.where(col("doc_id") % 2 =!= 0),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 12)))
      graft.ops.Stats.quantilesFromHist(st, lo = 0.0, hi = 600.0, bins = 12,
        ps = Seq(0.5, 0.9, 0.99))
    }),

    // PSI drift score of the length distribution, en (reference) vs de
    // (current): fixed q106 grid, contributions only where both sides
    // populated, decimal-cast sum — the standard model-monitoring metric
    "q199_psi" -> ((s, dir) =>
      graft.ops.Stats.psi(
        T(s, dir, "documents").where(col("lang").isin("en", "de")),
        value = col("n_chars"), label = col("lang") === "en",
        lo = 0.0, hi = 600.0, bins = 12)),

    // RFM segmentation of customers from their orders: collapse-first to
    // one row per customer, then three tie-broken ntile quartiles; the
    // timestamp rides as exact integer µs (engine-portable)
    "q200_rfm" -> ((s, dir) =>
      graft.ops.EventAnalytics.rfm(
        T(s, dir, "orders"), user = col("o_custkey"),
        ts = unix_micros(col("o_orderdate").cast("timestamp")), amount = col("o_totalprice"),
        bins = 4)),

    // the q196 golden-record table served from MERGED PER-BATCH PARTIALS
    // (corpus split by id parity): its oracle is q196's SQL verbatim, so
    // hash equality proves merge ≡ one-shot assembly
    "q201_golden_partials" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val labels = Dedup.clusters(s, Dedup.prefixJaccardPairs(docs, threshold = 0.7),
        docs = Some(docs))
      val labeled = docs.join(labels.select(col("doc_id"), col("cluster_id")), Seq("doc_id"))
      val st = Dedup.goldenMerge(Seq(
        Dedup.goldenPartials(labeled.where(col("doc_id") % 2 === 0), "cluster_id",
          modeCols = Seq("lang", "source"), maxCols = Seq("n_chars"), minCols = Seq("doc_id")),
        Dedup.goldenPartials(labeled.where(col("doc_id") % 2 =!= 0), "cluster_id",
          modeCols = Seq("lang", "source"), maxCols = Seq("n_chars"), minCols = Seq("doc_id"))),
        "cluster_id")
      Dedup.goldenFromPartials(st, "cluster_id")
    }),

    // golden-record assembly: q50's near-dup clusters collapsed to one
    // canonical record each — majority lang/source (ties to greatest),
    // longest text, smallest id, evidence count; the survivorship step
    // that completes match → cluster → merge
    "q196_golden_record" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val labels = Dedup.clusters(s, Dedup.prefixJaccardPairs(docs, threshold = 0.7),
        docs = Some(docs))
      val labeled = docs.join(labels.select(col("doc_id"), col("cluster_id")), Seq("doc_id"))
      Dedup.goldenRecords(labeled, "cluster_id", modeCols = Seq("lang", "source"),
        maxCols = Seq("n_chars"), minCols = Seq("doc_id"))
    }),

    // exact two-sample KS statistic on document length, en vs de: the
    // supremum is maximized as an INTEGER cross-product — no float until
    // the single final division
    "q197_ks_test" -> ((s, dir) =>
      graft.ops.Stats.ksTest(
        T(s, dir, "documents").where(col("lang").isin("en", "de")),
        value = col("n_chars"), label = col("lang") === "en")),

    // Gini concentration of user activity per event type: rank-form
    // Gini over exact integer counts, decimal i·x products, one division
    "q198_gini" -> ((s, dir) => {
      val cnt = T(s, dir, "events").groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n_ev"))
      graft.ops.Stats.gini(cnt, col("n_ev"), Seq("event_type"))
    }),

    // poissonized-bootstrap CI for mean document length: B=200 replicates
    // via integer-grid Poisson(1) draws (no exp() in the decision),
    // decimal-exact replicate means, rank-rule quantiles — the error bar
    // without materializing a single resample
    "q193_bootstrap_ci" -> ((s, dir) =>
      graft.ops.Stats.bootstrapMeanCI(
        T(s, dir, "documents"), value = col("n_chars"), key = col("doc_id"),
        b = 200, hash = activeHash)),

    // quantile normalization of document length across languages: every
    // stratum mapped onto the global distribution by exact integer rank
    // arithmetic; the global rank table is sorted zipWithIndex, never a
    // single-partition window
    "q194_quantile_normalize" -> ((s, dir) =>
      graft.ops.Stats.quantileNormalize(
        T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        value = col("n_chars"), strataCols = Seq("lang"), tieCol = col("doc_id"))),

    // pairwise-cosine distribution over a 12% coordinated sample of the
    // embedding space (collapse-risk / density diagnostic): the all-pairs
    // stage is BOUNDED BY THE SAMPLE (broadcast side ~√pairs), then the
    // q106 histogram — the documented-bounded-broadcast class (q83/q102)
    "q195_embed_dist_hist" -> ((s, dir) => {
      val sm = graft.ops.Sampling.hashSample(
        T(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
        col("vec_id"), 0.12, seed = 42, hash = activeHash)
      val a = sm.select(col("vec_id").as("id1"), col("v").as("v1"))
      val b = sm.select(col("vec_id").as("id2"), col("v").as("v2"))
      val pairs = a.crossJoin(broadcast(b)).where(col("id1") < col("id2"))
        .select(VectorOps.cosine(col("v1"), col("v2")).as("c"))
      graft.ops.Stats.histogram(pairs, col("c"), lo = -1.0, hi = 1.0, bins = 20)
    }),

    // directed reciprocity of the q182 parity graph: pairs traded with
    // both line-number parities form 2-cycles — one swapped-key self-join,
    // one exact-integer ratio
    "q192_reciprocity" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").where(col("l_partkey") % 20 === 0)
      val fwd = li.where(col("l_linenumber") % 2 === 1)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey").cast("long") + 10000000L).as("dst"))
      val bwd = li.where(col("l_linenumber") % 2 === 0)
        .select((col("l_partkey").cast("long") + 10000000L).as("src"),
          col("l_suppkey").cast("long").as("dst"))
      graft.graph.GraphQueries.reciprocity(fwd.unionByName(bwd))
    }),

    // time-to-convert distribution per funnel transition: the q97 funnel's
    // stage deltas (exact integer µs) through the rank-quantile profile —
    // "how long from view to click, click to purchase"
    "q181_funnel_timing" -> ((s, dir) => {
      val f = graft.ops.EventAnalytics.funnel(
        E(s, dir).withColumn("tsu", expr("ts div 1000")),
        steps = Seq("view", "click", "purchase"),
        windowTs = 604800000000L, tsCol = "tsu")
      val t12 = f.where(col("ts_2").isNotNull)
        .select(lit("view>click").as("step"), (col("ts_2") - col("ts_1")).as("dt"))
      val t23 = f.where(col("ts_3").isNotNull)
        .select(lit("click>purchase").as("step"), (col("ts_3") - col("ts_2")).as("dt"))
      graft.ops.Stats.quantileProfile(
        t12.unionByName(t23), col("dt"), Seq("step"), Seq(0.5, 0.9))
    }),

    // inter-event gap percentiles (arrival-latency distribution): per
    // (type, user) successive-event deltas — exact integer ns — then the
    // q119 rank-quantile rule per event type
    "q180_gap_quantiles" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = E(s, dir)
        .withColumn("_gap", col("ts") - lag(col("ts"), 1).over(w))
        .where(col("_gap").isNotNull)
      graft.ops.Stats.quantileProfile(
        gaps, col("_gap"), Seq("event_type"), Seq(0.5, 0.9))
    }),

    // exact ROC-AUC of the q95 classifier vs the lang='en' label: the
    // Mann-Whitney midrank formulation — all-integer until ONE division;
    // rows collapse to the |distinct scores| frame before the ordered
    // window
    "q177_auc" -> ((s, dir) => {
      val scores = TextAnalysis.hashedNgramScore(T(s, dir, "documents"), hash = activeHash)
      val labeled = scores.join(
        T(s, dir, "documents").select(col("doc_id"), (col("lang") === "en").as("y")),
        Seq("doc_id"))
      graft.ops.Stats.auc(labeled, col("score"), col("y"))
    }),

    // isotonic (PAVA) recalibration of the q177 scorer. Verify face: a
    // self-verifying gate — the calibrated rates must be monotone
    // non-decreasing AND preserve the weighted mean (PAVA's defining
    // properties; the exact fit is spec-pinned against brute force);
    // bench face times the full curve build
    "q309_isotonic" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val scores = TextAnalysis.hashedNgramScore(docs, hash = activeHash)
      val labeled = scores.join(
        docs.select(col("doc_id"), (col("lang") === "en").as("y")), Seq("doc_id"))
      val cal = graft.ops.Stats.isotonicCalibrate(
        labeled, col("score"), col("y"), bins = 20, tieCol = col("doc_id"))
      if (benchMode) cal
      else {
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
        val checked = cal
          .withColumn("_prev", lag(col("rate_calibrated"), 1).over(w))
          .agg(
            count(lit(1)).as("_b"),
            min(col("_prev").isNull || col("rate_calibrated") >= col("_prev"))
              .as("_mono"),
            abs(sum(col("n") * col("rate_calibrated")) -
              sum(col("n") * col("positive_rate"))).as("_drift"),
            sum(col("n")).as("_n"))
        checked.select(lit(20L).as("bins"),
          (col("_b") === 20L && col("_mono") &&
            col("_drift") <= col("_n") * 1e-5).as("isotonic_pass"))
      }
    }),

    // Cochran–Armitage: does the purchase rate TREND across the ordered
    // hour-of-day doses? (the 1-df ordered question chi² can't ask)
    "q310_ca_trend" -> ((s, dir) =>
      graft.ops.Stats.cochranArmitage(
        E(s, dir).select(
          expr("(ts div 3600000000000) % 24").as("hod"),
          (col("event_type") === "purchase").as("y")),
        dose = col("hod"), success = col("y"))),

    // Kruskal–Wallis: do the three return-flag arms shift the quantity
    // DISTRIBUTION? — q246's rank question asked across k groups, with
    // the integer-quantity grid exercising the tie correction hard
    "q311_kruskal_wallis" -> ((s, dir) =>
      graft.ops.Stats.kruskalWallis(
        T(s, dir, "lineitem"), value = col("l_quantity"),
        group = col("l_returnflag"))),

    // Dunn's post-hoc: q311 said SOME return-flag arm shifts quantity —
    // WHICH pairs? Joint midranks, tie-corrected pooled variance, one z
    // per unordered group pair (caller picks the multiplicity correction)
    "q374_dunn" -> ((s, dir) =>
      graft.ops.Stats.dunnTest(
        T(s, dir, "lineitem"), value = col("l_quantity"),
        group = col("l_returnflag"))),

    // Wilcoxon signed-rank on q296's paired pre/post per-user activity:
    // the within-subject rank test (did EACH user shift, not the pool?)
    "q312_wilcoxon_signed" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val m0 = days.agg(min(col("day")).as("_m0"))
      val per = days.crossJoin(broadcast(m0))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("_m0") + 15, 1L).otherwise(0L)).as("pre"),
          sum(when(col("day") >= col("_m0") + 15, 1L).otherwise(0L)).as("post"))
      graft.ops.Stats.wilcoxonSignedRank(per, x = col("post"), y = col("pre"))
    }),

    // Friedman: across users (blocks), do the five event types rank
    // consistently by volume? — within-block midranks, tie-corrected
    // χ²_F plus Kendall's W concordance
    "q313_friedman" -> ((s, dir) => {
      val counts = E(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      graft.ops.Stats.friedmanTest(counts, block = col("user_id"),
        treatment = col("event_type"), value = col("cnt"))
    }),

    // Harrell's C on q307's censored retention spans: does per-user
    // activity volume rank survival? (comparable = shorter side had the
    // event; censoring-honest pair fold on the collapsed cell grid)
    "q314_c_index" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val u = days.groupBy(col("user_id"))
        .agg(min(col("day")).as("_fd"), max(col("day")).as("_ld"),
          count(lit(1)).as("_cnt"))
      val obs = u.crossJoin(broadcast(u.agg(max(col("_ld")).as("_md"))))
        .select((col("_ld") - col("_fd")).as("dur"),
          (col("_ld") <= col("_md") - 3).as("ev"),
          col("_cnt").cast("double").as("risk"))
      graft.ops.EventAnalytics.concordanceIndex(
        obs, time = col("dur"), event = col("ev"), risk = col("risk"))
    }),

    // Hosmer–Lemeshow on the q297-grid pseudo-probability vs English:
    // is the (deliberately uncalibrated) score's miscalibration more
    // than noise? decile bins, χ²(bins−2)
    "q315_hosmer_lemeshow" -> ((s, dir) =>
      graft.ops.Stats.hosmerLemeshow(
        T(s, dir, "documents").select(
          col("doc_id"),
          ((col("n_chars") % 1000) / lit(1000.0)).as("p"),
          (col("lang") === "en").as("y")),
        score = col("p"), label = col("y"), bins = 10, tieCol = col("doc_id"))),

    // Holm step-down on q297's p grid: the FWER-controlling cut —
    // strictly fewer rejections than BH on the same inputs, by design
    "q316_holm" -> ((s, dir) => {
      val u = col("n_chars") % 1000
      val pt = T(s, dir, "documents")
        .select(col("doc_id"), round((u * u).cast("double") / 1000000.0, 6).as("p"))
      graft.ops.Stats.holmBonferroni(pt, p = col("p"), tie = col("doc_id"),
          alphaNum = 1, alphaDen = 20)
        .select(col("doc_id"), col("p"), col("p_rank"), col("m"), col("reject"))
    }),

    // inequality card: Theil T/L, Atkinson(1), Hoover over order
    // totals — the decomposable complements of q198's Gini
    "q355_inequality" -> ((s, dir) =>
      graft.ops.Stats.inequalityIndices(
        T(s, dir, "orders"), value = col("o_totalprice"))),

    // lexical richness: Yule's K + Herdan/Guiraud/Sichel off the q286
    // frequency-of-frequency frame — size-invariant where TTR is not
    "q356_lexical_richness" -> ((s, dir) =>
      TextAnalysis.lexicalRichness(T(s, dir, "documents"))),

    // KM with Greenwood bands on q219's spans: the survival curve plus
    // the uncertainty its reader eventually asks for
    "q351_km_ci" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val u = days.groupBy(col("user_id")).agg(min(col("day")).as("_fd"), max(col("day")).as("_ld"))
      val obs = u.crossJoin(broadcast(u.agg(max(col("_ld")).as("_md"))))
        .select((col("_ld") - col("_fd")).as("dur"),
          (col("_ld") <= col("_md") - 3).as("ev"))
      graft.ops.EventAnalytics.kaplanMeierCi(obs, col("dur"), col("ev"))
    }),

    // duration-binned log-rank from mergeable survival STATES (the
    // q228/q229 FromState discipline for the survival family): q307's
    // spans coarsened to 5-day life-table bins, one slim state per arm —
    // the face continuous-duration callers must use at corpus scale
    "q357_logrank_binned" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val u = days.groupBy(col("user_id"))
        .agg(min(col("day")).as("_fd"), max(col("day")).as("_ld"))
      val obs = graft.Caches.track(
        u.crossJoin(broadcast(u.agg(max(col("_ld")).as("_md"))))
          .select((col("_ld") - col("_fd")).as("dur"),
            (col("_ld") <= col("_md") - 3).as("ev"),
            (col("user_id") % 2 === 0).as("arm")))
      graft.ops.EventAnalytics.logRankFromStates(
        graft.ops.EventAnalytics.survivalPartials(
          obs.where(col("arm")), col("dur"), col("ev"), binWidth = 5L),
        graft.ops.EventAnalytics.survivalPartials(
          obs.where(!col("arm")), col("dur"), col("ev"), binWidth = 5L))
    }),

    // duration-binned KM from a MERGED survival state: q219's spans in
    // 3-day bins, the state built as two halves and summed back
    // (exercising the additive-merge contract the streaming monitor
    // relies on) — the curve then reads |bins| rows, not |durations|
    "q358_km_binned" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val u = days.groupBy(col("user_id")).agg(min(col("day")).as("_fd"), max(col("day")).as("_ld"))
      val obs = graft.Caches.track(
        u.crossJoin(broadcast(u.agg(max(col("_ld")).as("_md"))))
          .select(col("_fd"), (col("_ld") - col("_fd")).as("dur"),
            (col("_ld") <= col("_md") - 3).as("ev")))
      val state = graft.ops.EventAnalytics.survivalMerge(Seq(
        graft.ops.EventAnalytics.survivalPartials(
          obs.where(col("_fd") % 2 === 0), col("dur"), col("ev"), binWidth = 3L),
        graft.ops.EventAnalytics.survivalPartials(
          obs.where(col("_fd") % 2 =!= 0), col("dur"), col("ev"), binWidth = 3L)))
      graft.ops.EventAnalytics.kaplanMeierFromState(state)
    }),

    // Cox proportional hazards on the q357 binned states: the hazard
    // ratio the log-rank can't give. Verify face: a q304-style gate —
    // exact arm/event totals plus self-verification (Newton converged;
    // β's sign agrees with the log-rank O−E; the two asymptotically-
    // equivalent z statistics are close). Bench face: the full fit row.
    "q359_cox" -> ((s, dir) => {
      // time-to-first-purchase spans (q307's retention spans are 100%
      // censored at sf0.01 — its row is the degenerate all-null, oracle-
      // matched; a conversion clock gives the fit real events), censored
      // at last-seen for never-purchasers
      val days = E(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"), col("event_type"))
      val u = days.groupBy(col("user_id")).agg(
        min(col("day")).as("_fd"), max(col("day")).as("_ld"),
        min(when(col("event_type") === "purchase", col("day"))).as("_pd"))
      val obs = graft.Caches.track(
        u.select(
          (coalesce(col("_pd"), col("_ld")) - col("_fd")).as("dur"),
          col("_pd").isNotNull.as("ev"),
          (col("user_id") % 2 === 0).as("arm")))
      val stA = graft.ops.EventAnalytics.survivalPartials(
        obs.where(col("arm")), col("dur"), col("ev"), binWidth = 3L)
      val stB = graft.ops.EventAnalytics.survivalPartials(
        obs.where(!col("arm")), col("dur"), col("ev"), binWidth = 3L)
      val cox = graft.ops.EventAnalytics.coxFromStates(stA, stB)
      if (benchMode) cox
      else {
        val c = cox.collect().head
        val lr = graft.ops.EventAnalytics.logRankFromStates(stA, stB).collect().head
        val nEvents = c.getLong(2) + c.getLong(3)
        val pass =
          if (nEvents == 0) true // vacuous: nothing to fit, nothing to contradict
          else {
            val beta = if (c.isNullAt(4)) 0.0 else c.getDouble(4)
            val zCox = if (c.isNullAt(7)) 0.0 else c.getDouble(7)
            val zLr  = if (lr.isNullAt(6)) 0.0 else lr.getDouble(6)
            val oe   = if (lr.isNullAt(4)) 0.0 else lr.getDouble(4)
            val signOk = math.abs(oe) < 0.5 || (beta > 0) == (oe > 0)
            val zOk = math.abs(zCox - zLr) <= 0.3 * math.max(1.0, math.abs(zLr))
            c.getBoolean(9) && signOk && zOk
          }
        s.range(1).select(
          lit(c.getLong(0)).as("n_a"), lit(c.getLong(1)).as("n_b"),
          lit(c.getLong(2)).as("events_a"), lit(c.getLong(3)).as("events_b"),
          lit(pass).as("cox_pass"))
      }
    }),

    // Cox with EFRON tie handling on q359's purchase-clock states — the
    // default of every mainstream survival package, so outputs compare
    // directly. Verify face: a q359-style gate — exact totals, Newton
    // converged, and β̂ LOCALLY MAXIMIZES an independently-recomputed
    // Efron log partial likelihood (evaluated straight off the collected
    // ≤bins state rows at β̂ and β̂ ± 1e-3). Bench face: the full fit row.
    "q372_cox_efron" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"), col("event_type"))
      val u = days.groupBy(col("user_id")).agg(
        min(col("day")).as("_fd"), max(col("day")).as("_ld"),
        min(when(col("event_type") === "purchase", col("day"))).as("_pd"))
      val obs = graft.Caches.track(
        u.select(
          (coalesce(col("_pd"), col("_ld")) - col("_fd")).as("dur"),
          col("_pd").isNotNull.as("ev"),
          (col("user_id") % 2 === 0).as("arm")))
      val stA = graft.Caches.track(graft.ops.EventAnalytics.survivalPartials(
        obs.where(col("arm")), col("dur"), col("ev"), binWidth = 3L))
      val stB = graft.Caches.track(graft.ops.EventAnalytics.survivalPartials(
        obs.where(!col("arm")), col("dur"), col("ev"), binWidth = 3L))
      val cox = graft.ops.EventAnalytics.coxFromStates(stA, stB, ties = "efron")
      if (benchMode) cox
      else {
        val c = cox.collect().head
        val nEvents = c.getLong(2) + c.getLong(3)
        val pass =
          if (nEvents == 0) true // vacuous: nothing to fit
          else if (!c.getBoolean(9)) false
          else {
            // independent Efron loglik off the collected state rows
            def tbl(st: org.apache.spark.sql.DataFrame) = st
              .select(col("bin").cast("long"),
                (col("n_events") + col("n_censored")).cast("long"),
                col("n_events").cast("long"))
              .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            val a = tbl(stA).map(x => x._1 -> (x._2, x._3)).toMap
            val b = tbl(stB).map(x => x._1 -> (x._2, x._3)).toMap
            val ts = (a.keySet ++ b.keySet).toSeq.sorted
            // at-risk = suffix sums of arrivals
            val rows = ts.map { t =>
              val n1 = ts.filter(_ >= t).map(x => a.get(x).map(_._1).getOrElse(0L)).sum
              val n0 = ts.filter(_ >= t).map(x => b.get(x).map(_._1).getOrElse(0L)).sum
              val d1 = a.get(t).map(_._2).getOrElse(0L)
              val d0 = b.get(t).map(_._2).getOrElse(0L)
              (n1, n0, d1, d0)
            }
            def logL(beta: Double): Double = {
              val eb = math.exp(beta)
              rows.map { case (n1, n0, d1, d0) =>
                val d = (d1 + d0).toDouble
                if (d == 0) 0.0
                else {
                  val sFull = n0.toDouble + n1.toDouble * eb
                  val sd = d0.toDouble + d1.toDouble * eb
                  d1 * beta -
                    (0 until (d1 + d0).toInt).map(l => math.log(sFull - (l / d) * sd)).sum
                }
              }.sum
            }
            val beta = c.getDouble(4)
            val l0 = logL(beta)
            l0 >= logL(beta - 1e-3) && l0 >= logL(beta + 1e-3)
          }
        s.range(1).select(
          lit(c.getLong(0)).as("n_a"), lit(c.getLong(1)).as("n_b"),
          lit(c.getLong(2)).as("events_a"), lit(c.getLong(3)).as("events_b"),
          lit(pass).as("efron_pass"))
      }
    }),

    // MULTI-covariate Cox PH on the purchase clock — the fit survival
    // users reach for right after the binary arm: three low-cardinality
    // covariates (the even/odd arm, a heavy-user flag off the log2
    // event-count bucket, a user_id%3 segment) on q359's obs frame, both
    // tie modes. Verify
    // face: a q359-style gate — exact totals from SQL, Newton converged
    // for BOTH tie modes, and each β̂ vector LOCALLY MAXIMIZES an
    // independently-recomputed log partial likelihood (evaluated straight
    // off the collected per-user obs rows — not the op's cell frame — at
    // β̂ and β̂ ± 1e-3 along every coordinate axis). Bench face: the full
    // Efron fit frame (the costlier tie mode).
    "q377_cox_multi" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"), col("event_type"))
      val u = days.groupBy(col("user_id")).agg(
        min(col("day")).as("_fd"), max(col("day")).as("_ld"),
        min(when(col("event_type") === "purchase", col("day"))).as("_pd"),
        count(lit(1)).as("_ne"))
      val obs = graft.Caches.track(
        u.select(
          (coalesce(col("_pd"), col("_ld")) - col("_fd")).as("dur"),
          col("_pd").isNotNull.as("ev"),
          (col("user_id") % 2).cast("double").as("arm"),
          when(floor(log2(col("_ne"))) >= 6, 1.0).otherwise(0.0).as("heavy"),
          (col("user_id") % 3).cast("double").as("segment")))
      val covs = Seq("arm" -> col("arm"), "heavy" -> col("heavy"),
        "segment" -> col("segment"))
      val efron = graft.ops.EventAnalytics.coxMulti(
        obs, (col("dur") / 3L).cast("long"), col("ev"), covs, ties = "efron")
      if (benchMode) efron
      else {
        val breslow = graft.ops.EventAnalytics.coxMulti(
          obs, (col("dur") / 3L).cast("long"), col("ev"), covs)
        val subj = obs.select((col("dur") / 3L).cast("long"), col("ev"),
            col("arm"), col("heavy"), col("segment"))
          .collect()
          .map(r => (r.getLong(0), r.getBoolean(1),
            Array(r.getDouble(2), r.getDouble(3), r.getDouble(4))))
        val nEvents = subj.count(_._2).toLong
        // independent log partial likelihood off the raw per-user rows
        def logL(b: Array[Double], efronTies: Boolean): Double = {
          val times = subj.filter(_._2).map(_._1).distinct.sorted
          times.map { t =>
            val atRisk = subj.filter(_._1 >= t)
            val ev = subj.filter(x => x._1 == t && x._2)
            val d = ev.length.toDouble
            def bx(x: Array[Double]) = b(0) * x(0) + b(1) * x(1) + b(2) * x(2)
            val s0 = atRisk.map(x => math.exp(bx(x._3))).sum
            val evTerm = ev.map(x => bx(x._3)).sum
            if (!efronTies) evTerm - d * math.log(s0)
            else {
              val d0 = ev.map(x => math.exp(bx(x._3))).sum
              evTerm - (0 until d.toInt).map(l => math.log(s0 - (l / d) * d0)).sum
            }
          }.sum
        }
        def gate(fit: org.apache.spark.sql.DataFrame, efronTies: Boolean): Boolean = {
          val rows = fit.collect().map(r => r.getString(0) -> r).toMap
          if (nEvents == 0) true // vacuous: nothing to fit
          else if (!rows.values.forall(_.getBoolean(8))) false
          else {
            val b = Array(rows("arm").getDouble(1), rows("heavy").getDouble(1),
              rows("segment").getDouble(1))
            val l0 = logL(b, efronTies)
            (0 until 3).forall { k =>
              val up = b.clone(); up(k) += 1e-3
              val dn = b.clone(); dn(k) -= 1e-3
              l0 >= logL(up, efronTies) && l0 >= logL(dn, efronTies)
            }
          }
        }
        s.range(1).select(
          lit(subj.length.toLong).as("n"), lit(nEvents).as("events"),
          lit(3L).as("p"),
          lit(gate(breslow, efronTies = false)).as("breslow_pass"),
          lit(gate(efron, efronTies = true)).as("efron_pass"))
      }
    }),

    // Fleming–Harrington G(1,1) weighted log-rank on q359's purchase-
    // clock states: the tunable weighted-log-rank member between the
    // unweighted q357 and Gehan's early-weight q369 — w = Ŝ(t−)(1−Ŝ(t−))
    // peaks mid-curve. Integer exponents keep the weight a plain product
    // in both engines (pow ulp is not pinned cross-engine), so this is a
    // FULL-VALUE oracle: q357's window machinery + q219's recursive-CTE
    // KM product carried lagged, weighted decimal sums in pinned order.
    "q381_fleming_harrington" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"), col("event_type"))
      val u = days.groupBy(col("user_id")).agg(
        min(col("day")).as("_fd"), max(col("day")).as("_ld"),
        min(when(col("event_type") === "purchase", col("day"))).as("_pd"))
      val obs = graft.Caches.track(
        u.select(
          (coalesce(col("_pd"), col("_ld")) - col("_fd")).as("dur"),
          col("_pd").isNotNull.as("ev"),
          (col("user_id") % 2 === 0).as("arm")))
      graft.ops.EventAnalytics.flemingHarringtonFromStates(
        graft.ops.EventAnalytics.survivalPartials(
          obs.where(col("arm")), col("dur"), col("ev"), binWidth = 3L),
        graft.ops.EventAnalytics.survivalPartials(
          obs.where(!col("arm")), col("dur"), col("ev"), binWidth = 3L),
        rho = 1.0, gamma = 1.0)
    }),

    // STRATIFIED Cox PH: q377's fit with the user_id%3 segment promoted
    // from covariate to STRATUM — a free baseline hazard per segment, one
    // shared (arm, heavy) β; risk sets never cross segments. Verify face:
    // the q377 gate with the independently-recomputed likelihood summed
    // PER STRATUM (the stratified partial likelihood factorizes). Bench
    // face: the Efron stratified fit frame.
    "q380_cox_stratified" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"), col("event_type"))
      val u = days.groupBy(col("user_id")).agg(
        min(col("day")).as("_fd"), max(col("day")).as("_ld"),
        min(when(col("event_type") === "purchase", col("day"))).as("_pd"),
        count(lit(1)).as("_ne"))
      val obs = graft.Caches.track(
        u.select(
          (coalesce(col("_pd"), col("_ld")) - col("_fd")).as("dur"),
          col("_pd").isNotNull.as("ev"),
          (col("user_id") % 2).cast("double").as("arm"),
          when(floor(log2(col("_ne"))) >= 6, 1.0).otherwise(0.0).as("heavy"),
          (col("user_id") % 3).cast("string").as("segment")))
      val covs = Seq("arm" -> col("arm"), "heavy" -> col("heavy"))
      val efron = graft.ops.EventAnalytics.coxStratified(
        obs, (col("dur") / 3L).cast("long"), col("ev"), covs,
        strata = col("segment"), ties = "efron")
      if (benchMode) efron
      else {
        val breslow = graft.ops.EventAnalytics.coxStratified(
          obs, (col("dur") / 3L).cast("long"), col("ev"), covs,
          strata = col("segment"))
        val subj = obs.select(col("segment"), (col("dur") / 3L).cast("long"),
            col("ev"), col("arm"), col("heavy"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
            Array(r.getDouble(3), r.getDouble(4))))
        val nEvents = subj.count(_._3).toLong
        // independent STRATIFIED log partial likelihood off raw rows
        def logL(b: Array[Double], efronTies: Boolean): Double =
          subj.map(_._1).distinct.sorted.map { st =>
            val sub = subj.filter(_._1 == st)
            val times = sub.filter(_._3).map(_._2).distinct.sorted
            times.map { t =>
              val atRisk = sub.filter(_._2 >= t)
              val ev = sub.filter(x => x._2 == t && x._3)
              val d = ev.length.toDouble
              def bx(x: Array[Double]) = b(0) * x(0) + b(1) * x(1)
              val s0 = atRisk.map(x => math.exp(bx(x._4))).sum
              val evTerm = ev.map(x => bx(x._4)).sum
              if (!efronTies) evTerm - d * math.log(s0)
              else {
                val d0 = ev.map(x => math.exp(bx(x._4))).sum
                evTerm - (0 until d.toInt).map(l => math.log(s0 - (l / d) * d0)).sum
              }
            }.sum
          }.sum
        def gate(fit: org.apache.spark.sql.DataFrame, efronTies: Boolean): Boolean = {
          val rows = fit.collect().map(r => r.getString(0) -> r).toMap
          if (nEvents == 0) true
          else if (!rows.values.forall(_.getBoolean(8))) false
          else {
            val b = Array(rows("arm").getDouble(1), rows("heavy").getDouble(1))
            val l0 = logL(b, efronTies)
            (0 until 2).forall { k =>
              val up = b.clone(); up(k) += 1e-3
              val dn = b.clone(); dn(k) -= 1e-3
              l0 >= logL(up, efronTies) && l0 >= logL(dn, efronTies)
            }
          }
        }
        s.range(1).select(
          lit(subj.length.toLong).as("n"), lit(nEvents).as("events"),
          // observed stratum count, not a hardcoded 3: the oracle computes
          // count(DISTINCT user_id % 3), and a dataset where fewer residues
          // occur must not diverge the faces for a non-Cox reason
          lit(subj.map(_._1).distinct.length.toLong).as("n_strata"),
          lit(gate(breslow, efronTies = false)).as("breslow_pass"),
          lit(gate(efron, efronTies = true)).as("efron_pass"))
      }
    }),

    // competing-risks cumulative incidence (Aalen–Johansen) on the
    // conversion clock: the FIRST of {purchase, signup} ends each user's
    // observation (tie → purchase, the fixed rule both faces share);
    // users with neither are censored at last-seen. 1−KM of either cause
    // alone would overstate it — the CIF decomposes the all-cause curve
    // exactly (Σ_k CIF_k = 1 − Ŝ, spec-pinned). FULL-VALUE oracle: the
    // recursive-CTE KM product (q219's pattern) lagged one row + exact
    // DECIMAL per-cause increment sums.
    "q379_cum_incidence" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"), col("event_type"))
      val u = days.groupBy(col("user_id")).agg(
        min(col("day")).as("_fd"), max(col("day")).as("_ld"),
        min(when(col("event_type") === "purchase", col("day"))).as("_pd"),
        min(when(col("event_type") === "signup", col("day"))).as("_sd"))
      val first = least(coalesce(col("_pd"), col("_sd")), coalesce(col("_sd"), col("_pd")))
      val obs = u.select(
        (coalesce(first, col("_ld")) - col("_fd")).as("dur"),
        when(col("_pd").isNotNull && (col("_sd").isNull || col("_pd") <= col("_sd")),
            "purchase")
          .when(col("_sd").isNotNull, "signup")
          .otherwise(lit(null)).as("cause"))
      graft.ops.EventAnalytics.cumulativeIncidence(
        obs, col("dur"), col("cause"), binWidth = 3L)
    }),

    // Davies–Bouldin over the labeled embedding partition: compact AND
    // separated, as one number (the q118 counts say neither)
    "q352_davies_bouldin" -> ((s, dir) =>
      VectorOps.daviesBouldin(T(s, dir, "embeddings"))),

    // simplified silhouette per label: where do points sit relative to
    // their own vs the nearest foreign prototype?
    "q353_silhouette" -> ((s, dir) =>
      VectorOps.silhouetteSimplified(T(s, dir, "embeddings"))),

    // Calinski–Harabasz: the between/within variance F-ratio leg of the
    // cluster-validity family — exact moments, no rounded prototypes
    "q354_calinski" -> ((s, dir) =>
      VectorOps.calinskiHarabasz(T(s, dir, "embeddings"))),

    // Quade: q313's blocks re-weighted by their value RANGE — wide
    // users speak louder than flat ones
    "q346_quade" -> ((s, dir) => {
      val counts = E(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      graft.ops.Stats.quadeTest(counts, block = col("user_id"),
        treatment = col("event_type"), value = col("cnt"))
    }),

    // two-regressor OLS: order total ~ line count + total quantity,
    // with the regressors' mutual VIF (they are correlated BY DESIGN)
    "q347_ols2" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("x1"), sum(col("l_quantity")).cast("double").as("x2"))
      val joined = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
      graft.ops.Stats.olsTwo(joined, x1 = col("x1"), x2 = col("x2"),
        y = col("o_totalprice"))
    }),

    // winsorized correlation of quantity vs extended price at 5% — the
    // clamp-audited robust r next to q108's plain fit
    "q348_winsorized_corr" -> ((s, dir) =>
      graft.ops.Stats.winsorizedCorr(
        T(s, dir, "lineitem"), x = col("l_quantity"),
        y = col("l_extendedprice"), trim = 0.05)),

    // trend/seasonal strength of the hourly volume per event type —
    // q239's component plot folded to the two FPP numbers
    "q349_seasonal_strength" -> ((s, dir) =>
      graft.ops.EventAnalytics.seasonalStrength(
        E(s, dir).withColumn("tsu", expr("ts div 1000")),
        bucketTs = 3600000000L, period = 24, tsCol = "tsu")),

    // Newey–West: the autocorrelation-robust SE of the daily-volume
    // mean, with the inflation factor over the naive s/√n
    "q350_newey_west" -> ((s, dir) =>
      graft.ops.Stats.neweyWest(dailySeries(s, dir), maxLag = 7)),

    // Jonckheere–Terpstra: do quantities RISE with the line number?
    // (the ordered question q323's γ describes but doesn't test)
    "q341_jonckheere" -> ((s, dir) =>
      graft.ops.Stats.jonckheereTerpstra(
        T(s, dir, "lineitem"), group = col("l_linenumber"),
        value = col("l_quantity"))),

    // forecast-error card: does the lag-7 weekly naive beat "same as
    // yesterday" on daily volume? (U₂ < 1 = the seasonality is real)
    "q342_forecast_errors" -> ((s, dir) =>
      graft.ops.Stats.forecastErrors(dailySeries(s, dir), season = 7)),

    // Bland–Altman: order total vs the tax-free lineitem reconstruction
    // — the bias IS the tax mass, and the limits bound it
    "q343_bland_altman" -> ((s, dir) => {
      val est = T(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(38,12)")).cast("double").as("est"))
      val paired = T(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .join(est, col("o_orderkey") === col("l_orderkey"))
      graft.ops.Stats.blandAltman(paired, x = col("o_totalprice"), y = col("est"))
    }),

    // Lin's CCC on the same pair: r is near 1, but the tax-shift bias
    // factor drags concordance down — exactly the distinction CCC makes
    "q344_lin_ccc" -> ((s, dir) => {
      val est = T(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(38,12)")).cast("double").as("est"))
      val paired = T(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .join(est, col("o_orderkey") === col("l_orderkey"))
      graft.ops.Stats.linCcc(paired, x = col("o_totalprice"), y = col("est"))
    }),

    // Deming (orthogonal) fit of retail price on size: the
    // errors-in-both-variables line next to q321's OLS
    "q345_deming" -> ((s, dir) =>
      graft.ops.Stats.demingFit(
        T(s, dir, "part"), x = col("p_size"), y = col("p_retailprice"))),

    // ECE/MCE: q176's calibration curve collapsed to the two headline
    // numbers (count-weighted mean gap + worst bin)
    "q336_ece" -> ((s, dir) => {
      val scores = TextAnalysis.hashedNgramScore(T(s, dir, "documents"), hash = activeHash)
      val labeled = scores.join(
        T(s, dir, "documents").select(col("doc_id"), (col("lang") === "en").as("y")),
        Seq("doc_id"))
      graft.ops.Stats.expectedCalibrationError(
        labeled, col("score"), col("y"), bins = 10, tieCol = col("doc_id"))
    }),

    // power card: could the even/odd-user A/B even SEE a 2-point
    // purchase-rate lift? (z quantiles as fixed double literals)
    "q337_power_two_prop" -> ((s, dir) =>
      graft.ops.Stats.powerTwoProportions(
        E(s, dir), arm = col("user_id") % 2 === 0,
        success = col("event_type") === "purchase", targetLift = 0.02)),

    // rich-club coefficient over the q157 supplier co-supply graph:
    // do the hub suppliers form their own dense club?
    "q338_rich_club" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("src"),
        col("l_partkey").cast("long").as("dst"))
      val proj = graft.graph.GraphQueries.bipartiteProject(li, minShared = 150L)
      val edges = proj.select(col("a").as("src"), col("b").as("dst"))
        .union(proj.select(col("b").as("src"), col("a").as("dst")))
      graft.graph.GraphQueries.richClub(edges, ks = Seq(1L, 2L, 4L, 8L, 16L))
    }),

    // RMST at a 20-day horizon over q219's censored retention spans:
    // how many of the next 20 days does the average user stay active?
    "q339_rmst" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val u = days.groupBy(col("user_id")).agg(min(col("day")).as("_fd"), max(col("day")).as("_ld"))
      val obs = u.crossJoin(broadcast(u.agg(max(col("_ld")).as("_md"))))
        .select((col("_ld") - col("_fd")).as("dur"),
          (col("_ld") <= col("_md") - 3).as("ev"))
      graft.ops.EventAnalytics.rmst(obs, col("dur"), col("ev"), tau = 20L)
    }),

    // Page's trend: does per-user activity DECAY monotonically across
    // the three observation-window thirds? (the ordered alternative
    // q313's Friedman can't privilege)
    "q340_page_trend" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val m0 = days.agg(min(col("day")).as("_m0"))
      val per = days.crossJoin(broadcast(m0))
        .select(col("user_id"),
          expr("least((day - _m0) div 10, 2)").as("period"))
        .groupBy(col("user_id"), col("period")).agg(count(lit(1)).as("cnt"))
      val grid = per.select(col("user_id")).distinct()
        .select(col("user_id"), explode(array(lit(0L), lit(1L), lit(2L))).as("period"))
      val dense = grid.join(per, Seq("user_id", "period"), "left")
        .select(col("user_id"), col("period"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      graft.ops.Stats.pageTrend(dense, block = col("user_id"),
        dose = col("period"), value = col("cnt"))
    }),

    // Chao1: how many distinct tokens does the POPULATION hold, given
    // the raggedness of this sample's frequency-table bottom?
    "q329_chao1" -> ((s, dir) => {
      val toks = T(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .where(col("tok") =!= "")
      graft.ops.Stats.chao1(toks, key = col("tok"))
    }),

    // per-language diversity profile: richness/Shannon/Pielou/Simpson/
    // Berger–Parker in one card (H alone hides WHICH kind of low)
    "q330_diversity" -> ((s, dir) => {
      val toks = T(s, dir, "documents")
        .select(col("lang"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .where(col("tok") =!= "" && col("lang").isNotNull)
      graft.ops.Stats.diversityProfile(toks, key = col("tok"),
        strataCols = Seq("lang"))
    }),

    // Yule–Walker AR(2) on the daily volume: is there lag-2 structure
    // beyond what lag 1 explains? (φ₂ IS the lag-2 PACF)
    "q331_yule_walker" -> ((s, dir) =>
      graft.ops.Stats.yuleWalkerAr2(dailySeries(s, dir))),

    // Wald SPRT replay over the purchase stream: at which event could
    // H₀ p=0.10 vs H₁ p=0.20 have STOPPED? (log coefficients are fixed
    // double literals — both engines parse the same decimal strings)
    "q332_sprt" -> ((s, dir) =>
      graft.ops.Stats.sprtBinomial(
        E(s, dir), success = col("event_type") === "purchase",
        orderCols = Seq(col("ts"), col("event_id")),
        l1 = 0.6931471805599453, l0 = -0.11778303565638339,
        logA = 2.9444389791664403, logB = -2.9444389791664403)),

    // directed association rules off q306's pair counts: confidence /
    // lift / leverage / conviction / jaccard per direction
    "q333_assoc_rules" -> ((s, dir) =>
      graft.ops.EventAnalytics.associationRules(
        T(s, dir, "lineitem"), basket = col("l_orderkey"),
        item = col("l_partkey"), minSupport = 2)),

    // Moran's I on the q157 supplier co-supply graph: do connected
    // suppliers carry similar account balances? (value homophily,
    // where q157's assortativity asks it of the topology)
    "q334_morans_i" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("src"),
        col("l_partkey").cast("long").as("dst"))
      val proj = graft.graph.GraphQueries.bipartiteProject(li, minShared = 150L)
      val edges = proj.select(col("a").as("src"), col("b").as("dst"))
        .union(proj.select(col("b").as("src"), col("a").as("dst")))
      graft.ops.Stats.moransI(edges, T(s, dir, "supplier"),
        id = col("s_suppkey").cast("long"), value = col("s_acctbal"))
    }),

    // Geary's C on q334's graph and values: the local-contrast sibling —
    // squared differences along edges instead of deviation products
    "q376_gearys_c" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("src"),
        col("l_partkey").cast("long").as("dst"))
      val proj = graft.graph.GraphQueries.bipartiteProject(li, minShared = 150L)
      val edges = proj.select(col("a").as("src"), col("b").as("dst"))
        .union(proj.select(col("b").as("src"), col("a").as("dst")))
      graft.ops.Stats.gearysC(edges, T(s, dir, "supplier"),
        id = col("s_suppkey").cast("long"), value = col("s_acctbal"))
    }),

    // Grubbs: is the single most extreme order total a formal outlier?
    "q335_grubbs" -> ((s, dir) =>
      graft.ops.Stats.grubbs(T(s, dir, "orders"), value = col("o_totalprice"))),

    // Mood's median: do the three return-flag arms straddle the grand
    // price median equally? (the assumption-free coarse cousin of q311)
    "q322_moods_median" -> ((s, dir) =>
      graft.ops.Stats.moodsMedianTest(
        T(s, dir, "lineitem"), value = col("l_extendedprice"),
        group = col("l_returnflag"))),

    // Goodman–Kruskal γ + Somers' D on the (linenumber, quantity)
    // ordinal grid — q252's tau-b with the tie policy made explicit
    "q323_gk_gamma" -> ((s, dir) =>
      graft.ops.Stats.gkGamma(
        T(s, dir, "lineitem"), x = col("l_linenumber"), y = col("l_quantity"))),

    // Goodman–Kruskal λ: does knowing the source CHANGE the best single
    // guess of lang? (mode-based PRE — the blunt, readable complement
    // of q235's entropy-based uncertainty coefficient)
    "q324_gk_lambda" -> ((s, dir) =>
      graft.ops.Stats.gkLambda(
        T(s, dir, "documents"), x = col("source"), y = col("lang"))),

    // point-biserial: English vs document length as an EFFECT SIZE
    // (r², not a bare t that grows with n)
    "q325_point_biserial" -> ((s, dir) =>
      graft.ops.Stats.pointBiserial(
        T(s, dir, "documents"), value = col("n_chars"),
        flag = col("lang") === "en")),

    // partial correlation: does quantity still track extended price
    // once the discount is held fixed? (3-var confounder check)
    "q326_partial_corr" -> ((s, dir) =>
      graft.ops.Stats.partialCorr(
        T(s, dir, "lineitem"), x = col("l_quantity"),
        y = col("l_extendedprice"), z = col("l_discount"))),

    // ICC(1,1): how much account-balance variance lives BETWEEN
    // nations? — the design-effect input for clustered metrics
    "q327_icc" -> ((s, dir) =>
      graft.ops.Stats.iccOneWay(
        T(s, dir, "customer"), value = col("c_acctbal"),
        group = col("c_nationkey"))),

    // Fleiss' κ over 4-line orders: do an order's four line slots
    // "agree" on the return flag beyond the base-rate chance?
    "q328_fleiss_kappa" -> ((s, dir) =>
      graft.ops.Stats.fleissKappa(
        T(s, dir, "lineitem"), item = col("l_orderkey"),
        category = col("l_returnflag"), nRaters = 4)),

    // Jarque–Bera on the quantity grid: is l_quantity Gaussian? (it's
    // uniform — platykurtic, so the kurtosis arm must fire, not skew)
    "q317_jarque_bera" -> ((s, dir) =>
      graft.ops.Stats.jarqueBera(
        T(s, dir, "lineitem"), value = col("l_quantity"), valueScale = 0)),

    // Durbin–Watson on the daily event-volume trend fit: a weekday
    // cycle the OLS line can't see leaves serially correlated residuals
    "q318_durbin_watson" -> ((s, dir) =>
      graft.ops.Stats.durbinWatson(dailySeries(s, dir))),

    // Ljung–Box joint-whiteness Q over the first 7 lags of the same
    // daily series — the one-number companion to q265's lag-by-lag ACF
    "q319_ljung_box" -> ((s, dir) =>
      graft.ops.Stats.ljungBox(dailySeries(s, dir), maxLag = 7)),

    // Breusch–Pagan: extended price vs quantity is heteroscedastic BY
    // CONSTRUCTION (price = qty × unit price ⇒ spread grows with qty)
    "q320_breusch_pagan" -> ((s, dir) =>
      graft.ops.Stats.breuschPagan(
        T(s, dir, "lineitem"), x = col("l_quantity"),
        y = col("l_extendedprice"))),

    // Cook's distance: which 20 parts own the size→retail-price line?
    "q321_cooks_distance" -> ((s, dir) =>
      graft.ops.Stats.cooksDistance(
        T(s, dir, "part"), x = col("p_size"), y = col("p_retailprice"),
        id = col("p_partkey"), topK = 20)),

    // empirical-Bayes purchase-rate table: per-user rates shrunk toward
    // the moment-fitted Beta prior — low-n users borrow the population
    "q308_eb_rates" -> ((s, dir) =>
      graft.ops.Stats.ebShrinkRates(
        E(s, dir), keyCols = Seq("user_id"),
        success = col("event_type") === "purchase")),

    // log-rank survival A/B on time-to-first-purchase spans (q359's
    // conversion clock — the retention clock is 100% censored at sf0.01,
    // which made this row all-NULL: a gate nothing could fail; re-based
    // round 13): do even-id users convert sooner than odd-id users,
    // censoring-honestly? (hypergeometric O−E per event time)
    "q307_logrank" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"), col("event_type"))
      val u = days.groupBy(col("user_id")).agg(
        min(col("day")).as("_fd"), max(col("day")).as("_ld"),
        min(when(col("event_type") === "purchase", col("day"))).as("_pd"))
      val obs = u.select(
        (coalesce(col("_pd"), col("_ld")) - col("_fd")).as("dur"),
        col("_pd").isNotNull.as("ev"),
        (col("user_id") % 2 === 0).as("arm"))
      graft.ops.EventAnalytics.logRankTest(obs, col("dur"), col("ev"), col("arm"))
    }),

    // market-basket pairs over order line items: which parts ship
    // together beyond chance? (Apriori min-support pruning BEFORE the
    // within-order self-join; canonical item_a < item_b orientation)
    "q306_basket_pairs" -> ((s, dir) =>
      graft.ops.EventAnalytics.basketPairs(
        T(s, dir, "lineitem"), basket = col("l_orderkey"),
        item = col("l_partkey"), minSupport = 2)),

    // Qini / AUUC of the q177 scorer as an UPLIFT ranking: treated =
    // q293's even-hash arm, outcome = long document — does the score
    // rank incremental effect better than random targeting?
    "q305_qini" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val scores = TextAnalysis.hashedNgramScore(docs, hash = activeHash)
      val labeled = scores.join(
        docs.select(col("doc_id"),
          (graft.ops.Sampling.bucket(col("source"), 9, activeHash) % 2 === 0).as("t"),
          (col("n_chars") >= 500).as("y")),
        Seq("doc_id"))
      graft.ops.Stats.qini(labeled, score = col("score"), treated = col("t"),
        outcome = col("y"), tie = col("doc_id"))
    }),

    // PR-AUC of the same scorer — the imbalance-honest companion of
    // q177's ROC-AUC (step-interpolated average precision, ties one step)
    "q303_pr_auc" -> ((s, dir) => {
      val scores = TextAnalysis.hashedNgramScore(T(s, dir, "documents"), hash = activeHash)
      val labeled = scores.join(
        T(s, dir, "documents").select(col("doc_id"), (col("lang") === "en").as("y")),
        Seq("doc_id"))
      graft.ops.Stats.prAuc(labeled, col("score"), col("y"))
    }),

    // operating points: precision/recall/F1 at a 5-threshold sweep —
    // exact tp/fp/fn integers, scalar IEEE metric arithmetic per row
    "q178_pr_thresholds" -> ((s, dir) => {
      val scores = TextAnalysis.hashedNgramScore(T(s, dir, "documents"), hash = activeHash)
      val labeled = scores.join(
        T(s, dir, "documents").select(col("doc_id"), (col("lang") === "en").as("y")),
        Seq("doc_id"))
      graft.ops.Stats.prAtThresholds(
        labeled, col("score"), col("y"), Seq(0.3, 0.4, 0.5, 0.6, 0.7))
    }),

    // SCD2 point-in-time serving: each purchase's pre-purchase state —
    // changeIntervals over the NON-purchase stream builds the dimension
    // history, the as-of join reads it at the purchase timestamp (one
    // union-scan shuffle, never a range join), rolled up per state
    "q179_scd2_lookup" -> ((s, dir) => {
      val ev = E(s, dir)
      val hist = graft.ops.EventAnalytics.changeIntervals(
        ev.where(col("event_type") =!= "purchase"), Seq("user_id"), "event_type")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.AsOfJoin.backward(purchases,
          hist.select(col("user_id"), col("valid_from").as("ts"),
            col("event_type").as("state")),
          Seq("user_id"), "ts", rightCols = Seq("state"), prefix = "m_")
        .groupBy(coalesce(col("m_state"), lit("none")).as("state"))
        .agg(count(lit(1)).as("n"))
    }),

    // incremental materialized aggregate: three disjoint batches'
    // partials merged then served ≡ one direct grouped aggregate over the
    // whole table (the oracle) — counts/decimal-sums/min/max are all
    // mergeable, averages derive at read time
    "q174_matagg_serve" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val parts = (0 to 2).map(i =>
        graft.ops.MaterializedAgg.partials(
          li.where(col("l_orderkey") % 3 === i),
          groupCols = Seq("l_returnflag", "l_linestatus"),
          valueCols = Seq("l_quantity", "l_extendedprice")))
      graft.ops.MaterializedAgg.serve(graft.ops.MaterializedAgg.merge(parts))
    }),

    // SCD-2 validity intervals: per-user event-type history collapsed to
    // change points, each stamped [valid_from, valid_to) — null-safe
    // change test, unique-id tie-break, integer epochs: engine-exact
    "q154_event_scd2" -> ((s, dir) =>
      graft.ops.EventAnalytics.changeIntervals(
        E(s, dir), keyCols = Seq("user_id"), valueCol = "event_type")),

    // HITS hubs/authorities on the directed part→supplier graph: iterated
    // float rounds are not bit-portable (q126 discipline), so the
    // checkable contract is the fixed point itself — one extra half-step
    // recomputed in-query must land on the returned authority vector and
    // the norms must be 1
    "q155_graph_hits" -> ((s, dir) => {
      val e = T(s, dir, "lineitem").select(
        col("l_partkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + lit(10000000L)).as("dst"))
      // iters pinned by tools.HitsProbe: residual 1.4e-13 (sf0.01) /
      // 1.4e-13 (sf0.1) at 8 rounds — seven orders inside the 1e-6 gate
      val res = graft.graph.GraphQueries.hits(s, e, iters = 8)
      val eD = e.distinct()
      val aRaw = eD.join(res.select(col("id").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("_a2"))
      val n2 = aRaw.agg(sum(col("_a2") * col("_a2")).as("_n2"))
      val a2n = aRaw.crossJoin(broadcast(n2))
        .select(col("dst").as("id"), (col("_a2") / sqrt(col("_n2"))).as("_a2"))
      res.join(a2n, Seq("id"), "left")
        .agg(
          count(lit(1)).as("n_vertices"),
          max(abs(coalesce(col("_a2"), lit(0.0)) - col("authority"))).as("_resid"),
          abs(sum(col("authority") * col("authority")) - 1.0).as("_na"),
          abs(sum(col("hub") * col("hub")) - 1.0).as("_nh"))
        .select(col("n_vertices"),
          (col("_resid") < 1e-6 && col("_na") < 1e-9 && col("_nh") < 1e-9).as("hits_pass"))
    }),

    // Simpson diversity of the source mix per language (corpus-composition
    // monitor): shares are single divisions, squared terms decimal-summed
    // (order-free), effective = 1/simpson — the equivalent number of
    // uniform sources
    "q151_source_diversity" -> ((s, dir) =>
      graft.ops.Stats.diversityIndex(
        T(s, dir, "documents"), dimCol = "source", strataCols = Seq("lang"))),

    // embedding-space drift between two corpus snapshots: cosine + L2
    // between the mean vectors — per-dim decimal sums, one division per
    // mean, decimal-summed dot/norms: no cross-row float accumulation,
    // so both scalars are bit-identical across engines
    "q152_embed_drift" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      SimilaritySearch.embeddingDrift(
        emb.where(col("vec_id") % 10 =!= 1),
        emb.where(col("vec_id") % 10 =!= 2))
    }),

    // estimated cross-source overlap from per-source minhash signatures
    // (the q86 overlap matrix WITHOUT joining the item sets — group-level
    // sketches, mergeable per batch), with the exact shingle-set Jaccard
    // alongside as the audit column
    "q153_source_overlap_est" -> ((s, dir) => {
      val toks = split(lower(trim(col("text"))), "\\s+")
      val postings = T(s, dir, "documents")
        .select(col("source"), toks.as("_toks"))
        .select(col("source"),
          explode(sequence(lit(0), greatest(size(col("_toks")) - 3, lit(0)))).as("_i"),
          col("_toks"))
        .select(col("source").as("key"),
          array_join(slice(col("_toks"), col("_i") + 1, lit(3)), " ").as("item"))
      val est = Dedup.signatureOverlapEstimates(
        Dedup.keySetSignatures(postings, numHashes = 16, hash = activeHash), numHashes = 16)
      val sets = postings.distinct()
      val sizes = sets.groupBy(col("key")).agg(count(lit(1)).as("n"))
      val inter = sets.select(col("key").as("ka"), col("item"))
        .join(sets.select(col("key").as("kb"), col("item")), Seq("item"))
        .where(col("ka") < col("kb"))
        .groupBy(col("ka"), col("kb")).agg(count(lit(1)).as("inter"))
      est
        .join(sizes.select(col("key").as("key_a"), col("n").as("_na")), Seq("key_a"))
        .join(sizes.select(col("key").as("key_b"), col("n").as("_nb")), Seq("key_b"))
        .join(inter, col("key_a") === col("ka") && col("key_b") === col("kb"), "left")
        .select(col("key_a"), col("key_b"), col("agreement"), col("est_jaccard"),
          round(coalesce(col("inter"), lit(0L)).cast("double")
            / (col("_na") + col("_nb") - coalesce(col("inter"), lit(0L))), 6).as("jaccard"))
    }),

    // incremental data-quality counters: the q139 suite (minus Unique —
    // distinct counts don't add) evaluated as THREE per-batch counter rows
    // merged by plain sums; hash equality with the full-table oracle
    // proves merge ≡ one-shot for any batch split
    "q149_validate_merge" -> ((s, dir) => {
      import graft.ops.Validate._
      val checks = Seq(
        NotNull("text"),
        InSet("lang", Seq("en", "de", "es", "fr"), minFraction = 0.9),
        InRange("n_chars", 100, 2000, minFraction = 0.9),
        MatchesRegex("source", "^src[0-9]+$"),
        RowCountBetween(100L, 1000000000L))
      val d = T(s, dir, "documents")
      val parts = (0 to 2).map(i =>
        graft.ops.Validate.counters(d.where(col("doc_id") % 3 === i), checks))
      graft.ops.Validate.reportFromCounters(
        graft.ops.Validate.mergeCounters(parts), checks)
    }),

    // weighted random walks: the hop lands in a neighbor's
    // cumulative-weight range (hash mod total weight) — the discrete-
    // distribution sampling rule; parallel lineitem links SUM into edge
    // mass, so heavily-traded part–supplier links attract walks
    "q150_graph_walks_weighted" -> ((s, dir) => {
      val e = T(s, dir, "lineitem").select(
        col("l_partkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + lit(10000000L)).as("dst"),
        (lit(1) + col("l_linenumber") % 3).cast("long").as("weight"))
      graft.graph.GraphQueries.randomWalks(
        s, e, starts = (1L to 10L), numWalks = 2, walkLength = 5,
        seed = 7, hash = activeHash, weightCol = Some("weight"))
    }),

    // per-vertex clustering coefficient on the q133 projected supplier
    // graph (minShared=150 keeps real triangles — 287 at sf0.01): exact
    // triangle/degree integers from the degree-oriented wedge closure,
    // coefficient = one double division, NULL under degree 2
    "q147_graph_clustering" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("src"),
        col("l_partkey").cast("long").as("dst"))
      val proj = graft.graph.GraphQueries.bipartiteProject(li, minShared = 150L)
        .select(col("a").as("src"), col("b").as("dst"))
      graft.graph.GraphQueries.clusteringCoefficient(
        s, T(s, dir, "supplier").select(col("s_suppkey").as("id")), proj)
    }),

    // heavy-key skew report for a join key (the salted-join sizing input):
    // top-10 part keys by lineitem count with share and skew factor —
    // TakeOrdered top-k, rank window only over the 10-row frame
    "q148_key_skew" -> ((s, dir) =>
      graft.ops.Stats.keySkewReport(
        T(s, dir, "lineitem"), key = col("l_partkey"), topK = 10)),

    // mutual-kNN semantic clustering (topic grouping over embeddings):
    // u—v iff each is in the other's top-3 cosine neighbors (self excluded
    // BEFORE ranking), clusters = connected components of the mutual
    // graph; mutuality kills asymmetric hub edges, and rounded-score
    // ranking makes the whole labeling hash-exact
    "q143_semantic_clusters" -> ((s, dir) =>
      SimilaritySearch.mutualKnnClusters(s, T(s, dir, "embeddings"), k = 3)),

    // recency-weighted event stats (freshness-weighted mixing quotas):
    // weight halves per day of age — an exact exponent shift per row, so
    // decayed sums are decimal-exact across engines (q112 no-half-grid
    // argument); one aggregate shuffle on the type key
    "q144_event_decay" -> ((s, dir) =>
      graft.ops.EventAnalytics.decayedStats(
        E(s, dir), groupCols = Seq("event_type"), value = col("value"),
        bucketTs = 86400000000000L)),

    // k-anonymity / l-diversity release screen: every (lang, source)
    // combination's size and distinct-sensitive-value count, flagged
    // against k=3 / l=5 — exact integers, one grouped pass
    "q145_k_anonymity" -> ((s, dir) =>
      graft.ops.Privacy.kAnonymity(
        T(s, dir, "documents"), quasiCols = Seq("lang", "source"), k = 3,
        sensitive = Some("n_chars"), l = 5)),

    // chi-square distribution drift between two corpus snapshots (the
    // release-gate drift monitor): per-language observed/expected counts
    // and Pearson contributions — counts exact, e and contrib a handful
    // of deterministic IEEE ops per row, no cross-row float summation
    "q146_drift_chisq" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      graft.ops.Stats.chiSquareDrift(
        d.where(col("doc_id") % 10 =!= 1),
        d.where(col("doc_id") % 10 =!= 2),
        dimCol = "lang")
    }),

    // per-landmark BFS distance features on the q121 graph (the GraphX
    // lib.ShortestPaths analogue): the edge list is scanned once per
    // round regardless of landmark count — state is slim (vertex,
    // landmark, dist) rows
    "q128_graph_landmarks" -> ((s, dir) => {
      val e = T(s, dir, "lineitem").select(
        col("l_partkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + lit(10000000L)).as("dst"))
      graft.graph.GraphQueries.landmarkDistances(
        s, e, landmarks = Seq(1L, 2L, 3L), maxDist = 6)
    }),

    // effective diameter off q304's ANF curve — the statistic HyperBall
    // exists for: within how many hops can 90% of connected pairs reach
    // each other? Verify face: a consistency gate (diameter in (0, maxHops],
    // positive pair mass, monotone reach curve); bench face: the one-row
    // diameter readout
    "q371_eff_diameter" -> ((s, dir) => {
      val raw = T(s, dir, "lineitem").select(
        col("l_partkey").cast("long").as("s0"),
        (col("l_suppkey").cast("long") + lit(10000000L)).as("d0"))
      val canon = raw.where(col("s0") =!= col("d0"))
        .select(least(col("s0"), col("d0")).as("a"),
          greatest(col("s0"), col("d0")).as("b")).distinct()
      val bidir = canon.select(col("a").as("src"), col("b").as("dst"))
        .union(canon.select(col("b").as("src"), col("a").as("dst")))
      val v = bidir.select(col("src").as("id")).distinct()
      // same budget knob as q304 — the ANF family shares the disk-fill
      // hazard, so the heavy-tier probe must cap ALL of its members
      val anf = graft.Caches.track(graft.graph.GraphQueries.neighborhoodFunction(
        s, v, bidir, maxHops = 3, lgK = 11, shuffleBudgetBytes = anfShuffleBudget))
      val ed = graft.graph.GraphQueries.effectiveDiameter(anf, q = 0.9)
      if (benchMode) ed
      else {
        val r = ed.collect().head
        val d = r.getDouble(2)
        val curve = anf.groupBy(col("hop")).agg(sum(col("reach_est")).as("n"))
          .orderBy(col("hop")).collect().map(_.getDouble(1))
        val monotone = curve.zip(curve.tail).forall { case (a, b) => b >= a - 1e-6 }
        s.range(1).select(
          lit(r.getInt(0)).as("max_hop"),
          lit(d > 0.0 && d <= r.getInt(0) && r.getLong(1) > 0L && monotone).as("ed_pass"))
      }
    }),

    // ANF warm start: resume converged reach sketches from a PERSISTED
    // sketch table after 1% of edges arrive (addition-only — HLL union is
    // monotone). The prior state builds once per JVM and round-trips
    // through parquet (the memoized-index discipline, q27). Verify face:
    // warm estimates ≡ cold rebuild EXACTLY at the shared fixed point
    // (the q138 admissible-resume oracle trick). Bench face: the warm
    // resume alone — the incremental cost a daily graph refresh pays.
    "q373_anf_warm" -> ((s, dir) => {
      import graft.graph.GraphQueries
      val raw = T(s, dir, "lineitem").select(
        col("l_partkey").cast("long").as("s0"),
        (col("l_suppkey").cast("long") + lit(10000000L)).as("d0"),
        col("l_orderkey").cast("long").as("ok"))
      def bidir(c: org.apache.spark.sql.DataFrame) =
        c.select(col("a").as("src"), col("b").as("dst"))
          .union(c.select(col("b").as("src"), col("a").as("dst")))
      val allC = raw.where(col("s0") =!= col("d0"))
        .select(least(col("s0"), col("d0")).as("a"),
          greatest(col("s0"), col("d0")).as("b")).distinct()
      val oldC = raw.where(col("s0") =!= col("d0") && col("ok") % 100 =!= 0)
        .select(least(col("s0"), col("d0")).as("a"),
          greatest(col("s0"), col("d0")).as("b")).distinct()
      val addC = allC.join(oldC, Seq("a", "b"), "left_anti")
      val vAll = bidir(allC).select(col("src").as("id")).distinct()
      val priorPath = memo(s"anf-warm-prior:$dir") {
        val p = java.nio.file.Files.createTempDirectory("anf_prior").toString + "/sketches"
        val vOld = bidir(oldC).select(col("src").as("id")).distinct()
        // budget-capped like q304/q371: the cold prior build is the
        // disk-heavy leg at the 100x tier (12 rounds of dense sketches).
        // Warm ≡ cold exactness is only asserted in verify mode, where
        // the budget is unset and lgK stays 11 everywhere.
        GraphQueries.neighborhoodSketches(s, vOld, bidir(oldC), maxHops = 12, lgK = 11,
            shuffleBudgetBytes = anfShuffleBudget)
          .write.mode("overwrite").parquet(p)
        p
      }
      val prior = s.read.parquet(priorPath)
      val warm = GraphQueries.neighborhoodSketches(s, vAll, bidir(allC), maxHops = 12,
        lgK = 11, initState = Some(prior), newEdges = Some(bidir(addC)),
        shuffleBudgetBytes = anfShuffleBudget)
      if (benchMode)
        warm.select(col("id"), hll_sketch_estimate(col("sketch")).as("reach_est"))
      else {
        val w = warm.select(col("id"),
            hll_sketch_estimate(col("sketch")).cast("double").as("_e"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val c = GraphQueries.neighborhoodSketches(s, vAll, bidir(allC), maxHops = 12, lgK = 11)
          .select(col("id"), hll_sketch_estimate(col("sketch")).cast("double").as("_e"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        s.range(1).select(
          lit(c.size.toLong).as("n_vertices"),
          lit(w == c).as("warm_pass"))
      }
    }),

    // ANF / HyperBall k-hop reach on the q121 graph. Verify face: a
    // q27-style self-verifying gate — 10 landmark vertices' HLL reach
    // estimates vs landmarkDistances' EXACT balls at every hop, max
    // relative error ≤ 15% (lgK=11 ⇒ σ ≈ 2.3%); bench face times the
    // full per-hop reach rollup (the production read)
    "q304_graph_anf" -> ((s, dir) => {
      val raw = T(s, dir, "lineitem").select(
        col("l_partkey").cast("long").as("s0"),
        (col("l_suppkey").cast("long") + lit(10000000L)).as("d0"))
      // the same undirected canonicalization landmarkDistances applies
      val canon = raw.where(col("s0") =!= col("d0"))
        .select(least(col("s0"), col("d0")).as("a"),
          greatest(col("s0"), col("d0")).as("b")).distinct()
      val bidir = canon.select(col("a").as("src"), col("b").as("dst"))
        .union(canon.select(col("b").as("src"), col("a").as("dst")))
      val v = bidir.select(col("src").as("id")).distinct()
      // lgK 11 (σ≈2.3%) unless a shuffle budget caps it (anfAutoLgK):
      // the heavy-tier scale probe sets graft.anf.budget.mb so the 100×
      // run auto-downgrades instead of filling one box's disk with dense
      // sketches; Verify/Bench leave it unset — estimates unchanged
      val anf = graft.graph.GraphQueries.neighborhoodFunction(
        s, v, bidir, maxHops = 3, lgK = 11,
        shuffleBudgetBytes = anfShuffleBudget)
      if (benchMode)
        anf.groupBy(col("hop")).agg(
          count(lit(1)).as("n_vertices"),
          round(sum(col("reach_est")), 0).as("sum_reach"))
      else {
        val lms = (1L to 10L)
        val exact = graft.graph.GraphQueries.landmarkDistances(
            s, raw.select(col("s0").as("src"), col("d0").as("dst")),
            landmarks = lms, maxDist = 3)
          .groupBy(col("landmark"))
          .agg(count(when(col("dist") <= 1, 1)).as("b1"),
            count(when(col("dist") <= 2, 1)).as("b2"),
            count(when(col("dist") <= 3, 1)).as("b3"))
        val est = anf.where(col("id").isin(lms: _*))
          .groupBy(col("id").as("landmark"))
          .agg(max(when(col("hop") === 1, col("reach_est"))).as("e1"),
            max(when(col("hop") === 2, col("reach_est"))).as("e2"),
            max(when(col("hop") === 3, col("reach_est"))).as("e3"))
        val rel = exact.join(est, Seq("landmark"))
          .select(greatest(
            abs(col("e1") / col("b1") - 1.0),
            abs(col("e2") / col("b2") - 1.0),
            abs(col("e3") / col("b3") - 1.0)).as("_err"))
        val gate = rel.agg(count(lit(1)).as("_n"), max(col("_err")).as("_worst"))
        gate.select(lit(3L).as("hops"), lit(10L).as("sources_checked"),
          (col("_n") === 10L && col("_worst") <= 0.15).as("anf_pass"))
      }
    }),

    // language-ID confusion matrix (classifier-eval face): metadata lang ×
    // langId prediction with exact counts — where the heuristic is wrong,
    // per true class; |langs|×|preds| rows from one map-side-combined
    // shuffle
    "q136_langid_confusion" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))),

    // corpus snapshot diff (dataset versioning): two synthetic snapshots
    // of the same table — ids only in one side, plus planted text edits —
    // classified added/removed/changed/unchanged by normalized content
    // fingerprint; one slim full-outer equi-join, no text shuffles
    "q135_snapshot_diff" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val oldSnap = d.where(col("doc_id") % 10 =!= 1)
      val newSnap = d.where(col("doc_id") % 10 =!= 2)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      Dedup.snapshotDiff(oldSnap, newSnap)
    }),

    // adjacent-token co-occurrence lift (collocation / template mining):
    // exact integer counts + ONE double division — the ratio face of PMI,
    // portable where ln() is an ulp lottery (q88 lesson)
    "q134_text_cooccurrence" -> ((s, dir) =>
      TextAnalysis.cooccurrenceLift(T(s, dir, "documents"), minPairCount = 20L)),

    // bipartite projection onto suppliers (the co-occurrence-graph
    // builder): supplier pairs sharing >= 135 distinct parts via lineitem —
    // inverted-index self-join on the part key with map-side-combined
    // pair counts; hub parts are the d² hazard the maxDegree cap screens
    "q133_graph_bipartite" -> ((s, dir) => {
      val e = T(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("src"),
        col("l_partkey").cast("long").as("dst"))
      graft.graph.GraphQueries.bipartiteProject(e, minShared = 135L)
    }),

    // per-landmark capped eccentricity + reach (the diameter-lower-bound /
    // coverage diagnostic over q128's distance features): |landmarks|
    // integer rows from one rollup
    "q129_graph_ecc" -> ((s, dir) => {
      val e = T(s, dir, "lineitem").select(
        col("l_partkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + lit(10000000L)).as("dst"))
      graft.graph.GraphQueries.landmarkDistances(
          s, e, landmarks = Seq(1L, 2L, 3L), maxDist = 6)
        .groupBy(col("landmark"))
        .agg(max(col("dist")).as("ecc_capped"), count(lit(1)).as("n_reached"))
    }),

    // warm-start BFS (incremental distance maintenance): half the edge
    // set's distances relaxed against the FULL graph must equal q121's
    // cold answer — the oracle is q121's recursive walk verbatim, so hash
    // equality proves warm ≡ cold end to end
    "q138_graph_bfs_warm" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(
        col("l_partkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + lit(10000000L)).as("dst"),
        col("l_orderkey"))
      val half = li.where(col("l_orderkey") % 2 === 0).select("src", "dst")
      val full = li.select("src", "dst")
      val old = graft.graph.GraphQueries.shortestPaths(
        s, half, sources = Seq(1L, 2L, 3L, 4L, 5L), maxDist = 8)
      graft.graph.GraphQueries.relaxDistances(s, full, old, maxDist = 8)
    }),

    // per-language MAD-based robust length outliers (the heavy-tail screen
    // a z-score cannot provide): both medians are rank-based ACTUAL values
    // → integer med/mad/deviation, and the score is one double division —
    // engine-exact where mean/σ on a skewed stratum is not
    "q123_robust_outliers" -> ((s, dir) =>
      graft.ops.Stats.robustOutliers(
        T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        value = col("n_chars"), strataCols = Seq("lang"))),

    // dimension-pair correlation matrix (embedding-capacity diagnostics):
    // q112's gram + a d-row mean pass, everything joined broadcast — the
    // corpus never shuffles
    "q117_embed_corr" -> ((s, dir) =>
      SimilaritySearch.correlationMatrix(T(s, dir, "embeddings"), dim = 64)),

    // data-driven PCA over the embeddings (the learned counterpart of
    // q80's JL projection; q112's gram is the distributed half, the 64×64
    // eigenproblem solves on the driver). Eigendecomposition isn't
    // SQL-expressible, so the contract is the q27-style self-verifying
    // gate: the per-component variance of the projected corpus must equal
    // the model's eigenvalues (within 1%), and the top-8 must capture at
    // least their uniform share of total variance
    "q116_embed_pca" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val model = SparkEntry.memo(s"pca:$dir") {
        SimilaritySearch.fitPca(emb, dim = 64, k = 8)
      }
      val vars = SimilaritySearch.pcaProject(emb, model)
        .select(posexplode(col("pca")).as(Seq("i", "x")))
        .groupBy("i")
        .agg((avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))).as("v"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val eigenOk = model.explained.zipWithIndex.forall { case (l, i) =>
        math.abs(vars(i) - l) <= math.max(1e-6, 0.01 * math.abs(l))
      }
      s.range(1).select(lit(8).as("k"),
        lit(eigenOk && model.explainedRatio >= 8.0 / 64).as("pca_pass"))
    }),

    // token-weighted domain mixing: the q57 mixture with the binding
    // stratum chosen by TOKEN mass (the LLM data-mixing form) — one
    // |strata|-row sum pass, then the same map-side hash filter
    "q114_sample_mix_tokens" -> ((s, dir) =>
      graft.ops.Sampling.toTargetMixByTokens(
          T(s, dir, "documents"), "lang",
          weights = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2),
          tokens = TextAnalysis.tokenCount(col("text")),
          key = col("doc_id"), seed = 42, hash = activeHash)
        .select(col("doc_id"), col("lang"))),

    // per-language z-scored document length: exact decimal moments, the
    // identical closed-form double arithmetic in both engines (q108's
    // discipline applied to standardization)
    "q115_zscore_length" -> ((s, dir) =>
      graft.ops.Stats.zscore(
        T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        value = col("n_chars"), strataCols = Seq("lang"))),

    // contamination rate by source (the governance rollup over q62's
    // verdicts): which ingest sources quote the eval set, at what rate —
    // the verdict frame collapses to |sources| rows in one map-side-
    // combined shuffle
    "q113_contamination_by_source" -> ((s, dir) => {
      val docs  = T(s, dir, "documents")
      val train = docs.where(col("doc_id") % 20 =!= 0)
      val ev    = docs.where(col("doc_id") % 20 === 0)
      Decontaminate.overlap(train, ev, n = 3, minShared = 5L)
        .join(train.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"))
        .select(col("source"), col("n_docs"), col("n_contaminated"),
          round(col("n_contaminated").cast("double") / col("n_docs"), 6)
            .as("contamination_rate"))
    }),

    // upper-triangle Gram matrix over the 64-dim embeddings (PCA /
    // whitening precursor): literal pair-array explode → decimal-summed
    // partial agg — the shuffle carries 2080 fixed rows per map partition
    // at any corpus size
    "q112_embed_gram" -> ((s, dir) =>
      SimilaritySearch.gramMatrix(T(s, dir, "embeddings"), dim = 64)),

    // vocabulary coverage: per-doc OOV rate against the corpus's own
    // top-50 tokens by tf — TakeOrdered top-N, broadcast membership probe,
    // one per-doc rollup shuffle; the tokenizer-coverage screen before a
    // vocab freeze
    "q111_vocab_coverage" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      TextAnalysis.vocabularyCoverage(
        d, TextAnalysis.vocabulary(d), topN = 50)
    }),

    // incremental corpus statistics: the SAME data card assembled from two
    // per-batch mergeable partials (counts/sums/decimal quality + HLL
    // sketch) — the 100-TB dashboard path aggregates |strata|×|batches|
    // partial rows, never rescanning text. The exact-mergeable columns are
    // oracle-checked; the sketch estimate is spec-gated (CorpusStatsSpec)
    // because DuckDB's HLL is a different sketch implementation
    "q110_corpus_report_merge" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      TextAnalysis.corpusReportFromPartials(
          TextAnalysis.corpusPartialStats(d.where(col("doc_id") % 2 === 0))
            .union(TextAnalysis.corpusPartialStats(d.where(col("doc_id") % 2 === 1))))
        .select(col("stratum"), col("n_docs"), col("total_tokens"),
          col("avg_quality"), col("n_low_quality"))
    }),

    // deterministic JL random projection 64→8: the embedding-compression
    // step ahead of ANN — hash-derived matrix, map-side only; exploded to
    // (vec_id, pos, value) so every projected component is hash-checked
    // bit-for-bit against the oracle's replica of the same matrix
    "q80_embed_random_projection" -> ((s, dir) => {
      val proj = SimilaritySearch.randomProjection(
        T(s, dir, "embeddings"), outDim = 8, inDim = 64, hash = activeHash)
      proj.select(col("vec_id"), posexplode(col("proj")).as(Seq("pos", "value")))
        .select(col("vec_id"), col("pos"), round(col("value"), 6).as("value"))
    }),

    // paragraph-level boilerplate removal: every document is wrapped in the
    // SAME planted banner/footer paragraphs (the oracle plants identical
    // strings), so the first doc keeps them and every other doc sheds them
    // while bodies survive — first-occurrence election, reassembly order,
    // and the drop counts are hash-checked row by row
    "q79_text_dedup_paragraphs" -> ((s, dir) => {
      val wrapped = T(s, dir, "documents").select(
        col("doc_id"),
        concat(
          lit("This site uses cookies to improve your experience.\n"),
          col("text"),
          lit("\nCopyright Example Corp. All rights reserved.")).as("text"))
      TextAnalysis.dedupParagraphs(wrapped)
    }),

    // multi-family semantic near-dup pairs: the union of two independent
    // 4-bit hyperplane bucketings (multi-table LSH recall) — pairs one
    // family's planes split across buckets get a second, independent
    // chance to cobucket; the deduped pair frame is hash-checked exactly
    "q78_dedup_semantic_multi" -> ((s, dir) => {
      val fams = Seq(0, 1).map(f =>
        SimilaritySearch.RandomHyperplaneLsh(bits = 4, dim = 64, hash = activeHash, family = f)
          .bucketExpr(col("embedding").cast("array<double>")))
      Dedup.semanticPairsMulti(T(s, dir, "embeddings"), fams, threshold = 0.25)
    }),

    // corpus vocabulary table: distinct tokens with term frequency and
    // document frequency — two pre-combined shuffles, no countDistinct
    // Expand; output bounded by |vocabulary|
    "q66_text_vocabulary" -> ((s, dir) =>
      TextAnalysis.vocabulary(T(s, dir, "documents"), minDf = 2L)),

    // skew-safe salted dimension join: the fact side is salted by a hash of
    // its primary key (l_orderkey, l_linenumber) and the part dimension is
    // replicated ×8, so a hot partkey spreads over 8 reducers instead of
    // pinning one — with results identical to the plain equi-join, which is
    // exactly what the oracle checks
    "q65_skew_salted_join" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
        .select(col("l_partkey").as("p_partkey"), col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      val p = T(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      graft.ops.SkewJoin
        .saltedJoin(li, p, Seq("p_partkey"),
          saltSource = struct(col("l_orderkey"), col("l_linenumber")), salts = 8)
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
    }),

    // graph query surface: PageRank (GraphX). On the bidirectional
    // same-nation clique graph every component is k-regular, so the raw
    // fixed point is exactly 1.0 per connected vertex and resetProb (0.15)
    // per isolated one; GraphX normalizes ranks to sum to N, a closed-form
    // scaling — which makes the iterative algorithm's output SQL-checkable
    // (round(6) absorbs float jitter).
    "q44_graph_pagerank" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      val bidir = e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
      graft.graph.GraphQueries.pageRank(s, v.select("id"), bidir)
        .select(col("id"), round(col("pagerank"), 6).as("pagerank"))
    }),

    // per-label mean embeddings (class prototypes): one partial-aggregated
    // shuffle on (label, dimension); result size |labels|·dim regardless
    // of corpus size
    "q59_embed_centroids" -> ((s, dir) =>
      VectorOps.labelCentroids(T(s, dir, "embeddings"))),

    // nearest-class-mean classification: every vector assigned to its
    // highest-cosine centroid (broadcast |labels| arrays, map-side
    // fanout, one argmax shuffle), reported as a confusion matrix
    "q60_embed_nearest_centroid" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      VectorOps.nearestCentroid(emb, VectorOps.labelCentroids(emb))
        .groupBy(col("label").as("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
    }),

    // graph query surface: per-vertex triangle counts (GraphX) over the
    // same-nation clique graph — SQL-checkable via a canonical-edge
    // triple join
    "q58_graph_triangles" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      graft.graph.GraphQueries.triangleCounts(s, v.select("id"), e)
        .select(col("id"), col("triangles").cast("long").as("triangles"))
    }),

    // per-vertex triangle counts as plain DataFrame joins — the spillable
    // twin of q58 (degree-oriented wedge closure, O(m^{3/2}) wedges); with
    // this, all three iterative graph ops (CC q61, PageRank q75, triangles)
    // have a DF path for graphs too big to pin in GraphX's cached RDDs
    "q77_graph_triangles_df" -> ((s, dir) => {
      val v = T(s, dir, "supplier").select(col("s_suppkey").as("id"), col("s_nationkey"))
      val e = new SimilarityClassifier(SimilarityConfig("s_nationkey")).classify(v.limit(0), v)
      graft.graph.GraphQueries.triangleCountsDF(s, v.select("id"), e)
        .select(col("id"), col("triangles"))
    }),

    // IVF ANN: KMeans-cell candidate restriction (seeded KMeans is not
    // SQL-expressible, so the driver-checkable contract is a RECALL GATE:
    // the query computes recall@10 of the cell-restricted search against
    // the exact brute-force top-10 and emits whether it clears 0.5 — the
    // oracle pins the expected row, so a recall regression hash-fails).
    // The test embeddings are uniform-random on the 64-dim sphere — the
    // ANN worst case (no cluster structure, top-10 cosine ≈ 0.35), where
    // recall tracks scan fraction for ANY cell index; nprobe=4 of 8 cells
    // (50% scan) measures 6/10 at sf0.01 and sf0.1. Real embedding corpora
    // cluster, which is what makes IVF a >1×-recall-per-scan-fraction win.
    // Index (centroid training + cell assignment) built once per dataset.
    "q27_ann_ivf" -> ((s, dir) => {
      val ivf = SimilaritySearch.IvfIndex(k = 8, nprobe = 4)
      val (indexed, centroids) = SparkEntry.memo(s"ivf:$dir") {
        val (i, c) = ivf.index(T(s, dir, "embeddings")); (i.cache(), c)
      }
      val approx = ivf.query(indexed, centroids, SparkEntry.benchQueryVec, topK = 10)
      if (benchMode) approx // time the IVF path alone, not the brute-force gate
      else {
        val brute = SimilaritySearch.bruteForceTopK(T(s, dir, "embeddings"), SparkEntry.benchQueryVec, k = 10)
        approx.select(col("vec_id"))
          .join(brute.select(col("vec_id")), Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(10).as("k"), (col("hits") >= 5).as("recall_pass"))
      }
    }),

    // int8-quantized ANN: brute-force cosine directly over the scalar-
    // quantized vectors (cosine is scale-invariant — no dequantization in
    // the scan). Quantization error on top-k order isn't SQL-replicable
    // bit-for-bit, so the contract is the q27-style gate: quantized top-10
    // must recover >=8 of the exact float top-10; bench mode times the
    // quantized scan alone.
    "q43_ann_quantized" -> ((s, dir) => {
      val q = SparkEntry.memo(s"sq:$dir") {
        SimilaritySearch.ScalarQuant.quantize(T(s, dir, "embeddings")).cache()
      }
      val approx = SimilaritySearch.bruteForceTopK(q, SparkEntry.benchQueryVec, k = 10, vecCol = "qvec")
      if (benchMode) approx
      else {
        val exact = SimilaritySearch.bruteForceTopK(T(s, dir, "embeddings"), SparkEntry.benchQueryVec, k = 10)
        approx.select(col("vec_id"))
          .join(exact.select(col("vec_id")), Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(10).as("k"), (col("hits") >= 8).as("sq_recall_pass"))
      }
    }),

    // product-quantized ANN (PQ + ADC, the memory scale path): vectors
    // stored as m=8 codes (32× smaller than float32); query-time ADC is 8
    // literal-table lookups per row — zero per-row float math in 64 dims —
    // and the driver-bounded shortlist is reranked EXACTLY against the
    // original vectors. The codebook model isn't SQL-expressible → the
    // q27-style gate: ADC+rerank top-10 must recover >= 8 of the exact
    // float top-10; bench mode times the ADC serving path alone
    "q122_ann_pq" -> ((s, dir) => {
      val (enc, model) = SparkEntry.memo(s"pq:$dir") {
        val emb = T(s, dir, "embeddings")
        val m   = graft.ops.ProductQuant.fit(emb, dim = 64, m = 8, ksub = 16)
        (graft.ops.ProductQuant.encode(emb, m).cache(), m)
      }
      val approx = graft.ops.ProductQuant.adcTopK(enc, model, SparkEntry.benchQueryVec,
        topK = 10, rerankWith = Some("embedding"), shortlist = 100)
      if (benchMode) approx
      else {
        val exact = SimilaritySearch.bruteForceTopK(
          T(s, dir, "embeddings"), SparkEntry.benchQueryVec, k = 10)
        approx.select(col("vec_id"))
          .join(exact.select(col("vec_id")), Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(10).as("k"), (col("hits") >= 8).as("pq_recall_pass"))
      }
    }),

    // IVFADC, the whole-stack ANN serving composition: IVF cells prune the
    // scanned ROWS to nprobe/k of the corpus, PQ codes prune the scanned
    // BYTES to m per vector, ADC scores with broadcast literal tables, and
    // the driver-bounded shortlist reranks exactly. Gate mirrors q27's
    // IVF bound (cell pruning caps recall; PQ+rerank must not lose more)
    "q125_ann_ivfpq" -> ((s, dir) => {
      val ivfpq = graft.ops.ProductQuant.IvfPq(k = 8, nprobe = 4, m = 8, ksub = 16)
      val (enc, centroids, model) = SparkEntry.memo(s"ivfpq:$dir") {
        val (e, c, pm) = ivfpq.index(T(s, dir, "embeddings"), dim = 64)
        (e.cache(), c, pm)
      }
      val approx = ivfpq.query(enc, centroids, model, SparkEntry.benchQueryVec,
        topK = 10, rerankWith = Some("embedding"), shortlist = 100)
      if (benchMode) approx
      else {
        val exact = SimilaritySearch.bruteForceTopK(
          T(s, dir, "embeddings"), SparkEntry.benchQueryVec, k = 10)
        approx.select(col("vec_id"))
          .join(exact.select(col("vec_id")), Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(10).as("k"), (col("hits") >= 5).as("ivfpq_recall_pass"))
      }
    }),

    // batch retrieval through the IVFADC index: per-query probed cells
    // selected map-side, corpus joined on the cell key (only probed
    // cells' rows scored), PQ-decoded approximate shortlist into the
    // bounded TopKAgg, exact rerank of the broadcast-side candidates.
    // Gate: ≥ half the exact batch-knn pairs recovered across the batch
    "q127_ann_ivfpq_knn" -> ((s, dir) => {
      val ivfpq = graft.ops.ProductQuant.IvfPq(k = 8, nprobe = 4, m = 8, ksub = 16)
      val (enc, centroids, model) = SparkEntry.memo(s"ivfpq:$dir") {
        val (e, c, pm) = ivfpq.index(T(s, dir, "embeddings"), dim = 64)
        (e.cache(), c, pm)
      }
      val queries = T(s, dir, "embeddings").where(col("vec_id") < 5)
      val approx = ivfpq.knnJoin(enc, centroids, model, queries, k = 10,
        rerankWith = Some("embedding"))
      if (benchMode) approx
      else {
        val exact = SimilaritySearch.knnJoin(queries, T(s, dir, "embeddings"), k = 10)
        approx.select(col("query_id"), col("neighbor_id"))
          .join(exact.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(5).as("n_queries"), (col("hits") >= 25).as("knn_recall_pass"))
      }
    }),

    // deterministic stratified sampling: per-lang rates via a literal-map
    // lookup, hash-bucket membership — a pure map-side filter (no shuffle,
    // no RNG state), reproducible across runs/partitionings/engines. The
    // portable Md5Hash under Verify makes the exact selected row set
    // oracle-checkable; Bench times the production XxHash rule.
    "q45_sample_stratified" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedHashSample(
          T(s, dir, "documents"),
          strataCol = "lang",
          rates = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1),
          defaultRate = 0.05,
          key = col("doc_id"),
          seed = 42,
          hash = activeHash)
        .select(col("doc_id"), col("lang"), col("source"))),

    // deterministic k-fold assignment (cross-validation partitioning, the
    // 2-way split generalized): one map-side hash mod k, no RNG state
    "q131_sample_kfold" -> ((s, dir) =>
      graft.ops.Sampling.kFold(
        T(s, dir, "documents").select(col("doc_id"), col("lang")),
        key = col("doc_id"), k = 5, hash = activeHash)),

    // contrastive negative pairs: each (anchor, j) draw targets rank
    // hash mod n in the sorted-id rank table (RDD.zipWithIndex — no
    // global-window collapse), resolved by one equi-join; self-pairs
    // dropped. The oracle replays rank, draw and join row for row
    "q132_sample_negatives" -> ((s, dir) =>
      graft.ops.Sampling.negativePairs(
        T(s, dir, "documents"), idCol = "doc_id", m = 2, hash = activeHash)),

    // domain-mix resampling: the largest downsample of documents whose
    // expected language proportions are exactly 50/30/20 en/de/fr —
    // rates derived from one count pass, selection map-side deterministic
    "q57_sample_target_mix" -> ((s, dir) =>
      graft.ops.Sampling.toTargetMix(
          T(s, dir, "documents"), "lang",
          weights = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2),
          key = col("doc_id"), seed = 42, hash = activeHash)
        .select(col("doc_id"), col("lang"))),

    // within-document repetition signals (Gopher-style quality filter):
    // repeated bigram/trigram occurrence fractions, pure map-side
    "q56_text_repetition" -> ((s, dir) =>
      T(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.repetitionRatio(col("text"), 2).as("rep2"),
        TextAnalysis.repetitionRatio(col("text"), 3).as("rep3"))),

    // BM25 relevance over the documents table — the inverted-index
    // discipline: postings restricted to the query terms at the scan, all
    // shuffles sized by matching postings, corpus scalars broadcast
    "q54_text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(T(s, dir, "documents"), Seq("join", "scan", "filter"))),

    // sequence packing (concat-and-chunk): documents laid end-to-end in 32
    // deterministic streams, chunked into 1024-token bins — the padding-
    // free LLM batching shape. A pure prefix sum per stream: one shuffle
    // on the stream id, no global sort.
    "q52_pack_sequences" -> ((s, dir) =>
      graft.ops.Packing.packSequences(
        T(s, dir, "documents"),
        tokens = TextAnalysis.tokenCount(col("text")),
        budget = 1024, streams = 32)),

    // fixed-size per-stratum sample: exactly 10 docs per language, chosen
    // by portable-hash rank (deterministic reservoir) — the fixed-count
    // complement of q45's fixed-rate stratified sample
    "q53_sample_topk" -> ((s, dir) =>
      graft.ops.Sampling.topKPerKey(T(s, dir, "documents"), Seq("lang"), k = 10,
          rowKey = col("doc_id"), seed = 42, hash = activeHash)
        .select(col("doc_id"), col("lang"))),

    // backward as-of join: every purchase event gets the user's most recent
    // click at-or-before it — the union-scan shape (one key shuffle + sorted
    // running last), NOT a range theta-join (which plans a nested loop).
    // Timestamps are compared at µs (ts div 1000) so the DuckDB oracle sees
    // the same timeline (parquet NANOS truncate to µs there).
    "q46_asof_join" -> ((s, dir) => {
      val ev = E(s, dir).withColumn("tsu", expr("ts div 1000"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tsu"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("tsu"), col("event_id"))
      graft.ops.AsOfJoin.backward(purchases, clicks, Seq("user_id"), "tsu",
          rightCols = Seq("event_id", "tsu"), prefix = "click_")
        .select(col("event_id"), col("user_id"), col("tsu").as("purchase_ts"),
          coalesce(col("click_event_id"), lit(-1L)).as("click_id"),
          coalesce(col("click_tsu"), lit(-1L)).as("click_ts"))
    }),

    // forward as-of with tolerance: each click's NEXT purchase within one
    // hour (pandas merge_asof direction='forward' surface) — the same
    // one-shuffle union-scan as q46, on reversed time order
    "q51_asof_forward" -> ((s, dir) => {
      val ev = E(s, dir).withColumn("tsu", expr("ts div 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("tsu"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tsu"), col("event_id"))
      graft.ops.AsOfJoin.forward(clicks, purchases, Seq("user_id"), "tsu",
          rightCols = Seq("event_id", "tsu"), prefix = "purchase_",
          tolerance = Some(3600000000L))
        .select(col("event_id"), col("user_id"), col("tsu").as("click_ts"),
          coalesce(col("purchase_event_id"), lit(-1L)).as("purchase_id"),
          coalesce(col("purchase_tsu"), lit(-1L)).as("purchase_ts"))
    }),

    // point-in-interval join: clicks landing inside any purchase's 1-hour
    // attribution window of the same user. Bucketized-time equi-join (one
    // bucket per point, residual between filter) — never the per-key
    // nested loop the naive range join plans to.
    "q49_interval_join" -> ((s, dir) => {
      val ev = E(s, dir).withColumn("tsu", expr("ts div 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("tsu"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("tsu").as("w_start"), (col("tsu") + lit(3600000000L)).as("w_end"))
      graft.ops.IntervalJoin.pointInInterval(clicks, purchases, Seq("user_id"),
          "tsu", "w_start", "w_end", bucketWidth = 3600000000L)
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          col("tsu").as("click_ts"))
    }),

    // incremental near-dup dedup: new batch (doc_id >= 300) vs history
    // (doc_id < 300) — band equi-join across the two frames with the
    // history side bloom-pruned map-side before its shuffle (the 100-TB
    // pattern: read the corpus once, shuffle only bucket-matching rows).
    // Same 16×4 banding as q18; the portable Md5Hash under Verify makes
    // band buckets and the verified jaccard oracle-checkable.
    // persisted LSH index: q47's incremental probe served from an ON-DISK
    // signature store (built+saved once per JVM — the IvfIndex memo
    // discipline). Verify face: a q373-style gate — the disk probe's pair
    // set must equal the fully-oracled in-memory incremental path's,
    // hash-exact and non-empty. Bench face: the probe alone — the cost an
    // ingest batch pays against a standing corpus index.
    "q375_lsh_index" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val hash = activeHash
      val idx = Dedup.LshIndex(numHashes = 16, shingleWidth = 3, hash = hash)
      val path = memo(s"lsh-index-$hash:$dir") {
        val p = java.nio.file.Files.createTempDirectory("lsh_index").toString + "/index"
        idx.save(docs.where(col("doc_id") < 300), p)
        p
      }
      val newDocs = docs.where(col("doc_id") >= 300)
      val probed = idx.probe(s, path, newDocs, bands = 4, verifyThreshold = 0.7)
      if (benchMode) probed
      else {
        def pairSet(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val got = pairSet(probed)
        val mem = pairSet(Dedup.incrementalMinhash(
          newDocs, docs.where(col("doc_id") < 300),
          numHashes = 16, bands = 4, verifyThreshold = 0.7, hash = hash))
        s.range(1).select(
          lit(got.size.toLong).as("n_pairs"),
          lit(got.nonEmpty && got == mem).as("index_pass"))
      }
    }),

    // the persisted LSH index driving a CONSUMER across batches — the
    // story q375's store exists for: labels are MAINTAINED batch over
    // batch from index probes (probe → incrementalClusters → append), so
    // nobody re-bands the corpus per ingest and batch 2's near-dups of
    // batch 1 are found through the APPENDED (never rebuilt) store.
    // Verify face: a q375-style gate — the final label table off the
    // disk index must equal the inline incremental path's, hash-exact,
    // with at least one multi-doc cluster (the probes found something).
    // Bench face: the steady-state per-ingest cost — probe batch 2
    // against the standing appended index + the label update (the
    // bootstrap index/labels are memoized like the ANN indexes).
    "q378_index_clusters" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val hash = activeHash
      val idx = Dedup.LshIndex(numHashes = 16, shingleWidth = 3, hash = hash)
      val hist = docs.where(col("doc_id") < 200)
      val b1 = docs.where(col("doc_id") >= 200 && col("doc_id") < 300)
      val b2 = docs.where(col("doc_id") >= 300)
      val histPlusB1 = docs.where(col("doc_id") < 300)
      // bootstrap + batch-1 maintenance, once per dataset+hash: save the
      // history index, probe batch 1 (forced BEFORE the append mutates
      // the store the probe reads), label, then append batch 1
      val (path, labels1) = memo(s"lsh-index-inc-$hash:$dir") {
        val p = java.nio.file.Files.createTempDirectory("lsh_index_inc").toString + "/index"
        idx.save(hist, p)
        val labels0 = Dedup.clusters(s,
          Dedup.minhashLsh(hist, numHashes = 16, bands = 4, shingleWidth = 3,
            verifyThreshold = 0.7, hash = hash),
          docs = Some(hist)).select(col("doc_id"), col("cluster_id"))
        val p1 = idx.probe(s, p, b1, bands = 4, verifyThreshold = 0.7)
          .select(col("new_id"), col("old_id"))
        // The pre-append snapshot must be REAL, not a soft cache barrier:
        // the probe's lineage reads the store append() is about to mutate,
        // and any recompute of a merely-cached plan after the append would
        // silently relabel. Collect the bounded label table (≤ |hist∪b1|
        // rows) and re-create it lineage-free.
        val l1Rows = Dedup.incrementalClusters(s, labels0, p1,
          docs = Some(histPlusB1), aCol = "new_id", bCol = "old_id")
          .select(col("doc_id"), col("cluster_id")).collect()
        val l1 = s.createDataFrame(
          s.sparkContext.parallelize(l1Rows.toSeq),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("cluster_id",
              org.apache.spark.sql.types.LongType))))
        idx.append(s, p, b1)
        (p, l1)
      }
      val p2 = idx.probe(s, path, b2, bands = 4, verifyThreshold = 0.7)
        .select(col("new_id"), col("old_id"))
      val served = Dedup.incrementalClusters(s, labels1, p2,
        docs = Some(docs), aCol = "new_id", bCol = "old_id")
      if (benchMode) served
      else {
        def lab(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
        val got = lab(served)
        // inline face: identical flow, history frames re-banded in memory
        val labels0 = Dedup.clusters(s,
          Dedup.minhashLsh(hist, numHashes = 16, bands = 4, shingleWidth = 3,
            verifyThreshold = 0.7, hash = hash),
          docs = Some(hist)).select(col("doc_id"), col("cluster_id"))
        val q1 = Dedup.incrementalMinhash(b1, hist,
          numHashes = 16, bands = 4, verifyThreshold = 0.7, hash = hash)
          .select(col("new_id"), col("old_id"))
        val m1 = Dedup.incrementalClusters(s, labels0, q1,
          docs = Some(histPlusB1), aCol = "new_id", bCol = "old_id")
          .select(col("doc_id"), col("cluster_id"))
        val q2 = Dedup.incrementalMinhash(b2, histPlusB1,
          numHashes = 16, bands = 4, verifyThreshold = 0.7, hash = hash)
          .select(col("new_id"), col("old_id"))
        val mem = lab(Dedup.incrementalClusters(s, m1, q2,
          docs = Some(docs), aCol = "new_id", bCol = "old_id"))
        val multi = got.groupBy(_._2).exists(_._2.size > 1)
        s.range(1).select(
          lit(got.size.toLong).as("n_docs"),
          lit(got == mem && multi).as("index_pass"))
      }
    }),

    // decontamination served from the SAME persisted LSH index as q375:
    // the stored shingle sets ARE the training corpus's distinct 3-gram
    // postings, so the eval sweep probes the on-disk store and the
    // training text is never re-tokenized — the second index consumer
    // (q378 maintains labels; this guards eval sets). FULL-VALUE oracle:
    // the n-gram overlap verdict is exactly SQL-expressible.
    "q382_index_decontaminate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val hash = activeHash
      val idx = Dedup.LshIndex(numHashes = 16, shingleWidth = 3, hash = hash)
      val path = memo(s"lsh-index-$hash:$dir") {
        val p = java.nio.file.Files.createTempDirectory("lsh_index").toString + "/index"
        idx.save(docs.where(col("doc_id") < 300), p)
        p
      }
      graft.ops.Decontaminate.overlapFromIndex(s, idx, path,
        docs.where(col("doc_id") >= 300), minShared = 20L)
    }),

    "q47_dedup_incremental" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val hash = activeHash
      // corpus sketch (signatures) built once per dataset+hash (memo, like
      // the ANN indexes): the deployment shape — every ingest batch probes
      // the maintained slim band table (id, band, bucket) + shingle-set
      // table (id, sh), nobody re-sketches the corpus per run
      val corpusSketch = SparkEntry.memo(s"corpus-sketch-$hash:$dir") {
        Dedup.minhashSignatures(docs.where(col("doc_id") < 300),
          "text", "doc_id", numHashes = 16, shingleWidth = 3, hash = hash).cache()
      }
      Dedup.incrementalMinhash(
        docs.where(col("doc_id") >= 300), docs.where(col("doc_id") < 300),
        numHashes = 16, bands = 4, verifyThreshold = 0.7, hash = hash,
        historyBanded = Some(Dedup.bandBuckets(corpusSketch, 16, 4, hash)),
        historySh = Some(corpusSketch.select(col("id"), col("sh"))))
    }),

    // Breslow/Efron cumulative baseline hazard off the q377 Cox cell
    // machinery — the post-fit product real survival users plot
    // (Ŝ(t|x) = S₀(t)^{exp(β̂ᵀx)}; lifelines baseline_cumulative_hazard_).
    // Verify face: the gate row — the op's (t, h0, H₀, S₀) re-verified
    // per tie mode against a NAIVE subject-level recomputation of the
    // baseline at the q377-gated β̂ (full risk-set scans per event time,
    // independent of the cell sweep), plus exp(−H₀) and row-count
    // invariants. Bench face: the Efron baseline frame itself.
    "q383_cox_baseline" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"), col("event_type"))
      val u = days.groupBy(col("user_id")).agg(
        min(col("day")).as("_fd"), max(col("day")).as("_ld"),
        min(when(col("event_type") === "purchase", col("day"))).as("_pd"),
        count(lit(1)).as("_ne"))
      val obs = graft.Caches.track(
        u.select(
          (coalesce(col("_pd"), col("_ld")) - col("_fd")).as("dur"),
          col("_pd").isNotNull.as("ev"),
          (col("user_id") % 2).cast("double").as("arm"),
          when(floor(log2(col("_ne"))) >= 6, 1.0).otherwise(0.0).as("heavy")))
      val covs = Seq("arm" -> col("arm"), "heavy" -> col("heavy"))
      val bin = (col("dur") / 3L).cast("long")
      val efron = graft.ops.EventAnalytics.coxBaseline(
        obs, bin, col("ev"), covs, ties = "efron")
      if (benchMode) efron
      else {
        val breslow = graft.ops.EventAnalytics.coxBaseline(obs, bin, col("ev"), covs)
        val subj = obs.select(bin.as("t"), col("ev"), col("arm"), col("heavy"))
          .collect()
          .map(r => (r.getLong(0), r.getBoolean(1),
            Array(r.getDouble(2), r.getDouble(3))))
        val nEvents = subj.count(_._2).toLong
        val eventTimes = subj.filter(_._2).map(_._1).distinct.sorted
        def gate(base: org.apache.spark.sql.DataFrame, efronTies: Boolean): Boolean = {
          val fitRows = graft.ops.EventAnalytics.coxMulti(
            obs, bin, col("ev"), covs, ties = if (efronTies) "efron" else "breslow")
            .collect().map(r => r.getString(0) -> r).toMap
          if (nEvents == 0 || !fitRows.values.forall(_.getBoolean(8)))
            base.collect().isEmpty // no/failed fit must serve no baseline
          else {
            val b = Array(fitRows("arm").getDouble(1), fitRows("heavy").getDouble(1))
            def bx(x: Array[Double]) = b(0) * x(0) + b(1) * x(1)
            var cum = 0.0
            val ref = eventTimes.map { t =>
              val s0 = subj.filter(_._1 >= t).map(x => math.exp(bx(x._3))).sum
              val ev = subj.filter(x => x._1 == t && x._2)
              val d = ev.length
              val h0 =
                if (!efronTies) d.toDouble / s0
                else {
                  val d0 = ev.map(x => math.exp(bx(x._3))).sum
                  (0 until d).map(l => 1.0 / (s0 - (l.toDouble / d) * d0)).sum
                }
              cum += h0
              (t, h0, cum)
            }
            val got = base.orderBy(col("t")).collect()
              .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
            got.length == ref.length && got.zip(ref).forall {
              case ((t, h0, ch, sv), (rt, rh0, rch)) =>
                t == rt && math.abs(h0 - rh0) < 1e-3 && math.abs(ch - rch) < 1e-2 &&
                  math.abs(sv - math.exp(-ch)) < 2e-6
            }
          }
        }
        s.range(1).select(
          lit(subj.length.toLong).as("n"), lit(nEvents).as("events"),
          lit(eventTimes.length.toLong).as("n_times"),
          lit(gate(breslow, efronTies = false)).as("breslow_pass"),
          lit(gate(efron, efronTies = true)).as("efron_pass"))
      }
    }),

    // Grambsch–Therneau proportional-hazards diagnostic on the q377 fit —
    // "is the PH assumption even true?" (R cox.zph): score test of a
    // time-varying coefficient off the Schoenfeld residuals, identity and
    // rank time transforms. Verify face: the gate row — all three χ²
    // rows (arm, heavy, GLOBAL) of BOTH transforms re-verified against a
    // naive subject-level recomputation (full risk-set scans, 2×2
    // Cramer inverse) at the q377-gated β̂. Bench face: the identity-
    // transform diagnostic frame.
    "q384_cox_ph" -> ((s, dir) => {
      val days = E(s, dir).select(col("user_id"),
        expr("ts div 86400000000000").as("day"), col("event_type"))
      val u = days.groupBy(col("user_id")).agg(
        min(col("day")).as("_fd"), max(col("day")).as("_ld"),
        min(when(col("event_type") === "purchase", col("day"))).as("_pd"),
        count(lit(1)).as("_ne"))
      val obs = graft.Caches.track(
        u.select(
          (coalesce(col("_pd"), col("_ld")) - col("_fd")).as("dur"),
          col("_pd").isNotNull.as("ev"),
          (col("user_id") % 2).cast("double").as("arm"),
          when(floor(log2(col("_ne"))) >= 6, 1.0).otherwise(0.0).as("heavy")))
      val covs = Seq("arm" -> col("arm"), "heavy" -> col("heavy"))
      val bin = (col("dur") / 3L).cast("long")
      val identity = graft.ops.EventAnalytics.coxSchoenfeld(obs, bin, col("ev"), covs)
      if (benchMode) identity
      else {
        val rank = graft.ops.EventAnalytics.coxSchoenfeld(
          obs, bin, col("ev"), covs, transform = "rank")
        val subj = obs.select(bin.as("t"), col("ev"), col("arm"), col("heavy"))
          .collect()
          .map(r => (r.getLong(0), r.getBoolean(1),
            Array(r.getDouble(2), r.getDouble(3))))
        val nEvents = subj.count(_._2).toLong
        val eventTimes = subj.filter(_._2).map(_._1).distinct.sorted
        // naive χ² triple (arm, heavy, GLOBAL) straight off the raw rows
        def naive(rankT: Boolean): Option[Array[Double]] = {
          val fitRows = graft.ops.EventAnalytics.coxMulti(obs, bin, col("ev"), covs)
            .collect().map(r => r.getString(0) -> r).toMap
          if (nEvents == 0 || !fitRows.values.forall(_.getBoolean(8))) None
          else {
            val b = Array(fitRows("arm").getDouble(1), fitRows("heavy").getDouble(1))
            def bx(x: Array[Double]) = b(0) * x(0) + b(1) * x(1)
            val per = eventTimes.map { t =>
              val atRisk = subj.filter(_._1 >= t)
              val w = atRisk.map(x => math.exp(bx(x._3)))
              val s0 = w.sum
              val s1 = Array(0, 1).map(k =>
                atRisk.zip(w).map { case (x, wi) => wi * x._3(k) }.sum)
              val s2 = Array.tabulate(2, 2)((k, l) =>
                atRisk.zip(w).map { case (x, wi) => wi * x._3(k) * x._3(l) }.sum)
              val ev = subj.filter(x => x._1 == t && x._2)
              val d = ev.length.toDouble
              val resid = Array(0, 1).map(k => ev.map(_._3(k)).sum - d * s1(k) / s0)
              val info = Array.tabulate(2, 2)((k, l) =>
                d * (s2(k)(l) / s0 - (s1(k) / s0) * (s1(l) / s0)))
              (t, d, resid, info)
            }
            val dTot = per.map(_._2).sum
            val g: Seq[Double] =
              if (!rankT) per.map(_._1.toDouble)
              else {
                var before = 0.0
                per.map { p => val r = before + (p._2 + 1.0) / 2.0; before += p._2; r }
              }
            val gBar = per.zip(g).map { case (p, gi) => p._2 * gi }.sum / dTot
            val denG = per.zip(g).map { case (p, gi) => p._2 * (gi - gBar) * (gi - gBar) }.sum
            val v = Array(0, 1).map(k =>
              per.zip(g).map { case (p, gi) => (gi - gBar) * p._3(k) }.sum)
            val i00 = per.map(_._4(0)(0)).sum; val i01 = per.map(_._4(0)(1)).sum
            val i11 = per.map(_._4(1)(1)).sum
            val det = i00 * i11 - i01 * i01
            if (denG <= 0 || det <= 0) None
            else {
              val w0 = (i11 * v(0) - i01 * v(1)) / det
              val w1 = (i00 * v(1) - i01 * v(0)) / det
              val inv00 = i11 / det; val inv11 = i00 / det
              Some(Array(
                dTot * w0 * w0 / (inv00 * denG),
                dTot * w1 * w1 / (inv11 * denG),
                dTot * (v(0) * w0 + v(1) * w1) / denG))
            }
          }
        }
        def gate(frame: org.apache.spark.sql.DataFrame, rankT: Boolean): Boolean = {
          val rows = frame.collect().map(r => r.getString(0) -> r).toMap
          naive(rankT) match {
            case None => rows.values.forall(r => r.isNullAt(1) && !r.getBoolean(7))
            case Some(ref) =>
              val names = Seq("arm", "heavy", "GLOBAL")
              rows.values.forall(_.getBoolean(7)) && names.zipWithIndex.forall {
                case (nm, i) =>
                  val chi = rows(nm).getDouble(1)
                  math.abs(chi - ref(i)) < math.max(1e-3, 1e-3 * ref(i))
              }
          }
        }
        s.range(1).select(
          lit(subj.length.toLong).as("n"), lit(nEvents).as("events"),
          lit(eventTimes.length.toLong).as("n_times"),
          lit(gate(identity, rankT = false)).as("identity_pass"),
          lit(gate(rank, rankT = true)).as("rank_pass"))
      }
    }),


    // dedup-grade Jaccard (t=0.7) via PPJoin-style prefix filtering: only
    // each doc's rarest (1-t) shingle fraction enters the join, hot
    // shingles are excluded by the canonical order itself — exact results
    // (no-false-negative lemma), no maxDocFreq knob. The complement to
    // q19's full inverted-index join at exploratory thresholds.
    "q48_dedup_prefix_jaccard" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(T(s, dir, "documents"), threshold = 0.7)),

    // cluster formation: near-dup pairs → connected components → keep/drop
    // verdict per document (the step that turns pair detection into an
    // actually-deduplicated corpus). Pairs from q48's exact prefix-filtered
    // Jaccard; untouched docs come back as singleton keep=true clusters.
    "q50_dedup_clusters" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.clusters(s, Dedup.prefixJaccardPairs(docs, threshold = 0.7),
        docs = Some(docs))
    }),

    // near-dup cluster-size distribution (the dedup diagnostic every
    // corpus release reports): q50's clusters rolled up twice — per
    // cluster, then per size — so the result is |distinct sizes| rows;
    // singletons dominate by construction and are counted too
    "q118_cluster_sizes" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.clusters(s, Dedup.prefixJaccardPairs(docs, threshold = 0.7),
          docs = Some(docs))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    }),

    // cluster formation with the production representative policy: keep
    // the LONGEST copy per near-dup cluster (ties → smallest id) instead
    // of the smallest id
    "q55_dedup_clusters_by" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.clustersBy(s, Dedup.prefixJaccardPairs(docs, threshold = 0.7),
        docs, score = TextAnalysis.tokenCount(col("text")))
    }),

    // multimodal: binary payload → per-partition batched (stub) decode
    "q23_mm_decode" -> ((s, dir) =>
      Multimodal.decodeMeta(
        T(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("payload")),
        binCol = "payload")),

    // multimodal: frame-sampling explode over (fake) video payloads
    "q24_mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        T(s, dir, "documents").select(col("doc_id"), col("text").cast("binary").as("payload")),
        binCol = "payload", everyNth = 10))
  )

  /** Deterministic 64-dim query vector shared by the ANN queries and their
    * oracles (`sin(1) .. sin(64)`).
    */
  val benchQueryVec: Seq[Double] = Seq.tabulate(64)(i => math.sin(i + 1.0))

  /** Per-JVM memo for built ANN indexes (build once, query many — the
    * deployment shape the query timings should reflect). Entries are keyed
    * by dataset dir and live for the JVM — fine for Bench/Verify, which
    * touch one dataset and exit; a long-lived serving deployment should use
    * the persisted-index path instead ([[graft.ops.SimilaritySearch.IvfIndex]]
    * `save`/`load`/`append`), which bounds memory to the cells actually
    * probed and survives restarts.
    */
  private val memoCache = new java.util.concurrent.ConcurrentHashMap[String, Any]()
  private[graft] def memo[A](key: String)(build: => A): A =
    memoCache.computeIfAbsent(key, _ => build).asInstanceOf[A]

  private val stop10 = "'the','a','an','and','or','of','to','in','is','it'"

  /** DuckDB rendering of [[graft.ops.Md5Hash]].plain — the portable 60-bit
    * hash that makes the sketch queries (q18/q22/q29) oracle-checkable.
    */
  private def md5l(e: String): String = graft.ops.Md5Hash.duckdbPlain(e)

  /** q199's oracle, shared verbatim with q214 (the histogram-state PSI
    * must produce the identical row).
    */
  private lazy val psiOracle: String =
    """WITH d AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v, (lang = 'en') AS y FROM documents
        |  WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
        |), g AS (
        |  SELECT CAST(least(greatest(floor((v - CAST(0.0 AS DOUBLE)) / CAST(50.0 AS DOUBLE)), 0), 11) AS BIGINT) AS bin,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM d GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM d
        |), c AS (
        |  SELECT n_a, n_b,
        |    CASE WHEN ca > 0 AND cb > 0
        |      THEN (CAST(ca AS DOUBLE) / n_a - CAST(cb AS DOUBLE) / n_b)
        |        * ln((CAST(ca AS DOUBLE) / n_a) / (CAST(cb AS DOUBLE) / n_b)) END AS contrib
        |  FROM g, t
        |)
        |SELECT any_value(n_a) AS n_a, any_value(n_b) AS n_b,
        |  CAST(sum(CASE WHEN contrib IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS bins_used,
        |  CAST(sum(CASE WHEN contrib IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bins_dropped,
        |  round(CAST(sum(CAST(contrib AS DECIMAL(38,12))) AS DOUBLE), 6) AS psi
        |FROM c""".stripMargin

  /** q196's oracle, shared verbatim with q201 (the merged-partials serving
    * face must produce the identical golden-record table): q50's
    * transitive closure + per-field elections — count-window mode with
    * ties to the greatest value, extremes, evidence count.
    */
  private lazy val goldenRecordOracle: String =
    raw"""WITH RECURSIVE sh AS (
      |  SELECT doc_id AS id,
      |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
      |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |        FROM documents)
      |), j AS (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
      |  FROM sh a JOIN sh b ON a.id < b.id
      |), edges AS (
      |  SELECT id_a AS a, id_b AS b FROM j WHERE jac >= 0.7
      |  UNION SELECT id_b, id_a FROM j WHERE jac >= 0.7
      |), reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), comp AS (
      |  SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a
      |), m AS (
      |  SELECT coalesce(c.cluster, d.doc_id) AS cluster_id,
      |    d.doc_id, d.lang, d.source, d.n_chars
      |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
      |), lm AS (
      |  SELECT cluster_id, lang AS mode_lang
      |  FROM (SELECT cluster_id, lang, count(*) AS n FROM m GROUP BY 1, 2)
      |  QUALIFY row_number() OVER (PARTITION BY cluster_id ORDER BY n DESC, lang DESC) = 1
      |), sm AS (
      |  SELECT cluster_id, source AS mode_source
      |  FROM (SELECT cluster_id, source, count(*) AS n FROM m GROUP BY 1, 2)
      |  QUALIFY row_number() OVER (PARTITION BY cluster_id ORDER BY n DESC, source DESC) = 1
      |), agg AS (
      |  SELECT cluster_id, count(*) AS n_members,
      |    CAST(max(n_chars) AS BIGINT) AS max_n_chars,
      |    CAST(min(doc_id) AS BIGINT) AS min_doc_id
      |  FROM m GROUP BY 1
      |)
      |SELECT agg.cluster_id, n_members, max_n_chars, min_doc_id, mode_lang, mode_source
      |FROM agg JOIN lm USING (cluster_id) JOIN sm USING (cluster_id)""".stripMargin

  /** q136's language-prediction CTE chain (ending in `pred(a, b)` = truth
    * label, predicted label), shared by the q248/q249 agreement oracles.
    */
  private lazy val langIdPredOracle: String =
    """m0 AS (SELECT lang, regexp_split_to_array(lower(trim(text)), '\s+') AS ltoks
      |       FROM documents),
      |m AS (
      |  SELECT lang,
      |    len(list_filter(ltoks, x -> x IN ('the','and','of','is'))) AS s_en,
      |    len(list_filter(ltoks, x -> x IN ('der','die','und','das'))) AS s_de,
      |    len(list_filter(ltoks, x -> x IN ('le','la','et','les'))) AS s_fr,
      |    len(list_filter(ltoks, x -> x IN ('el','los','que','y'))) AS s_es
      |  FROM m0),
      |pred AS (
      |  SELECT lang AS a,
      |    CASE WHEN greatest(s_en, s_de, s_fr, s_es) > 0 THEN
      |      CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
      |           WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
      |           WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
      |           ELSE 'es' END
      |    ELSE 'und' END AS b
      |  FROM m)""".stripMargin

  /** q95's oracle, shared verbatim with q120 (the served-weights face must
    * produce the identical table).
    */
  private lazy val ngramClassifierOracle: String =
    raw"""WITH base AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t <> '') AS toks
       |  FROM documents
       |), feats AS (
       |  SELECT doc_id, unnest(list_concat(toks,
       |      list_transform(range(greatest(len(toks) - 1, 0)),
       |        i -> toks[i+1] || ' ' || toks[i+2]))) AS f
       |  FROM base WHERE len(toks) > 0
       |), w AS (
       |  SELECT doc_id,
       |    ${md5l(s"'8:w:' || CAST(${md5l("'7:' || f")} % 4096 AS VARCHAR)")} % 2001 - 1000 AS k
       |  FROM feats
       |), agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features, CAST(sum(k) AS BIGINT) AS ws
       |  FROM w GROUP BY 1)
       |SELECT doc_id, n_features,
       |  round(CAST(ws AS DOUBLE) / (CAST(1000 AS DOUBLE) * n_features), 6) AS logit,
       |  round(CAST(1 AS DOUBLE)
       |    / (1 + exp(-(CAST(ws AS DOUBLE) / (CAST(1000 AS DOUBLE) * n_features)))), 6) AS score
       |FROM agg""".stripMargin

  /** DuckDB rendering of the q22 hyperplane projection: vec · plane_i with
    * md5-derived components in [-1, 1) (2^59 = 576460752303423488; division
    * by a power of two is IEEE-exact, so both engines see identical
    * component doubles).
    */
  private def lshProj(vec: String, i: Int): String =
    s"list_sum(list_transform(range(64), j -> $vec[j + 1] * " +
      s"(${md5l(s"'plane-$i-' || CAST(j AS VARCHAR)")} / 576460752303423488.0 - 1.0)))"

  /** DuckDB rendering of the q80 projection-matrix row i: vec · proj_i
    * with md5-derived `"proj-i-j"` components — same exact-component
    * construction as [[lshProj]], independent matrix (different prefix).
    */
  private def rpProj(vec: String, i: Int): String =
    s"list_sum(list_transform(range(64), j -> $vec[j + 1] * " +
      s"(${md5l(s"'proj-$i-' || CAST(j AS VARCHAR)")} / 576460752303423488.0 - 1.0)))"

  /** DuckDB rendering of the q22 bucket id: bit i = sign(proj_i) >= 0.
    * `family` f reads planes f·4 … f·4+3, matching
    * `RandomHyperplaneLsh(bits = 4, family = f)`.
    */
  private def lshBucket(vec: String, family: Int = 0): String =
    (0 until 4)
      .map(i => s"(CASE WHEN ${lshProj(vec, family * 4 + i)} >= 0 THEN ${1L << i} ELSE 0 END)")
      .mkString("CAST(", " + ", " AS BIGINT)")

  /** DuckDB-equivalent SQL per query (same column names; see class docs). */
  /** One fdDiscover oracle leg per ordered column pair — generated so the
    * six legs stay structurally identical to the Spark face's union legs
    * (cells → per-determinant maxima → one summary row).
    */
  private def fdDiscoverSql(cols: Seq[String]): String =
    (for { a <- cols; b <- cols if a != b } yield
      s"""SELECT '$a' AS determinant, '$b' AS dependent,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(CASE WHEN db > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
         |  sum(CASE WHEN db > 1 THEN 1 ELSE 0 END) = 0 AS holds,
         |  round(CAST(1.0 AS DOUBLE) - CAST(sum(mx) AS DOUBLE) / CAST(sum(na) AS DOUBLE), 6) AS g3
         |FROM (SELECT a, sum(n) AS na, max(n) AS mx, count(*) AS db
         |      FROM (SELECT $a AS a, $b AS b, CAST(count(*) AS BIGINT) AS n
         |            FROM documents GROUP BY 1, 2)
         |      GROUP BY 1)""".stripMargin)
      .mkString("\nUNION ALL\n")

  /** q47's full DuckDB minhash-incremental replication — also the pair
    * universe q375's disk-index gate counts (the index serves the SAME
    * computation from parquet, so the two entries share one oracle text).
    */
  private def incrementalMinhashOracleSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id AS id,
       |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
       |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
       |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |        FROM documents)
       |), sig AS (
       |  SELECT id,
       |    list_transform(range(16), s ->
       |      list_min(list_transform(sh, x -> ${md5l("CAST(s AS VARCHAR) || ':' || x")}))) AS sig
       |  FROM sh
       |), banded AS (
       |  SELECT id, b.band AS band,
       |    ${md5l("array_to_string(sig[(CAST(b.band AS INT) * 4 + 1):(CAST(b.band AS INT) * 4 + 4)], ',')")} AS bucket
       |  FROM sig, (SELECT unnest(range(4)) AS band) b
       |), pairs AS (
       |  SELECT DISTINCT n.id AS new_id, h.id AS old_id
       |  FROM banded n JOIN banded h ON n.band = h.band AND n.bucket = h.bucket
       |  WHERE n.id >= 300 AND h.id < 300
       |), j AS (
       |  SELECT new_id, old_id,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
       |  FROM pairs JOIN sh sa ON sa.id = pairs.new_id JOIN sh sb ON sb.id = pairs.old_id
       |)
       |SELECT new_id, old_id, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.7""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // the generated six-leg union mirrors the Spark face's union legs
    "q238_fd_discover" -> fdDiscoverSql(Seq("lang", "source", "n_chars")),

    // q375: the disk index serves q47's computation, so the gate's pair
    // count is q47's oracle counted
    "q375_lsh_index" ->
      (s"SELECT CAST(count(*) AS BIGINT) AS n_pairs, CAST(TRUE AS BOOLEAN) AS index_pass " +
        s"FROM ($incrementalMinhashOracleSql)"),

    // q382: FULL-VALUE index-decontamination oracle — q47's shingle CTE
    // (the stored `sh` IS the distinct 3-gram set), postings join with a
    // >= 20 shared-gram floor, verdict left-joined over the train universe
    "q382_index_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents)
        |), tr AS (SELECT id AS doc_id, unnest(sh) AS gram FROM sh WHERE id < 300),
        |ev AS (SELECT id AS eval_id, unnest(sh) AS gram FROM sh WHERE id >= 300),
        |p AS (SELECT doc_id, eval_id, CAST(count(*) AS BIGINT) AS shared
        |      FROM tr JOIN ev USING (gram) GROUP BY 1, 2 HAVING count(*) >= 20),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nm,
        |          CAST(max(shared) AS BIGINT) AS ms FROM p GROUP BY 1)
        |SELECT s.id AS doc_id,
        |  CAST(coalesce(nm, 0) AS BIGINT) AS n_eval_matches,
        |  CAST(coalesce(ms, 0) AS BIGINT) AS max_shared,
        |  (nm IS NOT NULL) AS contaminated
        |FROM sh s LEFT JOIN agg ON agg.doc_id = s.id
        |WHERE s.id < 300""".stripMargin,

    // q383: the gate row — totals + the event-time-bin count; the naive
    // subject-level baseline recomputation happens inside the query
    "q383_cox_baseline" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, event_type FROM events
        |), u AS (
        |  SELECT user_id, min(day) AS fd,
        |    min(CASE WHEN event_type = 'purchase' THEN day END) AS pd
        |  FROM e GROUP BY 1)
        |SELECT
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS events,
        |  CAST(count(DISTINCT CASE WHEN pd IS NOT NULL THEN (pd - fd) // 3 END) AS BIGINT) AS n_times,
        |  CAST(TRUE AS BOOLEAN) AS breslow_pass,
        |  CAST(TRUE AS BOOLEAN) AS efron_pass
        |FROM u""".stripMargin,

    // q384: the gate row — same totals; both transforms' χ² triples are
    // re-verified against the naive recomputation inside the query
    "q384_cox_ph" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, event_type FROM events
        |), u AS (
        |  SELECT user_id, min(day) AS fd,
        |    min(CASE WHEN event_type = 'purchase' THEN day END) AS pd
        |  FROM e GROUP BY 1)
        |SELECT
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS events,
        |  CAST(count(DISTINCT CASE WHEN pd IS NOT NULL THEN (pd - fd) // 3 END) AS BIGINT) AS n_times,
        |  CAST(TRUE AS BOOLEAN) AS identity_pass,
        |  CAST(TRUE AS BOOLEAN) AS rank_pass
        |FROM u""".stripMargin,

    // q378: the gate row — the label table covers the whole document
    // universe by construction; the index-served ≡ inline-incremental
    // equality (and the nonvacuous multi-doc-cluster check) happens
    // inside the query (q375's pattern, lifted from pairs to labels)
    "q378_index_clusters" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(TRUE AS BOOLEAN) AS index_pass
        |FROM documents""".stripMargin,

    // q258: the q248 contingency cells → per-class margins → P/R/F1; the
    // full outer join keeps never-predicted and hallucinated classes
    "q258_prf_report" ->
      s"""WITH ${langIdPredOracle},
         |cells AS (SELECT b AS p, a AS y, CAST(count(*) AS BIGINT) AS o FROM pred
         |          WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY 1, 2),
         |pm AS (SELECT p AS clazz,
         |         CAST(sum(CASE WHEN p = y THEN o ELSE 0 END) AS BIGINT) AS tpp,
         |         CAST(sum(CASE WHEN p <> y THEN o ELSE 0 END) AS BIGINT) AS fpp
         |       FROM cells GROUP BY 1),
         |ym AS (SELECT y AS clazz, CAST(sum(o) AS BIGINT) AS support,
         |         CAST(sum(CASE WHEN p <> y THEN o ELSE 0 END) AS BIGINT) AS fnn
         |       FROM cells GROUP BY 1),
         |j AS (SELECT coalesce(pm.clazz, ym.clazz) AS clazz,
         |        coalesce(tpp, 0) AS tp, coalesce(fpp, 0) AS fp,
         |        coalesce(fnn, 0) AS fn, coalesce(support, 0) AS support
         |      FROM pm FULL OUTER JOIN ym ON ym.clazz = pm.clazz),
         |mt AS (SELECT clazz, tp, fp, fn, support,
         |        CASE WHEN tp + fp > 0 THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS prec,
         |        CASE WHEN support > 0 THEN round(CAST(tp AS DOUBLE) / support, 6) END AS rec
         |      FROM j)
         |SELECT clazz, tp, fp, fn, support, prec AS "precision", rec AS recall,
         |  CASE WHEN prec IS NOT NULL AND rec IS NOT NULL AND prec + rec > 0
         |    THEN round(2 * prec * rec / (prec + rec), 6) END AS f1
         |FROM mt""".stripMargin,

    // q259: doc-aligned langId prediction (the q136 CTE with doc_id kept)
    // vs the hashed-ngram detector; only the 4 agreement cells matter
    "q259_mcnemar" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), l0 AS (SELECT doc_id, lang,
         |    regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks FROM documents),
         |l1 AS (SELECT doc_id, lang,
         |    len(list_filter(ltoks, x -> x IN ('the','and','of','is'))) AS s_en,
         |    len(list_filter(ltoks, x -> x IN ('der','die','und','das'))) AS s_de,
         |    len(list_filter(ltoks, x -> x IN ('le','la','et','les'))) AS s_fr,
         |    len(list_filter(ltoks, x -> x IN ('el','los','que','y'))) AS s_es
         |  FROM l0),
         |lp AS (SELECT doc_id, lang,
         |    CASE WHEN greatest(s_en, s_de, s_fr, s_es) > 0 THEN
         |      CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         |           WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         |           WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         |           ELSE 'es' END
         |    ELSE 'und' END AS p
         |  FROM l1),
         |d AS (SELECT ((lp.p = 'en') = (lp.lang = 'en')) AS ra,
         |             ((s.score > 0.0) = (lp.lang = 'en')) AS rb
         |      FROM lp JOIN scored s ON s.doc_id = lp.doc_id
         |      WHERE lp.lang IS NOT NULL),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS n_both_right,
         |  CAST(sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS n_both_wrong,
         |  CAST(sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS b,
         |  CAST(sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM d)
         |SELECT n, n_both_right, n_both_wrong, b, c,
         |  CASE WHEN b + c > 0
         |    THEN round(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE) / (b + c), 6)
         |  END AS chi2
         |FROM m""".stripMargin,

    // q260: min-max squash of the q177 score into [0,1], then the three
    // probability-quality scalars off decimal-summed per-bin partials
    "q260_prob_eval" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), lab AS (
         |  SELECT s.score AS sc, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
         |), mm AS (SELECT min(sc) AS lo, max(sc) AS hi FROM lab),
         |p0 AS (SELECT CASE WHEN mm.hi > mm.lo
         |          THEN (sc - mm.lo) / (mm.hi - mm.lo) ELSE 0.5 END AS praw,
         |        CAST(y AS BIGINT) AS y
         |       FROM lab, mm),
         |p1 AS (SELECT CAST(round(praw, 6) AS DECIMAL(7,6)) AS p, y FROM p0),
         |t AS (SELECT p, y,
         |        least(greatest(CAST(p AS DOUBLE), CAST(0.000001 AS DOUBLE)),
         |              CAST(0.999999 AS DOUBLE)) AS pc,
         |        CAST(least(floor(CAST(p AS DOUBLE) * 10), CAST(9 AS DOUBLE)) AS BIGINT) AS bin
         |       FROM p1),
         |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
         |        sum(p) AS sp,
         |        sum(CAST((p - CAST(y AS DECIMAL(1,0))) * (p - CAST(y AS DECIMAL(1,0)))
         |          AS DECIMAL(38,12))) AS ssq,
         |        sum(CAST(-(y * ln(pc) + (1 - y) * ln(1.0 - pc)) AS DECIMAL(38,12))) AS sll
         |       FROM t GROUP BY 1)
         |SELECT CAST(sum(n) AS BIGINT) AS n,
         |  round(CAST(sum(ssq) AS DOUBLE) / sum(n), 6) AS brier,
         |  round(CAST(sum(sll) AS DOUBLE) / sum(n), 6) AS log_loss,
         |  round(CAST(sum(abs(CAST(sy AS DECIMAL(20,6)) - CAST(sp AS DECIMAL(20,6))))
         |    AS DOUBLE) / sum(n), 6) AS ece
         |FROM b""".stripMargin,

    // q261: per-user conversion flags → two-variant margins → pooled z +
    // Wilson intervals, every scalar in the Spark chain's textual order
    "q261_ab_test" ->
      """WITH per AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cv
        |  FROM events GROUP BY 1),
        |v AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS vk, cv FROM per),
        |g AS (SELECT vk, CAST(count(*) AS BIGINT) AS n, CAST(sum(cv) AS BIGINT) AS x
        |      FROM v GROUP BY 1),
        |t AS (SELECT min(vk) AS variant_a, max(vk) AS variant_b,
        |        min_by(n, vk) AS n_a, min_by(x, vk) AS x_a,
        |        max_by(n, vk) AS n_b, max_by(x, vk) AS x_b
        |      FROM g),
        |c AS (SELECT *, CAST(1.959963984540054 AS DOUBLE) AS zq,
        |        CAST(x_a AS DOUBLE) / n_a AS ra, CAST(x_b AS DOUBLE) / n_b AS rb,
        |        CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS pp
        |      FROM t)
        |SELECT variant_a, variant_b, n_a, x_a, n_b, x_b,
        |  round(ra, 6) AS rate_a, round(rb, 6) AS rate_b,
        |  round(rb - ra, 6) AS lift,
        |  CASE WHEN pp > 0 AND pp < 1 THEN
        |    round((rb - ra) / sqrt(pp * (CAST(1.0 AS DOUBLE) - pp)
        |      * (CAST(1.0 AS DOUBLE) / n_a + CAST(1.0 AS DOUBLE) / n_b)), 6)
        |  END AS z,
        |  round(((ra + zq * zq / (CAST(2.0 AS DOUBLE) * n_a))
        |    - zq * sqrt(ra * (CAST(1.0 AS DOUBLE) - ra) / n_a
        |        + zq * zq / (CAST(4.0 AS DOUBLE) * n_a * n_a)))
        |    / (CAST(1.0 AS DOUBLE) + zq * zq / n_a), 6) AS lo_a,
        |  round(((ra + zq * zq / (CAST(2.0 AS DOUBLE) * n_a))
        |    + zq * sqrt(ra * (CAST(1.0 AS DOUBLE) - ra) / n_a
        |        + zq * zq / (CAST(4.0 AS DOUBLE) * n_a * n_a)))
        |    / (CAST(1.0 AS DOUBLE) + zq * zq / n_a), 6) AS hi_a,
        |  round(((rb + zq * zq / (CAST(2.0 AS DOUBLE) * n_b))
        |    - zq * sqrt(rb * (CAST(1.0 AS DOUBLE) - rb) / n_b
        |        + zq * zq / (CAST(4.0 AS DOUBLE) * n_b * n_b)))
        |    / (CAST(1.0 AS DOUBLE) + zq * zq / n_b), 6) AS lo_b,
        |  round(((rb + zq * zq / (CAST(2.0 AS DOUBLE) * n_b))
        |    + zq * sqrt(rb * (CAST(1.0 AS DOUBLE) - rb) / n_b
        |        + zq * zq / (CAST(4.0 AS DOUBLE) * n_b * n_b)))
        |    / (CAST(1.0 AS DOUBLE) + zq * zq / n_b), 6) AS hi_b
        |FROM c""".stripMargin,

    // q262: cells → ln n − Σ c·ln c / n with the decimal-summed terms
    // (the q190 discipline); the flag compares the ROUNDED effective l
    "q262_l_diversity" ->
      """WITH cells AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c FROM documents
        |  WHERE lang IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS group_size,
        |        CAST(count(*) AS BIGINT) AS n_sensitive,
        |        sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,12))) AS s
        |      FROM cells GROUP BY 1),
        |e AS (SELECT source, group_size, n_sensitive,
        |        round(ln(CAST(group_size AS DOUBLE))
        |          - CAST(s AS DOUBLE) / group_size, 6) AS entropy,
        |        round(exp(ln(CAST(group_size AS DOUBLE))
        |          - CAST(s AS DOUBLE) / group_size), 6) AS effective_l
        |      FROM g)
        |SELECT source, group_size, n_sensitive, entropy, effective_l,
        |  (effective_l >= 2.0) AS l_diverse
        |FROM e""".stripMargin,

    // q263: per-language TYPE-1 median (rank pick — an actual value),
    // absolute deviations, then the q225 ANOVA fold verbatim on them
    "q263_brown_forsythe" ->
      """WITH d0 AS (
        |  SELECT lang AS g, CAST(n_chars AS DOUBLE) AS x FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |r AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
        |        count(*) OVER (PARTITION BY g) AS m
        |      FROM d0),
        |med AS (SELECT g, x AS mv FROM r WHERE rn = (m + 1) // 2),
        |d AS (SELECT d0.g, abs(d0.x - med.mv) AS v FROM d0 JOIN med ON med.g = d0.g),
        |grp AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS ng,
        |    sum(CAST(v AS DECIMAL(38,12))) AS sg,
        |    sum(CAST(v * v AS DECIMAL(38,12))) AS qg
        |  FROM d GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |    sum(sg) AS st
        |  FROM grp),
        |x AS (
        |  SELECT ng, qg, CAST(sg AS DOUBLE) / ng AS mg, CAST(st AS DOUBLE) / n AS m,
        |    k, n FROM grp, tot),
        |cc AS (
        |  SELECT k, n,
        |    CAST(ng * (mg - m) * (mg - m) AS DECIMAL(38,12)) AS ssb,
        |    CAST(CAST(qg AS DOUBLE) - ng * mg * mg AS DECIMAL(38,12)) AS ssw
        |  FROM x),
        |s AS (
        |  SELECT any_value(k) AS k, any_value(n) AS n,
        |    sum(ssb) AS b, sum(ssw) AS w
        |  FROM cc)
        |SELECT k, n, k - 1 AS df1, n - k AS df2,
        |  round(CASE WHEN k - 1 > 0 AND n - k > 0 AND CAST(w AS DOUBLE) > 0
        |    THEN (CAST(b AS DOUBLE) / (k - 1)) / (CAST(w AS DOUBLE) / (n - k)) END, 6)
        |    AS f_stat
        |FROM s""".stripMargin,

    // q264: the q219 observation frame → per-duration counts → at-risk
    // cumulative → round-6 decimal hazards summed in duration order
    "q264_nelson_aalen" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), u AS (SELECT user_id, min(day) AS fd, max(day) AS ld FROM e GROUP BY 1),
        |mx AS (SELECT max(ld) AS md FROM u),
        |obs AS (SELECT ld - fd AS t, (ld <= mx.md - 3) AS ev FROM u, mx),
        |g AS (SELECT t,
        |        CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |        CAST(sum(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |      FROM obs GROUP BY 1),
        |r AS (SELECT t, d, c,
        |        CAST(sum(d + c) OVER () AS BIGINT)
        |          - CAST(coalesce(sum(d + c) OVER (ORDER BY t
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |          AS n_risk
        |      FROM g),
        |h AS (SELECT t, n_risk, d, c,
        |        CAST(round(CAST(d AS DOUBLE) / n_risk, 6) AS DECIMAL(18,6)) AS hz
        |      FROM r)
        |SELECT t, n_risk, d AS n_events, c AS n_censored,
        |  CAST(hz AS DOUBLE) AS hazard,
        |  CAST(sum(hz) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS cum_hazard
        |FROM h""".stripMargin,

    // q265: dense hourly axis (gaps = 0) → exact decimal moments → the
    // n²-cleared rational ACF, the same scalar expression per lag
    "q265_acf" ->
      """WITH hh AS (SELECT epoch_ns(ts) // 3600000000000 AS h FROM events),
        |cg AS (SELECT h, CAST(count(*) AS BIGINT) AS x FROM hh GROUP BY 1),
        |bb AS (SELECT min(h) AS lo, max(h) AS hi FROM cg),
        |axis AS (SELECT unnest(range(bb.lo, bb.hi + 1)) AS t FROM bb),
        |s AS (SELECT axis.t, CAST(coalesce(cg.x, 0) AS DECIMAL(18,6)) AS xd
        |      FROM axis LEFT JOIN cg ON cg.h = axis.t),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(xd) AS s1,
        |          sum(xd * xd) AS s2 FROM s),
        |lg AS (SELECT unnest(range(0, 13)) AS lag),
        |p AS (SELECT lg.lag, a.xd AS x1, b2.xd AS x2
        |      FROM lg CROSS JOIN s a JOIN s b2 ON b2.t = a.t + lg.lag),
        |per AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |          sum(x1 * x2) AS ck, sum(x1 + x2) AS pk
        |        FROM p GROUP BY 1)
        |SELECT per.lag, per.n_pairs,
        |  round(CASE WHEN CAST(tot.n AS DOUBLE) * tot.n * CAST(tot.s2 AS DOUBLE)
        |        - CAST(tot.n AS DOUBLE) * CAST(tot.s1 AS DOUBLE) * CAST(tot.s1 AS DOUBLE) > 0
        |    THEN (CAST(tot.n AS DOUBLE) * tot.n * CAST(per.ck AS DOUBLE)
        |        - CAST(tot.n AS DOUBLE) * CAST(tot.s1 AS DOUBLE) * CAST(per.pk AS DOUBLE)
        |        + CAST(per.n_pairs AS DOUBLE) * CAST(tot.s1 AS DOUBLE) * CAST(tot.s1 AS DOUBLE))
        |      / (CAST(tot.n AS DOUBLE) * tot.n * CAST(tot.s2 AS DOUBLE)
        |        - CAST(tot.n AS DOUBLE) * CAST(tot.s1 AS DOUBLE) * CAST(tot.s1 AS DOUBLE))
        |  END, 6) AS acf
        |FROM per, tot""".stripMargin,

    // q266: the q134 bigram frame → 2×2 cells → 4-term G² in textual
    // order, TakeOrdered on (rounded g2, w1, w2)
    "q266_collocations" ->
      """WITH t AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), p AS (
        |  SELECT toks[CAST(i.i AS INT) + 1] AS w1, toks[CAST(i.i AS INT) + 2] AS w2
        |  FROM t, LATERAL (SELECT unnest(range(len(toks) - 1)) AS i) i
        |  WHERE len(toks) >= 2
        |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
        |cp AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM p GROUP BY 1, 2
        |  HAVING count(*) >= 20
        |), cl AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM p GROUP BY 1),
        |cr AS (SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM p GROUP BY 1),
        |cells AS (
        |  SELECT cp.w1, cp.w2, c12, c1, c2, nn.n,
        |    c12 AS k11, c1 - c12 AS k12, c2 - c12 AS k21, nn.n - c1 - c2 + c12 AS k22
        |  FROM cp JOIN cl ON cl.w1 = cp.w1 JOIN cr ON cr.w2 = cp.w2, nn)
        |SELECT w1, w2, c12, c1, c2,
        |  round(CAST(2.0 AS DOUBLE) * (
        |    (CASE WHEN k11 > 0 THEN CAST(k11 AS DOUBLE)
        |       * ln(CAST(k11 AS DOUBLE) * CAST(n AS DOUBLE)
        |         / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) ELSE 0.0 END)
        |    + (CASE WHEN k12 > 0 THEN CAST(k12 AS DOUBLE)
        |       * ln(CAST(k12 AS DOUBLE) * CAST(n AS DOUBLE)
        |         / (CAST(c1 AS DOUBLE) * CAST(n - c2 AS DOUBLE))) ELSE 0.0 END)
        |    + (CASE WHEN k21 > 0 THEN CAST(k21 AS DOUBLE)
        |       * ln(CAST(k21 AS DOUBLE) * CAST(n AS DOUBLE)
        |         / (CAST(n - c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) ELSE 0.0 END)
        |    + (CASE WHEN k22 > 0 THEN CAST(k22 AS DOUBLE)
        |       * ln(CAST(k22 AS DOUBLE) * CAST(n AS DOUBLE)
        |         / (CAST(n - c1 AS DOUBLE) * CAST(n - c2 AS DOUBLE))) ELSE 0.0 END)), 6) AS g2
        |FROM cells
        |ORDER BY g2 DESC, w1, w2
        |LIMIT 20""".stripMargin,

    // q268: q131's fold-0 calibration rows → TYPE-1 rank pick at
    // ⌈(n+1)·0.9⌉ → eval-side coverage fold
    "q268_conformal" ->
      s"""WITH f AS (
         |  SELECT lang, n_chars,
         |    (${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 5 = 0) AS cal
         |  FROM documents),
         |calr AS (
         |  SELECT lang, CAST(n_chars AS DOUBLE) AS s,
         |    row_number() OVER (PARTITION BY lang ORDER BY CAST(n_chars AS DOUBLE)) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM f WHERE cal AND n_chars IS NOT NULL),
         |q AS (
         |  SELECT lang, CAST(any_value(n) AS BIGINT) AS n_cal,
         |    max(CASE WHEN rn = ((n + 1) * 9 + 9) // 10 THEN s END) AS q0
         |  FROM calr GROUP BY 1),
         |ev AS (SELECT lang, CAST(n_chars AS DOUBLE) AS s FROM f
         |       WHERE NOT cal AND n_chars IS NOT NULL),
         |cv AS (
         |  SELECT ev.lang, CAST(count(*) AS BIGINT) AS n_eval,
         |    CAST(sum(CASE WHEN q.q0 IS NULL OR ev.s <= q.q0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS covn
         |  FROM ev JOIN q ON q.lang = ev.lang GROUP BY 1)
         |SELECT q.lang, q.n_cal, coalesce(cv.n_eval, 0) AS n_eval,
         |  round(q.q0, 6) AS qhat,
         |  round(CASE WHEN cv.n_eval IS NOT NULL
         |    THEN CAST(covn AS DOUBLE) / cv.n_eval END, 6) AS coverage
         |FROM q LEFT JOIN cv ON cv.lang = q.lang""".stripMargin,

    // q269: two leads over the per-user window → sliding trigrams →
    // (users, occurrences) support, TakeOrdered on the documented order
    "q269_seq_patterns" ->
      """WITH e0 AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
        |r AS (SELECT user_id, event_type AS t0,
        |        lead(event_type, 1) OVER w AS t1,
        |        lead(event_type, 2) OVER w AS t2
        |      FROM e0 WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |ep AS (SELECT user_id, t0 || '>' || t1 || '>' || t2 AS episode
        |       FROM r WHERE t1 IS NOT NULL AND t2 IS NOT NULL),
        |g AS (SELECT episode, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |        CAST(count(*) AS BIGINT) AS n_occurrences
        |      FROM ep GROUP BY 1)
        |SELECT episode, n_users, n_occurrences FROM g
        |ORDER BY n_users DESC, n_occurrences DESC, episode
        |LIMIT 20""".stripMargin,

    // q270: the q134 bigram frame → undirected weighted word graph → 4
    // unrolled PageRank rounds with decimal-summed contributions
    "q270_textrank" ->
      """WITH t AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), p AS (
        |  SELECT toks[CAST(i.i AS INT) + 1] AS w1, toks[CAST(i.i AS INT) + 2] AS w2
        |  FROM t, LATERAL (SELECT unnest(range(len(toks) - 1)) AS i) i
        |  WHERE len(toks) >= 2
        |), cp AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1, 2
        |  HAVING count(*) >= 20
        |), cpf AS (SELECT * FROM cp WHERE w1 <> w2),
        |und AS (
        |  SELECT src, dst, CAST(sum(c) AS BIGINT) AS w FROM (
        |    SELECT w1 AS src, w2 AS dst, c FROM cpf
        |    UNION ALL SELECT w2 AS src, w1 AS dst, c FROM cpf)
        |  GROUP BY 1, 2),
        |st AS (SELECT src, CAST(sum(w) AS BIGINT) AS s FROM und GROUP BY 1),
        |f AS (SELECT und.src, und.dst, CAST(und.w AS DOUBLE) / CAST(st.s AS DOUBLE) AS fr
        |      FROM und JOIN st ON st.src = und.src),
        |r0 AS (SELECT DISTINCT src AS word, CAST(1.0 AS DOUBLE) AS r FROM f),
        |r1 AS (SELECT f.dst AS word,
        |        round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE)
        |          * CAST(sum(CAST(f.fr * r0.r AS DECIMAL(38,12))) AS DOUBLE), 12) AS r
        |       FROM f JOIN r0 ON r0.word = f.src GROUP BY 1),
        |r2 AS (SELECT f.dst AS word,
        |        round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE)
        |          * CAST(sum(CAST(f.fr * r1.r AS DECIMAL(38,12))) AS DOUBLE), 12) AS r
        |       FROM f JOIN r1 ON r1.word = f.src GROUP BY 1),
        |r3 AS (SELECT f.dst AS word,
        |        round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE)
        |          * CAST(sum(CAST(f.fr * r2.r AS DECIMAL(38,12))) AS DOUBLE), 12) AS r
        |       FROM f JOIN r2 ON r2.word = f.src GROUP BY 1),
        |r4 AS (SELECT f.dst AS word,
        |        round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE)
        |          * CAST(sum(CAST(f.fr * r3.r AS DECIMAL(38,12))) AS DOUBLE), 12) AS r
        |       FROM f JOIN r3 ON r3.word = f.src GROUP BY 1)
        |SELECT word, round(r, 6) AS "rank" FROM r4
        |ORDER BY "rank" DESC, word
        |LIMIT 20""".stripMargin,

    // q271: per-language top-31 order statistics → decimal-summed
    // ln(x/x_tail) → hill and the Pareto alpha off the rounded hill
    "q271_hill_tail" ->
      """WITH b AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS x FROM documents
        |  WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0),
        |r AS (SELECT lang, x,
        |        row_number() OVER (PARTITION BY lang ORDER BY x DESC) AS rn
        |      FROM b),
        |tp AS (SELECT lang, x, rn FROM r WHERE rn <= 31),
        |tl AS (SELECT lang, CAST(count(*) AS BIGINT) AS m, min(x) AS x_tail
        |       FROM tp GROUP BY 1),
        |ok AS (SELECT lang, x_tail FROM tl WHERE m = 31),
        |s AS (SELECT tp.lang, ok.x_tail,
        |        sum(CAST(ln(tp.x / ok.x_tail) AS DECIMAL(38,12))) AS sl
        |      FROM tp JOIN ok ON ok.lang = tp.lang WHERE tp.rn <= 30
        |      GROUP BY 1, 2),
        |h AS (SELECT lang, x_tail, round(CAST(sl AS DOUBLE) / 30, 6) AS hill FROM s)
        |SELECT lang, CAST(30 AS INT) AS k, x_tail, hill,
        |  round(CASE WHEN hill > 0 THEN CAST(1.0 AS DOUBLE) / hill END, 6) AS alpha
        |FROM h""".stripMargin,

    // q295: two unioned covariate legs → conditional decimal moments per
    // arm → the pooled-SD standardized difference
    "q295_smd_balance" ->
      s"""WITH base AS (
         |  SELECT ((${md5l("'9:' || source")} % 1000000) % 2 = 0) AS t,
         |    n_chars, text
         |  FROM documents WHERE source IS NOT NULL),
         |ex AS (
         |  SELECT 'n_chars' AS k, t, CAST(n_chars AS DOUBLE) AS v FROM base
         |    WHERE n_chars IS NOT NULL
         |  UNION ALL
         |  SELECT 'n_tokens', t,
         |    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS DOUBLE)
         |  FROM base WHERE text IS NOT NULL),
         |a AS (
         |  SELECT k,
         |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         |    sum(CAST(CASE WHEN t THEN v ELSE 0.0 END AS DECIMAL(38,12))) AS sxt,
         |    sum(CAST(CASE WHEN NOT t THEN v ELSE 0.0 END AS DECIMAL(38,12))) AS sxc,
         |    sum(CAST(CASE WHEN t THEN v * v ELSE 0.0 END AS DECIMAL(38,12))) AS qxt,
         |    sum(CAST(CASE WHEN NOT t THEN v * v ELSE 0.0 END AS DECIMAL(38,12))) AS qxc
         |  FROM ex GROUP BY 1),
         |m AS (
         |  SELECT k, n_t, n_c,
         |    CAST(sxt AS DOUBLE) / n_t AS mt, CAST(sxc AS DOUBLE) / n_c AS mc,
         |    (CAST(n_t AS DOUBLE) * CAST(qxt AS DOUBLE)
         |      - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE))
         |      / (CAST(n_t AS DOUBLE) * (CAST(n_t AS DOUBLE) - 1)) AS vt,
         |    (CAST(n_c AS DOUBLE) * CAST(qxc AS DOUBLE)
         |      - CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE))
         |      / (CAST(n_c AS DOUBLE) * (CAST(n_c AS DOUBLE) - 1)) AS vc
         |  FROM a),
         |s2 AS (
         |  SELECT k, n_t, n_c, mt, mc,
         |    round(CASE WHEN n_t > 1 AND n_c > 1 AND sqrt((vt + vc) / 2.0) > 0
         |      THEN (mt - mc) / sqrt((vt + vc) / 2.0) END, 6) AS smd
         |  FROM m)
         |SELECT k AS covariate, n_t, n_c,
         |  round(mt, 6) AS mean_t, round(mc, 6) AS mean_c, smd,
         |  (abs(smd) <= 0.1) AS balanced
         |FROM s2""".stripMargin,

    // q296: per-user pre/post activity split at day 15 → five exact
    // moments → theta / var_adj / rho² in pinned scalar order
    "q296_cuped" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |m0 AS (SELECT min(day) AS d0 FROM e),
        |per AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN day < m0.d0 + 15 THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN day >= m0.d0 + 15 THEN 1 ELSE 0 END) AS BIGINT) AS y
        |  FROM e, m0 GROUP BY 1),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS sx,
        |    sum(CAST(CAST(y AS DOUBLE) AS DECIMAL(38,12))) AS sy,
        |    sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS sxx,
        |    sum(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(38,12))) AS syy,
        |    sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(38,12))) AS sxy
        |  FROM per),
        |f AS (
        |  SELECT n,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varxn,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS varyn
        |  FROM a)
        |SELECT n,
        |  round(CASE WHEN varxn > 0 THEN covn / varxn END, 6) AS theta,
        |  round(CASE WHEN n > 1
        |    THEN varyn / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) END, 6) AS var_y,
        |  round(CASE WHEN n > 1 AND varxn > 0
        |    THEN (varyn - covn * covn / varxn)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) END, 6) AS var_adj,
        |  round(CASE WHEN n > 1 AND varxn > 0 AND varyn > 0
        |    THEN covn * covn / (varxn * varyn) END, 6) AS reduction
        |FROM f""".stripMargin,

    // q293: per-language 2×2 cells → decimal-summed ad/n and bc/n
    "q293_mantel_haenszel" ->
      s"""WITH d AS (
         |  SELECT lang AS s,
         |    ((${md5l("'9:' || source")} % 1000000) % 2 = 0) AS t,
         |    (n_chars >= 500) AS y
         |  FROM documents
         |  WHERE lang IS NOT NULL AND source IS NOT NULL AND n_chars IS NOT NULL),
         |cells AS (
         |  SELECT s,
         |    CAST(sum(CASE WHEN t AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(sum(CASE WHEN t AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS b,
         |    CAST(sum(CASE WHEN NOT t AND y THEN 1 ELSE 0 END) AS BIGINT) AS c,
         |    CAST(sum(CASE WHEN NOT t AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS dd,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM d GROUP BY 1),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_strata, CAST(sum(n) AS BIGINT) AS n,
         |    sum(CAST(CAST(a * dd AS DOUBLE) / n AS DECIMAL(38,12))) AS ad,
         |    sum(CAST(CAST(b * c AS DOUBLE) / n AS DECIMAL(38,12))) AS bc
         |  FROM cells)
         |SELECT n_strata, n,
         |  round(CAST(ad AS DOUBLE), 6) AS sum_ad,
         |  round(CAST(bc AS DOUBLE), 6) AS sum_bc,
         |  round(CASE WHEN CAST(bc AS DOUBLE) > 0
         |    THEN CAST(ad AS DOUBLE) / CAST(bc AS DOUBLE) END, 6) AS or_mh
         |FROM agg""".stripMargin,

    // q294: one counts leg per column, top-2 via LIMIT 2, caret's rule
    "q294_nzv" ->
      """WITH c1 AS (SELECT lang AS v, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |t1 AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS nd FROM c1),
        |p1 AS (SELECT max(n) AS x1, CASE WHEN count(*) = 2 THEN min(n) END AS x2
        |       FROM (SELECT n FROM c1 ORDER BY n DESC LIMIT 2)),
        |l1 AS (SELECT 'lang' AS col, t1.n, t1.nd, round(CAST(x1 AS DOUBLE) / x2, 6) AS fr,
        |         round(CAST(nd AS DOUBLE) / t1.n, 6) AS pu FROM t1, p1),
        |c2 AS (SELECT source AS v, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |t2 AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS nd FROM c2),
        |p2 AS (SELECT max(n) AS x1, CASE WHEN count(*) = 2 THEN min(n) END AS x2
        |       FROM (SELECT n FROM c2 ORDER BY n DESC LIMIT 2)),
        |l2 AS (SELECT 'source' AS col, t2.n, t2.nd, round(CAST(x1 AS DOUBLE) / x2, 6) AS fr,
        |         round(CAST(nd AS DOUBLE) / t2.n, 6) AS pu FROM t2, p2),
        |c3 AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |t3 AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS nd FROM c3),
        |p3 AS (SELECT max(n) AS x1, CASE WHEN count(*) = 2 THEN min(n) END AS x2
        |       FROM (SELECT n FROM c3 ORDER BY n DESC LIMIT 2)),
        |l3 AS (SELECT 'n_chars' AS col, t3.n, t3.nd, round(CAST(x1 AS DOUBLE) / x2, 6) AS fr,
        |         round(CAST(nd AS DOUBLE) / t3.n, 6) AS pu FROM t3, p3),
        |c4 AS (SELECT (text IS NOT NULL) AS v, CAST(count(*) AS BIGINT) AS n
        |       FROM documents GROUP BY 1),
        |t4 AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS nd FROM c4),
        |p4 AS (SELECT max(n) AS x1, CASE WHEN count(*) = 2 THEN min(n) END AS x2
        |       FROM (SELECT n FROM c4 ORDER BY n DESC LIMIT 2)),
        |l4 AS (SELECT 'has_text' AS col, t4.n, t4.nd, round(CAST(x1 AS DOUBLE) / x2, 6) AS fr,
        |         round(CAST(nd AS DOUBLE) / t4.n, 6) AS pu FROM t4, p4),
        |u AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2
        |      UNION ALL SELECT * FROM l3 UNION ALL SELECT * FROM l4)
        |SELECT col AS "column", n, nd AS n_distinct, fr AS freq_ratio, pu AS pct_unique,
        |  (fr IS NOT NULL AND fr > 19.0 AND pu < 0.1) AS nzv
        |FROM u""".stripMargin,

    // q297: the step-up bound replicated in EXACT integer space —
    // p = x²/1e6 with x = n_chars mod 1000, so p·(m·20) ≤ rank ⟺
    // x²·m·20 ≤ rank·1e6, no decimal/float rounding on either engine
    "q297_bh_fdr" ->
      """WITH t AS (
        |  SELECT doc_id, (n_chars % 1000) * (n_chars % 1000) AS pp FROM documents),
        |r AS (SELECT doc_id, pp,
        |        row_number() OVER (ORDER BY pp, doc_id) AS rn,
        |        count(*) OVER () AS m FROM t),
        |k AS (SELECT coalesce(max(CASE WHEN pp * 20 * m <= rn * 1000000
        |                          THEN rn END), 0) AS kstar FROM r)
        |SELECT doc_id, round(CAST(pp AS DOUBLE) / 1000000, 6) AS p,
        |  CAST(rn AS BIGINT) AS p_rank, CAST(m AS BIGINT) AS m,
        |  (rn <= kstar) AS reject
        |FROM r, k""".stripMargin,

    // q360: q297's rank CTE + an ascending recursive harmonic fold —
    // the SAME sequential IEEE adds byFdr runs on the driver, then the
    // SAME pinned comparison shape (p·(m·αDen))·c ≤ rank·αNum
    "q360_by_fdr" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, (n_chars % 1000) * (n_chars % 1000) AS pp FROM documents),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM t),
        |h AS (
        |  SELECT CAST(1 AS BIGINT) AS i, CAST(1.0 AS DOUBLE) AS c
        |  UNION ALL
        |  SELECT i + 1, c + CAST(1.0 AS DOUBLE) / (i + 1) FROM h
        |  WHERE i + 1 <= (SELECT m FROM mm)),
        |cm AS (SELECT c FROM h ORDER BY i DESC LIMIT 1),
        |r AS (SELECT doc_id, pp,
        |        row_number() OVER (ORDER BY pp, doc_id) AS rn,
        |        count(*) OVER () AS m FROM t),
        |k AS (SELECT coalesce(max(CASE WHEN
        |          (CAST(pp AS DOUBLE) / 1000000 * CAST(m * 20 AS DOUBLE)) * cm.c
        |            <= CAST(rn AS DOUBLE) * CAST(1 AS DOUBLE)
        |        THEN rn END), 0) AS kstar FROM r, cm)
        |SELECT doc_id, round(CAST(pp AS DOUBLE) / 1000000, 6) AS p,
        |  CAST(rn AS BIGINT) AS p_rank, CAST(m AS BIGINT) AS m,
        |  round(cm.c, 6) AS c_m,
        |  (rn <= kstar) AS reject
        |FROM r, k, cm""".stripMargin,

    // q361: cell collapse + one cumulative — pair masses from prefix sums,
    // exact integers until the single delta division
    "q361_cliffs_delta" ->
      """WITH d AS (
        |  SELECT n_chars AS v, (lang = 'en') AS y FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |), g AS (
        |  SELECT v, CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM d GROUP BY 1
        |), r AS (
        |  SELECT v, ca, cb,
        |    CAST(sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma
        |  FROM g
        |), m AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
        |    CAST(sum(cb * (cuma - ca)) AS BIGINT) AS lt,
        |    CAST(sum(cb * cuma) AS BIGINT) AS le,
        |    CAST(sum(cb * ca) AS BIGINT) AS tie
        |  FROM r)
        |SELECT n_a, n_b,
        |  CAST(n_a * n_b - le AS BIGINT) AS gt_pairs, lt AS lt_pairs, tie AS tie_pairs,
        |  round(CASE WHEN n_a > 0 AND n_b > 0
        |    THEN CAST((n_a * n_b - le) - lt AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b) END, 6) AS delta
        |FROM m""".stripMargin,

    // q362: the cell-collapsed pairwise-difference axis + the exact
    // 2·cum ≥ N type-1 median pick
    "q362_hodges_lehmann" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS BIGINT) AS v, (lang = 'en') AS y FROM documents
        |  WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
        |), g AS (
        |  SELECT v, CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM d GROUP BY 1
        |), dif AS (
        |  SELECT a.v - b.v AS dd, CAST(sum(a.ca * b.cb) AS BIGINT) AS w
        |  FROM (SELECT v, ca FROM g WHERE ca > 0) a,
        |       (SELECT v, cb FROM g WHERE cb > 0) b
        |  GROUP BY 1
        |), r AS (
        |  SELECT dd,
        |    CAST(sum(w) OVER (ORDER BY dd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM dif
        |), t AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
        |    CAST(sum(ca) * sum(cb) AS BIGINT) AS n_pairs FROM g
        |), p AS (SELECT min(dd) AS hl FROM r, t WHERE cum * 2 >= t.n_pairs)
        |SELECT t.n_a, t.n_b, t.n_pairs,
        |  CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN CAST(p.hl AS DOUBLE) END AS hl_shift
        |FROM t, p""".stripMargin,

    // q363: doubled-midrank AB scores (2r = 2·prior+cnt+1), exact integer
    // moments, pinned z quotient
    "q363_ansari_bradley" ->
      """WITH d AS (
        |  SELECT n_chars AS v, (lang = 'en') AS y FROM documents
        |  WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
        |), g AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS na
        |  FROM d GROUP BY 1
        |), r AS (
        |  SELECT v, cnt, na,
        |    CAST(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS nn
        |  FROM g
        |), s AS (
        |  SELECT cnt, na,
        |    least(2 * (cum - cnt) + cnt + 1, 2 * nn + 1 - 2 * (cum - cnt) - cnt) AS s2
        |  FROM r
        |), m AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(cnt - na) AS BIGINT) AS n_b,
        |    CAST(sum(na * s2) AS BIGINT) AS w2,
        |    CAST(sum(cnt * s2) AS BIGINT) AS t1,
        |    CAST(sum(cnt * s2 * s2) AS BIGINT) AS t2x
        |  FROM s)
        |SELECT n_a, n_b,
        |  round(CASE WHEN n_a > 0 AND n_b > 0 THEN CAST(w2 AS DOUBLE) / 2 END, 6) AS w_ab,
        |  round(CASE WHEN n_a > 0 AND n_b > 0 AND
        |      CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) *
        |        (CAST(n_a + n_b AS DOUBLE) * CAST(t2x AS DOUBLE) - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)) /
        |        (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1)) > 0
        |    THEN (CAST(w2 AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(t1 AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |      / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) *
        |          (CAST(n_a + n_b AS DOUBLE) * CAST(t2x AS DOUBLE) - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)) /
        |          (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1)))
        |    END, 6) AS z
        |FROM m""".stripMargin,

    // q369: q357's machinery on the purchase-clock 3-day bins, O−E
    // weighted by nⱼ and V by nⱼ² (the Gehan weights)
    "q369_gehan_wilcoxon" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, event_type FROM events
        |), u AS (
        |  SELECT user_id, min(day) AS fd, max(day) AS ld,
        |    min(CASE WHEN event_type = 'purchase' THEN day END) AS pd
        |  FROM e GROUP BY 1),
        |obs AS (SELECT (coalesce(pd, ld) - fd) // 3 AS t,
        |          (pd IS NOT NULL) AS ev, (user_id % 2 = 0) AS a FROM u),
        |g AS (SELECT t,
        |        CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |        CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS r0,
        |        CAST(sum(CASE WHEN a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |        CAST(sum(CASE WHEN NOT a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS d0
        |      FROM obs GROUP BY 1),
        |r AS (SELECT t, r1, r0, d1, d0,
        |        CAST(sum(r1) OVER () AS BIGINT)
        |          - CAST(coalesce(sum(r1) OVER wp, 0) AS BIGINT) AS n1,
        |        CAST(sum(r0) OVER () AS BIGINT)
        |          - CAST(coalesce(sum(r0) OVER wp, 0) AS BIGINT) AS n0,
        |        CAST(sum(r1) OVER () AS BIGINT) AS ta,
        |        CAST(sum(r0) OVER () AS BIGINT) AS tb,
        |        CAST(sum(d1) OVER () AS BIGINT) AS ea,
        |        CAST(sum(d0) OVER () AS BIGINT) AS eb
        |      FROM g
        |      WINDOW wp AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |v AS (SELECT * FROM r WHERE d1 + d0 > 0),
        |a AS (
        |  SELECT any_value(ta) AS n_a, any_value(tb) AS n_b,
        |    any_value(ea) AS events_a, any_value(eb) AS events_b,
        |    sum(CAST(CAST(n1 + n0 AS DOUBLE)
        |      * (d1 - (CAST(d1 + d0 AS DOUBLE) * n1) / (n1 + n0))
        |      AS DECIMAL(38,12))) AS oe,
        |    sum(CAST(CAST(n1 + n0 AS DOUBLE) * CAST(n1 + n0 AS DOUBLE)
        |      * (CASE WHEN n1 + n0 > 1 THEN
        |          (CAST(d1 + d0 AS DOUBLE) * n1) / (n1 + n0) * n0 / (n1 + n0)
        |            * ((n1 + n0) - (d1 + d0)) / ((n1 + n0) - 1)
        |          ELSE CAST(0.0 AS DOUBLE) END)
        |      AS DECIMAL(38,12))) AS vv
        |  FROM v)
        |SELECT n_a, n_b, events_a, events_b,
        |  round(CAST(oe AS DOUBLE), 6) AS o_minus_e,
        |  round(CAST(vv AS DOUBLE), 6) AS var_o,
        |  round(CASE WHEN vv > 0
        |    THEN CAST(oe AS DOUBLE) / sqrt(CAST(vv AS DOUBLE)) END, 6) AS z
        |FROM a""".stripMargin,

    // q370: q264's NA replay on q358's 3-day bin axis (merge is additive
    // so the half-split needs no oracle counterpart)
    "q370_na_binned" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), u AS (SELECT user_id, min(day) AS fd, max(day) AS ld FROM e GROUP BY 1),
        |mx AS (SELECT max(ld) AS md FROM u),
        |obs AS (SELECT (ld - fd) // 3 AS t, (ld <= mx.md - 3) AS ev FROM u, mx),
        |g AS (SELECT t,
        |        CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |        CAST(sum(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |      FROM obs GROUP BY 1),
        |r AS (SELECT t, d, c,
        |        CAST(sum(d + c) OVER () AS BIGINT)
        |          - CAST(coalesce(sum(d + c) OVER (ORDER BY t
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |          AS n_risk
        |      FROM g),
        |h AS (SELECT t, n_risk, d, c,
        |        CAST(round(CAST(d AS DOUBLE) / n_risk, 6) AS DECIMAL(18,6)) AS hz
        |      FROM r)
        |SELECT t, n_risk, d AS n_events, c AS n_censored,
        |  CAST(hz AS DOUBLE) AS hazard,
        |  CAST(sum(hz) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS cum_hazard
        |FROM h""".stripMargin,

    // q368: per-group decimal moments → pinned weight/fold arithmetic
    // mirroring welchAnova text-for-text
    "q368_welch_anova" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v, lang AS g FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |), grp AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS ng,
        |    sum(CAST(v AS DECIMAL(38,12))) AS sg,
        |    sum(CAST(v * v AS DECIMAL(38,12))) AS qg
        |  FROM d GROUP BY 1
        |), g2 AS (
        |  SELECT ng,
        |    CAST(sg AS DOUBLE) / ng AS mg,
        |    (CAST(qg AS DOUBLE) - ng * (CAST(sg AS DOUBLE) / ng) * (CAST(sg AS DOUBLE) / ng))
        |      / (ng - 1) AS s2
        |  FROM grp
        |), g3 AS (
        |  SELECT ng, mg, s2, (ng > 1 AND s2 > 0) AS ok,
        |    CASE WHEN ng > 1 AND s2 > 0 THEN CAST(ng AS DOUBLE) / s2 END AS w
        |  FROM g2
        |), t1 AS (
        |  SELECT CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS k,
        |    CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS k_dropped,
        |    CAST(sum(CASE WHEN ok THEN ng ELSE 0 END) AS BIGINT) AS n,
        |    sum(CASE WHEN ok THEN CAST(w AS DECIMAL(38,12)) END) AS ww,
        |    sum(CASE WHEN ok THEN CAST(w * mg AS DECIMAL(38,12)) END) AS wm
        |  FROM g3
        |), t2 AS (
        |  SELECT t1.k, t1.k_dropped, t1.n,
        |    sum(CAST(g3.w * (g3.mg - CAST(t1.wm AS DOUBLE) / CAST(t1.ww AS DOUBLE))
        |          * (g3.mg - CAST(t1.wm AS DOUBLE) / CAST(t1.ww AS DOUBLE))
        |        AS DECIMAL(38,12))) AS a,
        |    sum(CAST((1.0 - g3.w / CAST(t1.ww AS DOUBLE))
        |          * (1.0 - g3.w / CAST(t1.ww AS DOUBLE)) / (g3.ng - 1)
        |        AS DECIMAL(38,12))) AS lam
        |  FROM g3, t1 WHERE g3.ok
        |  GROUP BY 1, 2, 3)
        |SELECT k, n, k_dropped, CAST(k - 1 AS BIGINT) AS df1,
        |  round(CASE WHEN k > 1 AND CAST(lam AS DOUBLE) > 0
        |    THEN (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1)
        |      / (CAST(3.0 AS DOUBLE) * CAST(lam AS DOUBLE)) END, 6) AS df2,
        |  round(CASE WHEN k > 1 AND CAST(lam AS DOUBLE) > 0
        |    THEN (CAST(a AS DOUBLE) / (CAST(k AS DOUBLE) - 1))
        |      / (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2) * CAST(lam AS DOUBLE)
        |          / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1)) END, 6) AS f_stat
        |FROM t2""".stripMargin,

    // q367: q48's brute-force truth CTE + canonical-pair distinct counts
    // + the pinned ratio shapes
    "q367_blocking_eval" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents)
        |), tru AS (
        |  SELECT DISTINCT a.id AS ia, b.id AS ib
        |  FROM sh a JOIN sh b ON a.id < b.id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7
        |),
        |blk AS (SELECT doc_id, n_chars // 50 AS k FROM documents),
        |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        |         FROM blk a JOIN blk b ON a.k = b.k AND a.doc_id < b.doc_id),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nr FROM documents),
        |m AS (SELECT nr,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS nc,
        |  (SELECT CAST(count(*) AS BIGINT) FROM tru) AS nt,
        |  (SELECT CAST(count(*) AS BIGINT)
        |     FROM cand JOIN tru ON cand.ia = tru.ia AND cand.ib = tru.ib) AS nh
        |  FROM n)
        |SELECT nr AS n_records,
        |  CAST(nr * (nr - 1) AS DOUBLE) / 2 AS total_possible,
        |  nc AS n_candidates, nt AS n_truth, nh AS n_hit,
        |  round(CASE WHEN nt > 0 THEN CAST(nh AS DOUBLE) / nt END, 6) AS pairs_completeness,
        |  round(CASE WHEN nr > 1
        |    THEN 1.0 - CAST(nc AS DOUBLE) / (CAST(nr * (nr - 1) AS DOUBLE) / 2) END, 6)
        |    AS reduction_ratio
        |FROM m""".stripMargin,

    // q365: the doubled-midrank placement aggregates as exact integers,
    // then the op's pinned double assembly text-for-text
    "q365_brunner_munzel" ->
      """WITH d AS (
        |  SELECT n_chars AS v, (lang = 'en') AS y FROM documents
        |  WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
        |), g AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS na
        |  FROM d GROUP BY 1
        |), r AS (
        |  SELECT v, cnt, na,
        |    CAST(sum(cnt) OVER w AS BIGINT) AS cum,
        |    CAST(sum(na) OVER w AS BIGINT) AS cuma
        |  FROM g
        |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), e AS (
        |  SELECT cnt, na, cnt - na AS nb,
        |    2 * (cum - cnt) + cnt + 1 AS u,
        |    (2 * (cum - cnt) + cnt + 1) - (2 * (cuma - na) + na + 1) AS da,
        |    (2 * (cum - cnt) + cnt + 1)
        |      - (2 * ((cum - cuma) - (cnt - na)) + (cnt - na) + 1) AS db
        |  FROM r
        |), m AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b,
        |    CAST(sum(na * u) AS BIGINT) AS u1, CAST(sum(nb * u) AS BIGINT) AS u2,
        |    CAST(sum(na * da) AS BIGINT) AS t1, CAST(sum(nb * db) AS BIGINT) AS t2,
        |    CAST(sum(na * da * da) AS BIGINT) AS sd1,
        |    CAST(sum(nb * db * db) AS BIGINT) AS sd2
        |  FROM e
        |), f AS (
        |  SELECT n_a, n_b,
        |    (CAST(n_a AS DOUBLE) * CAST(sd1 AS DOUBLE) - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE))
        |      / (CAST(4.0 AS DOUBLE) * CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1)) AS s1sq,
        |    (CAST(n_b AS DOUBLE) * CAST(sd2 AS DOUBLE) - CAST(t2 AS DOUBLE) * CAST(t2 AS DOUBLE))
        |      / (CAST(4.0 AS DOUBLE) * CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1)) AS s2sq,
        |    CAST(u2 AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(n_b AS DOUBLE))
        |      - CAST(u1 AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(n_a AS DOUBLE)) AS rdiff,
        |    CAST(n_a + n_b AS DOUBLE) AS nt
        |  FROM m
        |), v2 AS (
        |  SELECT n_a, n_b, rdiff, nt, s1sq, s2sq,
        |    CAST(n_a AS DOUBLE) * s1sq + CAST(n_b AS DOUBLE) * s2sq AS vsum
        |  FROM f)
        |SELECT n_a, n_b,
        |  round(CASE WHEN n_a > 0 AND n_b > 0 THEN rdiff / nt + 0.5 END, 6) AS p_hat,
        |  round(CASE WHEN n_a > 1 AND n_b > 1 AND vsum > 0
        |    THEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * rdiff / (nt * sqrt(vsum)) END, 6) AS w_stat,
        |  round(CASE WHEN n_a > 1 AND n_b > 1 AND vsum > 0
        |    THEN vsum * vsum /
        |      ((CAST(n_a AS DOUBLE) * s1sq) * (CAST(n_a AS DOUBLE) * s1sq) / (CAST(n_a AS DOUBLE) - 1)
        |       + (CAST(n_b AS DOUBLE) * s2sq) * (CAST(n_b AS DOUBLE) * s2sq) / (CAST(n_b AS DOUBLE) - 1))
        |    END, 6) AS df
        |FROM v2""".stripMargin,

    // q364: q228's hist-state CTE + the CvM squared-gap integral —
    // exact integer gaps, pinned per-bin IEEE terms, decimal sum
    "q364_cvm_from_state" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v, (lang = 'en') AS y FROM documents
        |  WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
        |), g AS (
        |  SELECT CAST(least(greatest(floor((v - CAST(0.0 AS DOUBLE)) / CAST(50.0 AS DOUBLE)), 0), 11) AS BIGINT) AS bin,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM d GROUP BY 1
        |), cum AS (
        |  SELECT bin, c1, c2,
        |    CAST(sum(c1) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
        |    CAST(sum(c2) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
        |  FROM g
        |), t AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n_a, CAST(sum(c2) AS BIGINT) AS n_b FROM g
        |), s AS (
        |  SELECT sum(CAST(CAST(c1 + c2 AS DOUBLE) *
        |      (CAST(f1 * t.n_b - f2 * t.n_a AS DOUBLE) / (CAST(t.n_a AS DOUBLE) * t.n_b)) *
        |      (CAST(f1 * t.n_b - f2 * t.n_a AS DOUBLE) / (CAST(t.n_a AS DOUBLE) * t.n_b))
        |    AS DECIMAL(38,12))) AS acc
        |  FROM cum, t)
        |SELECT t.n_a, t.n_b,
        |  round(CASE WHEN t.n_a > 0 AND t.n_b > 0
        |    THEN CAST(t.n_a AS DOUBLE) * t.n_b / (CAST(t.n_a + t.n_b AS DOUBLE) * (t.n_a + t.n_b))
        |      * CAST(s.acc AS DOUBLE) END, 6) AS t_stat
        |FROM s, t""".stripMargin,

    // q298: Kish ESS off two decimal moments, quotients in pinned order
    "q298_ess_weights" ->
      """WITH a AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(38,12))) AS swd,
        |    sum(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)
        |      AS DECIMAL(38,12))) AS sqd
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_quantity >= 0
        |  GROUP BY 1)
        |SELECT l_returnflag, n,
        |  round(CAST(swd AS DOUBLE), 6) AS sum_w,
        |  round(CASE WHEN sqd > 0 THEN CAST(swd AS DOUBLE) * CAST(swd AS DOUBLE)
        |    / CAST(sqd AS DOUBLE) END, 6) AS ess,
        |  round(CASE WHEN sqd > 0 THEN n * CAST(sqd AS DOUBLE)
        |    / (CAST(swd AS DOUBLE) * CAST(swd AS DOUBLE)) END, 6) AS deff
        |FROM a""".stripMargin,

    // q299: welch-style exact decimal moments → pooled SD → d and the
    // Hedges small-sample debias, every scalar in pinned order
    "q299_effect_size" ->
      """WITH a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN lang = 'en'
        |      THEN CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(38,12)) END) AS sa,
        |    sum(CASE WHEN lang <> 'en'
        |      THEN CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(38,12)) END) AS sb,
        |    sum(CASE WHEN lang = 'en'
        |      THEN CAST(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)
        |        AS DECIMAL(38,12)) END) AS qa,
        |    sum(CASE WHEN lang <> 'en'
        |      THEN CAST(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)
        |        AS DECIMAL(38,12)) END) AS qb
        |  FROM documents WHERE n_chars IS NOT NULL),
        |f AS (
        |  SELECT n_a, n_b,
        |    CAST(sa AS DOUBLE) / n_a AS ma, CAST(sb AS DOUBLE) / n_b AS mb,
        |    CASE WHEN n_a >= 2 THEN CAST(qa AS DOUBLE)
        |      - n_a * (CAST(sa AS DOUBLE) / n_a) * (CAST(sa AS DOUBLE) / n_a) END AS ssa,
        |    CASE WHEN n_b >= 2 THEN CAST(qb AS DOUBLE)
        |      - n_b * (CAST(sb AS DOUBLE) / n_b) * (CAST(sb AS DOUBLE) / n_b) END AS ssb
        |  FROM a),
        |g AS (SELECT n_a, n_b, ma, mb,
        |        (ssa + ssb) / (n_a + n_b - 2) AS sp2 FROM f),
        |h AS (SELECT n_a, n_b, ma, mb, sp2,
        |        CASE WHEN sp2 > 0 THEN (ma - mb) / sqrt(sp2) END AS d FROM g)
        |SELECT n_a, n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round(sqrt(sp2), 6) AS sd_pooled, round(d, 6) AS d,
        |  round(d * (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9)), 6) AS g
        |FROM h""".stripMargin,

    // q300: global rank window → tail cuts by integer division; the kept
    // slice's min/max ARE the winsorization clamps
    "q300_trimmed_mean" ->
      """WITH r AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v,
        |    row_number() OVER (ORDER BY CAST(n_chars AS DOUBLE), doc_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |a AS (
        |  SELECT CAST(any_value(n) AS BIGINT) AS n,
        |    CAST(any_value(n) * 1 // 20 AS BIGINT) AS cut,
        |    sum(CAST(v AS DECIMAL(38,12))) AS s,
        |    sum(CASE WHEN rn > n * 1 // 20 AND rn <= n - n * 1 // 20
        |      THEN CAST(v AS DECIMAL(38,12)) END) AS st,
        |    CAST(sum(CASE WHEN rn > n * 1 // 20 AND rn <= n - n * 1 // 20
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    min(CASE WHEN rn > n * 1 // 20 AND rn <= n - n * 1 // 20 THEN v END) AS vlo,
        |    max(CASE WHEN rn > n * 1 // 20 AND rn <= n - n * 1 // 20 THEN v END) AS vhi
        |  FROM r)
        |SELECT n, n_kept, cut,
        |  round(CAST(s AS DOUBLE) / n, 6) AS mean,
        |  round(CASE WHEN n_kept > 0 THEN CAST(st AS DOUBLE) / n_kept END, 6)
        |    AS mean_trimmed,
        |  round(CASE WHEN n_kept > 0 THEN
        |    CAST(st + CAST(cut * (vlo + vhi) AS DECIMAL(38,12)) AS DOUBLE) / n END, 6)
        |    AS mean_winsorized
        |FROM a""".stripMargin,

    // q301: cumulative quantity mass in (price, order, line) order; the
    // type-1 pick is the first row whose 2·cum ≥ total
    "q301_weighted_median" ->
      """WITH f AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v, l_orderkey, l_linenumber,
        |    CAST(round(CAST(l_quantity AS DOUBLE), 0) AS BIGINT) AS w
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
        |c AS (
        |  SELECT v, l_orderkey, l_linenumber,
        |    sum(w) OVER (ORDER BY v, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS cw,
        |    sum(w) OVER () AS sw
        |  FROM f WHERE w >= 0)
        |SELECT CAST(sw AS BIGINT) AS total_w, v AS q
        |FROM c WHERE sw > 0 AND cw * 2 >= sw * 1
        |ORDER BY v, l_orderkey, l_linenumber LIMIT 1""".stripMargin,

    // q292: both CASE chains of the q284 argmax, joined per key
    "q292_reshard_plan" ->
      s"""WITH sc AS (
         |  SELECT doc_id,
         |    ${md5l("'42:' || 's0#' || CAST(doc_id AS VARCHAR)")} AS h0,
         |    ${md5l("'42:' || 's1#' || CAST(doc_id AS VARCHAR)")} AS h1,
         |    ${md5l("'42:' || 's2#' || CAST(doc_id AS VARCHAR)")} AS h2,
         |    ${md5l("'42:' || 's3#' || CAST(doc_id AS VARCHAR)")} AS h3
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN h0 = greatest(h0, h1, h2) THEN 's0'
         |       WHEN h1 = greatest(h0, h1, h2) THEN 's1'
         |       ELSE 's2' END AS shard_old,
         |  CASE WHEN h0 = greatest(h0, h1, h2, h3) THEN 's0'
         |       WHEN h1 = greatest(h0, h1, h2, h3) THEN 's1'
         |       WHEN h2 = greatest(h0, h1, h2, h3) THEN 's2'
         |       ELSE 's3' END AS shard_new,
         |  (CASE WHEN h0 = greatest(h0, h1, h2) THEN 's0'
         |        WHEN h1 = greatest(h0, h1, h2) THEN 's1'
         |        ELSE 's2' END
         |   <> CASE WHEN h0 = greatest(h0, h1, h2, h3) THEN 's0'
         |           WHEN h1 = greatest(h0, h1, h2, h3) THEN 's1'
         |           WHEN h2 = greatest(h0, h1, h2, h3) THEN 's2'
         |           ELSE 's3' END) AS moved
         |FROM sc""".stripMargin,

    // q290: the q275 dense axis → exact decimal moments → vmr and the
    // chi-square dispersion statistic in pinned scalar order
    "q290_dispersion" ->
      """WITH hh AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS h FROM events),
        |c AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS x FROM hh GROUP BY 1, 2),
        |bb AS (SELECT min(h) AS lo, max(h) AS hi FROM c),
        |axis AS (SELECT unnest(range(bb.lo, bb.hi + 1)) AS t FROM bb),
        |ty AS (SELECT DISTINCT event_type FROM c),
        |dense AS (
        |  SELECT ty.event_type, CAST(coalesce(c.x, 0) AS DOUBLE) AS x
        |  FROM ty CROSS JOIN axis
        |  LEFT JOIN c ON c.event_type = ty.event_type AND c.h = axis.t),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        sum(CAST(x AS DECIMAL(38,12))) AS sx,
        |        sum(CAST(x * x AS DECIMAL(38,12))) AS sxx
        |      FROM dense GROUP BY 1),
        |m2 AS (SELECT event_type, n,
        |        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |        (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) AS variance
        |      FROM a)
        |SELECT event_type, n, round(mean, 6) AS mean,
        |  round(CASE WHEN n > 1 THEN variance END, 6) AS variance,
        |  round(CASE WHEN n > 1 AND mean > 0 THEN variance / mean END, 6) AS vmr,
        |  round(CASE WHEN n > 1 AND mean > 0
        |    THEN (CAST(n AS DOUBLE) - 1) * variance / mean END, 6) AS d
        |FROM m2""".stripMargin,

    // q291: two md5-sampled token sets → exact overlap → Chapman N̂ ± CI
    "q291_capture_recapture" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT tok FROM (
         |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
         |    FROM documents) WHERE tok <> ''),
         |sa AS (SELECT tok FROM toks
         |       WHERE ${md5l("'7:' || tok")} % 1000000 < 200000),
         |sb AS (SELECT tok FROM toks
         |       WHERE ${md5l("'8:' || tok")} % 1000000 < 200000),
         |cnts AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM sa) AS n_a,
         |    (SELECT CAST(count(*) AS BIGINT) FROM sb) AS n_b,
         |    (SELECT CAST(count(*) AS BIGINT) FROM sa
         |     WHERE tok IN (SELECT tok FROM sb)) AS m),
         |est AS (SELECT n_a, n_b, m,
         |    CAST(CAST(n_a + 1 AS DECIMAL(20,0)) * CAST(n_b + 1 AS DECIMAL(20,0)) AS DOUBLE)
         |      / CAST(m + 1 AS DOUBLE) - CAST(1.0 AS DOUBLE) AS nh,
         |    CAST(CAST(n_a + 1 AS DECIMAL(20,0)) * CAST(n_b + 1 AS DECIMAL(20,0)) AS DOUBLE)
         |      * CAST(CAST(n_a - m AS DECIMAL(20,0)) * CAST(n_b - m AS DECIMAL(20,0)) AS DOUBLE)
         |      / (CAST(CAST(m + 1 AS DECIMAL(20,0)) * CAST(m + 1 AS DECIMAL(20,0)) AS DOUBLE)
         |        * CAST(m + 2 AS DOUBLE)) AS vn,
         |    CAST(1.959963984540054 AS DOUBLE) AS zq
         |  FROM cnts)
         |SELECT n_a, n_b, m, round(nh, 6) AS n_hat,
         |  round(nh - zq * sqrt(vn), 6) AS lo,
         |  round(nh + zq * sqrt(vn), 6) AS hi
         |FROM est""".stripMargin,

    // q288: the q231 grid → per-bin √(p·q) decimal-summed → BC and H
    "q288_hellinger" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v, (lang = 'en') AS y FROM documents
        |  WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
        |), g AS (
        |  SELECT CAST(least(greatest(floor((v - CAST(0.0 AS DOUBLE)) / CAST(50.0 AS DOUBLE)), 0), 11) AS BIGINT) AS bin,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM d GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b FROM g
        |), terms AS (
        |  SELECT n_a, n_b,
        |    sqrt((CAST(ca AS DOUBLE) / n_a) * (CAST(cb AS DOUBLE) / n_b)) AS term
        |  FROM g, t
        |), s AS (
        |  SELECT any_value(n_a) AS n_a, any_value(n_b) AS n_b,
        |    CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE) AS bc0
        |  FROM terms)
        |SELECT n_a, n_b,
        |  round(CASE WHEN n_a > 0 AND n_b > 0 THEN bc0 END, 6) AS bc,
        |  round(CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    sqrt(greatest(CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE) - bc0)) END, 6)
        |    AS hellinger
        |FROM s""".stripMargin,

    // q289: the q260 probability pipeline → ≤bins partials → REL/RES
    // terms decimal-cast per bin, the base rate a one-row attach
    "q289_brier_decomp" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), lab AS (
         |  SELECT s.score AS sc, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
         |), mm AS (SELECT min(sc) AS lo, max(sc) AS hi FROM lab),
         |p0 AS (SELECT CASE WHEN mm.hi > mm.lo
         |          THEN (sc - mm.lo) / (mm.hi - mm.lo) ELSE 0.5 END AS praw,
         |        CAST(y AS BIGINT) AS y
         |       FROM lab, mm),
         |p1 AS (SELECT CAST(round(praw, 6) AS DECIMAL(7,6)) AS p, y FROM p0),
         |b AS (SELECT CAST(least(floor(CAST(p AS DOUBLE) * 10), CAST(9 AS DOUBLE)) AS BIGINT)
         |        AS bin,
         |        CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
         |        sum(p) AS sp,
         |        sum(CAST((p - CAST(y AS DECIMAL(1,0))) * (p - CAST(y AS DECIMAL(1,0)))
         |          AS DECIMAL(38,12))) AS ssq
         |      FROM p1 GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(sy) AS BIGINT) AS ty FROM b),
         |terms AS (
         |  SELECT t.tn, t.ty, b.ssq,
         |    CAST(CAST(b.n AS DOUBLE)
         |      * (CAST(b.sp AS DOUBLE) / b.n - CAST(b.sy AS DOUBLE) / b.n)
         |      * (CAST(b.sp AS DOUBLE) / b.n - CAST(b.sy AS DOUBLE) / b.n)
         |      AS DECIMAL(38,12)) AS rel,
         |    CAST(CAST(b.n AS DOUBLE)
         |      * (CAST(b.sy AS DOUBLE) / b.n - CAST(t.ty AS DOUBLE) / t.tn)
         |      * (CAST(b.sy AS DOUBLE) / b.n - CAST(t.ty AS DOUBLE) / t.tn)
         |      AS DECIMAL(38,12)) AS res
         |  FROM b, t)
         |SELECT any_value(tn) AS n,
         |  round(CAST(sum(ssq) AS DOUBLE) / any_value(tn), 6) AS brier,
         |  round(CAST(sum(rel) AS DOUBLE) / any_value(tn), 6) AS reliability,
         |  round(CAST(sum(res) AS DOUBLE) / any_value(tn), 6) AS resolution,
         |  round((CAST(any_value(ty) AS DOUBLE) / any_value(tn))
         |    * (CAST(1.0 AS DOUBLE) - CAST(any_value(ty) AS DOUBLE) / any_value(tn)), 6)
         |    AS uncertainty
         |FROM terms""".stripMargin,

    // q286: token counts → count-of-counts → the (r+1)·N_{r+1}/N_r table
    "q286_good_turing" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM documents
        |), tc AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks WHERE tok <> '' GROUP BY 1
        |), ff AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r FROM tc GROUP BY 1),
        |tot AS (SELECT sum(CAST(r AS DECIMAL(38,0)) * n_r) AS n FROM ff)
        |SELECT ff.r, ff.n_r,
        |  round(CAST(ff.r + 1 AS DOUBLE) * nx.n_r / ff.n_r, 6) AS r_star,
        |  round(CAST(CAST(ff.r AS DECIMAL(38,0)) * ff.n_r AS DOUBLE)
        |    / CAST(tot.n AS DOUBLE), 6) AS mass_share
        |FROM ff LEFT JOIN ff nx ON nx.r = ff.r + 1, tot""".stripMargin,

    // q287: md5-bucketed docs → per-token min bucket → cross-multiplied
    // integer thresholds at the 10 nested fractions
    "q287_heaps_curve" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    ${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS b,
         |    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
         |  FROM documents
         |), tk AS (
         |  SELECT b, unnest(toks) AS tok FROM d
         |), mb AS (
         |  SELECT tok, min(b) AS mb FROM tk WHERE tok <> '' GROUP BY 1
         |), st AS (SELECT unnest(range(1, 11)) AS step),
         |v AS (SELECT st.step, CAST(count(*) AS BIGINT) AS vocab
         |      FROM st JOIN mb ON mb.mb * 10 < st.step * 1000000 GROUP BY 1),
         |dc AS (SELECT st.step, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM st JOIN d ON d.b * 10 < st.step * 1000000 GROUP BY 1)
         |SELECT dc.step, dc.n_docs, CAST(coalesce(v.vocab, 0) AS BIGINT) AS vocab
         |FROM dc LEFT JOIN v ON v.step = dc.step""".stripMargin,

    // q284: per-shard hash scores → greatest → first-listed tie-break
    "q284_rendezvous" ->
      s"""WITH sc AS (
         |  SELECT doc_id,
         |    ${md5l("'42:' || 's0#' || CAST(doc_id AS VARCHAR)")} AS h0,
         |    ${md5l("'42:' || 's1#' || CAST(doc_id AS VARCHAR)")} AS h1,
         |    ${md5l("'42:' || 's2#' || CAST(doc_id AS VARCHAR)")} AS h2,
         |    ${md5l("'42:' || 's3#' || CAST(doc_id AS VARCHAR)")} AS h3
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN h0 = greatest(h0, h1, h2, h3) THEN 's0'
         |       WHEN h1 = greatest(h0, h1, h2, h3) THEN 's1'
         |       WHEN h2 = greatest(h0, h1, h2, h3) THEN 's2'
         |       ELSE 's3' END AS shard
         |FROM sc""".stripMargin,

    // q285: per-key counts + one-row total → exact ceil-division factors
    "q285_salt_plan" ->
      """WITH c AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM c)
        |SELECT event_type, n,
        |  round(CAST(n AS DOUBLE) / tt, 6) AS share,
        |  CAST((n + 999) // 1000 AS BIGINT) AS salt_factor
        |FROM c, t WHERE n >= 1""".stripMargin,

    // q283: the q21 candidate pool + round-6 pairwise sims → the greedy
    // unrolled five picks, each argmax on (rounded step score, id)
    "q283_mmr" ->
      """WITH q AS (SELECT list_transform(range(1, 65), i -> sin(CAST(i AS DOUBLE))) AS qv),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cand AS (SELECT vec_id, v,
        |          round(list_dot_product(v, qv)
        |            / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)
        |            AS rel
        |        FROM e, q ORDER BY rel DESC, vec_id LIMIT 20),
        |sims AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
        |          round(list_dot_product(a.v, b.v)
        |            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
        |            6) AS s
        |        FROM cand a JOIN cand b ON b.vec_id <> a.vec_id),
        |p1 AS (SELECT vec_id, rel, round(CAST(0.7 AS DOUBLE) * rel, 6) AS mmr
        |      FROM cand ORDER BY mmr DESC, vec_id LIMIT 1),
        |g2 AS (SELECT c.vec_id, c.rel, max(s.s) AS ms FROM cand c
        |       JOIN sims s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM p1)
        |       WHERE c.vec_id NOT IN (SELECT vec_id FROM p1) GROUP BY 1, 2),
        |p2 AS (SELECT vec_id, rel, round(CAST(0.7 AS DOUBLE) * rel
        |          - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms, 6) AS mmr
        |      FROM g2 ORDER BY mmr DESC, vec_id LIMIT 1),
        |k2 AS (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2),
        |g3 AS (SELECT c.vec_id, c.rel, max(s.s) AS ms FROM cand c
        |       JOIN sims s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM k2)
        |       WHERE c.vec_id NOT IN (SELECT vec_id FROM k2) GROUP BY 1, 2),
        |p3 AS (SELECT vec_id, rel, round(CAST(0.7 AS DOUBLE) * rel
        |          - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms, 6) AS mmr
        |      FROM g3 ORDER BY mmr DESC, vec_id LIMIT 1),
        |k3 AS (SELECT vec_id FROM k2 UNION ALL SELECT vec_id FROM p3),
        |g4 AS (SELECT c.vec_id, c.rel, max(s.s) AS ms FROM cand c
        |       JOIN sims s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM k3)
        |       WHERE c.vec_id NOT IN (SELECT vec_id FROM k3) GROUP BY 1, 2),
        |p4 AS (SELECT vec_id, rel, round(CAST(0.7 AS DOUBLE) * rel
        |          - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms, 6) AS mmr
        |      FROM g4 ORDER BY mmr DESC, vec_id LIMIT 1),
        |k4 AS (SELECT vec_id FROM k3 UNION ALL SELECT vec_id FROM p4),
        |g5 AS (SELECT c.vec_id, c.rel, max(s.s) AS ms FROM cand c
        |       JOIN sims s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM k4)
        |       WHERE c.vec_id NOT IN (SELECT vec_id FROM k4) GROUP BY 1, 2),
        |p5 AS (SELECT vec_id, rel, round(CAST(0.7 AS DOUBLE) * rel
        |          - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms, 6) AS mmr
        |      FROM g5 ORDER BY mmr DESC, vec_id LIMIT 1)
        |SELECT 1 AS pick, vec_id, rel, mmr FROM p1
        |UNION ALL SELECT 2, vec_id, rel, mmr FROM p2
        |UNION ALL SELECT 3, vec_id, rel, mmr FROM p3
        |UNION ALL SELECT 4, vec_id, rel, mmr FROM p4
        |UNION ALL SELECT 5, vec_id, rel, mmr FROM p5""".stripMargin,

    // q281: q30's session assignment + the per-session feature windows
    "q281_session_features" ->
      """WITH s AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 28800000000000 THEN 1
        |         ELSE 0 END AS st
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(sum(st) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) - 1
        |      AS BIGINT) AS session_seq
        |  FROM s)
        |SELECT user_id, event_id, session_seq,
        |  row_number() OVER ws AS event_index,
        |  epoch_ns(ts) - min(epoch_ns(ts)) OVER wp AS dt_since_start,
        |  CAST(count(*) OVER wp AS BIGINT) AS session_events,
        |  (row_number() OVER ws = count(*) OVER wp) AS is_last
        |FROM sess
        |WINDOW ws AS (PARTITION BY user_id, session_seq ORDER BY ts, event_id),
        |       wp AS (PARTITION BY user_id, session_seq)""".stripMargin,

    // q282: rank cut per user, then chronological list assembly
    "q282_last_history" ->
      """WITH e0 AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
        |r AS (SELECT user_id, event_type, tsu, event_id,
        |        row_number() OVER (PARTITION BY user_id ORDER BY tsu DESC, event_id DESC)
        |          AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS total
        |      FROM e0)
        |SELECT user_id, CAST(any_value(total) AS BIGINT) AS n_events_total,
        |  string_agg(event_type, '|' ORDER BY tsu, event_id) AS history
        |FROM r WHERE rn <= 5 GROUP BY 1""".stripMargin,

    // q279: both legs' rankings replicated (q54's BM25 CTEs + the q95
    // scored CTE), cut at 50, fused by decimal-summed 1/(60+rank)
    "q279_rrf_fusion" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), lens AS (
         |  SELECT doc_id AS id,
         |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS dl
         |  FROM documents
         |), stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sum_dl FROM lens
         |), tf AS (
         |  SELECT doc_id AS id, tok, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
         |        FROM documents)
         |  WHERE tok IN ('join', 'scan', 'filter')
         |  GROUP BY 1, 2
         |), dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |bm AS (
         |  SELECT id AS doc_id,
         |    round(sum(
         |      ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |        * (tf * (1.2 + 1)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sum_dl / n)))
         |    ), 6) AS bm25
         |  FROM tf JOIN dfreq USING (tok) JOIN lens USING (id), stats
         |  GROUP BY 1
         |), ra AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM bm)
         |  WHERE rank <= 50
         |), rb AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |    FROM scored)
         |  WHERE rank <= 50
         |), u AS (
         |  SELECT doc_id, CAST(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE)
         |    + CAST(rank AS DOUBLE)) AS DECIMAL(28,12)) AS t FROM ra
         |  UNION ALL
         |  SELECT doc_id, CAST(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE)
         |    + CAST(rank AS DOUBLE)) AS DECIMAL(28,12)) FROM rb
         |), g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_systems, sum(t) AS s
         |         FROM u GROUP BY 1)
         |SELECT doc_id, n_systems, round(CAST(s AS DOUBLE), 6) AS rrf
         |FROM g ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    // q280: the prefix-sum rank ≡ row_number in the same unique order
    "q280_systematic" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE (rn - 1) % 7 = 3""".stripMargin,

    // q277: the q45 hash-sample rule → HT estimator with sample-only
    // variance, every scalar in the Spark chain's textual order
    "q277_approx_groupby" ->
      s"""WITH smp AS (
         |  SELECT o_orderpriority, o_totalprice AS v FROM orders
         |  WHERE ${md5l("'42:' || CAST(o_orderkey AS VARCHAR)")} % 1000000 < 100000
         |    AND o_totalprice IS NOT NULL),
         |a AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_sample,
         |        sum(CAST(round(v, 6) AS DECIMAL(28,6))) AS s,
         |        sum(CAST(v * v AS DECIMAL(38,12))) AS s2
         |      FROM smp GROUP BY 1),
         |c AS (SELECT *, CAST(1.959963984540054 AS DOUBLE) AS zq,
         |        CAST(10.0 AS DOUBLE) * CAST(10.0 AS DOUBLE)
         |          * (CAST(1.0 AS DOUBLE) - CAST(0.1 AS DOUBLE)) AS vf
         |      FROM a)
         |SELECT o_orderpriority, n_sample,
         |  round(CAST(n_sample AS DOUBLE) * CAST(10.0 AS DOUBLE), 6) AS est_count,
         |  round(CAST(n_sample AS DOUBLE) * CAST(10.0 AS DOUBLE)
         |    - zq * sqrt(CAST(n_sample AS DOUBLE) * vf), 6) AS count_lo,
         |  round(CAST(n_sample AS DOUBLE) * CAST(10.0 AS DOUBLE)
         |    + zq * sqrt(CAST(n_sample AS DOUBLE) * vf), 6) AS count_hi,
         |  round(CAST(s AS DOUBLE) * CAST(10.0 AS DOUBLE), 6) AS est_sum,
         |  round(CAST(s AS DOUBLE) * CAST(10.0 AS DOUBLE)
         |    - zq * sqrt(CAST(s2 AS DOUBLE) * vf), 6) AS sum_lo,
         |  round(CAST(s AS DOUBLE) * CAST(10.0 AS DOUBLE)
         |    + zq * sqrt(CAST(s2 AS DOUBLE) * vf), 6) AS sum_hi
         |FROM c""".stripMargin,

    // q278: the maintained view over old∪new IS the full join (the two
    // splits partition both tables) — the oracle recomputes it flat
    "q278_ivm_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(sum(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS revenue
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    // q273: the q259 doc-aligned predictions ×3 → long form → row/column
    // margins → Q off exact decimal squares
    "q273_cochran_q" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), l0 AS (SELECT doc_id, lang,
         |    regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks FROM documents),
         |l1 AS (SELECT doc_id, lang,
         |    len(list_filter(ltoks, x -> x IN ('the','and','of','is'))) AS s_en,
         |    len(list_filter(ltoks, x -> x IN ('der','die','und','das'))) AS s_de,
         |    len(list_filter(ltoks, x -> x IN ('le','la','et','les'))) AS s_fr,
         |    len(list_filter(ltoks, x -> x IN ('el','los','que','y'))) AS s_es
         |  FROM l0),
         |lp AS (SELECT doc_id, lang,
         |    CASE WHEN greatest(s_en, s_de, s_fr, s_es) > 0 THEN
         |      CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         |           WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         |           WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         |           ELSE 'es' END
         |    ELSE 'und' END AS p
         |  FROM l1),
         |base AS (SELECT lp.doc_id,
         |    ((lp.p = 'en') = (lp.lang = 'en')) AS ok_langid,
         |    ((s.score > 0.0) = (lp.lang = 'en')) AS ok_ngram,
         |    ((d.n_chars >= 500) = (lp.lang = 'en')) AS ok_len
         |  FROM lp JOIN scored s ON s.doc_id = lp.doc_id
         |  JOIN documents d ON d.doc_id = lp.doc_id),
         |lng AS (SELECT doc_id, 'langid' AS clf, ok_langid AS ok FROM base
         |  UNION ALL SELECT doc_id, 'ngram', ok_ngram FROM base
         |  UNION ALL SELECT doc_id, 'len', ok_len FROM base),
         |rws AS (SELECT doc_id, CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS r,
         |          CAST(count(*) AS BIGINT) AS kk
         |        FROM lng WHERE ok IS NOT NULL GROUP BY 1),
         |ra AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(r) AS BIGINT) AS sr,
         |        sum(CAST(r AS DECIMAL(12,0)) * CAST(r AS DECIMAL(12,0))) AS sr2,
         |        min(kk) AS kmin, max(kk) AS kmax
         |       FROM rws),
         |cm AS (SELECT clf, CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS c
         |       FROM lng WHERE ok IS NOT NULL GROUP BY 1),
         |ca AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(c) AS BIGINT) AS sc,
         |        sum(CAST(c AS DECIMAL(12,0)) * CAST(c AS DECIMAL(12,0))) AS sc2
         |       FROM cm)
         |SELECT ca.k, ra.n,
         |  CASE WHEN ra.kmin = ca.k AND ra.kmax = ca.k
         |      AND CAST(CAST(ca.k AS DECIMAL(8,0)) * CAST(ra.sr AS DECIMAL(15,0))
         |        - CAST(ra.sr2 AS DECIMAL(25,0)) AS DOUBLE) > 0
         |    THEN round(CAST(ca.k - 1 AS DOUBLE)
         |      * CAST(CAST(ca.k AS DECIMAL(8,0)) * CAST(ca.sc2 AS DECIMAL(25,0))
         |          - CAST(ca.sc AS DECIMAL(15,0)) * CAST(ca.sc AS DECIMAL(15,0)) AS DOUBLE)
         |      / CAST(CAST(ca.k AS DECIMAL(8,0)) * CAST(ra.sr AS DECIMAL(15,0))
         |          - CAST(ra.sr2 AS DECIMAL(25,0)) AS DOUBLE), 6)
         |  END AS q,
         |  (ra.kmin = ca.k AND ra.kmax = ca.k) AS balanced
         |FROM ra, ca""".stripMargin,

    // q274: bucketed series → type-1 median cut (equals excluded) → run
    // count via one ordered lag → the classic normal approximation
    "q274_runs_test" ->
      """WITH hh AS (SELECT epoch_ns(ts) // 3600000000000 AS h FROM events),
        |c AS (SELECT h AS t, CAST(count(*) AS BIGINT) AS xr FROM hh GROUP BY 1),
        |b0 AS (SELECT t, CAST(xr AS DOUBLE) AS x FROM c),
        |r AS (SELECT t, x, row_number() OVER (ORDER BY x) AS rn,
        |        count(*) OVER () AS m FROM b0),
        |med AS (SELECT x AS mv FROM r WHERE rn = (m + 1) // 2),
        |kept AS (SELECT t, x, (x > med.mv) AS b FROM b0, med WHERE x <> med.mv),
        |lagged AS (SELECT b, lag(b) OVER (ORDER BY t) AS pb FROM kept),
        |agg AS (SELECT
        |    CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN pb IS NOT NULL AND pb <> b THEN 1 ELSE 0 END) + 1
        |      AS BIGINT) AS runs
        |  FROM lagged),
        |m2 AS (SELECT n1, n2, runs,
        |    CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |      / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + CAST(1.0 AS DOUBLE) AS mu,
        |    CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |      * (CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |        - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
        |      / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
        |        * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
        |        * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - 1)) AS sig2
        |  FROM agg)
        |SELECT n1, n2, runs,
        |  round(CASE WHEN n1 > 0 AND n2 > 0 THEN mu END, 6) AS mu,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND sig2 > 0
        |    THEN round((CAST(runs AS DOUBLE) - mu) / sqrt(sig2), 6) END AS z
        |FROM m2""".stripMargin,

    // q275: dense per-type hourly axis → two ordered lags in one window
    // → decimal-exact absolute-error sums → the MASE quotient
    "q275_mase" ->
      """WITH hh AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS h FROM events),
        |c AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS x FROM hh GROUP BY 1, 2),
        |bb AS (SELECT min(h) AS lo, max(h) AS hi FROM c),
        |axis AS (SELECT unnest(range(bb.lo, bb.hi + 1)) AS t FROM bb),
        |ty AS (SELECT DISTINCT event_type FROM c),
        |dense AS (
        |  SELECT ty.event_type, axis.t,
        |    CAST(round(CAST(coalesce(c.x, 0) AS DOUBLE), 6) AS DECIMAL(18,6)) AS xd
        |  FROM ty CROSS JOIN axis
        |  LEFT JOIN c ON c.event_type = ty.event_type AND c.h = axis.t),
        |lg AS (SELECT event_type, xd,
        |        lag(xd, 24) OVER w AS xs, lag(xd, 1) OVER w AS x1
        |      FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY t)),
        |f AS (SELECT event_type, xd, xs, x1 FROM lg
        |      WHERE xs IS NOT NULL AND x1 IS NOT NULL)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(abs(xd - xs)) AS DOUBLE), 6) AS sae_seasonal,
        |  round(CAST(sum(abs(xd - x1)) AS DOUBLE), 6) AS sae_naive,
        |  round(CASE WHEN CAST(sum(abs(xd - x1)) AS DOUBLE) > 0
        |    THEN CAST(sum(abs(xd - xs)) AS DOUBLE) / CAST(sum(abs(xd - x1)) AS DOUBLE)
        |  END, 6) AS mase
        |FROM f GROUP BY 1""".stripMargin,

    // q276: dense axis → prefix sums → the CUSUM closed form G(i) →
    // arg-max on (rounded score, t)
    // q366: q276's dense-axis CTE + an ordered recursion replaying the
    // EXACT Holt fold (α=0.5/β=0.25 and their complements are exact
    // binary doubles — no literal-representation slack)
    "q366_holt_linear" ->
      """WITH RECURSIVE hh AS (SELECT epoch_ns(ts) // 3600000000000 AS h FROM events),
        |c AS (SELECT h, CAST(count(*) AS BIGINT) AS x FROM hh GROUP BY 1),
        |bb AS (SELECT min(h) AS lo, max(h) AS hi FROM c),
        |axis AS (SELECT unnest(range(bb.lo, bb.hi + 1)) AS t FROM bb),
        |dense AS (
        |  SELECT axis.t, CAST(coalesce(c.x, 0) AS DOUBLE) AS x
        |  FROM axis LEFT JOIN c ON c.h = axis.t),
        |r AS (SELECT t, x, CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS rn FROM dense),
        |k AS (
        |  SELECT rn, t, x, x AS l, CAST(0.0 AS DOUBLE) AS b, CAST(NULL AS DOUBLE) AS f
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.rn, r.t, r.x,
        |    0.5 * r.x + 0.5 * (k.l + k.b),
        |    0.25 * ((0.5 * r.x + 0.5 * (k.l + k.b)) - k.l) + 0.75 * k.b,
        |    k.l + k.b
        |  FROM k JOIN r ON r.rn = k.rn + 1
        |)
        |SELECT t, x, round(l, 6) AS level, round(b, 6) AS trend,
        |  round(f, 6) AS forecast
        |FROM k""".stripMargin,

    "q276_changepoint" ->
      """WITH hh AS (SELECT epoch_ns(ts) // 3600000000000 AS h FROM events),
        |c AS (SELECT h, CAST(count(*) AS BIGINT) AS x FROM hh GROUP BY 1),
        |bb AS (SELECT min(h) AS lo, max(h) AS hi FROM c),
        |axis AS (SELECT unnest(range(bb.lo, bb.hi + 1)) AS t FROM bb),
        |dense AS (
        |  SELECT axis.t,
        |    CAST(round(CAST(coalesce(c.x, 0) AS DOUBLE), 6) AS DECIMAL(18,6)) AS xd
        |  FROM axis LEFT JOIN c ON c.h = axis.t),
        |pf AS (SELECT t, xd,
        |        sum(xd) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS s,
        |        CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i
        |      FROM dense),
        |tot AS (SELECT sum(xd) AS sn, CAST(count(*) AS BIGINT) AS n FROM dense),
        |sc AS (SELECT pf.t, pf.i, tot.n, pf.s, tot.sn,
        |        round((CAST(tot.n AS DOUBLE) * CAST(pf.s AS DOUBLE)
        |            - CAST(pf.i AS DOUBLE) * CAST(tot.sn AS DOUBLE))
        |          * (CAST(tot.n AS DOUBLE) * CAST(pf.s AS DOUBLE)
        |            - CAST(pf.i AS DOUBLE) * CAST(tot.sn AS DOUBLE))
        |          / (CAST(tot.n AS DOUBLE) * CAST(pf.i AS DOUBLE)
        |            * (CAST(tot.n AS DOUBLE) - CAST(pf.i AS DOUBLE))), 6) AS g
        |      FROM pf, tot WHERE pf.i < tot.n)
        |SELECT t AS t_split, i, n, g AS score,
        |  round(CAST(s AS DOUBLE) / CAST(i AS DOUBLE), 6) AS mean_left,
        |  round(CAST(sn - s AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE)), 6)
        |    AS mean_right
        |FROM sc ORDER BY g DESC, t LIMIT 1""".stripMargin,

    // q272: hourly counts → sign-pair fold (quadratic in the bounded
    // series) → tie-corrected variance → continuity-corrected z
    "q272_mann_kendall" ->
      """WITH e0 AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS x FROM events),
        |c AS (SELECT event_type, x, CAST(count(*) AS BIGINT) AS y
        |      FROM e0 GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |        CAST(sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END)
        |          AS BIGINT) AS s
        |      FROM c a JOIN c b ON b.event_type = a.event_type AND a.x < b.x
        |      GROUP BY 1),
        |t AS (SELECT event_type, y, CAST(count(*) AS BIGINT) AS tt FROM c GROUP BY 1, 2),
        |v AS (SELECT event_type, CAST(sum(tt) AS BIGINT) AS n,
        |        sum(CAST(tt AS DECIMAL(12,0)) * CAST(tt - 1 AS DECIMAL(12,0))
        |          * CAST(tt * 2 + 5 AS DECIMAL(12,0))) AS tc
        |      FROM t GROUP BY 1),
        |w AS (SELECT v.event_type, v.n, p.s,
        |        (CAST(CAST(v.n AS DECIMAL(12,0)) * CAST(v.n - 1 AS DECIMAL(12,0))
        |            * CAST(v.n * 2 + 5 AS DECIMAL(12,0)) AS DOUBLE)
        |          - CAST(v.tc AS DOUBLE)) / CAST(18.0 AS DOUBLE) AS vs
        |      FROM v JOIN p ON p.event_type = v.event_type)
        |SELECT event_type, n, s, round(vs, 6) AS var_s,
        |  CASE WHEN vs > 0 THEN
        |    round(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(vs)
        |               WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(vs)
        |               ELSE 0.0 END, 6)
        |  END AS z
        |FROM w""".stripMargin,

    // q267: 3 unrolled row+column IPF sweeps, each pass re-rounded to
    // scale 9 and decimal-cast so every margin sum is an exact fold
    "q267_raking" ->
      """WITH cells0 AS (
        |  SELECT source AS r, lang AS c, CAST(count(*) AS BIGINT) AS n FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
        |        CAST(count(DISTINCT r) AS BIGINT) AS nr,
        |        CAST(count(DISTINCT c) AS BIGINT) AS nc
        |      FROM cells0),
        |w0 AS (SELECT r, c, n,
        |        CAST(round(CAST(n AS DOUBLE), 9) AS DECIMAL(28,9)) AS w FROM cells0),
        |r1m AS (SELECT r, sum(w) AS rs FROM w0 GROUP BY 1),
        |w1 AS (SELECT w0.r, w0.c, w0.n,
        |        CAST(round(CAST(w0.w AS DOUBLE) * (CAST(t.tn AS DOUBLE) / t.nr)
        |          / CAST(r1m.rs AS DOUBLE), 9) AS DECIMAL(28,9)) AS w
        |       FROM w0 JOIN r1m ON r1m.r = w0.r, t),
        |c1m AS (SELECT c, sum(w) AS cs FROM w1 GROUP BY 1),
        |w2 AS (SELECT w1.r, w1.c, w1.n,
        |        CAST(round(CAST(w1.w AS DOUBLE) * (CAST(t.tn AS DOUBLE) / t.nc)
        |          / CAST(c1m.cs AS DOUBLE), 9) AS DECIMAL(28,9)) AS w
        |       FROM w1 JOIN c1m ON c1m.c = w1.c, t),
        |r2m AS (SELECT r, sum(w) AS rs FROM w2 GROUP BY 1),
        |w3 AS (SELECT w2.r, w2.c, w2.n,
        |        CAST(round(CAST(w2.w AS DOUBLE) * (CAST(t.tn AS DOUBLE) / t.nr)
        |          / CAST(r2m.rs AS DOUBLE), 9) AS DECIMAL(28,9)) AS w
        |       FROM w2 JOIN r2m ON r2m.r = w2.r, t),
        |c2m AS (SELECT c, sum(w) AS cs FROM w3 GROUP BY 1),
        |w4 AS (SELECT w3.r, w3.c, w3.n,
        |        CAST(round(CAST(w3.w AS DOUBLE) * (CAST(t.tn AS DOUBLE) / t.nc)
        |          / CAST(c2m.cs AS DOUBLE), 9) AS DECIMAL(28,9)) AS w
        |       FROM w3 JOIN c2m ON c2m.c = w3.c, t),
        |r3m AS (SELECT r, sum(w) AS rs FROM w4 GROUP BY 1),
        |w5 AS (SELECT w4.r, w4.c, w4.n,
        |        CAST(round(CAST(w4.w AS DOUBLE) * (CAST(t.tn AS DOUBLE) / t.nr)
        |          / CAST(r3m.rs AS DOUBLE), 9) AS DECIMAL(28,9)) AS w
        |       FROM w4 JOIN r3m ON r3m.r = w4.r, t),
        |c3m AS (SELECT c, sum(w) AS cs FROM w5 GROUP BY 1),
        |w6 AS (SELECT w5.r, w5.c, w5.n,
        |        CAST(round(CAST(w5.w AS DOUBLE) * (CAST(t.tn AS DOUBLE) / t.nc)
        |          / CAST(c3m.cs AS DOUBLE), 9) AS DECIMAL(28,9)) AS w
        |       FROM w5 JOIN c3m ON c3m.c = w5.c, t)
        |SELECT r AS row_key, c AS col_key, n,
        |  round(CAST(w AS DOUBLE), 6) AS weight,
        |  round(CAST(w AS DOUBLE) / n, 6) AS factor
        |FROM w6""".stripMargin,
    "q01_scan_derive" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag AS flag,
        |       l_orderkey || '_' || l_linenumber AS rowkey
        |FROM lineitem""".stripMargin,

    "q02_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q03_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q04_join_region" ->
      """SELECT r_name, count(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q05_max_id" -> "SELECT max(o_orderkey) AS max_id FROM orders",

    "q06_union_ids" ->
      """SELECT c_custkey AS id, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, 'supplier' AS kind FROM supplier""".stripMargin,

    "q07_sim_selfjoin" ->
      """SELECT a.s_suppkey AS src, b.s_suppkey AS dst, 1 AS "propVal"
        |FROM supplier a JOIN supplier b
        |  ON a.s_suppkey > b.s_suppkey
        | AND a.s_nationkey IS NOT DISTINCT FROM b.s_nationkey""".stripMargin,

    "q08_sim_or_leaves" ->
      """SELECT a.s_suppkey AS src, b.s_suppkey AS dst,
        |  (CASE WHEN a.s_nationkey IS NOT DISTINCT FROM b.s_nationkey THEN 1 ELSE 0 END
        |   + CASE WHEN a.s_acctbal IS NOT DISTINCT FROM b.s_acctbal THEN 1 ELSE 0 END) AS "propVal"
        |FROM supplier a JOIN supplier b
        |  ON a.s_suppkey > b.s_suppkey
        | AND (a.s_nationkey IS NOT DISTINCT FROM b.s_nationkey
        |      OR a.s_acctbal IS NOT DISTINCT FROM b.s_acctbal)""".stripMargin,

    "q09_samevalue_edges" ->
      """SELECT least(a.o_orderkey, b.o_orderkey) AS src,
        |       greatest(a.o_orderkey, b.o_orderkey) AS dst,
        |       'custkey' AS "propVal"
        |FROM orders a JOIN orders b
        |  ON a.o_orderkey % 2 = 1 AND b.o_orderkey % 2 = 0 AND a.o_custkey = b.o_custkey
        |UNION ALL
        |SELECT least(a.o_orderkey, b.o_orderkey) AS src,
        |       greatest(a.o_orderkey, b.o_orderkey) AS dst,
        |       'custkey' AS "propVal"
        |FROM orders a JOIN orders b
        |  ON a.o_orderkey % 2 = 1 AND b.o_orderkey % 2 = 1
        | AND a.o_orderkey < b.o_orderkey AND a.o_custkey = b.o_custkey""".stripMargin,

    "q10_twomode_catalog" ->
      """SELECT event_id AS src,
        |  CAST(CASE event_type WHEN 'click' THEN 11 WHEN 'view' THEN 12 END AS BIGINT) AS dst,
        |  CAST(0.0 AS DOUBLE) AS "propVal"
        |FROM events WHERE event_type IN ('click', 'view')""".stripMargin,

    "q11_twomode_direct" ->
      """SELECT event_id AS src, CAST(21 AS BIGINT) AS dst, CAST(0.0 AS DOUBLE) AS "propVal"
        |FROM events WHERE CAST(floor(value / 100) AS INT) > 1""".stripMargin,

    "q38_twomode_multi" ->
      """SELECT event_id AS src, CAST(31 AS BIGINT) AS dst, CAST(0.0 AS DOUBLE) AS "propVal"
        |FROM events WHERE event_type = 'click' AND value > 250
        |UNION ALL
        |SELECT event_id AS src, CAST(32 AS BIGINT) AS dst, CAST(0.0 AS DOUBLE) AS "propVal"
        |FROM events WHERE CAST(floor(value / 100) AS INT) > 1""".stripMargin,

    "q39_twomode_supernova" ->
      """SELECT event_id AS src, CAST(41 AS BIGINT) AS dst, CAST(0.0 AS DOUBLE) AS "propVal"
        |FROM events
        |WHERE value / 500 > 0.75 AND value / 490 > 0.75 AND value / 600 > 0.5
        |  AND CAST(floor(value) AS INT) < 400
        |  AND CAST(value / 700 AS REAL) > CAST(0.4 AS REAL)
        |  AND event_type IN ('click', 'view', 'purchase')""".stripMargin,

    "q12_dense_ids" ->
      """SELECT 200 + row_number() OVER (ORDER BY s_suppkey) AS id, s_suppkey, s_name
        |FROM supplier""".stripMargin,

    "q13_topk_orders" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
        |FROM orders ORDER BY total DESC, o_orderkey LIMIT 10""".stripMargin,

    "q14_window_hourly" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q15_window_rank" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "q16_text_analyze" ->
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS toks,
         |    regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks,
         |    length(text) AS n,
         |    CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) AS npunct
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, text, n,
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE CAST(len(toks) AS INT) END AS token_count,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE CAST(list_sum(list_transform(toks, x -> CAST(ceil(length(x) / 4.0) AS INT))) AS INT)
         |    END AS bpeish_tokens,
         |    round(npunct / greatest(n, 1), 6) AS punct_ratio,
         |    round(CAST(len(list_filter(ltoks, x -> x IN ($stop10))) AS DOUBLE)
         |          / greatest(len(ltoks), 1), 6) AS stopword_ratio,
         |    round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
         |          / greatest(len(toks), 1), 6) AS mean_word_len,
         |    round(npunct / greatest(n, 1), 10) AS p10,
         |    round(CAST(len(list_filter(ltoks, x -> x IN ($stop10))) AS DOUBLE)
         |          / greatest(len(ltoks), 1), 10) AS s10,
         |    len(list_filter(ltoks, x -> x IN ('the','and','of','is'))) AS s_en,
         |    len(list_filter(ltoks, x -> x IN ('der','die','und','das'))) AS s_de,
         |    len(list_filter(ltoks, x -> x IN ('le','la','et','les'))) AS s_fr,
         |    len(list_filter(ltoks, x -> x IN ('el','los','que','y'))) AS s_es
         |  FROM base
         |)
         |SELECT doc_id, token_count, bpeish_tokens, punct_ratio, stopword_ratio, mean_word_len,
         |  round((least(n / 500.0, 1.0) + (1.0 - least(p10 * 10.0, 1.0))
         |         + least(s10 * 5.0, 1.0)) / 3.0, 6) AS quality_score,
         |  CASE WHEN greatest(s_en, s_de, s_fr, s_es) > 0 THEN
         |    CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         |         WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         |         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         |         ELSE 'es' END
         |  ELSE 'und' END AS lang_pred,
         |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
         |FROM m""".stripMargin,

    "q28_text_rolling_fp" ->
      """SELECT doc_id,
        |  unnest(list_transform(range(greatest(len(toks) - 8, 0) + 1),
        |    i -> md5(array_to_string(toks[(i + 1):(i + 8)], ' ')))) AS fp
        |FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |      FROM documents)""".stripMargin,

    "q17_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,

    // Full MinHash+LSH replication: shingles → 16 seeded md5-hash minima →
    // 4 band buckets → candidate equi-join → exact-jaccard verification.
    "q18_dedup_minhash" ->
      s"""WITH sh AS (
         |  SELECT doc_id AS id,
         |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
         |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
         |        FROM documents)
         |), sig AS (
         |  SELECT id,
         |    list_transform(range(16), s ->
         |      list_min(list_transform(sh, x -> ${md5l("CAST(s AS VARCHAR) || ':' || x")}))) AS sig
         |  FROM sh
         |), banded AS (
         |  SELECT id, b.band AS band,
         |    ${md5l("array_to_string(sig[(CAST(b.band AS INT) * 4 + 1):(CAST(b.band AS INT) * 4 + 4)], ',')")} AS bucket
         |  FROM sig, (SELECT unnest(range(4)) AS band) b
         |), pairs AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
         |), j AS (
         |  SELECT id_a, id_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
         |  FROM pairs JOIN sh sa ON sa.id = pairs.id_a JOIN sh sb ON sb.id = pairs.id_b
         |)
         |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.2""".stripMargin,

    // q18's CTEs verbatim through the candidate join, then per-pair: the
    // component-agreement count over the 16 signature slots (est), the
    // exact shingle Jaccard, and the rounded absolute error
    "q124_dedup_minhash_est" ->
      s"""WITH sh AS (
         |  SELECT doc_id AS id,
         |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
         |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
         |        FROM documents)
         |), sig AS (
         |  SELECT id,
         |    list_transform(range(16), s ->
         |      list_min(list_transform(sh, x -> ${md5l("CAST(s AS VARCHAR) || ':' || x")}))) AS sig
         |  FROM sh
         |), banded AS (
         |  SELECT id, b.band AS band,
         |    ${md5l("array_to_string(sig[(CAST(b.band AS INT) * 4 + 1):(CAST(b.band AS INT) * 4 + 4)], ',')")} AS bucket
         |  FROM sig, (SELECT unnest(range(4)) AS band) b
         |), pairs AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
         |), e AS (
         |  SELECT id_a, id_b,
         |    round(CAST(len(list_filter(range(16),
         |      i -> ga.sig[CAST(i AS INT) + 1] = gb.sig[CAST(i AS INT) + 1])) AS DOUBLE) / 16, 6) AS est_jaccard,
         |    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
         |  FROM pairs
         |  JOIN sig ga ON ga.id = pairs.id_a JOIN sig gb ON gb.id = pairs.id_b
         |  JOIN sh sa ON sa.id = pairs.id_a JOIN sh sb ON sb.id = pairs.id_b
         |)
         |SELECT id_a, id_b, est_jaccard, jaccard,
         |  round(abs(est_jaccard - jaccard), 6) AS est_err FROM e""".stripMargin,

    // q18's minhash pipeline replicated across the 300-split: band-bucket
    // candidates between new (>= 300) and history (< 300), exact-jaccard
    // verified at 0.7. The bloom prune on the Spark side is invisible here
    // by design — no false negatives ⇒ identical result set.
    "q47_dedup_incremental" -> incrementalMinhashOracleSql,

    // Full SimHash replication: token md5-hashes → per-bit majority votes
    // (bits 0..59; the portable hash has 60 uniform bits, upper bits vote
    // negative in both engines) → 16-bit chunk blocking → hamming filter.
    "q29_dedup_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
         |  FROM documents
         |), hashed AS (
         |  SELECT id, ${md5l("tok")} AS h FROM toks
         |), votes AS (
         |  SELECT id, bits.i AS bit,
         |    sum(CASE WHEN (h >> CAST(bits.i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM hashed, (SELECT unnest(range(60)) AS i) bits
         |  GROUP BY 1, 2
         |), sigs AS (
         |  SELECT id,
         |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM votes GROUP BY 1
         |), chunked AS (
         |  SELECT id, simhash, c.c AS chunk,
         |    (simhash >> CAST(c.c * 16 AS INT)) & 65535 AS key
         |  FROM sigs, (SELECT unnest(range(4)) AS c) c
         |), pairs AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.simhash AS sa, b.simhash AS sb
         |  FROM chunked a JOIN chunked b ON a.chunk = b.chunk AND a.key = b.key AND a.id < b.id
         |)
         |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
         |FROM pairs WHERE bit_count(xor(sa, sb)) <= 8""".stripMargin,

    // Full LSH-ANN replication: md5-derived hyperplanes → bucket of every
    // vector and of the query → bucket-restricted cosine top-k.
    "q22_ann_lsh" ->
      s"""WITH q AS (SELECT list_transform(range(1, 65), i -> sin(CAST(i AS DOUBLE))) AS qv),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |qb AS (SELECT ${lshBucket("qv")} AS b FROM q),
         |be AS (SELECT vec_id, v, ${lshBucket("v")} AS b FROM e)
         |SELECT vec_id,
         |  round(list_dot_product(v, qv)
         |        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS score
         |FROM be, q, qb WHERE be.b = qb.b
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    // Recall gate: the Spark side computes recall@10 of IVF vs brute force
    // and emits (k, recall_pass); the oracle pins the expected row.
    "q27_ann_ivf" -> "SELECT 10 AS k, CAST(TRUE AS BOOLEAN) AS recall_pass",

    // Same gate pattern for the int8-quantized scan.
    "q43_ann_quantized" -> "SELECT 10 AS k, CAST(TRUE AS BOOLEAN) AS sq_recall_pass",
    "q122_ann_pq" -> "SELECT 10 AS k, CAST(TRUE AS BOOLEAN) AS pq_recall_pass",
    "q125_ann_ivfpq" -> "SELECT 10 AS k, CAST(TRUE AS BOOLEAN) AS ivfpq_recall_pass",
    // q116-style self-verifying gate: the Spark side asserts DF ≡ GraphX
    // personalized ranks to 1e-6 before emitting the row
    "q126_graph_ppr" -> "SELECT CAST(1 AS BIGINT) AS source_id, CAST(TRUE AS BOOLEAN) AS ppr_pass",

    // q309: the gate row — monotonicity + weighted-mean preservation are
    // PAVA's defining properties, proved by the query itself
    "q309_isotonic" ->
      ("SELECT CAST(20 AS BIGINT) AS bins, " +
        "CAST(TRUE AS BOOLEAN) AS isotonic_pass"),

    // q371: the gate row — consistency of the diameter against its own
    // curve (the ANF estimates themselves are q304's gated surface)
    "q371_eff_diameter" ->
      ("SELECT CAST(3 AS INTEGER) AS max_hop, CAST(TRUE AS BOOLEAN) AS ed_pass"),

    // q373: the gate row — warm-resume ≡ cold-rebuild equality is proved
    // inside the query; the oracle pins the vertex universe
    "q373_anf_warm" ->
      ("SELECT CAST(count(DISTINCT l_partkey) + count(DISTINCT l_suppkey) AS BIGINT) " +
        "AS n_vertices, CAST(TRUE AS BOOLEAN) AS warm_pass FROM lineitem"),

    // q304: the gate row — the query itself proves the HLL reach
    // estimates against landmarkDistances' exact balls (q126's pattern)
    "q304_graph_anf" ->
      ("SELECT CAST(3 AS BIGINT) AS hops, CAST(10 AS BIGINT) AS sources_checked, " +
        "CAST(TRUE AS BOOLEAN) AS anf_pass"),
    "q127_ann_ivfpq_knn" -> "SELECT 5 AS n_queries, CAST(TRUE AS BOOLEAN) AS knn_recall_pass",

    "q19_dedup_ngram" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents)
        |), sizes AS (SELECT id, len(sh) AS sz FROM sh),
        |postings AS (SELECT id, unnest(sh) AS shingle FROM sh),
        |pruned AS (
        |  SELECT id, shingle FROM (
        |    SELECT id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM postings)
        |  WHERE df <= 100
        |),
        |co AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |  FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b,
        |  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        |FROM co JOIN sizes sa ON co.id_a = sa.id JOIN sizes sb ON co.id_b = sb.id
        |WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.2""".stripMargin,

    // Exact high-threshold Jaccard — the oracle brute-forces every pair
    // (fine at oracle scale); the Spark side's prefix filter is exact by
    // the no-false-negative lemma, so the sets must match.
    "q48_dedup_prefix_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents)
        |), j AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
        |  FROM sh a JOIN sh b ON a.id < b.id
        |)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.7""".stripMargin,

    // q48's exact pair set closed into components with a recursive
    // transitive-closure CTE (fine at oracle scale); cluster_id = smallest
    // reachable doc id, matching the GraphX connected-components convention.
    "q50_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents)
        |), j AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
        |  FROM sh a JOIN sh b ON a.id < b.id
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM j WHERE jac >= 0.7
        |  UNION SELECT id_b, id_a FROM j WHERE jac >= 0.7
        |), reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |), comp AS (
        |  SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a
        |)
        |SELECT d.doc_id AS doc_id,
        |  coalesce(c.cluster, d.doc_id) AS cluster_id,
        |  coalesce(c.cluster = d.doc_id, TRUE) AS keep
        |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin,

    // q50's closure CTE + two rollups (cluster → size → count)
    "q118_cluster_sizes" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents)
        |), j AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
        |  FROM sh a JOIN sh b ON a.id < b.id
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM j WHERE jac >= 0.7
        |  UNION SELECT id_b, id_a FROM j WHERE jac >= 0.7
        |), reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |), comp AS (
        |  SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a
        |), labeled AS (
        |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        |), per AS (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM labeled GROUP BY 1
        |)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM per GROUP BY 1""".stripMargin,

    // q50's pair CTE + unordered source-pair bucketing
    "q86_source_overlap" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents)
        |), j AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
        |  FROM sh a JOIN sh b ON a.id < b.id
        |), p AS (SELECT id_a, id_b FROM j WHERE jac >= 0.7)
        |SELECT least(da.source, db.source) AS source_x,
        |  greatest(da.source, db.source) AS source_y,
        |  count(*) AS n_pairs
        |FROM p JOIN documents da ON p.id_a = da.doc_id
        |       JOIN documents db ON p.id_b = db.doc_id
        |GROUP BY 1, 2""".stripMargin,

    // the oracle verifies the SEMANTICS (all pairs within distance 1), not
    // the blocking: a naive length-banded cross join is feasible at the
    // gate's SF, and deletion-neighborhood blocking is exact (lemma in
    // FuzzyJoin.scala), so both formulations name the same pair set
    "q87_fuzzy_editdist" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        | AND abs(len(a.c_name) - len(b.c_name)) <= 1
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,

    // rank by the ROUNDED tfidf on both engines (an ulp of ln() cannot
    // reorder), ties by token; N is the full document count
    "q88_text_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM t WHERE token <> '' GROUP BY 1, 2
        |), dfq AS (SELECT token, count(*) AS d FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.d), 6) AS tfidf
        |  FROM tf JOIN dfq USING (token) CROSS JOIN n
        |), r AS (
        |  SELECT doc_id, token, tf, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT doc_id, token, tf, tfidf, rnk FROM r WHERE rnk <= 5""".stripMargin,

    // q19's shingle/postings/df-prune shape over the snippet-augmented
    // corpus, but directional (a.id <> b.id) and normalized by the SOURCE
    // size only
    "q89_dedup_containment" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, array_to_string(toks[1:10], ' ') AS text
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents)
        |  WHERE doc_id % 5 = 0 AND len(toks) >= 12
        |), sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM base)
        |), sizes AS (SELECT id, len(sh) AS sz FROM sh),
        |postings AS (SELECT id, unnest(sh) AS shingle FROM sh),
        |pruned AS (
        |  SELECT id, shingle FROM (
        |    SELECT id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM postings)
        |  WHERE df <= 1000
        |), co AS (
        |  SELECT a.id AS src_id, b.id AS dst_id, count(*) AS inter
        |  FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.id <> b.id
        |  GROUP BY 1, 2
        |)
        |SELECT src_id, dst_id,
        |  round(CAST(inter AS DOUBLE) / ss.sz, 6) AS containment
        |FROM co JOIN sizes ss ON co.src_id = ss.id
        |WHERE round(CAST(inter AS DOUBLE) / ss.sz, 6) >= 0.9""".stripMargin,

    // u = (md5 bucket + 1)/1e6 exactly as the Spark side; rank on the
    // ROUNDED ln(u)/w with doc_id ties — the q45-family portable hash rule
    // replica of the hashing-trick model: unigram+bigram features, md5
    // bucket at seed 7, integer weight from the bucket id at seed 8;
    // exact integer sum, one IEEE division, sigmoid, round 6
    "q95_text_ngram_classifier" -> ngramClassifierOracle,

    // identical expected output to q95 by construction (the served weight
    // table IS the derived rule materialized) — hash equality proves the
    // broadcast-join serving path computes exactly what the inline rule
    // does
    "q120_text_ngram_serve" -> ngramClassifierOracle,

    // closed form of self-vote min-tie LPA on clique unions: nations with
    // ≥ 2 suppliers converge to the nation's min supplier id; singletons
    // keep their own id
    "q96_graph_lpa" ->
      """WITH d AS (
        |  SELECT s_suppkey,
        |    min(s_suppkey) OVER (PARTITION BY s_nationkey) AS mn,
        |    count(*) OVER (PARTITION BY s_nationkey) AS cnt
        |  FROM supplier)
        |SELECT CAST(s_suppkey AS BIGINT) AS id,
        |  CAST(CASE WHEN cnt > 1 THEN mn ELSE s_suppkey END AS BIGINT) AS community
        |FROM d""".stripMargin,

    // earliest-anchor greedy funnel at µs resolution; 7 days = 6048e8 µs
    "q97_event_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
        |s1 AS (SELECT user_id, min(tsu) AS ts_1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, ts_1, min(tsu) AS ts_2
        |       FROM s1 JOIN e ON s1.user_id = e.user_id
        |       WHERE event_type = 'click' AND tsu > ts_1 AND tsu <= ts_1 + 604800000000
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, min(tsu) AS ts_3
        |       FROM s2 JOIN e ON s2.user_id = e.user_id
        |       WHERE event_type = 'purchase' AND tsu > ts_2 AND tsu <= ts_1 + 604800000000
        |       GROUP BY 1)
        |SELECT s1.user_id, s1.ts_1, s2.ts_2, s3.ts_3,
        |  CAST(1 + CASE WHEN ts_2 IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN ts_3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS steps_completed
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,

    // daily cohorts at µs resolution; 1 day = 864e8 µs
    "q98_cohort_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
        |f AS (SELECT user_id, min(tsu) // 86400000000 AS cohort FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, tsu // 86400000000 AS b FROM e),
        |c AS (SELECT cohort, b - cohort AS "offset", CAST(count(*) AS BIGINT) AS users
        |      FROM a JOIN f USING (user_id) GROUP BY 1, 2),
        |s AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size FROM f GROUP BY 1)
        |SELECT cohort, "offset", users, cohort_size,
        |  round(CAST(users AS DOUBLE) / cohort_size, 6) AS rate
        |FROM c JOIN s USING (cohort)""".stripMargin,

    "q102_decontaminate_semantic" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ev AS (SELECT v FROM e WHERE vec_id % 20 = 0),
        |tr AS (SELECT vec_id, v FROM e WHERE vec_id % 20 <> 0),
        |s AS (
        |  SELECT tr.vec_id,
        |    list_dot_product(tr.v, ev.v)
        |      / (sqrt(list_dot_product(tr.v, tr.v)) * sqrt(list_dot_product(ev.v, ev.v))) AS sim
        |  FROM tr CROSS JOIN ev),
        |a AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN sim >= 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
        |    round(max(sim), 6) AS max_sim
        |  FROM s GROUP BY 1)
        |SELECT vec_id, n_matches, max_sim, n_matches > 0 AS contaminated FROM a""".stripMargin,

    "q103_event_timeseries" ->
      """WITH c AS (
        |  SELECT event_type, (epoch_ns(ts) // 1000) // 3600000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, bucket, n,
        |  round(avg(n) OVER (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma
        |FROM c""".stripMargin,

    // replica of the zero-shuffle fold: same winner election (count desc,
    // gram asc) via an explicit window over the per-(doc, gram) counts
    "q104_text_gopher" ->
      raw"""WITH w AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
         |                x -> x <> '') AS ws
         |  FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(ws)),
         |                          i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])) AS gram
         |  FROM w),
         |gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
         |best AS (
         |  SELECT doc_id, gram, c,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn
         |  FROM gc),
         |tot AS (
         |  SELECT doc_id, len(ws) AS n_words,
         |    list_aggregate(list_transform(ws, x -> length(x)), 'sum') AS chars,
         |    len(list_distinct(ws)) AS nd
         |  FROM w)
         |SELECT t.doc_id, CAST(t.n_words AS BIGINT) AS n_words,
         |  round(CASE WHEN t.n_words = 0 THEN 0.0
         |    ELSE 1.0 - CAST(t.nd AS DOUBLE) / t.n_words END, 6) AS dup_word_frac,
         |  coalesce(b.gram, '') AS top_ngram,
         |  CAST(coalesce(b.c, 0) AS BIGINT) AS top_ngram_count,
         |  round(CASE WHEN coalesce(b.c, 0) = 0 OR t.chars = 0 THEN 0.0
         |    ELSE b.c * CAST(length(b.gram) - 1 AS DOUBLE) / t.chars END, 6) AS top_ngram_frac
         |FROM tot t LEFT JOIN best b ON b.doc_id = t.doc_id AND b.rn = 1""".stripMargin,

    "q105_json_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k
        |FROM events GROUP BY 1""".stripMargin,

    "q106_length_histogram" ->
      """WITH b AS (
        |  SELECT lang,
        |    CAST(least(greatest(floor(CAST(n_chars AS DOUBLE) / 50.0), 0), 11) AS BIGINT) AS bin
        |  FROM documents)
        |SELECT lang, bin,
        |  round(bin * CAST(50.0 AS DOUBLE), 6) AS bin_lo,
        |  round((bin + 1) * CAST(50.0 AS DOUBLE), 6) AS bin_hi,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY 1, 2""".stripMargin,

    "q107_ntile_bins" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS bin
        |FROM documents""".stripMargin,

    // replica of the decimal-moment formulation: DECIMAL(18,6) inputs,
    // exact decimal sums, then the SAME double closed forms text-for-text
    // (sum of DECIMAL(18,6) and of the (37,12) products stays inside both
    // engines' 38-digit cap, so every engine sees identical sum values)
    "q108_linear_fit" ->
      raw"""WITH d AS (
         |  SELECT lang,
         |    CAST((CASE WHEN length(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
         |         AS DECIMAL(18,6)) AS xd,
         |    CAST(n_chars AS DECIMAL(18,6)) AS yd
         |  FROM documents),
         |s AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(xd) AS DOUBLE) AS sx, CAST(sum(yd) AS DOUBLE) AS sy,
         |    CAST(sum(xd * yd) AS DOUBLE) AS sxy,
         |    CAST(sum(xd * xd) AS DOUBLE) AS sxx,
         |    CAST(sum(yd * yd) AS DOUBLE) AS syy
         |  FROM d GROUP BY 1)
         |SELECT lang, n,
         |  round(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
         |    THEN (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
         |    END, 6) AS corr,
         |  round(CASE WHEN (n * sxx - sx * sx) > 0
         |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
         |  round(CASE WHEN (n * sxx - sx * sx) > 0
         |    THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
         |    END, 6) AS intercept
         |FROM s""".stripMargin,

    // replica of the epoch explode: whole copies from ⌊f⌋, the extra copy
    // where the q45 hash bucket clears frac(f)·10⁶ — en 2/500000,
    // de 0/500000, default 1/0
    "q109_sample_epochs" ->
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |    (CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 0 ELSE 1 END)
         |    + (CASE WHEN ${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 1000000
         |            < (CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 500000 ELSE 0 END)
         |       THEN 1 ELSE 0 END) AS n
         |  FROM documents)
         |SELECT doc_id, lang, CAST(unnest(range(1, n + 1)) AS BIGINT) AS epoch
         |FROM r WHERE n >= 1""".stripMargin,

    // one aggregate row per engine, unpacked into the same six check rows;
    // every metric is an exact-integer ratio through one double division
    "q139_validate_report" ->
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    count(text) AS nn_text,
        |    count(DISTINCT doc_id) AS dc_id, count(doc_id) AS nn_id,
        |    count(*) FILTER (lang IN ('en','de','es','fr')) AS st_lang, count(lang) AS nn_lang,
        |    count(*) FILTER (n_chars BETWEEN 100 AND 2000) AS rg_nc, count(n_chars) AS nn_nc,
        |    count(*) FILTER (regexp_matches(source, '^src[0-9]+$')) AS re_src, count(source) AS nn_src
        |  FROM documents)
        |SELECT 'not_null(text)' AS "check", 'text' AS "column",
        |  round(CAST(nn_text AS DOUBLE) / n, 6) AS metric,
        |  CAST(1.0 AS DOUBLE) AS threshold,
        |  coalesce(CAST(nn_text AS DOUBLE) / n >= 1.0, FALSE) AS pass FROM a
        |UNION ALL
        |SELECT 'unique(doc_id)', 'doc_id',
        |  round(CAST(dc_id AS DOUBLE) / nn_id, 6), CAST(1.0 AS DOUBLE),
        |  coalesce(dc_id = nn_id, TRUE) FROM a
        |UNION ALL
        |SELECT 'in_set(lang)', 'lang',
        |  round(CAST(st_lang AS DOUBLE) / nn_lang, 6), CAST(0.9 AS DOUBLE),
        |  coalesce(CAST(st_lang AS DOUBLE) / nn_lang >= 0.9, FALSE) FROM a
        |UNION ALL
        |SELECT 'in_range(n_chars,100.0,2000.0)', 'n_chars',
        |  round(CAST(rg_nc AS DOUBLE) / nn_nc, 6), CAST(0.9 AS DOUBLE),
        |  coalesce(CAST(rg_nc AS DOUBLE) / nn_nc >= 0.9, FALSE) FROM a
        |UNION ALL
        |SELECT 'matches(source)', 'source',
        |  round(CAST(re_src AS DOUBLE) / nn_src, 6), CAST(1.0 AS DOUBLE),
        |  coalesce(CAST(re_src AS DOUBLE) / nn_src >= 1.0, FALSE) FROM a
        |UNION ALL
        |SELECT 'row_count(100,1000000000)', '',
        |  round(CAST(n AS DOUBLE), 6), CAST(100.0 AS DOUBLE),
        |  n BETWEEN 100 AND 1000000000 FROM a""".stripMargin,

    // replica of the sketch inner product: per-depth bucket sums on BOTH
    // sides (seeds 100..103, width 256), est = least of the four counter
    // inner products; exact join size alongside proves the one-sided bound
    "q140_join_size_est" ->
      s"""WITH ca AS (SELECT CAST(l_partkey AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
         |cb AS (SELECT CAST(p_partkey AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS c FROM part GROUP BY 1),
         |a0 AS (SELECT ${md5l("'100:' || k")} % 256 AS b, sum(c) AS s FROM ca GROUP BY 1),
         |a1 AS (SELECT ${md5l("'101:' || k")} % 256 AS b, sum(c) AS s FROM ca GROUP BY 1),
         |a2 AS (SELECT ${md5l("'102:' || k")} % 256 AS b, sum(c) AS s FROM ca GROUP BY 1),
         |a3 AS (SELECT ${md5l("'103:' || k")} % 256 AS b, sum(c) AS s FROM ca GROUP BY 1),
         |b0 AS (SELECT ${md5l("'100:' || k")} % 256 AS b, sum(c) AS s FROM cb GROUP BY 1),
         |b1 AS (SELECT ${md5l("'101:' || k")} % 256 AS b, sum(c) AS s FROM cb GROUP BY 1),
         |b2 AS (SELECT ${md5l("'102:' || k")} % 256 AS b, sum(c) AS s FROM cb GROUP BY 1),
         |b3 AS (SELECT ${md5l("'103:' || k")} % 256 AS b, sum(c) AS s FROM cb GROUP BY 1),
         |e0 AS (SELECT CAST(sum(x.s * y.s) AS BIGINT) AS v FROM a0 x JOIN b0 y USING (b)),
         |e1 AS (SELECT CAST(sum(x.s * y.s) AS BIGINT) AS v FROM a1 x JOIN b1 y USING (b)),
         |e2 AS (SELECT CAST(sum(x.s * y.s) AS BIGINT) AS v FROM a2 x JOIN b2 y USING (b)),
         |e3 AS (SELECT CAST(sum(x.s * y.s) AS BIGINT) AS v FROM a3 x JOIN b3 y USING (b)),
         |x AS (SELECT CAST(count(*) AS BIGINT) AS v
         |      FROM lineitem JOIN part ON l_partkey = p_partkey)
         |SELECT least(e0.v, e1.v, e2.v, e3.v) AS est, x.v AS exact,
         |  least(e0.v, e1.v, e2.v, e3.v) >= x.v AS one_sided_ok
         |FROM e0, e1, e2, e3, x""".stripMargin,

    // replica of the linear sketch: per-row bucket sums (seeds 100..103,
    // width 256), estimate = least of the four counters
    "q101_heavy_hitters" ->
      raw"""WITH t AS (
         |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
         |  FROM documents
         |), c AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS n FROM t WHERE token <> '' GROUP BY 1
         |), b0 AS (SELECT ${md5l("'100:' || token")} % 256 AS b, CAST(sum(n) AS BIGINT) AS s FROM c GROUP BY 1),
         |b1 AS (SELECT ${md5l("'101:' || token")} % 256 AS b, CAST(sum(n) AS BIGINT) AS s FROM c GROUP BY 1),
         |b2 AS (SELECT ${md5l("'102:' || token")} % 256 AS b, CAST(sum(n) AS BIGINT) AS s FROM c GROUP BY 1),
         |b3 AS (SELECT ${md5l("'103:' || token")} % 256 AS b, CAST(sum(n) AS BIGINT) AS s FROM c GROUP BY 1),
         |top AS (
         |  SELECT token, n,
         |    CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rnk
         |  FROM c)
         |SELECT top.token, top.n, least(b0.s, b1.s, b2.s, b3.s) AS est, rnk
         |FROM top
         |JOIN b0 ON b0.b = ${md5l("'100:' || top.token")} % 256
         |JOIN b1 ON b1.b = ${md5l("'101:' || top.token")} % 256
         |JOIN b2 ON b2.b = ${md5l("'102:' || top.token")} % 256
         |JOIN b3 ON b3.b = ${md5l("'103:' || top.token")} % 256
         |WHERE rnk <= 20""".stripMargin,

    "q100_length_trim" ->
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM r
        |WHERE pr >= 0.05 AND pr <= 0.95""".stripMargin,

    "q99_event_transitions" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
        |p AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS to_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM c""".stripMargin,

    "q94_sample_weighted" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang, n_chars,
         |    round(ln((${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 1000000 + 1)
         |            / 1000000.0) / n_chars, 6) AS score
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
         |), r AS (
         |  SELECT doc_id, lang, n_chars,
         |    row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rnk
         |  FROM s)
         |SELECT doc_id, lang, n_chars FROM r WHERE rnk <= 50""".stripMargin,

    // clique closed form: peeling either keeps a whole same-nation clique
    // (c−1 ≥ k) or removes it entirely, so no iteration is needed
    "q93_graph_kcore" ->
      """WITH c AS (SELECT s_nationkey, count(*) AS n FROM supplier GROUP BY 1)
        |SELECT s.s_suppkey AS id, CAST(c.n - 1 AS BIGINT) AS core_degree
        |FROM supplier s JOIN c ON s.s_nationkey = c.s_nationkey
        |WHERE c.n - 1 >= 3""".stripMargin,

    // both engines implement the textbook Jaro-Winkler (window max/2−1,
    // boost 0.1 over ≤4 prefix chars past 0.7, either-empty → 0) — the
    // formula's division order is fixed by its structure, so rounded-6
    // scores agree
    "q92_fuzzy_jw_score" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
        |  round(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS jw
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        | AND abs(len(a.c_name) - len(b.c_name)) <= 1
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,

    // char pairs weighted by word count; symbols extracted positionally
    // (substring over a generated index — chars, not bytes, both engines)
    "q91_text_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        |  FROM documents
        |), v AS (SELECT word, count(*) AS wc FROM w WHERE word <> '' GROUP BY 1),
        |p AS (
        |  SELECT substring(word, i + 1, 1) AS sym_l, substring(word, i + 2, 1) AS sym_r, wc
        |  FROM (SELECT word, wc, unnest(range(len(word) - 1)) AS i
        |        FROM v WHERE len(word) >= 2))
        |SELECT sym_l, sym_r, CAST(sum(wc) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1, 2""".stripMargin,

    // single-batch face of the stateful dedup: novel ⇔ min doc_id of the
    // fingerprint (the cross-batch path is spec-gated, not SQL-expressible)
    "q90_dedup_stream_fp" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  CAST(doc_id = min(doc_id) OVER (
        |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS BIGINT) AS novel
        |FROM documents""".stripMargin,

    // q28's rolling-window md5 fingerprints + first-holder-wins coverage;
    // reassembly is the q79-style ordered string_agg
    "q85_text_dedup_spans" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN text || ' this content is provided under the standard license agreement terms'
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM src),
        |w AS (
        |  SELECT doc_id, i, md5(array_to_string(toks[(i + 1):(i + 8)], ' ')) AS fp
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 8 + 1)) AS i
        |        FROM t WHERE len(toks) >= 8)),
        |dup AS (
        |  SELECT fp, min(doc_id) AS keep
        |  FROM (SELECT DISTINCT fp, doc_id FROM w)
        |  GROUP BY fp HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT w.doc_id, unnest(range(w.i, w.i + 8)) AS pos
        |  FROM w JOIN dup USING (fp) WHERE w.doc_id <> dup.keep),
        |tok AS (
        |  SELECT doc_id, u.pos AS pos, u.tok AS tok
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(len(toks)), p -> {'pos': p, 'tok': toks[p + 1]})) AS u
        |        FROM t)
        |  WHERE u.tok <> ''),
        |kept AS (
        |  SELECT tok.doc_id, tok.pos, tok.tok
        |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
        |  WHERE cov.pos IS NULL),
        |r AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text, count(*) AS kept
        |  FROM kept GROUP BY doc_id),
        |n AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM src)
        |SELECT n.doc_id, coalesce(r.clean_text, '') AS clean_text, n.n_tokens,
        |  CAST(n.n_tokens - coalesce(r.kept, 0) AS BIGINT) AS n_removed
        |FROM n LEFT JOIN r USING (doc_id)""".stripMargin,

    // q52's prefix-sum packing + ordered string_agg per (stream, bin)
    "q84_pack_assemble" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
        |    doc_id % 32 AS stream
        |  FROM documents
        |), o AS (
        |  SELECT doc_id, text, n_tokens, stream,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t)
        |SELECT stream, CAST(off // 1024 AS BIGINT) AS bin,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  string_agg(text, ' ' ORDER BY off % 1024, doc_id) AS text
        |FROM o GROUP BY 1, 2""".stripMargin,

    // rounded-before-rank scores (both engines), ties to the smaller
    // neighbor id — the window replica of the TopKAgg heap contract
    "q83_knn_join" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
        |s AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_dot_product(e.v, q.qv)
        |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
        |      AS score
        |  FROM e CROSS JOIN q),
        |r AS (
        |  SELECT query_id, neighbor_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5""".stripMargin,

    // q50's closure + the q45-style md5 bucket rule keyed on the cluster id
    "q82_split_leakage_safe" ->
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id AS id,
         |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
         |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
         |        FROM documents)
         |), j AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
         |  FROM sh a JOIN sh b ON a.id < b.id
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM j WHERE jac >= 0.7
         |  UNION SELECT id_b, id_a FROM j WHERE jac >= 0.7
         |), reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |), comp AS (
         |  SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a
         |), lab AS (
         |  SELECT d.doc_id AS doc_id, coalesce(c.cluster, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ${md5l("'42:' || CAST(cluster_id AS VARCHAR)")} % 1000000 < 200000
         |       THEN 'test' ELSE 'train' END AS split
         |FROM lab""".stripMargin,

    // q50's closure + the keep-longest policy as a per-cluster rank
    "q55_dedup_clusters_by" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents)
        |), j AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
        |  FROM sh a JOIN sh b ON a.id < b.id
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM j WHERE jac >= 0.7
        |  UNION SELECT id_b, id_a FROM j WHERE jac >= 0.7
        |), reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |), comp AS (
        |  SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a
        |), univ AS (
        |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster_id,
        |    CAST(CASE WHEN len(trim(d.text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(d.text), '\s+')) END AS BIGINT) AS nt
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
        |SELECT doc_id, cluster_id,
        |  row_number() OVER (PARTITION BY cluster_id ORDER BY nt DESC, doc_id) = 1 AS keep
        |FROM univ""".stripMargin,

    "q20_embed_cosine" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v)
        |        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.25""".stripMargin,

    "q21_ann_brute" ->
      """WITH q AS (SELECT list_transform(range(1, 65), i -> sin(CAST(i AS DOUBLE))) AS qv),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT vec_id,
        |  round(list_dot_product(v, qv)
        |        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS score
        |FROM e, q ORDER BY score DESC, vec_id LIMIT 20""".stripMargin,

    // Exact replication of the stratified-sample selection rule: the
    // portable md5 bucket vs per-lang thresholds (rates × 1e6).
    "q45_sample_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 1000000
         |  < CAST(CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
         |         WHEN 'fr' THEN 100000 ELSE 50000 END AS BIGINT)""".stripMargin,

    // the same hash family, mod k instead of a rate threshold
    "q131_sample_kfold" ->
      s"""SELECT doc_id, lang,
         |  ${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 5 AS fold
         |FROM documents""".stripMargin,

    // rank table + targeted draw + join, replayed exactly: rk is the
    // 0-based row_number in id order, the draw is the seeded md5 of
    // 'anchor:j' mod n, and self-pairs drop on both sides
    "q132_sample_negatives" ->
      s"""WITH ids AS (SELECT DISTINCT doc_id AS id FROM documents),
         |r AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS rk FROM ids),
         |cand AS (
         |  SELECT r.id AS anchor_id, CAST(j.j AS INT) AS j,
         |    ${md5l("'42:' || CAST(r.id AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)")}
         |      % (SELECT COUNT(*) FROM ids) AS trk
         |  FROM r, (SELECT unnest(range(2)) AS j) j
         |)
         |SELECT c.anchor_id, c.j, t.id AS negative_id
         |FROM cand c JOIN r t ON t.rk = c.trk
         |WHERE t.id <> c.anchor_id""".stripMargin,

    // rate derivation replicated in SQL: identical double-arithmetic
    // order (w·T/c with T = min(c/w)), identical rounding to the
    // 1e6-granularity threshold, then the portable md5 bucket rule
    "q57_sample_target_mix" ->
      s"""WITH cnt AS (
         |  SELECT lang, count(*) AS c FROM documents
         |  WHERE lang IN ('en', 'de', 'fr') GROUP BY 1
         |), w AS (SELECT * FROM (VALUES ('en', 0.5), ('de', 0.3), ('fr', 0.2)) AS t(lang, w)),
         |t AS (SELECT min(c / w) AS total FROM cnt JOIN w USING (lang)),
         |rate AS (
         |  SELECT lang, CAST(round(least(w * total / c, 1.0) * 1000000) AS BIGINT) AS thr
         |  FROM cnt JOIN w USING (lang), t)
         |SELECT d.doc_id, d.lang FROM documents d JOIN rate USING (lang)
         |WHERE ${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 1000000 < thr""".stripMargin,

    // repeated n-gram fractions replicated with list_transform windows
    "q56_text_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |           FROM documents)
        |SELECT doc_id,
        |  CASE WHEN greatest(len(toks) - 1, 0) = 0 THEN 0.0
        |    ELSE round(1.0 - CAST(len(list_distinct(list_transform(range(len(toks) - 1),
        |      i -> array_to_string(toks[(i + 1):(i + 2)], ' ')))) AS DOUBLE)
        |      / (len(toks) - 1), 6) END AS rep2,
        |  CASE WHEN greatest(len(toks) - 2, 0) = 0 THEN 0.0
        |    ELSE round(1.0 - CAST(len(list_distinct(list_transform(range(len(toks) - 2),
        |      i -> array_to_string(toks[(i + 1):(i + 3)], ' ')))) AS DOUBLE)
        |      / (len(toks) - 2), 6) END AS rep3
        |FROM t""".stripMargin,

    // BM25 replicated term-for-term; N and Σdl are exact integer
    // aggregates so avgdl is one IEEE division in both engines, and the
    // constant arithmetic is written identically (not pre-folded) so both
    // engines fold it the same way
    "q54_text_bm25" ->
      """WITH lens AS (
        |  SELECT doc_id AS id,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS dl
        |  FROM documents
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sum_dl FROM lens
        |), tf AS (
        |  SELECT doc_id AS id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |        FROM documents)
        |  WHERE tok IN ('join', 'scan', 'filter')
        |  GROUP BY 1, 2
        |), dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
        |SELECT id AS doc_id,
        |  round(sum(
        |    ln((n - df + 0.5) / (df + 0.5) + 1.0)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sum_dl / n)))
        |  ), 6) AS bm25
        |FROM tf JOIN dfreq USING (tok) JOIN lens USING (id), stats
        |GROUP BY 1""".stripMargin,

    // concat-and-chunk packing replicated as a windowed prefix sum
    "q52_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
        |    doc_id % 32 AS stream
        |  FROM documents
        |), o AS (
        |  SELECT doc_id, n_tokens, stream,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t)
        |SELECT doc_id, n_tokens, stream,
        |  CAST(off // 1024 AS BIGINT) AS bin, CAST(off % 1024 AS BIGINT) AS bin_offset
        |FROM o""".stripMargin,

    // hash-rank reservoir replicated with row_number over the portable
    // md5 bucket (ties by doc_id — the operator's tie order)
    "q53_sample_topk" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang
         |    ORDER BY ${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 1000000, doc_id) AS rn
         |  FROM documents) WHERE rn <= 10""".stripMargin,

    // As-of semantics replicated with a correlated LATERAL top-1: latest
    // click at-or-before each purchase, ties broken by max event_id —
    // exactly the payload-struct tie order of AsOfJoin.backward.
    "q46_asof_join" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.tsu AS purchase_ts,
        |  coalesce(m.event_id, -1) AS click_id, coalesce(m.tsu, -1) AS click_ts
        |FROM p LEFT JOIN LATERAL (
        |  SELECT c.event_id, c.tsu FROM c
        |  WHERE c.user_id = p.user_id AND c.tsu <= p.tsu
        |  ORDER BY c.tsu DESC, c.event_id DESC LIMIT 1) m ON TRUE""".stripMargin,

    // LATERAL top-1 mirror of the forward as-of: earliest purchase
    // at-or-after within the hour, largest event_id at a tied timestamp
    // (the payload-struct tie order)
    "q51_asof_forward" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
        |      WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.tsu AS click_ts,
        |  coalesce(m.event_id, -1) AS purchase_id, coalesce(m.tsu, -1) AS purchase_ts
        |FROM c LEFT JOIN LATERAL (
        |  SELECT p.event_id, p.tsu FROM p
        |  WHERE p.user_id = c.user_id AND p.tsu >= c.tsu
        |    AND p.tsu <= c.tsu + 3600000000
        |  ORDER BY p.tsu ASC, p.event_id DESC LIMIT 1) m ON TRUE""".stripMargin,

    // plain range join — the oracle's planner may nested-loop it, ours
    // may not (bucketized equi-join)
    "q49_interval_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS tsu
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS w_start,
        |        epoch_us(ts) + 3600000000 AS w_end
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, p.purchase_id, c.user_id, c.tsu AS click_ts
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND c.tsu BETWEEN p.w_start AND p.w_end""".stripMargin,

    "q34_distinct_agg" ->
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations, count(*) AS n_customers
        |FROM customer GROUP BY 1""".stripMargin,

    // tolerance gate (see the Spark side): exact counts computed here, the
    // HLL estimate must land within the pinned tolerance
    "q41_approx_distinct" ->
      """SELECT c_mktsegment, count(DISTINCT c_custkey) AS exact_custkeys,
        |  CAST(TRUE AS BOOLEAN) AS approx_ok
        |FROM customer GROUP BY 1""".stripMargin,

    "q42_approx_quantile" ->
      "SELECT CAST(TRUE AS BOOLEAN) AS p50_ok, CAST(TRUE AS BOOLEAN) AS p95_ok",

    "q35_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q36_semi_anti" ->
      """SELECT c_custkey AS id, 'has_order' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey AS id, 'no_order' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q37_pivot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY user_id""".stripMargin,

    "q40_sql_scalar_subquery" ->
      """SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)""".stripMargin,

    "q30_sessionize" ->
      """WITH s AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 28800000000000 THEN 1
        |         ELSE 0 END AS st
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |)
        |SELECT user_id, event_id,
        |  CAST(sum(st) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_seq,
        |  user_id || '#' ||
        |    CAST(sum(st) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
        |FROM s""".stripMargin,

    "q31_session_stats" ->
      """WITH s AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 28800000000000 THEN 1
        |         ELSE 0 END AS st
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), seq AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(st) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_seq
        |  FROM s
        |)
        |SELECT user_id, session_seq,
        |  min(epoch_us(ts)) AS session_start, max(epoch_us(ts)) AS session_end,
        |  count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM seq GROUP BY 1, 2""".stripMargin,

    "q32_mm_features" ->
      """WITH chars AS (
        |  SELECT doc_id, ascii(substr(text, u.i, 1)) AS b
        |  FROM documents, unnest(range(1, length(text) + 1)) AS u(i)
        |), per_bin AS (
        |  SELECT doc_id, b // 16 AS bin, count(*) AS c FROM chars GROUP BY 1, 2
        |), grid AS (
        |  SELECT d.doc_id, CAST(g.bin AS INT) AS bin, CAST(length(d.text) AS DOUBLE) AS n
        |  FROM documents d, unnest(range(16)) AS g(bin)
        |)
        |SELECT grid.doc_id, grid.bin, coalesce(c, 0) / n AS share
        |FROM grid LEFT JOIN per_bin ON grid.doc_id = per_bin.doc_id AND grid.bin = per_bin.bin""".stripMargin,

    "q33_mm_resize" ->
      """WITH meta AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |    CASE (ascii(substr(text, 1, 1)) & 3)
        |      WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'webp' ELSE 'raw' END AS format,
        |    CAST(64 + octet_length(encode(text)) % 640 AS INT) AS width,
        |    CAST(64 + octet_length(encode(text)) % 480 AS INT) AS height
        |  FROM documents
        |)
        |SELECT doc_id, byte_len, format, width, height,
        |  CAST(floor(width * least(100.0 / width, 100.0 / height, 1.0)) AS INT) AS out_width,
        |  CAST(floor(height * least(100.0 / width, 100.0 / height, 1.0)) AS INT) AS out_height
        |FROM meta""".stripMargin,

    // positional unnest + group-by-(label, dim) mean
    "q59_embed_centroids" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT label,
        |        unnest(list_transform(range(len(v)), i -> {'pos': i, 'x': v[i + 1]})) AS u
        |      FROM e)
        |SELECT label, CAST(u.pos AS INT) AS pos, round(avg(u.x), 6) AS mean,
        |  count(*) AS n_vectors
        |FROM x GROUP BY 1, 2""".stripMargin,

    // rounded centroid means (q59's) → cosine argmax per vector (ties by
    // label asc) → confusion counts; no floats in the output
    "q60_embed_nearest_centroid" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT label,
        |        unnest(list_transform(range(len(v)), i -> {'pos': i, 'x': v[i + 1]})) AS u
        |      FROM e),
        |cv AS (
        |  SELECT label AS c_label, list(m ORDER BY pos) AS cvec
        |  FROM (SELECT label, u.pos AS pos, round(avg(u.x), 6) AS m FROM x GROUP BY 1, 2)
        |  GROUP BY 1),
        |scored AS (
        |  SELECT e.vec_id, e.label AS true_label, cv.c_label,
        |    list_dot_product(e.v, cv.cvec)
        |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv.cvec, cv.cvec))) AS s
        |  FROM e, cv),
        |best AS (
        |  SELECT vec_id, true_label, c_label,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c_label) AS rn
        |  FROM scored)
        |SELECT true_label, c_label AS pred_label, count(*) AS n
        |FROM best WHERE rn = 1 GROUP BY 1, 2""".stripMargin,

    // canonical-edge (a < b) triple join: every triangle found once,
    // contributing one count to each of its three corners
    "q58_graph_triangles" ->
      """WITH e AS (
        |  SELECT b.s_suppkey AS a, a.s_suppkey AS b
        |  FROM supplier a JOIN supplier b
        |    ON a.s_suppkey > b.s_suppkey
        |   AND a.s_nationkey IS NOT DISTINCT FROM b.s_nationkey
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |), pv AS (
        |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
        |)
        |SELECT s.s_suppkey AS id, CAST(coalesce(t.n, 0) AS BIGINT) AS triangles
        |FROM supplier s LEFT JOIN (SELECT id, count(*) AS n FROM pv GROUP BY 1) t
        |  ON t.id = s.s_suppkey""".stripMargin,

    // identical semantics to q58 (triangle counts are orientation-
    // independent), so the oracle is the same canonical triple join
    "q77_graph_triangles_df" ->
      """WITH e AS (
        |  SELECT b.s_suppkey AS a, a.s_suppkey AS b
        |  FROM supplier a JOIN supplier b
        |    ON a.s_suppkey > b.s_suppkey
        |   AND a.s_nationkey IS NOT DISTINCT FROM b.s_nationkey
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |), pv AS (
        |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
        |)
        |SELECT s.s_suppkey AS id, CAST(coalesce(t.n, 0) AS BIGINT) AS triangles
        |FROM supplier s LEFT JOIN (SELECT id, count(*) AS n FROM pv GROUP BY 1) t
        |  ON t.id = s.s_suppkey""".stripMargin,

    "q25_graph_degrees" ->
      """WITH e AS (
        |  SELECT a.s_suppkey AS src, b.s_suppkey AS dst
        |  FROM supplier a JOIN supplier b
        |    ON a.s_suppkey > b.s_suppkey
        |   AND a.s_nationkey IS NOT DISTINCT FROM b.s_nationkey)
        |SELECT src AS id, count(*) AS degree
        |FROM (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
        |GROUP BY 1""".stripMargin,

    "q26_graph_components" ->
      """SELECT s_suppkey AS id,
        |  min(s_suppkey) OVER (PARTITION BY s_nationkey) AS component
        |FROM supplier""".stripMargin,

    "q61_graph_components_df" ->
      """SELECT s_suppkey AS id,
        |  min(s_suppkey) OVER (PARTITION BY s_nationkey) AS component
        |FROM supplier""".stripMargin,

    "q62_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents)
        |), ev AS (SELECT id AS eval_id, unnest(sh) AS gram FROM sh WHERE id % 20 = 0),
        |tr AS (SELECT id, unnest(sh) AS gram FROM sh WHERE id % 20 <> 0),
        |pairs AS (
        |  SELECT tr.id AS doc_id, ev.eval_id, count(*) AS shared
        |  FROM tr JOIN ev USING (gram) GROUP BY 1, 2 HAVING count(*) >= 5
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_matches, max(shared) AS mx FROM pairs GROUP BY 1
        |)
        |SELECT t.doc_id, coalesce(n_matches, 0) AS n_eval_matches,
        |  coalesce(mx, 0) AS max_shared, n_matches IS NOT NULL AS contaminated
        |FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 20 <> 0) t
        |LEFT JOIN agg USING (doc_id)""".stripMargin,

    // Identical planted noise; DuckDB needs chr() for the control bytes.
    "q76_text_normalize" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    text || '  MiXeD ' || chr(9) || 'Case' || chr(10) || '  ' AS tx
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(tx), '[\x00-\x1f]', ' ', 'g'),
        |       '\s+', ' ', 'g')) AS clean_text,
        |  CAST(length(tx) - length(trim(regexp_replace(
        |       regexp_replace(lower(tx), '[\x00-\x1f]', ' ', 'g'),
        |       '\s+', ' ', 'g'))) AS BIGINT) AS chars_saved
        |FROM t""".stripMargin,

    // Same closed form as q44: on a k-regular component the fixed point is
    // 1.0 per connected vertex, resetProb per isolated one, then the
    // sum-to-N normalization.
    "q75_graph_pagerank_df" ->
      """WITH d AS (
        |  SELECT s_suppkey, count(*) OVER (PARTITION BY s_nationkey) AS cnt FROM supplier
        |), tot AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN cnt > 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.15 AS DOUBLE) END) AS mass
        |  FROM d
        |)
        |SELECT s_suppkey AS id,
        |  round(CAST(CASE WHEN cnt > 1 THEN 1.0 ELSE 0.15 END AS DOUBLE) * n / mass, 6) AS pagerank
        |FROM d, tot""".stripMargin,

    "q74_shuffle_deterministic" ->
      s"""SELECT doc_id, lang,
         |  ${md5l("'42:' || CAST(doc_id AS VARCHAR)")} AS shuffle_id
         |FROM documents""".stripMargin,

    // Same rounded-centroid construction as q60; the outlier flag compares
    // the ROUNDED cosine on both engines, so the boundary is exact.
    "q73_embed_outliers" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT label,
        |        unnest(list_transform(range(len(v)), i -> {'pos': i, 'x': v[i + 1]})) AS u
        |      FROM e),
        |cv AS (
        |  SELECT label AS c_label, list(m ORDER BY pos) AS cvec
        |  FROM (SELECT label, u.pos AS pos, round(avg(u.x), 6) AS m FROM x GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT e.vec_id, e.label,
        |  round(list_dot_product(e.v, cv.cvec)
        |    / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv.cvec, cv.cvec))), 6)
        |    AS cos_to_centroid,
        |  round(list_dot_product(e.v, cv.cvec)
        |    / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv.cvec, cv.cvec))), 6)
        |    < CAST(0.0 AS DOUBLE) AS is_outlier
        |FROM e JOIN cv ON e.label = cv.c_label""".stripMargin,

    "q72_text_top_tokens" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM toks WHERE token <> ''
        |GROUP BY token
        |ORDER BY tf DESC, token LIMIT 25""".stripMargin,

    // Identical double-arithmetic order (left-assoc f·n·(√c/z)/c, CAST 0.5
    // to DOUBLE to dodge DuckDB's DECIMAL literals), identical
    // 1e6-threshold rounding, then the portable md5 bucket rule. The power
    // sum's accumulation order is STRUCTURAL — an ORDER BY'd list folded
    // left-to-right by list_reduce, ((√c₁+√c₂)+…) exactly like the Scala
    // foldLeft — not an ORDER BY modifier on sum(), which an engine may
    // legally ignore for an order-insensitive aggregate.
    "q71_sample_temperature" ->
      s"""WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
         |z AS (SELECT list_reduce(list(sqrt(c) ORDER BY lang), (acc, x) -> acc + x) AS z,
         |             sum(c) AS n FROM cnt),
         |rate AS (
         |  SELECT lang,
         |    CAST(round(least(CAST(0.5 AS DOUBLE) * n * (sqrt(c) / z) / c,
         |                     CAST(1.0 AS DOUBLE)) * 1000000)
         |      AS BIGINT) AS thr
         |  FROM cnt, z)
         |SELECT d.doc_id, d.lang FROM documents d JOIN rate USING (lang)
         |WHERE ${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 1000000 < thr""".stripMargin,

    // Window count = max(1, ceil((n - overlap) / stride)) — same formula,
    // same 1-based inclusive token slices.
    "q70_text_chunk" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, t, len(t) AS n,
        |    greatest(1, CAST(ceil((len(t) - 64) / 64.0) AS BIGINT)) AS nw
        |  FROM toks WHERE len(t) > 0 AND t[1] <> ''),
        |c AS (SELECT doc_id, t, n, unnest(range(nw)) AS chunk_id FROM w)
        |SELECT doc_id, chunk_id,
        |  array_to_string(t[(chunk_id * 64 + 1):(chunk_id * 64 + 128)], ' ') AS chunk_text,
        |  least(128, n - chunk_id * 64) AS n_tokens
        |FROM c""".stripMargin,

    // Layout rewrite contract: same multiset of rows out as in.
    "q69_zorder_layout" ->
      "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity FROM lineitem",

    // Identical planted-PII construction, RE2-side regexes drawn from the
    // same shared Java/RE2 subset as the Spark columns.
    "q68_text_pii_redact" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail.example.com via 10.'
        |      || (doc_id % 200) || '.0.7 acct ' || (4000000000 + doc_id) AS tx
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(tx, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(tx, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |  len(regexp_extract_all(tx, '\b\d{9,}\b')) AS n_long_numbers,
        |  regexp_replace(regexp_replace(regexp_replace(tx,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{9,}\b', '<NUM>', 'g') AS clean_text
        |FROM t""".stripMargin,

    // Same hyperplane rendering as q22 (portable Md5 family under Verify);
    // the drop rule is the exact min-id-neighbor semantics of
    // Dedup.semanticDedup, so the whole decision surface is hash-checked.
    "q67_dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |be AS (SELECT vec_id, v, ${lshBucket("v")} AS bucket FROM e),
         |pr AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM be a JOIN be b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.v, b.v)
         |        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.25),
         |d AS (SELECT id_b AS vec_id, count(*) AS n_smaller_dups FROM pr GROUP BY 1)
         |SELECT be.vec_id, bucket,
         |  coalesce(d.n_smaller_dups, 0) AS n_smaller_dups,
         |  d.n_smaller_dups IS NULL AS keep
         |FROM be LEFT JOIN d USING (vec_id)""".stripMargin,

    // Reuses q16's quality/token/fingerprint CTE pieces; the quality mean
    // is an exact DECIMAL(18,6) sum divided once (order-independent in
    // both engines), never a float avg.
    "q81_corpus_report" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS toks,
         |    regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks,
         |    length(text) AS n,
         |    CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) AS npunct
         |  FROM documents
         |), m AS (
         |  SELECT lang,
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE CAST(len(toks) AS INT) END AS token_count,
         |    round(npunct / greatest(n, 1), 10) AS p10,
         |    round(CAST(len(list_filter(ltoks, x -> x IN ($stop10))) AS DOUBLE)
         |          / greatest(len(ltoks), 1), 10) AS s10,
         |    n,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM base
         |), d AS (
         |  SELECT lang,
         |    token_count,
         |    round((least(n / 500.0, 1.0) + (1.0 - least(p10 * 10.0, 1.0))
         |           + least(s10 * 5.0, 1.0)) / 3.0, 6) AS q,
         |    fp
         |  FROM m
         |), agg AS (
         |  SELECT lang AS stratum, count(*) AS n_docs,
         |    CAST(sum(token_count) AS BIGINT) AS total_tokens,
         |    round(CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_quality,
         |    CAST(sum(CASE WHEN q < CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
         |  FROM d GROUP BY 1
         |), dd AS (
         |  SELECT lang AS stratum, count(DISTINCT fp) AS n_distinct_docs FROM d GROUP BY 1
         |)
         |SELECT a.stratum, a.n_docs, a.total_tokens, a.avg_quality, a.n_low_quality,
         |  CAST(dd.n_distinct_docs AS BIGINT) AS n_distinct_docs,
         |  round(1.0 - CAST(dd.n_distinct_docs AS DOUBLE) / a.n_docs, 6) AS dup_rate
         |FROM agg a JOIN dd USING (stratum)""".stripMargin,

    // q27-style pinned gate: the Spark side verifies projected-coordinate
    // variances ≡ eigenvalues before asserting the row
    "q116_embed_pca" -> "SELECT 8 AS k, CAST(TRUE AS BOOLEAN) AS pca_pass",

    // the same rank rule: value at row_number = max(1, ceil(p·n)) per
    // stratum; p probes as DOUBLE (DuckDB VALUES would default DECIMAL)
    "q119_length_quantiles" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, p, n_chars AS q
        |FROM r, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
        |                (CAST(0.99 AS DOUBLE))) AS t(p)
        |WHERE rn = greatest(1, CAST(ceil(p * n) AS BIGINT))""".stripMargin,

    // the same graph, same radius cap, walked as a recursive CTE: UNION
    // (not UNION ALL) dedups (id, dist) pairs so the recursion terminates
    // under the dist < 8 bound, and MIN(dist) per vertex IS the BFS
    // distance — exact integers end to end
    "q121_graph_bfs" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS a,
        |         CAST(l_suppkey AS BIGINT) + 10000000 AS b
        |  FROM lineitem
        |), bi AS (
        |  SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
        |), walk(id, dist) AS (
        |  SELECT CAST(v AS BIGINT) AS id, 0 AS dist
        |  FROM (VALUES (1), (2), (3), (4), (5)) s(v)
        |  UNION
        |  SELECT bi.b AS id, walk.dist + 1 AS dist
        |  FROM walk JOIN bi ON bi.a = walk.id
        |  WHERE walk.dist < 8
        |)
        |SELECT id, CAST(MIN(dist) AS INT) AS dist FROM walk GROUP BY id""".stripMargin,

    // replays every hash choice: id-ranked adjacency + degree, next rank =
    // md5('42:walk:step') mod degree + 1 — the recursive extension is the
    // Spark loop's join pair, row for row
    "q141_graph_walks" ->
      s"""WITH RECURSIVE e0 AS (
         |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS a,
         |         CAST(l_suppkey AS BIGINT) + 10000000 AS b
         |  FROM lineitem
         |), bi AS (
         |  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0
         |), adj AS (
         |  SELECT src, dst,
         |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) AS rnk
         |  FROM bi
         |), deg AS (
         |  SELECT src, CAST(count(*) AS BIGINT) AS degree FROM bi GROUP BY 1
         |), walk(walk_id, step, vertex) AS (
         |  SELECT CAST(p * 2 + w AS BIGINT), 0, CAST(p AS BIGINT)
         |  FROM (SELECT unnest(range(1, 11)) AS p), (SELECT unnest(range(0, 2)) AS w)
         |  UNION ALL
         |  SELECT wk.walk_id, wk.step + 1, a.dst
         |  FROM walk wk
         |  JOIN deg d ON d.src = wk.vertex
         |  JOIN adj a ON a.src = wk.vertex
         |   AND a.rnk = ${md5l("'42:' || CAST(wk.walk_id AS VARCHAR) || ':' || CAST(wk.step AS VARCHAR)")} % d.degree + 1
         |  WHERE wk.step < 5
         |)
         |SELECT walk_id, CAST(step AS INT) AS step, vertex FROM walk""".stripMargin,

    // the same recursive walk as q121 but accumulating integer edge costs
    // (parallel edges pre-collapsed to min weight) under the cost cap;
    // MIN(cost) per vertex is the Bellman-Ford fixed point
    "q142_graph_sssp" ->
      """WITH RECURSIVE ew AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS a,
        |         CAST(l_suppkey AS BIGINT) + 10000000 AS b,
        |         CAST(min(1 + l_linenumber % 3) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2
        |), bi AS (
        |  SELECT a AS src, b AS dst, w FROM ew UNION ALL SELECT b, a, w FROM ew
        |), walk(id, c) AS (
        |  SELECT CAST(v AS BIGINT), CAST(0 AS BIGINT) FROM (VALUES (1), (2), (3)) s(v)
        |  UNION
        |  SELECT bi.dst, walk.c + bi.w FROM walk JOIN bi ON bi.src = walk.id
        |  WHERE walk.c + bi.w <= 8
        |)
        |SELECT id, MIN(c) AS cost FROM walk GROUP BY id""".stripMargin,

    // wedge pairs per middle vertex, adjacency anti-join, one-division
    // Jaccard off exact degrees
    "q156_graph_linkpred" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS l, CAST(l_partkey AS BIGINT) AS r
        |  FROM lineitem
        |), pe AS (
        |  SELECT x.l AS a, y.l AS b
        |  FROM e x JOIN e y ON x.r = y.r AND x.l < y.l
        |  GROUP BY 1, 2 HAVING count(*) >= 150
        |), bi AS (
        |  SELECT a AS v, b AS n FROM pe UNION ALL SELECT b, a FROM pe
        |), deg AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM bi GROUP BY 1
        |), cn AS (
        |  SELECT m1.n AS x, m2.n AS y, CAST(count(*) AS BIGINT) AS common
        |  FROM bi m1 JOIN bi m2 ON m1.v = m2.v AND m1.n < m2.n
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), lp AS (
        |  SELECT cn.x, cn.y, cn.common FROM cn
        |  LEFT JOIN pe ON pe.a = cn.x AND pe.b = cn.y
        |  WHERE pe.a IS NULL
        |)
        |SELECT lp.x AS src, lp.y AS dst, lp.common,
        |  round(CAST(lp.common AS DOUBLE) / (dx.deg + dy.deg - lp.common), 6) AS jaccard
        |FROM lp
        |JOIN deg dx ON dx.v = lp.x
        |JOIN deg dy ON dy.v = lp.y""".stripMargin,

    // q108's decimal-moment formulation over the edge-instance degree
    // pairs (both orientations — the undirected assortativity convention)
    "q157_graph_assortativity" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS l, CAST(l_partkey AS BIGINT) AS r
        |  FROM lineitem
        |), pe AS (
        |  SELECT x.l AS a, y.l AS b
        |  FROM e x JOIN e y ON x.r = y.r AND x.l < y.l
        |  GROUP BY 1, 2 HAVING count(*) >= 150
        |), bi AS (
        |  SELECT a AS u, b AS v FROM pe UNION ALL SELECT b, a FROM pe
        |), deg AS (
        |  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM bi GROUP BY 1
        |), d AS (
        |  SELECT CAST(du.deg AS DECIMAL(18,6)) AS xd, CAST(dv.deg AS DECIMAL(18,6)) AS yd
        |  FROM bi JOIN deg du ON du.u = bi.u JOIN deg dv ON dv.u = bi.v
        |), s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xd) AS DOUBLE) AS sx, CAST(sum(yd) AS DOUBLE) AS sy,
        |    CAST(sum(xd * yd) AS DOUBLE) AS sxy,
        |    CAST(sum(xd * xd) AS DOUBLE) AS sxx,
        |    CAST(sum(yd * yd) AS DOUBLE) AS syy
        |  FROM d)
        |SELECT n,
        |  round(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |    THEN (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |    END, 6) AS corr,
        |  round(CASE WHEN (n * sxx - sx * sx) > 0
        |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
        |  round(CASE WHEN (n * sxx - sx * sx) > 0
        |    THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
        |    END, 6) AS intercept
        |FROM s""".stripMargin,

    // one aggregate row, then one SELECT per profiled column — min/max
    // aggregate on the native type, only the result casts to VARCHAR
    "q158_profile" ->
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(doc_id) AS BIGINT) AS n1,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS d1,
        |    CAST(min(doc_id) AS VARCHAR) AS mn1, CAST(max(doc_id) AS VARCHAR) AS mx1,
        |    CAST(count(lang) AS BIGINT) AS n2,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS d2,
        |    CAST(min(lang) AS VARCHAR) AS mn2, CAST(max(lang) AS VARCHAR) AS mx2,
        |    CAST(count(source) AS BIGINT) AS n3,
        |    CAST(count(DISTINCT source) AS BIGINT) AS d3,
        |    CAST(min(source) AS VARCHAR) AS mn3, CAST(max(source) AS VARCHAR) AS mx3,
        |    CAST(count(n_chars) AS BIGINT) AS n4,
        |    CAST(count(DISTINCT n_chars) AS BIGINT) AS d4,
        |    CAST(min(n_chars) AS VARCHAR) AS mn4, CAST(max(n_chars) AS VARCHAR) AS mx4
        |  FROM documents
        |)
        |SELECT 'doc_id' AS col_name, n_rows, n1 AS n_nonnull,
        |  round(CAST(n_rows - n1 AS DOUBLE) / n_rows, 6) AS null_frac,
        |  d1 AS n_distinct, mn1 AS min_value, mx1 AS max_value FROM a
        |UNION ALL
        |SELECT 'lang', n_rows, n2, round(CAST(n_rows - n2 AS DOUBLE) / n_rows, 6),
        |  d2, mn2, mx2 FROM a
        |UNION ALL
        |SELECT 'source', n_rows, n3, round(CAST(n_rows - n3 AS DOUBLE) / n_rows, 6),
        |  d3, mn3, mx3 FROM a
        |UNION ALL
        |SELECT 'n_chars', n_rows, n4, round(CAST(n_rows - n4 AS DOUBLE) / n_rows, 6),
        |  d4, mn4, mx4 FROM a""".stripMargin,

    // same synthesized delta; latest-per-key by seq desc, deletes drop,
    // untouched snapshot keys pass through
    "q159_cdc_apply" ->
      """WITH ch AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority,
        |    'U' AS op, 1 AS seq
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority, 'D', 2
        |  FROM orders WHERE o_orderkey % 11 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority, 'I', 1
        |  FROM orders WHERE o_orderkey % 13 = 5
        |), latest AS (
        |  SELECT * FROM (
        |    SELECT ch.*, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1
        |)
        |SELECT o.* FROM orders o
        |LEFT JOIN latest l ON l.o_orderkey = o.o_orderkey
        |WHERE l.o_orderkey IS NULL
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM latest WHERE op <> 'D'""".stripMargin,

    // integer frame sums make z one sqrt + one division; the warm-up and
    // zero-variance guards are the same CASE in both engines
    "q160_event_anomaly" ->
      """WITH c AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), w AS (
        |  SELECT event_type, bucket, n,
        |    CAST(count(*) OVER fr AS BIGINT) AS m,
        |    CAST(coalesce(sum(n) OVER fr, 0) AS BIGINT) AS s1,
        |    CAST(coalesce(sum(n * n) OVER fr, 0) AS BIGINT) AS s2
        |  FROM c
        |  WINDOW fr AS (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_type, bucket, n,
        |  CASE WHEN m >= 4 AND (m * s2 - s1 * s1) > 0 THEN
        |    round(CAST(n * m - s1 AS DOUBLE) / sqrt(CAST(m * s2 - s1 * s1 AS DOUBLE)), 6)
        |  END AS z,
        |  CASE WHEN m >= 4 AND (m * s2 - s1 * s1) > 0 THEN
        |    abs(round(CAST(n * m - s1 AS DOUBLE)
        |      / sqrt(CAST(m * s2 - s1 * s1 AS DOUBLE)), 6)) > 2.0
        |  END AS is_anomaly
        |FROM w""".stripMargin,

    // cumulative integer char mass; the crossing row is unique because
    // weights are positive
    "q161_weighted_quantiles" ->
      """WITH d AS (
        |  SELECT lang, n_chars, doc_id,
        |    CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
        |    CAST(sum(n_chars) OVER (PARTITION BY lang) AS BIGINT) AS tw
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        |), p AS (SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS p)
        |SELECT d.lang, p.p, d.n_chars AS q
        |FROM d CROSS JOIN p
        |WHERE cw >= greatest(1, CAST(ceil(p.p * tw) AS BIGINT))
        |  AND cw - n_chars < greatest(1, CAST(ceil(p.p * tw) AS BIGINT))""".stripMargin,

    // identical regex pipeline (Java-regex and RE2 agree on every
    // construct used); DuckDB backreference spelling is \1 where Java's
    // is $1
    "q162_strip_markup" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(
        |      '<div class="d">[doc](http://x/' || CAST(doc_id AS VARCHAR)
        |        || ') # ' || text || ' &amp; more</div>',
        |      '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
        |    '<[^>]*>', ' ', 'g'),
        |    '&#?[a-zA-Z0-9]+;', ' ', 'g'),
        |    '[*_`#]+', '', 'g'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM documents""".stripMargin,

    // integer largest-remainder allocation over the count frame, then the
    // per-stratum md5-rank cut
    "q163_sample_quota" ->
      s"""WITH c AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
         |), t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
         |q0 AS (
         |  SELECT lang, n,
         |    least(200, t.nn) * n // t.nn AS base,
         |    (least(200, t.nn) * n) % t.nn AS rem,
         |    least(200, t.nn) AS tt
         |  FROM c, t
         |), q1 AS (
         |  SELECT lang, n, base, rem, tt,
         |    row_number() OVER (ORDER BY rem DESC, lang) AS rr,
         |    tt - sum(base) OVER () AS leftover
         |  FROM q0
         |), quota AS (
         |  SELECT lang,
         |    least(n, base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END) AS quota
         |  FROM q1
         |), r AS (
         |  SELECT doc_id, lang, source,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 1000000, doc_id
         |    ) AS rn
         |  FROM documents
         |)
         |SELECT r.doc_id, r.lang, r.source
         |FROM r JOIN quota ON quota.lang = r.lang
         |WHERE r.rn <= quota.quota""".stripMargin,

    // the reference cumulative is an ordered window — the engine side must
    // land on the identical prefix via its per-partition offsets
    "q164_token_budget" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    CAST(sum(n_chars) OVER (ORDER BY n_chars, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM documents
        |)
        |SELECT doc_id, n_chars, cum FROM r WHERE cum <= 1000000""".stripMargin,

    // DuckDB composes the identical injected decomposed marks; both
    // engines count code points, so n proves composition happened
    "q165_nfc_normalize" ->
      """SELECT doc_id,
        |  nfc_normalize('Café naïve ' || text)
        |    AS clean,
        |  CAST(length(
        |    nfc_normalize('Café naïve ' || text)
        |  ) AS INT) AS n
        |FROM documents""".stripMargin,

    // identical (ts, event_id) step ordering; string_agg ORDER BY builds
    // the path, ties at the top-k boundary break by path text
    "q166_event_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events
        |), p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id
        |), c AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1)
        |SELECT path, n FROM c ORDER BY n DESC, path LIMIT 20""".stripMargin,

    // LATERAL top-1 last touch (the q46 mirror with the payload-struct
    // (tsu, event_id, touch_type) tie order), rolled up per touch type
    "q167_attribution" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsu,
        |    coalesce(value, CAST(0.0 AS DOUBLE)) AS value
        |  FROM events WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type AS touch_type
        |  FROM events WHERE event_type IN ('view', 'click')
        |)
        |SELECT coalesce(m.touch_type, 'unattributed') AS touch,
        |  CAST(count(*) AS BIGINT) AS purchases,
        |  round(CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE), 2) AS revenue
        |FROM p LEFT JOIN LATERAL (
        |  SELECT t.touch_type FROM t
        |  WHERE t.user_id = p.user_id AND t.tsu <= p.tsu
        |    AND t.tsu >= p.tsu - 86400000000
        |  ORDER BY t.tsu DESC, t.event_id DESC, t.touch_type DESC LIMIT 1) m ON TRUE
        |GROUP BY 1""".stripMargin,

    // the same six-table star; revenue terms decimal-cast before summing
    "q168_star_join" ->
      """SELECT r_name, n_name,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  round(CAST(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
        |    AS DECIMAL(38,12))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    // the q119 rank-quantile rule with day strata
    "q169_latency_bands" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day, value
        |  FROM events WHERE value IS NOT NULL
        |), r AS (
        |  SELECT day, value,
        |    row_number() OVER (PARTITION BY day ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY day) AS n
        |  FROM e)
        |SELECT day, p, value AS q
        |FROM r, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
        |                (CAST(0.99 AS DOUBLE))) AS t(p)
        |WHERE rn = greatest(1, CAST(ceil(p * n) AS BIGINT))""".stripMargin,

    // reference semantics: distinct users whose day lands in (b-6 .. b]
    "q170_rolling_active" ->
      """WITH du AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS b
        |  FROM events
        |), obs AS (SELECT DISTINCT b FROM du),
        |roll AS (
        |  SELECT o.b, CAST(count(DISTINCT du.user_id) AS BIGINT) AS rolling_active
        |  FROM obs o JOIN du ON du.b BETWEEN o.b - 6 AND o.b
        |  GROUP BY o.b
        |), d AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY b
        |)
        |SELECT d.b AS bucket, d.dau, r.rolling_active
        |FROM d JOIN roll r ON r.b = d.b""".stripMargin,

    // rank-based median per lang over the non-null rows, left-joined back
    "q171_impute_median" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars END AS n_chars
        |  FROM documents
        |), r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM d WHERE n_chars IS NOT NULL
        |), m AS (
        |  SELECT lang, n_chars AS med FROM r
        |  WHERE rn = greatest(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT))
        |)
        |SELECT d.doc_id, d.lang, coalesce(d.n_chars, m.med) AS n_chars,
        |  (d.n_chars IS NULL AND m.med IS NOT NULL) AS imputed
        |FROM d LEFT JOIN m ON m.lang = d.lang""".stripMargin,

    // band edges at ranks ceil(p·n); null values stay null (both engines'
    // least/greatest would otherwise null-skip into a band edge)
    "q172_winsorize" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents WHERE n_chars IS NOT NULL
        |), b AS (
        |  SELECT lang,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(CAST(0.05 AS DOUBLE) * n) AS BIGINT))
        |        THEN n_chars END) AS lo,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(CAST(0.95 AS DOUBLE) * n) AS BIGINT))
        |        THEN n_chars END) AS hi
        |  FROM r GROUP BY lang
        |)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  CASE WHEN d.n_chars IS NOT NULL
        |    THEN greatest(b.lo, least(b.hi, d.n_chars)) END AS winsorized
        |FROM documents d LEFT JOIN b ON b.lang = d.lang""".stripMargin,

    // q60's rounded-centroid scoring, own-vs-best-other max split, decimal
    // margin rollup
    "q173_centroid_margin" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT label,
        |        unnest(list_transform(range(len(v)), i -> {'pos': i, 'x': v[i + 1]})) AS u
        |      FROM e),
        |cv AS (
        |  SELECT label AS c_label, list(m ORDER BY pos) AS cvec
        |  FROM (SELECT label, u.pos AS pos, round(avg(u.x), 6) AS m FROM x GROUP BY 1, 2)
        |  GROUP BY 1),
        |scored AS (
        |  SELECT e.vec_id, e.label, cv.c_label,
        |    round(list_dot_product(e.v, cv.cvec)
        |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv.cvec, cv.cvec))),
        |      6) AS s
        |  FROM e, cv),
        |m AS (
        |  SELECT vec_id, label,
        |    round(max(CASE WHEN label = c_label THEN s END)
        |      - max(CASE WHEN label <> c_label THEN s END), 6) AS margin
        |  FROM scored GROUP BY 1, 2)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(margin AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
        |    AS mean_margin,
        |  CAST(sum(CASE WHEN margin < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_confused
        |FROM m GROUP BY 1""".stripMargin,

    // the whole-table grouped aggregate IS the oracle for the merged
    // incremental state
    "q174_matagg_serve" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE), 6)
        |    AS sum_l_quantity,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE)
        |    / count(l_quantity), 6) AS avg_l_quantity,
        |  min(l_quantity) AS min_l_quantity, max(l_quantity) AS max_l_quantity,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,12))) AS DOUBLE), 6)
        |    AS sum_l_extendedprice,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,12))) AS DOUBLE)
        |    / count(l_extendedprice), 6) AS avg_l_extendedprice,
        |  min(l_extendedprice) AS min_l_extendedprice,
        |  max(l_extendedprice) AS max_l_extendedprice
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    // identical dedup, hub cap, canonical pair join and one-sqrt score
    "q175_covisitation" ->
      """WITH ui0 AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS i
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL
        |), ui AS (
        |  SELECT u, i FROM (
        |    SELECT u, i, row_number() OVER (PARTITION BY u ORDER BY i) AS rn FROM ui0)
        |  WHERE rn <= 1000
        |), ic AS (SELECT i, CAST(count(*) AS BIGINT) AS n_item FROM ui GROUP BY 1),
        |p AS (
        |  SELECT a.i AS item_a, b.i AS item_b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |)
        |SELECT p.item_a, p.item_b, p.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
        |  round(CAST(p.n_ab AS DOUBLE) / sqrt(CAST(ia.n_item * ib.n_item AS DOUBLE)), 6)
        |    AS score
        |FROM p
        |JOIN ic ia ON ia.i = p.item_a
        |JOIN ic ib ON ib.i = p.item_b""".stripMargin,

    // transitive closure on the bounded subgraph; scc = min over the
    // mutually-reachable set (self included via least)
    // the full grouping lattice, NULL grain markers coalesced like q35
    "q187_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    // the weighted inverted-index join replayed: identical tokenizer, the
    // same df cap on weights AND norms, decimal-cast term sums, and the
    // threshold applied to the UNROUNDED cosine
    "q188_weighted_cosine" ->
      raw"""WITH d AS (SELECT doc_id, text FROM documents WHERE lang = 'de'),
        |toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM d),
        |t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dfx AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        |        HAVING count(*) <= 55),
        |w AS (SELECT doc_id, tf.token, CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS w
        |      FROM tf JOIN dfx ON tf.token = dfx.token),
        |nrm AS (SELECT doc_id, sum(CAST(w * w AS DECIMAL(38,18))) AS n2 FROM w GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    sum(CAST(a.w * b.w AS DECIMAL(38,18))) AS dot
        |  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT id1, id2,
        |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cs
        |  FROM pairs JOIN nrm na ON na.doc_id = id1 JOIN nrm nb ON nb.doc_id = id2)
        |SELECT id1, id2, round(cs, 6) AS cosine FROM c WHERE cs >= 0.8""".stripMargin,

    // the decimal moments and every derived scalar in the same textual
    // order as the Spark formula chain
    "q189_welch_ttest" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v, (lang = 'en') AS y FROM documents
        |  WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
        |), m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN y THEN CAST(v AS DECIMAL(38,12)) END) AS sa,
        |    sum(CASE WHEN NOT y THEN CAST(v AS DECIMAL(38,12)) END) AS sb,
        |    sum(CASE WHEN y THEN CAST(v * v AS DECIMAL(38,12)) END) AS qa,
        |    sum(CASE WHEN NOT y THEN CAST(v * v AS DECIMAL(38,12)) END) AS qb
        |  FROM d
        |), s1 AS (
        |  SELECT n_a, n_b, CAST(sa AS DOUBLE) / n_a AS ma, CAST(sb AS DOUBLE) / n_b AS mb,
        |    qa, qb FROM m
        |), s2 AS (
        |  SELECT n_a, n_b, ma, mb,
        |    CASE WHEN n_a >= 2 THEN (CAST(qa AS DOUBLE) - n_a * ma * ma) / (n_a - 1) END AS va,
        |    CASE WHEN n_b >= 2 THEN (CAST(qb AS DOUBLE) - n_b * mb * mb) / (n_b - 1) END AS vb
        |  FROM s1
        |), s3 AS (
        |  SELECT n_a, n_b, ma, mb, va / n_a AS ea, vb / n_b AS eb FROM s2
        |), s4 AS (
        |  SELECT n_a, n_b, ma, mb, ea, eb, ea + eb AS se2 FROM s3
        |)
        |SELECT n_a, n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round((ma - mb) / sqrt(se2), 6) AS t_stat,
        |  round(se2 * se2 / (ea * ea / (n_a - 1) + eb * eb / (n_b - 1)), 6) AS dof
        |FROM s4""".stripMargin,

    // q246: the same A/B split through the rank lens — distinct-value
    // midrank cumulative (the q177 algebra), tie-corrected z, every scalar
    // in the Spark chain's textual order; BIGINT products suffice at
    // oracle SF (the Spark side carries the corpus-safe decimals)
    "q246_mann_whitney" ->
      """WITH d AS (
        |  SELECT n_chars AS v, (lang = 'en') AS y FROM documents
        |  WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
        |), g AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS cnt,
        |         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS na
        |  FROM d GROUP BY 1
        |), r AS (
        |  SELECT v, cnt, na,
        |    CAST(coalesce(sum(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior
        |  FROM g
        |), m AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS n_a,
        |         CAST(sum(cnt - na) AS BIGINT) AS n_b,
        |         CAST(sum(na * (2 * prior + cnt + 1)) AS BIGINT) AS m2,
        |         CAST(coalesce(sum(CASE WHEN cnt > 1 THEN cnt*cnt*cnt - cnt END), 0) AS BIGINT) AS tie
        |  FROM r
        |), s1 AS (
        |  SELECT n_a, n_b, tie,
        |    CAST(m2 - n_a * (n_a + 1) AS DOUBLE) / 2 AS u,
        |    CAST(n_a * n_b AS DOUBLE) AS nab,
        |    CAST(n_a + n_b AS DOUBLE) AS nn
        |  FROM m
        |), s2 AS (
        |  SELECT n_a, n_b, u, nab, nn,
        |    nab / CAST(12.0 AS DOUBLE) * ((nn + 1) - CAST(tie AS DOUBLE) / (nn * (nn - 1))) AS vr
        |  FROM s1
        |)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN round(u, 6) END AS u_stat,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND vr > 0
        |    THEN round((u - nab / 2) / sqrt(vr), 6) END AS z_stat,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |    THEN round(CAST(2.0 AS DOUBLE) * u / nab - 1, 6) END AS r_rb
        |FROM s2""".stripMargin,

    // q257: q237's chain build + the hitting recursion unrolled 6 steps;
    // the target pins to literal 1 each stage exactly as the Spark loop
    "q257_hitting_prob" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
        |pr AS (SELECT event_type AS f,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS t
        |      FROM e),
        |c AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM pr
        |      WHERE f IS NOT NULL AND t IS NOT NULL GROUP BY 1, 2),
        |st AS (SELECT f AS s FROM c UNION SELECT t FROM c),
        |cc AS (SELECT * FROM c
        |       UNION ALL
        |       SELECT s, s, CAST(1 AS BIGINT) FROM st WHERE s NOT IN (SELECT f FROM c)),
        |p AS (SELECT f, t,
        |        CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY f) AS DOUBLE) AS prob
        |      FROM cc),
        |h0 AS (SELECT s, CASE WHEN s = 'purchase' THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(0.0 AS DOUBLE) END AS h FROM st),
        |h1 AS (SELECT p.f AS s, CASE WHEN p.f = 'purchase' THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(sum(CAST(p.prob * h0.h AS DECIMAL(38,12))) AS DOUBLE) END AS h
        |       FROM p JOIN h0 ON h0.s = p.t GROUP BY p.f),
        |h2 AS (SELECT p.f AS s, CASE WHEN p.f = 'purchase' THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(sum(CAST(p.prob * h1.h AS DECIMAL(38,12))) AS DOUBLE) END AS h
        |       FROM p JOIN h1 ON h1.s = p.t GROUP BY p.f),
        |h3 AS (SELECT p.f AS s, CASE WHEN p.f = 'purchase' THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(sum(CAST(p.prob * h2.h AS DECIMAL(38,12))) AS DOUBLE) END AS h
        |       FROM p JOIN h2 ON h2.s = p.t GROUP BY p.f),
        |h4 AS (SELECT p.f AS s, CASE WHEN p.f = 'purchase' THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(sum(CAST(p.prob * h3.h AS DECIMAL(38,12))) AS DOUBLE) END AS h
        |       FROM p JOIN h3 ON h3.s = p.t GROUP BY p.f),
        |h5 AS (SELECT p.f AS s, CASE WHEN p.f = 'purchase' THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(sum(CAST(p.prob * h4.h AS DECIMAL(38,12))) AS DOUBLE) END AS h
        |       FROM p JOIN h4 ON h4.s = p.t GROUP BY p.f),
        |h6 AS (SELECT p.f AS s, CASE WHEN p.f = 'purchase' THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(sum(CAST(p.prob * h5.h AS DECIMAL(38,12))) AS DOUBLE) END AS h
        |       FROM p JOIN h5 ON h5.s = p.t GROUP BY p.f)
        |SELECT s AS state, round(h, 6) AS h FROM h6""".stripMargin,

    // q256: the same distinct-value CDF, weighted Gini per candidate in
    // the Spark chain's textual order, ORDER BY (score, v) LIMIT 1
    "q256_best_split" ->
      """WITH d AS (
        |  SELECT n_chars AS v, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND (lang = 'en') IS NOT NULL),
        |g AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS np
        |      FROM d GROUP BY 1),
        |r AS (SELECT v, cnt, np,
        |      CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cn,
        |      CAST(sum(np) OVER (ORDER BY v) AS BIGINT) AS cp FROM g),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(np) AS BIGINT) AS p FROM g),
        |s AS (
        |  SELECT r.v, r.cn, t.n, t.p,
        |    CAST(r.cp AS DOUBLE) / r.cn AS pl,
        |    CAST(t.p - r.cp AS DOUBLE) / (t.n - r.cn) AS pr
        |  FROM r, t WHERE r.cn < t.n),
        |sc AS (
        |  SELECT v, cn, n, p,
        |    round((CAST(cn AS DOUBLE) / n) * (1 - pl*pl - (1-pl)*(1-pl))
        |      + (CAST(n - cn AS DOUBLE) / n) * (1 - pr*pr - (1-pr)*(1-pr)), 6) AS score
        |  FROM s),
        |b AS (SELECT * FROM sc ORDER BY score, v LIMIT 1),
        |b2 AS (SELECT v, cn, n, score,
        |       round(1 - (CAST(p AS DOUBLE)/n)*(CAST(p AS DOUBLE)/n)
        |         - (1 - CAST(p AS DOUBLE)/n)*(1 - CAST(p AS DOUBLE)/n), 6) AS g0
        |       FROM b)
        |SELECT v AS threshold, cn AS n_left, n - cn AS n_right,
        |  score AS gini_split, g0 AS gini_parent, round(g0 - score, 6) AS gain
        |FROM b2""".stripMargin,

    // q255: q131's md5 fold hash, per-(category, fold) decimal target
    // sums, leave-own-fold-out mean smoothed toward the global mean in
    // the Spark chain's textual order
    "q255_target_encoding" ->
      s"""WITH d AS (
         |  SELECT source AS category, CAST(n_chars AS DOUBLE) AS y,
         |    ${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 5 AS fold
         |  FROM documents WHERE n_chars IS NOT NULL),
         |cf AS (SELECT category, fold, sum(CAST(y AS DECIMAL(38,12))) AS sf,
         |       CAST(count(*) AS BIGINT) AS nf
         |       FROM d GROUP BY 1, 2),
         |c AS (SELECT category, sum(sf) AS s, CAST(sum(nf) AS BIGINT) AS n FROM cf GROUP BY 1),
         |g AS (SELECT sum(sf) AS sa, CAST(sum(nf) AS BIGINT) AS na FROM cf)
         |SELECT cf.category, cf.fold, cf.nf AS n_in, c.n - cf.nf AS n_out,
         |  round((CAST(c.s - cf.sf AS DOUBLE)
         |      + CAST(10.0 AS DOUBLE) * (CAST(g.sa AS DOUBLE) / g.na))
         |    / (CAST(c.n - cf.nf AS DOUBLE) + CAST(10.0 AS DOUBLE)), 6) AS te
         |FROM cf JOIN c ON c.category = cf.category, g""".stripMargin,

    // q254: pairwise slopes over the bounded hourly series, type-1
    // median picks by rank — no float summation anywhere, so the fit is
    // bit-identical across engines
    "q254_theil_sen" ->
      """WITH c AS (
        |  SELECT event_type, (epoch_ns(ts) // 1000) // 3600000000 AS x,
        |    CAST(count(*) AS BIGINT) AS yv
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, x, CAST(yv AS DOUBLE) AS y FROM c),
        |sp AS (
        |  SELECT a.event_type, (b2.y - a.y) / CAST(b2.x - a.x AS DOUBLE) AS sl
        |  FROM b a JOIN b b2 ON b2.event_type = a.event_type AND b2.x > a.x),
        |ms AS (
        |  SELECT event_type, sl AS slope, m AS n_pairs FROM (
        |    SELECT event_type, sl,
        |      row_number() OVER (PARTITION BY event_type ORDER BY sl) AS rn,
        |      CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
        |    FROM sp)
        |  WHERE rn = (m + 1) // 2),
        |rs AS (
        |  SELECT b.event_type, b.y - ms.slope * CAST(b.x AS DOUBLE) AS r
        |  FROM b JOIN ms ON ms.event_type = b.event_type),
        |mi AS (
        |  SELECT event_type, r AS icept FROM (
        |    SELECT event_type, r,
        |      row_number() OVER (PARTITION BY event_type ORDER BY r) AS rn,
        |      CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
        |    FROM rs)
        |  WHERE rn = (m + 1) // 2)
        |SELECT ms.event_type, ms.n_pairs, round(ms.slope, 6) AS slope,
        |  round(mi.icept, 6) AS intercept
        |FROM ms JOIN mi ON mi.event_type = ms.event_type""".stripMargin,

    // q253: parallel-unnest tokens with ordinals, stopword-boundary
    // segment ids, deg/freq word scores, decimal phrase sums; the cut is
    // row_number over (rounded score, phrase) — Spark's TakeOrdered twin
    "q253_rake" ->
      raw"""WITH toks AS (
         |  SELECT doc_id, unnest(a) AS tok, unnest(range(1, len(a) + 1)) AS pos
         |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a
         |        FROM documents WHERE text IS NOT NULL)),
         |t1 AS (SELECT doc_id, pos, tok,
         |        (tok IN ('the','a','an','and','or','of','to','in','is','it')
         |         OR NOT regexp_matches(tok, '[a-z0-9]')) AS stop
         |       FROM toks WHERE tok <> ''),
         |seg AS (SELECT doc_id, pos, tok, stop,
         |        sum(CASE WHEN stop THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY doc_id ORDER BY pos) AS ph
         |        FROM t1),
         |words AS (SELECT doc_id, ph, pos, tok FROM seg WHERE NOT stop),
         |wlen AS (SELECT doc_id, ph, pos, tok,
         |         CAST(count(*) OVER (PARTITION BY doc_id, ph) AS BIGINT) AS len FROM words),
         |ws AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq, CAST(sum(len) AS BIGINT) AS deg
         |       FROM wlen GROUP BY 1),
         |ph AS (SELECT w.doc_id, w.ph,
         |        CAST(count(*) AS BIGINT) AS n_words,
         |        string_agg(w.tok, ' ' ORDER BY w.pos) AS phrase,
         |        sum(CAST(CAST(ws.deg AS DOUBLE) / ws.freq AS DECIMAL(38,12))) AS ps
         |       FROM words w JOIN ws ON ws.tok = w.tok
         |       GROUP BY 1, 2
         |       HAVING count(*) <= 4),
         |agg AS (SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
         |        CAST(count(*) AS BIGINT) AS n_occurrences,
         |        round(CAST(max(ps) AS DOUBLE), 6) AS score
         |        FROM ph GROUP BY 1, 2)
         |SELECT phrase, n_words, n_occurrences, score
         |FROM agg
         |QUALIFY row_number() OVER (ORDER BY score DESC, phrase) <= 20""".stripMargin,

    // q252: the same cell-pair fold — strict upper triangle on x,
    // concordant/discordant masses, tie-corrected denominator; BIGINT
    // products at oracle SF (the Spark side carries corpus-safe decimals)
    "q252_kendall" ->
      """WITH d AS (
        |  SELECT l_quantity AS x, floor(l_extendedprice / 10000) AS y FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS o FROM d GROUP BY 1, 2),
        |cd AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN b.y > a.y THEN a.o * b.o END), 0) AS BIGINT) AS c,
        |    CAST(coalesce(sum(CASE WHEN b.y < a.y THEN a.o * b.o END), 0) AS BIGINT) AS dd
        |  FROM cells a JOIN cells b ON b.x > a.x),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |tx AS (SELECT CAST(coalesce(sum(t * (t - 1)), 0) AS BIGINT) AS tx2
        |       FROM (SELECT CAST(sum(o) AS BIGINT) AS t FROM cells GROUP BY x)),
        |ty AS (SELECT CAST(coalesce(sum(t * (t - 1)), 0) AS BIGINT) AS ty2
        |       FROM (SELECT CAST(sum(o) AS BIGINT) AS t FROM cells GROUP BY y)),
        |s1 AS (SELECT n, c, dd,
        |       CAST(n * (n - 1) AS DOUBLE) / 2 AS n0,
        |       CAST(tx2 AS DOUBLE) / 2 AS n1,
        |       CAST(ty2 AS DOUBLE) / 2 AS n2
        |       FROM cd, nn, tx, ty)
        |SELECT n,
        |  CASE WHEN (n0 - n1) > 0 AND (n0 - n2) > 0 THEN
        |    round((CAST(c AS DOUBLE) - CAST(dd AS DOUBLE)) / sqrt((n0 - n1) * (n0 - n2)), 6)
        |  END AS tau_b
        |FROM s1""".stripMargin,

    // q251: group/global sensitive distributions off the same cell
    // counts; the absent-value remainder is 1 − Σ m_v/N; t_close
    // compares the ROUNDED distance (portable)
    "q251_t_closeness" ->
      """WITH cells AS (
        |  SELECT source, lang AS v, CAST(count(*) AS BIGINT) AS o
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
        |mv AS (SELECT v, CAST(sum(o) AS BIGINT) AS m FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |terms AS (
        |  SELECT c.source, c.o, mv.m, tot.n,
        |    CAST(sum(c.o) OVER (PARTITION BY c.source) AS BIGINT) AS group_size
        |  FROM cells c JOIN mv ON mv.v = c.v, tot),
        |ad AS (
        |  SELECT source, group_size, m, n,
        |    abs(CAST(o AS DOUBLE) / group_size - CAST(m AS DOUBLE) / n) AS ad
        |  FROM terms),
        |g AS (
        |  SELECT source, group_size,
        |    sum(CAST(ad AS DECIMAL(38,12))) AS s,
        |    CAST(sum(m) AS BIGINT) AS sm,
        |    any_value(n) AS n
        |  FROM ad GROUP BY 1, 2),
        |f AS (
        |  SELECT source, group_size,
        |    round((CAST(s AS DOUBLE) + (1 - CAST(sm AS DOUBLE) / n)) / 2, 6) AS t_distance
        |  FROM g)
        |SELECT source, group_size, t_distance,
        |  t_distance <= CAST(0.2 AS DOUBLE) AS t_close
        |FROM f""".stripMargin,

    // q250: each bucket count explodes into its maxLag+1 future
    // contributions with exact dyadic weights n/2^k; decimal(38,18) holds
    // 2^-16 exactly, so the sum is order-free and engine-identical
    "q250_ewma" ->
      """WITH c AS (
        |  SELECT event_type, (epoch_ns(ts) // 1000) // 3600000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |contrib AS (
        |  SELECT event_type, bucket + k AS t,
        |    CAST(CAST(n AS DOUBLE) / CAST(1 << k AS DOUBLE) AS DECIMAL(38,18)) AS term,
        |    CASE WHEN k = 0 THEN n END AS own
        |  FROM c CROSS JOIN (SELECT unnest(range(0, 17)) AS k) ks),
        |g AS (SELECT event_type, t, sum(term) AS s,
        |      CAST(coalesce(sum(own), 0) AS BIGINT) AS n
        |      FROM contrib GROUP BY 1, 2),
        |mx AS (SELECT event_type, max(bucket) AS mb FROM c GROUP BY 1)
        |SELECT g.event_type, g.t AS bucket, g.n,
        |  round(CAST(g.s AS DOUBLE) / (CAST(2 AS DOUBLE) - CAST(1 AS DOUBLE) / 65536), 6) AS ewma
        |FROM g JOIN mx ON mx.event_type = g.event_type
        |WHERE g.t <= mx.mb""".stripMargin,

    // q248: the q136 prediction CTE → contingency cells → margins; kappa
    // divides the already-rounded po/pe (the q235 quotient discipline)
    "q248_kappa" ->
      s"""WITH ${langIdPredOracle},
         |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM pred
         |          WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
         |               CAST(sum(CASE WHEN a = b THEN o ELSE 0 END) AS BIGINT) AS diag
         |        FROM cells),
         |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
         |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
         |pe AS (SELECT CAST(coalesce(sum(ra.ra * cb.cb), 0) AS BIGINT) AS px
         |       FROM ra JOIN cb ON cb.b = ra.a),
         |s1 AS (SELECT n, round(CAST(diag AS DOUBLE) / n, 6) AS po,
         |              round(CAST(px AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS pe
         |       FROM tot, pe)
         |SELECT n, po, pe,
         |  CASE WHEN pe < 1 THEN round((po - pe) / (1 - pe), 6) END AS kappa
         |FROM s1""".stripMargin,

    // q249: the same prediction CTE collapsed to the binary confusion;
    // MCC in the Spark chain's textual order (BIGINT products at oracle SF)
    "q249_mcc" ->
      s"""WITH ${langIdPredOracle},
         |d AS (SELECT (b = 'en') AS p, (a = 'en') AS y FROM pred
         |      WHERE (b = 'en') IS NOT NULL AND (a = 'en') IS NOT NULL),
         |m1 AS (SELECT
         |  CAST(sum(CASE WHEN p AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |  CAST(sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM d)
         |SELECT tp, fp, tn, fn,
         |  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0 AND tn + fn > 0
         |    THEN round(CAST(tp * tn - fp * fn AS DOUBLE)
         |      / sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE)
         |        * CAST((tn + fp) * (tn + fn) AS DOUBLE)), 6)
         |  END AS mcc
         |FROM m1""".stripMargin,

    // q247: MSF via the CYCLE PROPERTY of the (w,a,b)-perturbed order —
    // an edge is in the forest iff its endpoints are NOT connected using
    // only strictly-smaller edges; reachability unrolled to 4 steps
    // (≤5 states) over each candidate's smaller-edge subgraph
    "q247_mst" ->
      """WITH e0 AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
        |pr AS (SELECT event_type AS f,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS t
        |      FROM e0),
        |pc AS (
        |  SELECT least(f, t) AS a, greatest(f, t) AS b, CAST(count(*) AS BIGINT) AS w
        |  FROM pr WHERE f IS NOT NULL AND t IS NOT NULL AND f <> t
        |  GROUP BY 1, 2),
        |sm AS (
        |  SELECT c.a AS ca, c.b AS cb, e.a AS x, e.b AS y FROM pc c JOIN pc e
        |    ON (e.w < c.w OR (e.w = c.w AND (e.a < c.a OR (e.a = c.a AND e.b < c.b))))
        |  UNION ALL
        |  SELECT c.a, c.b, e.b, e.a FROM pc c JOIN pc e
        |    ON (e.w < c.w OR (e.w = c.w AND (e.a < c.a OR (e.a = c.a AND e.b < c.b))))),
        |r1 AS (SELECT DISTINCT ca, cb, y AS v FROM sm WHERE x = ca),
        |r2 AS (SELECT DISTINCT r1.ca, r1.cb, s.y AS v FROM r1
        |       JOIN sm s ON s.ca = r1.ca AND s.cb = r1.cb AND s.x = r1.v),
        |r3 AS (SELECT DISTINCT r2.ca, r2.cb, s.y AS v FROM r2
        |       JOIN sm s ON s.ca = r2.ca AND s.cb = r2.cb AND s.x = r2.v),
        |r4 AS (SELECT DISTINCT r3.ca, r3.cb, s.y AS v FROM r3
        |       JOIN sm s ON s.ca = r3.ca AND s.cb = r3.cb AND s.x = r3.v),
        |reach AS (SELECT ca, cb, v FROM r1 UNION SELECT ca, cb, v FROM r2
        |  UNION SELECT ca, cb, v FROM r3 UNION SELECT ca, cb, v FROM r4),
        |hit AS (SELECT DISTINCT ca, cb FROM reach WHERE v = cb)
        |SELECT c.a AS state_a, c.b AS state_b, c.w AS weight
        |FROM pc c LEFT JOIN hit ON hit.ca = c.a AND hit.cb = c.b
        |WHERE hit.ca IS NULL""".stripMargin,

    // exact counts → decimal-summed c·ln c → the same three scalar ops
    "q190_token_entropy" ->
      raw"""WITH toks AS (
        |  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents
        |), t AS (SELECT lang, token FROM toks WHERE token <> ''),
        |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
        |g AS (
        |  SELECT lang, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS vocab,
        |    sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,12))) AS s
        |  FROM c GROUP BY 1
        |)
        |SELECT lang, n AS n_tokens, vocab,
        |  round(ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / n, 6) AS entropy,
        |  round(CASE WHEN vocab > 1
        |    THEN (ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / n) / ln(CAST(vocab AS DOUBLE)) END, 6)
        |    AS norm_entropy
        |FROM g""".stripMargin,

    // q50's transitive closure + per-field elections: count-window mode
    // (ties to greatest), extremes, evidence count
    "q196_golden_record" -> goldenRecordOracle,

    // q196's oracle VERBATIM: hash equality proves the merged-partials
    // serving path ≡ the one-shot assembly (the q120 discipline)
    "q201_golden_partials" -> goldenRecordOracle,

    // recall-gate pattern (q27/q127 class): KMeans cells aren't
    // SQL-expressible, so the oracle pins the gate row — with the vertex
    // count data-derived rather than constant
    "q230_mutual_knn_approx" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vertices,
        |  CAST(TRUE AS BOOLEAN) AS all_labeled,
        |  CAST(TRUE AS BOOLEAN) AS recall_pass
        |FROM embeddings""".stripMargin,

    // the q214 binning replayed, then the q197 integer-maximized KS over
    // bin CDFs — the state-served statistic is the exact KS of the
    // binned distributions
    "q228_ks_from_state" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v, (lang = 'en') AS y FROM documents
        |  WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
        |), g AS (
        |  SELECT CAST(least(greatest(floor((v - CAST(0.0 AS DOUBLE)) / CAST(50.0 AS DOUBLE)), 0), 11) AS BIGINT) AS bin,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM d GROUP BY 1
        |), cum AS (
        |  SELECT bin,
        |    CAST(sum(c1) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
        |    CAST(sum(c2) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
        |  FROM g
        |), t AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n_a, CAST(sum(c2) AS BIGINT) AS n_b FROM g
        |), mx AS (
        |  SELECT CAST(max(abs(f1 * t.n_b - f2 * t.n_a)) AS BIGINT) AS num
        |  FROM cum, t
        |)
        |SELECT t.n_a, t.n_b,
        |  round(CASE WHEN t.n_a > 0 AND t.n_b > 0
        |    THEN CAST(num AS DOUBLE) / (t.n_a * t.n_b) END, 6) AS d,
        |  round((CASE WHEN t.n_a > 0 AND t.n_b > 0
        |    THEN CAST(num AS DOUBLE) / (t.n_a * t.n_b) END)
        |    * sqrt(CAST(t.n_a * t.n_b AS DOUBLE) / (t.n_a + t.n_b)), 6) AS ks_stat
        |FROM mx, t""".stripMargin,

    // the q177 scoring CTE binned to the [0,1)x20 grid, then the midrank
    // Mann-Whitney over bins — all-integer until one division
    "q229_auc_from_state" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), lab AS (
         |  SELECT s.score AS sc, (d.lang = 'en') AS y
         |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
         |), g AS (
         |  SELECT CAST(least(greatest(floor((sc - CAST(0.0 AS DOUBLE)) / CAST(0.05 AS DOUBLE)), 0), 19) AS BIGINT) AS bin,
         |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS nn
         |  FROM lab GROUP BY 1
         |), r AS (
         |  SELECT bin, np, nn,
         |    CAST(coalesce(sum(nn) OVER (ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
         |  FROM g
         |), t AS (
         |  SELECT CAST(sum(np) AS BIGINT) AS npos, CAST(sum(nn) AS BIGINT) AS nneg,
         |    CAST(sum(np * (2 * below + nn)) AS BIGINT) AS m2
         |  FROM r
         |)
         |SELECT npos AS n_pos, nneg AS n_neg,
         |  round(CASE WHEN npos > 0 AND nneg > 0 THEN
         |    CAST(m2 AS DOUBLE) / (2 * npos * nneg) END, 6) AS auc
         |FROM t""".stripMargin,

    // the q214 binning, JS terms with 0·ln0 = 0 by CASE, decimal-summed,
    // one final halving
    "q231_js_divergence" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v, (lang = 'en') AS y FROM documents
        |  WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
        |), g AS (
        |  SELECT CAST(least(greatest(floor((v - CAST(0.0 AS DOUBLE)) / CAST(50.0 AS DOUBLE)), 0), 11) AS BIGINT) AS bin,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM d GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b FROM g
        |), terms AS (
        |  SELECT n_a, n_b,
        |    (CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / n_a)
        |        * ln((CAST(ca AS DOUBLE) / n_a)
        |          / ((CAST(ca AS DOUBLE) / n_a + CAST(cb AS DOUBLE) / n_b) / 2))
        |      ELSE CAST(0.0 AS DOUBLE) END)
        |    + (CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / n_b)
        |        * ln((CAST(cb AS DOUBLE) / n_b)
        |          / ((CAST(ca AS DOUBLE) / n_a + CAST(cb AS DOUBLE) / n_b) / 2))
        |      ELSE CAST(0.0 AS DOUBLE) END) AS term
        |  FROM g, t
        |)
        |SELECT any_value(n_a) AS n_a, any_value(n_b) AS n_b,
        |  round(CASE WHEN any_value(n_a) > 0 AND any_value(n_b) > 0
        |    THEN CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE) / 2 END, 6) AS js
        |FROM terms""".stripMargin,

    // the q228 CDF cross-products SUMMED instead of maxed, scaled once by
    // width/(n_a·n_b)
    "q232_emd_from_state" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v, (lang = 'en') AS y FROM documents
        |  WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
        |), g AS (
        |  SELECT CAST(least(greatest(floor((v - CAST(0.0 AS DOUBLE)) / CAST(50.0 AS DOUBLE)), 0), 11) AS BIGINT) AS bin,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM d GROUP BY 1
        |), cum AS (
        |  SELECT bin,
        |    CAST(sum(c1) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
        |    CAST(sum(c2) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
        |  FROM g
        |), t AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n_a, CAST(sum(c2) AS BIGINT) AS n_b FROM g
        |), s AS (
        |  SELECT sum(CAST(abs(f1 * t.n_b - f2 * t.n_a) AS DECIMAL(38,0))) AS sm
        |  FROM cum, t
        |)
        |SELECT t.n_a, t.n_b,
        |  round(CASE WHEN t.n_a > 0 AND t.n_b > 0
        |    THEN CAST(sm AS DOUBLE) * 50.0 / CAST(t.n_a * t.n_b AS DOUBLE) END, 6) AS emd
        |FROM s, t""".stripMargin,

    // per-user event mass, ntile-binned with the same (v, user_id) tie
    // order, exact cumulative masses, single-division shares
    "q233_lorenz" ->
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS v FROM events GROUP BY 1
        |), b AS (
        |  SELECT v, CAST(ntile(10) OVER (ORDER BY v, user_id) - 1 AS BIGINT) AS bin
        |  FROM c
        |), g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS total
        |  FROM b GROUP BY 1
        |)
        |SELECT bin, n, total,
        |  CAST(sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
        |  CAST(sum(total) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_total,
        |  round(CAST(sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / sum(n) OVER (), 6) AS pop_share,
        |  round(CASE WHEN sum(total) OVER () > 0
        |    THEN CAST(sum(total) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / sum(total) OVER () END, 6) AS value_share
        |FROM g""".stripMargin,

    // q170's exact rolling actives with one ratio on top
    "q227_stickiness" ->
      """WITH du AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS b
        |  FROM events
        |), obs AS (SELECT DISTINCT b FROM du),
        |roll AS (
        |  SELECT o.b, CAST(count(DISTINCT du.user_id) AS BIGINT) AS rolling_active
        |  FROM obs o JOIN du ON du.b BETWEEN o.b - 6 AND o.b
        |  GROUP BY o.b
        |), d AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY b
        |)
        |SELECT d.b AS bucket, d.dau, r.rolling_active,
        |  round(CAST(d.dau AS DOUBLE) / r.rolling_active, 6) AS stickiness
        |FROM d JOIN roll r ON r.b = d.b""".stripMargin,

    // same bucketed counts and tie-broken per-bucket rank
    "q226_trending_terms" ->
      raw"""WITH t AS (
        |  SELECT doc_id // 100 AS bucket,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT bucket, token, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE token <> '' GROUP BY 1, 2
        |)
        |SELECT bucket, token, n,
        |  CAST(row_number() OVER (PARTITION BY bucket ORDER BY n DESC, token DESC) AS BIGINT) AS rank
        |FROM c QUALIFY rank <= 3""".stripMargin,

    // per-group moments → pinned means → decimal-summed SSB/SSW → F
    "q225_anova" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v, lang AS g FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |), grp AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS ng,
        |    sum(CAST(v AS DECIMAL(38,12))) AS sg,
        |    sum(CAST(v * v AS DECIMAL(38,12))) AS qg
        |  FROM d GROUP BY 1
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |    sum(sg) AS st
        |  FROM grp
        |), x AS (
        |  SELECT ng, qg, CAST(sg AS DOUBLE) / ng AS mg, CAST(st AS DOUBLE) / n AS m,
        |    k, n FROM grp, tot
        |), c AS (
        |  SELECT k, n,
        |    CAST(ng * (mg - m) * (mg - m) AS DECIMAL(38,12)) AS ssb,
        |    CAST(CAST(qg AS DOUBLE) - ng * mg * mg AS DECIMAL(38,12)) AS ssw
        |  FROM x
        |), s AS (
        |  SELECT any_value(k) AS k, any_value(n) AS n,
        |    sum(ssb) AS b, sum(ssw) AS w
        |  FROM c
        |)
        |SELECT k, n, k - 1 AS df1, n - k AS df2,
        |  round(CASE WHEN k - 1 > 0 AND n - k > 0 AND CAST(w AS DOUBLE) > 0
        |    THEN (CAST(b AS DOUBLE) / (k - 1)) / (CAST(w AS DOUBLE) / (n - k)) END, 6)
        |    AS f_stat
        |FROM s""".stripMargin,

    // same lag axis, shifted bucket join, q108 moment discipline
    "q223_cross_correlation" ->
      """WITH x AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS t,
        |    CAST(CAST(count(*) AS BIGINT) AS DECIMAL(18,6)) AS xd
        |  FROM events WHERE event_type = 'view' GROUP BY 1
        |), y AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS t,
        |    CAST(CAST(count(*) AS BIGINT) AS DECIMAL(18,6)) AS yd
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), l AS (SELECT CAST(unnest(range(-3, 4)) AS BIGINT) AS lag),
        |p AS (
        |  SELECT l.lag, x.xd, y.yd
        |  FROM x CROSS JOIN l JOIN y ON y.t = x.t + l.lag
        |), a AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xd) AS DOUBLE) AS sx, CAST(sum(yd) AS DOUBLE) AS sy,
        |    CAST(sum(xd * yd) AS DOUBLE) AS sxy,
        |    CAST(sum(xd * xd) AS DOUBLE) AS sxx,
        |    CAST(sum(yd * yd) AS DOUBLE) AS syy
        |  FROM p GROUP BY 1
        |)
        |SELECT lag, n,
        |  round(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |    THEN (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |    END, 6) AS corr
        |FROM a""".stripMargin,

    // the closed form over the divisor splits and the probe grid
    "q224_lsh_curve" ->
      """WITH b AS (SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS bands),
        |s AS (SELECT bands, 16 // bands AS rows_per_band FROM b),
        |j AS (SELECT CAST(x AS DOUBLE) AS j
        |      FROM (SELECT unnest([0.3, 0.5, 0.7, 0.8, 0.9]) AS x))
        |SELECT bands, rows_per_band, j,
        |  round(CAST(1.0 AS DOUBLE)
        |    - pow(CAST(1.0 AS DOUBLE) - pow(j, rows_per_band), bands), 6) AS p_candidate
        |FROM s, j""".stripMargin,

    // the same per-stratum hash-rank order, round-robin fold assignment
    "q221_stratified_kfold" ->
      s"""SELECT doc_id, lang,
         |  (row_number() OVER (PARTITION BY lang
         |     ORDER BY ${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 1000000, doc_id
         |   ) - 1) % 5 AS fold
         |FROM documents""".stripMargin,

    // the clique closed form: LPA labels each clique by its min id, so
    // communities are the n≥2 cliques with e_c = n(n−1)/2, d_c = 2e_c
    "q222_modularity" ->
      """WITH c AS (SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n FROM supplier GROUP BY 1),
        |k AS (SELECT s_nationkey, n, n * (n - 1) // 2 AS ec FROM c WHERE n >= 2),
        |t AS (SELECT CAST(sum(ec) AS BIGINT) AS m FROM k),
        |q AS (
        |  SELECT CAST(ec AS DOUBLE) / t.m
        |    - (CAST(2 * ec AS DOUBLE) / (2 * t.m)) * (CAST(2 * ec AS DOUBLE) / (2 * t.m)) AS qq
        |  FROM k, t
        |)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM k) AS n_communities, t.m AS m,
        |  round(CAST(sum(CAST(qq AS DECIMAL(38,12))) AS DOUBLE), 6) AS modularity
        |FROM q, t GROUP BY t.m""".stripMargin,

    // spans → per-duration counts → at-risk windows → the product
    // recurrence stepped in duration order with identical IEEE ops
    "q219_survival" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), u AS (SELECT user_id, min(day) AS fd, max(day) AS ld FROM e GROUP BY 1),
        |mx AS (SELECT max(ld) AS md FROM u),
        |obs AS (SELECT ld - fd AS t, (ld <= mx.md - 3) AS ev FROM u, mx),
        |g AS (
        |  SELECT t, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM obs GROUP BY 1
        |), r AS (
        |  SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn,
        |    CAST(coalesce(sum(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior,
        |    CAST(sum(d + c) OVER () AS BIGINT) AS nt
        |  FROM g
        |), k AS (
        |  SELECT rn, t, nt - prior AS n_risk, d, c,
        |    CAST(1.0 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(d AS DOUBLE) / (nt - prior)) AS s
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.rn, r.t, r.nt - r.prior, r.d, r.c,
        |    k.s * (CAST(1.0 AS DOUBLE) - CAST(r.d AS DOUBLE) / (r.nt - r.prior))
        |  FROM k JOIN r ON r.rn = k.rn + 1
        |)
        |SELECT t, n_risk, d AS n_events, c AS n_censored, round(s, 6) AS survival
        |FROM k""".stripMargin,

    // the q95 scoring CTE, top-score decile ntile, cumulative windows
    "q220_gains" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), lab AS (
         |  SELECT s.doc_id, s.score, CASE WHEN d.lang = 'en' THEN TRUE ELSE FALSE END AS y
         |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
         |), b AS (
         |  SELECT CAST(ntile(10) OVER (ORDER BY score DESC, doc_id) - 1 AS BIGINT) AS bin, y
         |  FROM lab
         |), g AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
         |  FROM b GROUP BY 1
         |), c AS (
         |  SELECT bin, n, pos,
         |    CAST(sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
         |    CAST(sum(pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
         |    CAST(sum(pos) OVER () AS BIGINT) AS tp,
         |    CAST(sum(n) OVER () AS BIGINT) AS tn
         |  FROM g
         |)
         |SELECT bin, n, pos, cum_pos,
         |  round(CASE WHEN tp > 0 THEN CAST(cum_pos AS DOUBLE) / tp END, 6) AS gain,
         |  round((CASE WHEN tp > 0 THEN CAST(cum_pos AS DOUBLE) / tp END)
         |    / (CAST(cn AS DOUBLE) / tn), 6) AS lift
         |FROM c""".stripMargin,

    // digits from the integer-part string; expected constants
    // interpolated from the one Scala definition (round-trip literals)
    "q217_benford" ->
      s"""WITH d AS (
         |  SELECT substr(CAST(CAST(floor(CAST(o_totalprice AS DOUBLE)) AS BIGINT) AS VARCHAR), 1, 1) AS digit
         |  FROM orders
         |  WHERE o_totalprice IS NOT NULL AND CAST(o_totalprice AS DOUBLE) >= 1.0
         |), t AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM d)
         |SELECT digit, CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(count(*) AS DOUBLE) / t.nt, 6) AS share,
         |  round(CASE digit ${(1 to 9).map(dd =>
               s"WHEN '$dd' THEN CAST(${math.log10(1.0 + 1.0 / dd)} AS DOUBLE)").mkString(" ")}
             END, 6) AS expected,
         |  round(CAST(count(*) AS DOUBLE) / t.nt - CASE digit ${(1 to 9).map(dd =>
               s"WHEN '$dd' THEN CAST(${math.log10(1.0 + 1.0 / dd)} AS DOUBLE)").mkString(" ")}
             END, 6) AS deviation
         |FROM d, t GROUP BY digit, t.nt""".stripMargin,

    // the q66 vocabulary, ranked, ln'd, through the q108 decimal-moment
    // regression shape
    "q218_zipf_fit" ->
      raw"""WITH v AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
         |    FROM documents
         |  ) WHERE token <> '' GROUP BY token
         |), r AS (
         |  SELECT
         |    CAST(ln(CAST(row_number() OVER (ORDER BY tf DESC, token) AS DOUBLE)) AS DECIMAL(18,6)) AS xd,
         |    CAST(ln(CAST(tf AS DOUBLE)) AS DECIMAL(18,6)) AS yd
         |  FROM v
         |), s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(xd) AS DOUBLE) AS sx, CAST(sum(yd) AS DOUBLE) AS sy,
         |    CAST(sum(xd * yd) AS DOUBLE) AS sxy,
         |    CAST(sum(xd * xd) AS DOUBLE) AS sxx,
         |    CAST(sum(yd * yd) AS DOUBLE) AS syy
         |  FROM r)
         |SELECT n,
         |  round(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
         |    THEN (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
         |    END, 6) AS corr,
         |  round(CASE WHEN (n * sxx - sx * sx) > 0
         |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope,
         |  round(CASE WHEN (n * sxx - sx * sx) > 0
         |    THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
         |    END, 6) AS intercept
         |FROM s""".stripMargin,

    // the closed form: union of the maximum-size cliques, density
    // (n_max − 1)/2 — exactly what the peel's best snapshot records
    "q216_densest_subgraph" ->
      """WITH c AS (SELECT s_nationkey, count(*) AS n FROM supplier GROUP BY 1),
        |m AS (SELECT max(n) AS mx FROM c WHERE n >= 2)
        |SELECT CAST(s.s_suppkey AS BIGINT) AS id,
        |  CAST(m.mx - 1 AS DOUBLE) / 2 AS density
        |FROM supplier s JOIN c ON s.s_nationkey = c.s_nationkey, m
        |WHERE c.n = m.mx AND c.n >= 2""".stripMargin,

    // same cells/margins, MI terms with decimal count products inside the
    // ln, entropies per margin, one sqrt for the NMI
    "q234_mutual_information" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2
        |), ra AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |cb AS (SELECT source, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |mi AS (
        |  SELECT any_value(t.n) AS n,
        |    sum(CAST((CAST(c.o AS DOUBLE) / t.n)
        |      * ln(CAST(c.o * t.n AS DOUBLE) / CAST(ra.ra * cb.cb AS DOUBLE))
        |      AS DECIMAL(38,12))) AS m
        |  FROM cells c JOIN ra ON ra.lang = c.lang JOIN cb ON cb.source = c.source, t
        |), ha AS (
        |  SELECT sum(CAST(-(CAST(ra AS DOUBLE) / t.n) * ln(CAST(ra AS DOUBLE) / t.n)
        |    AS DECIMAL(38,12))) AS h FROM ra, t
        |), hb AS (
        |  SELECT sum(CAST(-(CAST(cb AS DOUBLE) / t.n) * ln(CAST(cb AS DOUBLE) / t.n)
        |    AS DECIMAL(38,12))) AS h FROM cb, t
        |)
        |SELECT mi.n,
        |  round(CAST(ha.h AS DOUBLE), 6) AS h_a,
        |  round(CAST(hb.h AS DOUBLE), 6) AS h_b,
        |  round(CAST(mi.m AS DOUBLE), 6) AS mi,
        |  round(CASE WHEN ha.h > 0 AND hb.h > 0
        |    THEN CAST(mi.m AS DOUBLE) / sqrt(CAST(ha.h AS DOUBLE) * CAST(hb.h AS DOUBLE))
        |    END, 6) AS nmi
        |FROM mi, ha, hb""".stripMargin,

    // one q234-shaped MI pipeline per feature, sharing the cells/margins
    // CTEs keyed by feature name; b values are compared only for grouping
    // so a uniform VARCHAR cast is safe; u divides the ROUNDED mi/h_label
    // exactly as the Spark face does
    "q235_info_gain" ->
      """WITH f AS (
        |  SELECT 'source' AS feature, lang AS a, CAST(source AS VARCHAR) AS b
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  UNION ALL
        |  SELECT 'len_band', lang, CAST(CAST(floor(n_chars/400.0) AS BIGINT) AS VARCHAR)
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |), cells AS (
        |  SELECT feature, a, b, CAST(count(*) AS BIGINT) AS o FROM f GROUP BY 1, 2, 3
        |), ra AS (SELECT feature, a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1, 2),
        |cb AS (SELECT feature, b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1, 2),
        |t AS (SELECT feature, CAST(sum(o) AS BIGINT) AS n FROM cells GROUP BY 1),
        |mi AS (
        |  SELECT c.feature, any_value(t.n) AS n,
        |    sum(CAST((CAST(c.o AS DOUBLE) / t.n)
        |      * ln(CAST(c.o * t.n AS DOUBLE) / CAST(ra.ra * cb.cb AS DOUBLE))
        |      AS DECIMAL(38,12))) AS m
        |  FROM cells c
        |  JOIN ra ON ra.feature = c.feature AND ra.a = c.a
        |  JOIN cb ON cb.feature = c.feature AND cb.b = c.b
        |  JOIN t ON t.feature = c.feature
        |  GROUP BY 1
        |), ha AS (
        |  SELECT ra.feature, sum(CAST(-(CAST(ra AS DOUBLE) / t.n) * ln(CAST(ra AS DOUBLE) / t.n)
        |    AS DECIMAL(38,12))) AS h FROM ra JOIN t ON t.feature = ra.feature GROUP BY 1
        |), hb AS (
        |  SELECT cb.feature, sum(CAST(-(CAST(cb AS DOUBLE) / t.n) * ln(CAST(cb AS DOUBLE) / t.n)
        |    AS DECIMAL(38,12))) AS h FROM cb JOIN t ON t.feature = cb.feature GROUP BY 1
        |)
        |SELECT mi.feature, mi.n,
        |  round(CAST(ha.h AS DOUBLE), 6) AS h_label,
        |  round(CAST(hb.h AS DOUBLE), 6) AS h_feature,
        |  round(CAST(mi.m AS DOUBLE), 6) AS mi,
        |  round(CASE WHEN round(CAST(ha.h AS DOUBLE), 6) > 0
        |    THEN round(CAST(mi.m AS DOUBLE), 6) / round(CAST(ha.h AS DOUBLE), 6) END, 6) AS u
        |FROM mi JOIN ha ON ha.feature = mi.feature JOIN hb ON hb.feature = mi.feature""".stripMargin,

    // q242's graph + all-pairs min-dist CTEs; H(v) = Σ 1/d over reached
    // pairs, decimal-summed terms
    "q245_closeness" ->
      """WITH e0 AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
        |pr AS (SELECT event_type AS f,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS t
        |      FROM e0),
        |pc AS (
        |  SELECT least(f, t) AS a, greatest(f, t) AS b, CAST(count(*) AS BIGINT) AS w
        |  FROM pr WHERE f IS NOT NULL AND t IS NOT NULL AND f <> t
        |  GROUP BY 1, 2),
        |mx AS (SELECT max(w) AS mxw FROM pc),
        |pairs AS (SELECT a, b FROM pc, mx WHERE w >= CAST(0.96 AS DOUBLE) * mxw),
        |ty AS (SELECT a AS s FROM pairs UNION SELECT b FROM pairs),
        |m AS (SELECT s AS state, CAST(row_number() OVER (ORDER BY s) AS BIGINT) AS id FROM ty),
        |cn AS (SELECT ma.id AS a, mb.id AS b
        |       FROM pairs JOIN m ma ON ma.state = pairs.a JOIN m mb ON mb.state = pairs.b),
        |ed AS (SELECT a AS src, b AS dst FROM cn UNION ALL SELECT b, a FROM cn),
        |w1 AS (SELECT m.id AS s, e1.dst AS v, 1 AS dist FROM m JOIN ed e1 ON e1.src = m.id),
        |w2 AS (SELECT w1.s, e2.dst AS v, 2 AS dist FROM w1 JOIN ed e2 ON e2.src = w1.v),
        |w3 AS (SELECT w2.s, e3.dst AS v, 3 AS dist FROM w2 JOIN ed e3 ON e3.src = w2.v),
        |w4 AS (SELECT w3.s, e4.dst AS v, 4 AS dist FROM w3 JOIN ed e4 ON e4.src = w3.v),
        |walks AS (
        |  SELECT id AS s, id AS v, 0 AS dist FROM m
        |  UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2
        |  UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4),
        |sp AS (SELECT s, v, min(dist) AS d FROM walks GROUP BY 1, 2),
        |hc AS (
        |  SELECT v AS id, CAST(count(*) AS BIGINT) AS n_reached,
        |    sum(CAST(CAST(1.0 AS DOUBLE) / d AS DECIMAL(38,12))) AS h
        |  FROM sp WHERE d > 0 GROUP BY 1)
        |SELECT m.state,
        |  COALESCE(hc.n_reached, 0) AS n_reached,
        |  round(COALESCE(CAST(hc.h AS DOUBLE), CAST(0.0 AS DOUBLE)), 6) AS harmonic
        |FROM m LEFT JOIN hc ON hc.id = m.id""".stripMargin,

    // same three regexp group counts; sentence floor via greatest
    "q244_readability" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS words,
        |  greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syllables,
        |  round(CASE WHEN len(regexp_extract_all(text, '\S+')) > 0 THEN
        |    206.835
        |      - 1.015 * (CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
        |          / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
        |      - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
        |          / len(regexp_extract_all(text, '\S+'))) END, 6) AS flesch,
        |  round(CASE WHEN len(regexp_extract_all(text, '\S+')) > 0 THEN
        |    0.39 * (CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
        |        / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
        |      + 11.8 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
        |          / len(regexp_extract_all(text, '\S+')))
        |      - 15.59 END, 6) AS fk_grade
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // q177's midrank algebra with every frame keyed by source
    "q243_auc_by_slice" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), lab AS (
         |  SELECT d.source, s.score AS sc, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
         |), g AS (
         |  SELECT source, sc, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS np
         |  FROM lab GROUP BY 1, 2
         |), r AS (
         |  SELECT source, sc, cnt, np,
         |    CAST(coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY sc
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior
         |  FROM g
         |), t AS (
         |  SELECT source, CAST(sum(np) AS BIGINT) AS npos,
         |    CAST(sum(cnt - np) AS BIGINT) AS nneg,
         |    CAST(sum(np * (2 * prior + cnt + 1)) AS BIGINT) AS m2
         |  FROM r GROUP BY 1
         |)
         |SELECT source, npos AS n_pos, nneg AS n_neg,
         |  round(CASE WHEN npos > 0 AND nneg > 0 THEN
         |    CAST(m2 - npos * (npos + 1) AS DOUBLE) / (2 * npos * nneg) END, 6) AS auc
         |FROM t""".stripMargin,

    // pairwise Brandes check: walks UNROLLED to 4 steps (≤5 states, so
    // shortest dist ≤ 4; a recursive CTE re-evaluates the upstream window
    // chain per iteration in DuckDB and never returns) → all-pairs
    // (dist, σ) → BC(v) = Σ σ_sv·σ_vt/σ_st over distance-composing
    // ordered pairs, halved for undirected
    "q242_betweenness" ->
      """WITH e0 AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
        |pr AS (SELECT event_type AS f,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS t
        |      FROM e0),
        |pc AS (
        |  SELECT least(f, t) AS a, greatest(f, t) AS b, CAST(count(*) AS BIGINT) AS w
        |  FROM pr WHERE f IS NOT NULL AND t IS NOT NULL AND f <> t
        |  GROUP BY 1, 2),
        |mx AS (SELECT max(w) AS mxw FROM pc),
        |pairs AS (SELECT a, b FROM pc, mx WHERE w >= CAST(0.96 AS DOUBLE) * mxw),
        |ty AS (SELECT a AS s FROM pairs UNION SELECT b FROM pairs),
        |m AS (SELECT s AS state, CAST(row_number() OVER (ORDER BY s) AS BIGINT) AS id FROM ty),
        |cn AS (SELECT ma.id AS a, mb.id AS b
        |       FROM pairs JOIN m ma ON ma.state = pairs.a JOIN m mb ON mb.state = pairs.b),
        |ed AS (SELECT a AS src, b AS dst FROM cn UNION ALL SELECT b, a FROM cn),
        |w1 AS (SELECT m.id AS s, e1.dst AS v, 1 AS dist FROM m JOIN ed e1 ON e1.src = m.id),
        |w2 AS (SELECT w1.s, e2.dst AS v, 2 AS dist FROM w1 JOIN ed e2 ON e2.src = w1.v),
        |w3 AS (SELECT w2.s, e3.dst AS v, 3 AS dist FROM w2 JOIN ed e3 ON e3.src = w2.v),
        |w4 AS (SELECT w3.s, e4.dst AS v, 4 AS dist FROM w3 JOIN ed e4 ON e4.src = w3.v),
        |walks AS (
        |  SELECT id AS s, id AS v, 0 AS dist FROM m
        |  UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2
        |  UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4),
        |ap AS (SELECT s, v, dist, CAST(count(*) AS BIGINT) AS paths
        |       FROM walks GROUP BY 1, 2, 3),
        |sp AS (SELECT s, v, min(dist) AS d FROM ap GROUP BY 1, 2),
        |sig AS (SELECT ap.s, ap.v, sp.d, ap.paths AS sigma
        |        FROM ap JOIN sp ON sp.s = ap.s AND sp.v = ap.v AND sp.d = ap.dist),
        |bcsum AS (
        |  SELECT sv.v AS id,
        |    sum(CAST(CAST(sv.sigma * vt.sigma AS DOUBLE) / st.sigma AS DECIMAL(38,12))) AS x
        |  FROM sig st
        |  JOIN sig sv ON sv.s = st.s
        |  JOIN sig vt ON vt.s = sv.v AND vt.v = st.v
        |  WHERE sv.v <> st.s AND sv.v <> st.v AND st.s <> st.v
        |    AND sv.d + vt.d = st.d
        |  GROUP BY 1)
        |SELECT m.state, round(COALESCE(CAST(bc.x AS DOUBLE), CAST(0.0 AS DOUBLE)) / 2, 6) AS bc
        |FROM m LEFT JOIN bcsum bc ON bc.id = m.id""".stripMargin,

    // q66's tokenizer distinct'd per doc → (term,label) cells + margins →
    // decimal ad−bc, double square, two pinned divisions; rank compares
    // the ROUNDED score with token tie-break
    "q241_term_chi2" ->
      """WITH d AS (
        |  SELECT doc_id, lang, lower(trim(text)) AS t FROM documents WHERE lang IS NOT NULL),
        |toks AS (
        |  SELECT DISTINCT doc_id, lang,
        |    unnest(regexp_split_to_array(t, '\s+')) AS token FROM d),
        |tl AS (SELECT token, lang AS label, CAST(count(*) AS BIGINT) AS df_in
        |       FROM toks WHERE token <> '' GROUP BY 1, 2),
        |tt AS (SELECT token, CAST(sum(df_in) AS BIGINT) AS df_all FROM tl GROUP BY 1),
        |ll AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS nl FROM d GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |sc AS (
        |  SELECT tl.label, tl.token, tl.df_in, tt.df_all,
        |    round(CAST(n AS DOUBLE)
        |      * CAST(CAST(df_in AS DECIMAL(38,0)) * (n - df_all - (nl - df_in))
        |             - CAST(df_all - df_in AS DECIMAL(38,0)) * (nl - df_in) AS DOUBLE)
        |      * CAST(CAST(df_in AS DECIMAL(38,0)) * (n - df_all - (nl - df_in))
        |             - CAST(df_all - df_in AS DECIMAL(38,0)) * (nl - df_in) AS DOUBLE)
        |      / (CAST(df_all AS DOUBLE) * (n - df_all))
        |      / (CAST(nl AS DOUBLE) * (n - nl)), 6) AS chi2
        |  FROM tl JOIN tt ON tt.token = tl.token JOIN ll ON ll.label = tl.label, nn
        |  WHERE df_all >= 3 AND df_all < n AND nl < n),
        |r AS (
        |  SELECT label, token, df_in, df_all, chi2,
        |    CAST(row_number() OVER (PARTITION BY label ORDER BY chi2 DESC, token) AS INT)
        |      AS rank
        |  FROM sc)
        |SELECT * FROM r WHERE rank <= 5""".stripMargin,

    // mass-ascending interval scan on exact decimal prefix sums; the
    // first valid interval's level via min_by; one-row level attach
    "q240_water_fill" ->
      """WITH sz AS (
        |  SELECT source, sum(CAST(n_chars AS DECIMAL(38,6))) AS w
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0 GROUP BY 1),
        |r AS (
        |  SELECT source, w,
        |    row_number() OVER ow AS rn,
        |    sum(w) OVER (ORDER BY w, source ROWS UNBOUNDED PRECEDING) AS cum,
        |    COALESCE(lag(w) OVER ow, CAST(0 AS DECIMAL(38,6))) AS prev,
        |    CAST(count(*) OVER () AS BIGINT) AS k
        |  FROM sz
        |  WINDOW ow AS (ORDER BY w, source)),
        |c AS (
        |  SELECT rn,
        |    (CAST(140000 AS DOUBLE) - CAST(cum - w AS DOUBLE)) / (k - rn + 1) AS t
        |  FROM r
        |  WHERE CAST(prev AS DOUBLE)
        |      <= (CAST(140000 AS DOUBLE) - CAST(cum - w AS DOUBLE)) / (k - rn + 1)
        |    AND (CAST(140000 AS DOUBLE) - CAST(cum - w AS DOUBLE)) / (k - rn + 1)
        |      <= CAST(w AS DOUBLE)),
        |tv AS (SELECT min_by(t, rn) AS t FROM c)
        |SELECT r.source, CAST(r.w AS DOUBLE) AS w,
        |  round(CASE WHEN tv.t IS NOT NULL THEN least(CAST(r.w AS DOUBLE), tv.t)
        |    ELSE CAST(r.w AS DOUBLE) END, 6) AS alloc,
        |  (tv.t IS NOT NULL AND CAST(r.w AS DOUBLE) > tv.t) AS capped
        |FROM r, tv""".stripMargin,

    // q103's bucket CTE → 2×MA trend via paired RANGE frames (25-bucket
    // guard), decimal-summed phase means of the detrended values,
    // residual from the two rounded parts
    "q239_seasonal_decompose" ->
      """WITH c AS (
        |  SELECT event_type, (epoch_ns(ts) // 1000) // 3600000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, bucket, n,
        |    round(CASE WHEN count(n) OVER w = 25
        |      THEN CAST(sum(n) OVER w + sum(n) OVER wi AS DOUBLE) / 48 END, 6) AS trend
        |  FROM c
        |  WINDOW w  AS (PARTITION BY event_type ORDER BY bucket
        |                RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING),
        |         wi AS (PARTITION BY event_type ORDER BY bucket
        |                RANGE BETWEEN 11 PRECEDING AND 11 FOLLOWING)),
        |p AS (
        |  SELECT event_type, bucket % 24 AS ph,
        |    sum(CAST(n - trend AS DECIMAL(38,12))) AS sd, CAST(count(*) AS BIGINT) AS sc
        |  FROM t WHERE trend IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT event_type, ph, round(CAST(sd AS DOUBLE) / sc, 6) AS seasonal FROM p)
        |SELECT t.event_type, t.bucket, t.n, t.trend, s.seasonal,
        |  round(t.n - t.trend - s.seasonal, 6) AS residual
        |FROM t LEFT JOIN s ON s.event_type = t.event_type AND s.ph = t.bucket % 24""".stripMargin,

    // q99's transition CTE → row-stochastic P (self-loops for dangling
    // states) → ten unrolled xᵢ₊₁ = Pᵀxᵢ steps, each a decimal-summed
    // product aggregate exactly as the Spark loop runs them
    "q237_markov_stationary" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
        |pr AS (SELECT event_type AS f,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS t
        |      FROM e),
        |c AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM pr
        |      WHERE f IS NOT NULL AND t IS NOT NULL GROUP BY 1, 2),
        |st AS (SELECT f AS s FROM c UNION SELECT t FROM c),
        |cc AS (SELECT * FROM c
        |       UNION ALL
        |       SELECT s, s, CAST(1 AS BIGINT) FROM st WHERE s NOT IN (SELECT f FROM c)),
        |p AS (SELECT f, t,
        |        CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY f) AS DOUBLE) AS prob
        |      FROM cc),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM st),
        |x0 AS (SELECT s, CAST(1.0 AS DOUBLE) / k AS p FROM st, k),
        |x1 AS (SELECT p.t AS s, CAST(sum(CAST(x0.p * p.prob AS DECIMAL(38,12))) AS DOUBLE) AS p
        |       FROM x0 JOIN p ON p.f = x0.s GROUP BY 1),
        |x2 AS (SELECT p.t AS s, CAST(sum(CAST(x1.p * p.prob AS DECIMAL(38,12))) AS DOUBLE) AS p
        |       FROM x1 JOIN p ON p.f = x1.s GROUP BY 1),
        |x3 AS (SELECT p.t AS s, CAST(sum(CAST(x2.p * p.prob AS DECIMAL(38,12))) AS DOUBLE) AS p
        |       FROM x2 JOIN p ON p.f = x2.s GROUP BY 1),
        |x4 AS (SELECT p.t AS s, CAST(sum(CAST(x3.p * p.prob AS DECIMAL(38,12))) AS DOUBLE) AS p
        |       FROM x3 JOIN p ON p.f = x3.s GROUP BY 1),
        |x5 AS (SELECT p.t AS s, CAST(sum(CAST(x4.p * p.prob AS DECIMAL(38,12))) AS DOUBLE) AS p
        |       FROM x4 JOIN p ON p.f = x4.s GROUP BY 1),
        |x6 AS (SELECT p.t AS s, CAST(sum(CAST(x5.p * p.prob AS DECIMAL(38,12))) AS DOUBLE) AS p
        |       FROM x5 JOIN p ON p.f = x5.s GROUP BY 1),
        |x7 AS (SELECT p.t AS s, CAST(sum(CAST(x6.p * p.prob AS DECIMAL(38,12))) AS DOUBLE) AS p
        |       FROM x6 JOIN p ON p.f = x6.s GROUP BY 1),
        |x8 AS (SELECT p.t AS s, CAST(sum(CAST(x7.p * p.prob AS DECIMAL(38,12))) AS DOUBLE) AS p
        |       FROM x7 JOIN p ON p.f = x7.s GROUP BY 1),
        |x9 AS (SELECT p.t AS s, CAST(sum(CAST(x8.p * p.prob AS DECIMAL(38,12))) AS DOUBLE) AS p
        |       FROM x8 JOIN p ON p.f = x8.s GROUP BY 1),
        |x10 AS (SELECT p.t AS s, CAST(sum(CAST(x9.p * p.prob AS DECIMAL(38,12))) AS DOUBLE) AS p
        |       FROM x9 JOIN p ON p.f = x9.s GROUP BY 1)
        |SELECT st.s AS state, round(COALESCE(x10.p, CAST(0.0 AS DOUBLE)), 6) AS p
        |FROM st LEFT JOIN x10 ON x10.s = st.s""".stripMargin,

    // q83's scoring CTE minus the self-match, ranked per query; relevance
    // = same label; DCG terms ln2/ln(rank+1) decimal-summed like the Spark
    // face, one double division per metric
    "q236_retrieval_metrics" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv, label AS ql FROM e WHERE vec_id % 100 = 0),
        |s AS (
        |  SELECT q.query_id, e.vec_id AS doc_id,
        |    round(list_dot_product(e.v, q.qv)
        |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
        |      AS score
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |topk AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |    FROM s) WHERE rank <= 5),
        |rel AS (
        |  SELECT q.query_id, e.vec_id AS doc_id
        |  FROM q JOIN e ON e.label = q.ql AND e.vec_id <> q.query_id),
        |ideal AS (
        |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant,
        |    sum(CASE WHEN ir <= 5 THEN CAST(ln(2.0) / ln(ir + 1) AS DECIMAL(38,12)) END) AS idcg
        |  FROM (SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY doc_id) AS ir
        |        FROM rel)
        |  GROUP BY 1),
        |h AS (
        |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS hits, min(t.rank) AS first_rank,
        |    sum(CAST(ln(2.0) / ln(t.rank + 1) AS DECIMAL(38,12))) AS dcg
        |  FROM topk t JOIN rel ON rel.query_id = t.query_id AND rel.doc_id = t.doc_id
        |  GROUP BY 1)
        |SELECT i.query_id, i.n_relevant,
        |  COALESCE(h.hits, 0) AS hits,
        |  round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / i.n_relevant, 6) AS recall,
        |  round(COALESCE(CAST(1.0 AS DOUBLE) / h.first_rank, CAST(0.0 AS DOUBLE)), 6) AS rr,
        |  round(COALESCE(CAST(h.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE),
        |    CAST(0.0 AS DOUBLE)), 6) AS ndcg
        |FROM ideal i LEFT JOIN h ON h.query_id = i.query_id""".stripMargin,

    // q302: q236's ranking CTEs + the cumulative-hit precision fold
    "q302_avg_precision" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv, label AS ql FROM e WHERE vec_id % 100 = 0),
        |s AS (
        |  SELECT q.query_id, e.vec_id AS doc_id,
        |    round(list_dot_product(e.v, q.qv)
        |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
        |      AS score
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |topk AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |    FROM s) WHERE rank <= 5),
        |rel AS (
        |  SELECT q.query_id, e.vec_id AS doc_id
        |  FROM q JOIN e ON e.label = q.ql AND e.vec_id <> q.query_id),
        |hits AS (
        |  SELECT t.query_id, t.rank,
        |    count(*) OVER (PARTITION BY t.query_id ORDER BY t.rank
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM topk t JOIN rel ON rel.query_id = t.query_id AND rel.doc_id = t.doc_id),
        |a AS (
        |  SELECT query_id, CAST(count(*) AS BIGINT) AS hits,
        |    sum(CAST(CAST(cum AS DOUBLE) / rank AS DECIMAL(38,12))) AS sp
        |  FROM hits GROUP BY 1),
        |nr AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant FROM rel GROUP BY 1)
        |SELECT nr.query_id, nr.n_relevant,
        |  COALESCE(a.hits, 0) AS hits,
        |  round(COALESCE(CAST(sp AS DOUBLE), CAST(0.0 AS DOUBLE))
        |    / least(nr.n_relevant, 5), 6) AS ap
        |FROM nr LEFT JOIN a ON a.query_id = nr.query_id""".stripMargin,

    // cells → margins → expected → contributions in the same pinned order
    "q215_cramers_v" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2
        |), rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS r,
        |    CAST(count(DISTINCT source) AS BIGINT) AS c
        |  FROM cells
        |), grid AS (
        |  SELECT rt.lang, ct.source, ra, cb, coalesce(cells.o, 0) AS o
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.lang = rt.lang AND cells.source = ct.source
        |), x AS (
        |  SELECT o, CAST(ra AS DOUBLE) * cb / n AS e, n, r, c
        |  FROM grid, tot
        |), s AS (
        |  SELECT any_value(n) AS n, any_value(r) AS r, any_value(c) AS c,
        |    sum(CAST((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
        |      AS DECIMAL(38,12))) AS s2
        |  FROM x
        |)
        |SELECT n, r, c, round(CAST(s2 AS DOUBLE), 6) AS chi2,
        |  round(CASE WHEN least(r, c) >= 2
        |    THEN sqrt(CAST(s2 AS DOUBLE) / CAST(n * least(r - 1, c - 1) AS DOUBLE)) END, 6)
        |    AS cramers_v
        |FROM s""".stripMargin,

    // the same relative-day CASE off the same scalar minimum
    "q211_temporal_split" ->
      """WITH e AS (SELECT event_id, epoch_ns(ts) AS t FROM events),
        |m AS (SELECT min(t) AS m0 FROM e)
        |SELECT event_id,
        |  CASE WHEN t - m.m0 < 1555200000000000 THEN 'train'
        |       WHEN t - m.m0 >= 1728000000000000 THEN 'test'
        |       ELSE 'embargo' END AS split
        |FROM e, m""".stripMargin,

    // average ranks replayed (rank() + (ties−1)/2), decimal moments,
    // the same closed-form arithmetic order
    "q212_spearman" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |    CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS DOUBLE)
        |      + CAST(count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS DOUBLE)
        |        / CAST(2.0 AS DOUBLE) AS rx,
        |    CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS DOUBLE)
        |      + CAST(count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS DOUBLE)
        |        / CAST(2.0 AS DOUBLE) AS ry
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |), a AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(rx AS DECIMAL(38,12))) AS sx,
        |    sum(CAST(ry AS DECIMAL(38,12))) AS sy,
        |    sum(CAST(rx * ry AS DECIMAL(38,12))) AS sxy,
        |    sum(CAST(rx * rx AS DECIMAL(38,12))) AS sxx,
        |    sum(CAST(ry * ry AS DECIMAL(38,12))) AS syy
        |  FROM r GROUP BY 1
        |), f AS (
        |  SELECT l_returnflag, n,
        |    n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
        |    n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy
        |  FROM a
        |)
        |SELECT l_returnflag, n,
        |  round(CASE WHEN dx > 0 AND dy > 0 THEN num / (sqrt(dx) * sqrt(dy)) END, 6)
        |    AS spearman
        |FROM f""".stripMargin,

    // clique closed form: every edge of an n-clique (n ≥ k) closes n − 2
    // triangles; smaller cliques peel away entirely
    "q213_graph_ktruss" ->
      """WITH c AS (SELECT s_nationkey, count(*) AS n FROM supplier GROUP BY 1)
        |SELECT CAST(least(a.s_suppkey, b.s_suppkey) AS BIGINT) AS src,
        |  CAST(greatest(a.s_suppkey, b.s_suppkey) AS BIGINT) AS dst,
        |  CAST(c.n - 2 AS BIGINT) AS support
        |FROM supplier a
        |JOIN supplier b ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
        |JOIN c ON c.s_nationkey = a.s_nationkey
        |WHERE c.n >= 4""".stripMargin,

    // clique closed form: every member of an n-clique has core n − 1
    // (nations with a single supplier produce no edges and are absent)
    "q209_graph_core_numbers" ->
      """WITH c AS (SELECT s_nationkey, count(*) AS n FROM supplier GROUP BY 1)
        |SELECT s.s_suppkey AS id, CAST(c.n - 1 AS BIGINT) AS core
        |FROM supplier s JOIN c ON s.s_nationkey = c.s_nationkey
        |WHERE c.n >= 2""".stripMargin,

    // the same normalized token positions, gram windows, duplicate
    // starts, position union and character mass
    "q210_dup_ngram_coverage" ->
      raw"""WITH d AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, unnest(range(len(toks))) AS p, toks FROM d
        |), tok AS (SELECT doc_id, p, toks[p + 1] AS tk FROM pos),
        |g AS (
        |  SELECT doc_id, p AS start,
        |    toks[p + 1] || ' ' || toks[p + 2] || ' ' || toks[p + 3] AS gram
        |  FROM pos WHERE p + 3 <= len(toks)
        |), dup AS (
        |  SELECT doc_id, gram FROM g GROUP BY 1, 2 HAVING count(*) >= 2
        |), ds AS (SELECT g.doc_id, g.start FROM g JOIN dup USING (doc_id, gram)),
        |cov AS (
        |  SELECT DISTINCT doc_id, start + o.o AS p
        |  FROM ds, (SELECT unnest(range(3)) AS o) o
        |), tl AS (SELECT doc_id, p, length(tk) AS l FROM tok),
        |tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(l) AS BIGINT) AS total
        |  FROM tl GROUP BY 1
        |), cv AS (
        |  SELECT tl.doc_id, CAST(count(*) AS BIGINT) AS nc, CAST(sum(l) AS BIGINT) AS cov
        |  FROM cov JOIN tl USING (doc_id, p) GROUP BY 1
        |)
        |SELECT tot.doc_id, n_tokens, coalesce(nc, 0) AS n_covered,
        |  round(CASE WHEN total > 0
        |    THEN CAST(coalesce(cov, 0) AS DOUBLE) / total END, 6) AS dup_char_frac
        |FROM tot LEFT JOIN cv USING (doc_id)""".stripMargin,

    // two rank-rule quantile tables joined on the probe grid
    "q207_qq_compare" ->
      """WITH en AS (
        |  SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn,
        |    count(*) OVER () AS n
        |  FROM documents WHERE lang = 'en'
        |), de AS (
        |  SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn,
        |    count(*) OVER () AS n
        |  FROM documents WHERE lang = 'de'
        |), ps AS (
        |  SELECT CAST(x AS DOUBLE) / 10 AS p FROM (SELECT unnest(range(1, 10)) AS x)
        |), qa AS (
        |  SELECT p, n_chars AS q_en FROM en, ps
        |  WHERE rn = greatest(1, CAST(ceil(p * n) AS BIGINT))
        |), qb AS (
        |  SELECT p, n_chars AS q_de FROM de, ps
        |  WHERE rn = greatest(1, CAST(ceil(p * n) AS BIGINT))
        |)
        |SELECT qa.p, q_en, q_de, q_en - q_de AS diff
        |FROM qa JOIN qb ON qa.p = qb.p""".stripMargin,

    // LATERAL top-1 by (|Δ|, direction, payload) — the arbitration rule
    // spelled as one ordering
    "q208_asof_nearest" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
        |      WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.tsu AS click_ts,
        |  coalesce(m.event_id, -1) AS purchase_id, coalesce(m.tsu, -1) AS purchase_ts
        |FROM c LEFT JOIN LATERAL (
        |  SELECT p.event_id, p.tsu FROM p
        |  WHERE p.user_id = c.user_id AND abs(p.tsu - c.tsu) <= 7200000000
        |  ORDER BY abs(p.tsu - c.tsu) ASC,
        |    CASE WHEN p.tsu <= c.tsu THEN 0 ELSE 1 END ASC, p.event_id DESC
        |  LIMIT 1) m ON TRUE""".stripMargin,

    // the allocation replayed layer by layer (mu → var → weights →
    // shares → largest remainder), then the q163 rank-draw rule
    "q206_neyman_sample" ->
      s"""WITH m AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(n_chars AS DECIMAL(38,12))) AS s,
         |    sum(CAST(n_chars * n_chars AS DECIMAL(38,12))) AS q
         |  FROM documents GROUP BY 1
         |), mu AS (SELECT lang, n, q, CAST(s AS DOUBLE) / n AS mu FROM m),
         |v AS (
         |  SELECT lang, n, greatest(CAST(0.0 AS DOUBLE),
         |    (CAST(q AS DOUBLE) - n * mu * mu) / n) AS var
         |  FROM mu
         |), w AS (SELECT lang, n, n * sqrt(var) AS wt FROM v),
         |a AS (SELECT lang, n, wt, sum(wt) OVER () AS tw FROM w),
         |sh AS (
         |  SELECT lang, n,
         |    CASE WHEN tw > 0 THEN 120 * wt / tw ELSE CAST(0.0 AS DOUBLE) END AS share
         |  FROM a
         |), b AS (
         |  SELECT lang, n, CAST(floor(share) AS BIGINT) AS base,
         |    share - CAST(floor(share) AS BIGINT) AS frac
         |  FROM sh
         |), c AS (
         |  SELECT lang, n, base, frac,
         |    row_number() OVER (ORDER BY frac DESC, lang) AS rr,
         |    120 - sum(base) OVER () AS leftover
         |  FROM b
         |), quota AS (
         |  SELECT lang, least(n, base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END) AS quota
         |  FROM c
         |), r AS (
         |  SELECT doc_id, lang, source, n_chars,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 1000000, doc_id
         |    ) AS rn
         |  FROM documents
         |)
         |SELECT r.doc_id, r.lang, r.source, r.n_chars
         |FROM r JOIN quota ON quota.lang = r.lang
         |WHERE r.rn <= quota.quota""".stripMargin,

    // same per-user interval join, same 1/n rational shares
    "q204_linear_attribution" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t, event_id FROM events),
        |conv AS (SELECT user_id, t AS ct, event_id AS cid FROM e WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id, event_type AS tt, t AS tts FROM e
        |          WHERE event_type IN ('view', 'click')),
        |p AS (
        |  SELECT cid, tt FROM conv JOIN touch USING (user_id)
        |  WHERE tts < ct AND tts >= ct - 604800000000000
        |), n AS (SELECT cid, CAST(count(*) AS BIGINT) AS nt FROM p GROUP BY 1)
        |SELECT tt AS channel, count(*) AS n_touches,
        |  round(CAST(sum(CAST(CAST(1.0 AS DOUBLE) / nt AS DECIMAL(38,12))) AS DOUBLE), 6)
        |    AS credit
        |FROM p JOIN n USING (cid) GROUP BY 1""".stripMargin,

    // identical plant, identical regex counts (RE2 ⇄ Java agree on these
    // classes), one division, threshold on the unrounded score
    "q205_code_screen" ->
      raw"""WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN text || ' def main() { return x; } import os; if (a<b) { y=2; }'
        |      ELSE text END AS text
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[{}();=<>]')) AS BIGINT) AS sym_count,
        |    CAST(len(regexp_extract_all(text,
        |      '\b(def|class|return|import|val|var|if|else|for|while)\b')) AS BIGINT) AS kw_count,
        |    CAST(length(text) AS BIGINT) AS l
        |  FROM d
        |), sc AS (
        |  SELECT doc_id, sym_count, kw_count,
        |    CASE WHEN l > 0 THEN CAST(2 * sym_count + 3 * kw_count AS DOUBLE) / l END AS s
        |  FROM sig
        |)
        |SELECT doc_id, sym_count, kw_count, round(s, 6) AS score,
        |  (s > CAST(0.02 AS DOUBLE)) AS is_code
        |FROM sc""".stripMargin,

    // the recurrence replayed row-by-row as a recursive CTE in series
    // order — same exact decimal mean, same IEEE step arithmetic
    "q202_cusum" ->
      """WITH RECURSIVE s AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS t, CAST(count(*) AS DOUBLE) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS mu FROM s
        |), r AS (SELECT t, x, row_number() OVER (ORDER BY t) AS rn FROM s),
        |c AS (
        |  SELECT rn, t, x,
        |    greatest(CAST(0.0 AS DOUBLE),
        |      CAST(0.0 AS DOUBLE) + (x - (SELECT mu FROM tot) - CAST(5.0 AS DOUBLE))) AS sp,
        |    greatest(CAST(0.0 AS DOUBLE),
        |      CAST(0.0 AS DOUBLE) + ((SELECT mu FROM tot) - x - CAST(5.0 AS DOUBLE))) AS sn
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.rn, r.t, r.x,
        |    greatest(CAST(0.0 AS DOUBLE), c.sp + (r.x - (SELECT mu FROM tot) - CAST(5.0 AS DOUBLE))),
        |    greatest(CAST(0.0 AS DOUBLE), c.sn + ((SELECT mu FROM tot) - r.x - CAST(5.0 AS DOUBLE)))
        |  FROM c JOIN r ON r.rn = c.rn + 1
        |)
        |SELECT t, x, round(sp, 6) AS cusum_pos, round(sn, 6) AS cusum_neg,
        |  (sp > CAST(15.0 AS DOUBLE) OR sn > CAST(15.0 AS DOUBLE)) AS alarm
        |FROM c""".stripMargin,

    // merge-invariance is the Spark-side claim (spec-pinned); the oracle
    // computes the same grid, cumulative ranks and bin bounds directly
    "q203_hist_quantiles" ->
      """WITH b AS (
        |  SELECT CAST(least(greatest(floor(CAST(n_chars AS DOUBLE) / 50.0), 0), 11) AS BIGINT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1
        |), c AS (
        |  SELECT bin, n,
        |    sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n) OVER () AS nt
        |  FROM b
        |)
        |SELECT p, bin,
        |  round(bin * CAST(50.0 AS DOUBLE), 6) AS q_lo,
        |  round((bin + 1) * CAST(50.0 AS DOUBLE), 6) AS q_hi
        |FROM c, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))) t(p)
        |WHERE cum >= greatest(1, CAST(ceil(p * nt) AS BIGINT))
        |  AND cum - n < greatest(1, CAST(ceil(p * nt) AS BIGINT))""".stripMargin,

    // per-bin shares on the q106 grid, contributions (p−q)·ln(p/q) only
    // where both sides are populated, decimal-cast before the sum
    "q199_psi" -> psiOracle,

    // q199's SQL VERBATIM: the state-served PSI must hash-match the inline path
    "q214_psi_from_state" -> psiOracle,

    // the same collapsed actor frame and the q107 ntile rule ×3
    "q200_rfm" ->
      """WITH base AS (
        |  SELECT o_custkey AS user_id, max(epoch_us(o_orderdate)) AS recency,
        |    count(*) AS frequency, round(sum(o_totalprice), 2) AS monetary
        |  FROM orders GROUP BY 1
        |)
        |SELECT user_id, recency, frequency, monetary,
        |  CAST(ntile(4) OVER (ORDER BY recency, user_id) - 1 AS BIGINT) AS r_bin,
        |  CAST(ntile(4) OVER (ORDER BY frequency, user_id) - 1 AS BIGINT) AS f_bin,
        |  CAST(ntile(4) OVER (ORDER BY monetary, user_id) - 1 AS BIGINT) AS m_bin
        |FROM base""".stripMargin,

    // the integer-supremum replay: distinct-value collapse, cumulative
    // counts, max |c_a·n_b − c_b·n_a|, one division (twice spelled — the
    // rounded d and the unrounded d feeding ks_stat, as in the Spark plan)
    "q197_ks_test" ->
      """WITH d AS (
        |  SELECT n_chars AS v, (lang = 'en') AS y FROM documents
        |  WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
        |), g AS (
        |  SELECT v, CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM d GROUP BY 1
        |), cum AS (
        |  SELECT v,
        |    sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
        |    sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
        |  FROM g
        |), t AS (
        |  SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM d
        |), mx AS (
        |  SELECT CAST(max(abs(f1 * t.n_b - f2 * t.n_a)) AS BIGINT) AS num
        |  FROM cum, t
        |)
        |SELECT t.n_a, t.n_b,
        |  round(CASE WHEN t.n_a > 0 AND t.n_b > 0
        |    THEN CAST(num AS DOUBLE) / (t.n_a * t.n_b) END, 6) AS d,
        |  round((CASE WHEN t.n_a > 0 AND t.n_b > 0
        |    THEN CAST(num AS DOUBLE) / (t.n_a * t.n_b) END)
        |    * sqrt(CAST(t.n_a * t.n_b AS DOUBLE) / (t.n_a + t.n_b)), 6) AS ks_stat
        |FROM mx, t""".stripMargin,

    // the rank-form Gini replayed: integer counts, decimal i·x sums
    "q198_gini" ->
      """WITH c AS (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT event_type, x,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY x) AS BIGINT) AS i
        |  FROM c
        |), a AS (
        |  SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS total,
        |    sum(CAST(i * x AS DECIMAL(38,0))) AS s1
        |  FROM r GROUP BY 1
        |)
        |SELECT event_type, n, total,
        |  round(CASE WHEN total > 0
        |    THEN (CAST(2.0 AS DOUBLE) * CAST(s1 AS DOUBLE) - CAST(n + 1 AS DOUBLE) * total)
        |      / (CAST(n AS DOUBLE) * total) END, 6) AS gini
        |FROM a""".stripMargin,

    // same integer-grid Poisson draws (thresholds interpolated from the
    // one Scala definition), decimal-exact means, rank-rule quantiles
    "q193_bootstrap_ci" ->
      s"""WITH reps AS (
         |  SELECT CAST(n_chars AS DOUBLE) AS v, doc_id, r.r AS r
         |  FROM documents, (SELECT unnest(range(200)) AS r) r
         |  WHERE n_chars IS NOT NULL
         |), u AS (
         |  SELECT r, v,
         |    ${md5l("'42:' || CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)")}
         |      % 1000000 AS u
         |  FROM reps
         |), w AS (
         |  SELECT r, v, CASE
         |    ${graft.ops.Stats.poissonThresholds.zipWithIndex
               .map { case (t, i) => s"WHEN u < $t THEN $i" }.mkString(" ")}
         |    ELSE ${graft.ops.Stats.poissonThresholds.length} END AS w
         |  FROM u
         |), m AS (
         |  SELECT r, CAST(sum(CAST(v * w AS DECIMAL(38,12))) AS DOUBLE)
         |    / CAST(sum(w) AS BIGINT) AS m
         |  FROM w WHERE w > 0 GROUP BY r
         |), rk AS (
         |  SELECT m, row_number() OVER (ORDER BY m) AS rn, count(*) OVER () AS n FROM m
         |)
         |SELECT p, m AS q
         |FROM rk, (VALUES (CAST(0.025 AS DOUBLE)), (CAST(0.975 AS DOUBLE))) t(p)
         |WHERE rn = greatest(1, CAST(ceil(p * n) AS BIGINT))""".stripMargin,

    // the same two rank frames; the target global rank is exact integer
    // arithmetic ('//' ⇄ Spark's `div`)
    "q194_quantile_normalize" ->
      """WITH s AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents
        |), g AS (
        |  SELECT n_chars AS gv,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS grk
        |  FROM documents
        |), t AS (SELECT count(*) AS nt FROM documents)
        |SELECT s.doc_id, s.lang, s.n_chars, g.gv AS normalized
        |FROM s, t, g
        |WHERE g.grk = (s.rn * t.nt + s.n - 1) // s.n""".stripMargin,

    // the q45 sample rule on vec_id, DuckDB's sequential-fold dot product
    // (bit-compatible with the native cosine), the q106 bin formula
    "q195_embed_dist_hist" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE ${md5l("'42:' || CAST(vec_id AS VARCHAR)")} % 1000000 < 120000
         |), p AS (
         |  SELECT list_dot_product(a.v, b.v)
         |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |), b AS (
         |  SELECT CAST(least(greatest(floor((c - CAST(-1.0 AS DOUBLE)) / CAST(0.1 AS DOUBLE)), 0), 19) AS BIGINT) AS bin
         |  FROM p
         |)
         |SELECT bin,
         |  round(CAST(-1.0 AS DOUBLE) + bin * CAST(0.1 AS DOUBLE), 6) AS bin_lo,
         |  round(CAST(-1.0 AS DOUBLE) + (bin + 1) * CAST(0.1 AS DOUBLE), 6) AS bin_hi,
         |  count(*) AS n
         |FROM b GROUP BY 1""".stripMargin,

    // independent walk: per-root recursive descent, level = max path
    // length (the tree has one parent per node, so the walk is linear)
    "q191_dag_levels" ->
      """WITH RECURSIVE keys AS (SELECT CAST(p_partkey AS BIGINT) AS k FROM part),
        |e AS (
        |  SELECT k AS src, k * 2 AS dst FROM keys
        |  WHERE k * 2 IN (SELECT k FROM keys) AND k * 2 <> k
        |  UNION ALL
        |  SELECT k, k * 2 + 1 FROM keys WHERE k * 2 + 1 IN (SELECT k FROM keys)
        |),
        |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |roots AS (SELECT id FROM v WHERE id NOT IN (SELECT dst FROM e)),
        |walk AS (
        |  SELECT id, 0 AS l FROM roots
        |  UNION ALL
        |  SELECT e.dst, l + 1 FROM walk JOIN e ON e.src = walk.id
        |)
        |SELECT id, CAST(max(l) AS BIGINT) AS level FROM walk GROUP BY 1""".stripMargin,

    // q182's edge construction, reciprocity via EXISTS on the swapped pair
    "q192_reciprocity" ->
      """WITH base AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
        |    CAST(l_partkey AS BIGINT) + 10000000 AS p, l_linenumber % 2 AS par
        |  FROM lineitem WHERE l_partkey % 20 = 0
        |), e AS (
        |  SELECT s AS src, p AS dst FROM base WHERE par = 1
        |  UNION
        |  SELECT p, s FROM base WHERE par = 0
        |), v AS (SELECT src AS x FROM e UNION SELECT dst FROM e),
        |r AS (
        |  SELECT count(*) AS n_edges,
        |    CAST(sum(CASE WHEN EXISTS (
        |      SELECT 1 FROM e r2 WHERE r2.src = e.dst AND r2.dst = e.src)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal
        |  FROM e)
        |SELECT (SELECT count(*) FROM v) AS n_vertices, n_edges, n_reciprocal,
        |  round(CAST(n_reciprocal AS DOUBLE) / n_edges, 6) AS reciprocity
        |FROM r""".stripMargin,

    // the q45 hash rule applied to BOTH tables' copies of the entity key;
    // the LEFT JOIN + ORPHAN segment proves referential closure in-query
    "q183_coordinated_sample" ->
      s"""WITH sc AS (
         |  SELECT c_custkey, c_mktsegment FROM customer
         |  WHERE ${md5l("'42:' || CAST(c_custkey AS VARCHAR)")} % 1000000 < 300000
         |), so AS (
         |  SELECT o_custkey FROM orders
         |  WHERE ${md5l("'42:' || CAST(o_custkey AS VARCHAR)")} % 1000000 < 300000
         |)
         |SELECT coalesce(c_mktsegment, 'ORPHAN') AS segment,
         |  count(*) AS n_orders,
         |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
         |FROM so LEFT JOIN sc ON sc.c_custkey = so.o_custkey
         |GROUP BY 1""".stripMargin,

    // independent dominance check: collapse to best-price-per-quantity
    // (only those can sit on the frontier), then literal NOT EXISTS
    "q184_skyline" ->
      """WITH pt AS (
        |  SELECT l_returnflag AS flag, l_quantity AS x, l_extendedprice AS y,
        |    count(*) AS n
        |  FROM lineitem GROUP BY 1, 2, 3
        |), best AS (
        |  SELECT flag, x, y, n FROM pt
        |  QUALIFY row_number() OVER (PARTITION BY flag, x ORDER BY y DESC) = 1
        |)
        |SELECT flag, x, y, n FROM best a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM best b
        |  WHERE b.flag = a.flag AND b.x >= a.x AND b.y >= a.y
        |    AND (b.x > a.x OR b.y > a.y))""".stripMargin,

    // NOT IN semantics spelled as a left join on the distinct parent keys
    "q185_fk_orphans" ->
      """WITH r1 AS (
        |  SELECT 'orders>customer_pruned' AS relation, count(*) AS n_child,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
        |    CAST(sum(CASE WHEN o_custkey IS NOT NULL AND p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |  FROM orders LEFT JOIN (
        |    SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey % 7 <> 0
        |  ) p ON p.k = o_custkey
        |), r2 AS (
        |  SELECT 'lineitem>orders', count(*),
        |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
        |    ON p.k = l_orderkey
        |), r3 AS (
        |  SELECT 'lineitem>part', count(*),
        |    CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN l_partkey IS NOT NULL AND p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) p
        |    ON p.k = l_partkey
        |)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3""".stripMargin,

    // the same election as a window rank: max count, ties to greatest value
    "q186_mode_by" ->
      """WITH c AS (
        |  SELECT n_name, c_mktsegment AS mode, count(*) AS n
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2
        |)
        |SELECT n_name, mode, n FROM c
        |QUALIFY row_number() OVER (PARTITION BY n_name ORDER BY n DESC, mode DESC) = 1""".stripMargin,

    "q182_graph_scc" ->
      """WITH RECURSIVE base AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
        |    CAST(l_partkey AS BIGINT) + 10000000 AS p, l_linenumber % 2 AS par
        |  FROM lineitem WHERE l_partkey % 20 = 0
        |), e AS (
        |  SELECT s AS src, p AS dst FROM base WHERE par = 1
        |  UNION
        |  SELECT p, s FROM base WHERE par = 0
        |), v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst
        |)
        |SELECT v.id, CAST(least(v.id, coalesce(min(m.u), v.id)) AS BIGINT) AS scc
        |FROM v LEFT JOIN (
        |  SELECT a.src AS vtx, a.dst AS u
        |  FROM reach a JOIN reach b ON b.src = a.dst AND b.dst = a.src
        |) m ON m.vtx = v.id
        |GROUP BY v.id""".stripMargin,

    // q97's funnel CTE, stage deltas unioned, q119 rank-quantile rule
    "q181_funnel_timing" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
        |s1 AS (SELECT user_id, min(tsu) AS ts_1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, ts_1, min(tsu) AS ts_2
        |       FROM s1 JOIN e ON s1.user_id = e.user_id
        |       WHERE event_type = 'click' AND tsu > ts_1 AND tsu <= ts_1 + 604800000000
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, ts_2, min(tsu) AS ts_3
        |       FROM s2 JOIN e ON s2.user_id = e.user_id
        |       WHERE event_type = 'purchase' AND tsu > ts_2 AND tsu <= ts_1 + 604800000000
        |       GROUP BY 1, 2),
        |d AS (
        |  SELECT 'view>click' AS step, ts_2 - ts_1 AS dt FROM s2
        |  UNION ALL
        |  SELECT 'click>purchase', ts_3 - ts_2 FROM s3
        |), r AS (
        |  SELECT step, dt,
        |    row_number() OVER (PARTITION BY step ORDER BY dt) AS rn,
        |    count(*) OVER (PARTITION BY step) AS n
        |  FROM d)
        |SELECT step, p, dt AS q
        |FROM r, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE))) AS t(p)
        |WHERE rn = greatest(1, CAST(ceil(p * n) AS BIGINT))""".stripMargin,

    // same lag deltas (ns), same rank-quantile selection
    "q180_gap_quantiles" ->
      """WITH e AS (
        |  SELECT event_type, user_id, epoch_ns(ts) AS t, event_id FROM events
        |), g AS (
        |  SELECT event_type,
        |    t - lag(t) OVER (PARTITION BY event_type, user_id ORDER BY t, event_id)
        |      AS gap
        |  FROM e
        |), ng AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
        |r AS (
        |  SELECT event_type, gap,
        |    row_number() OVER (PARTITION BY event_type ORDER BY gap) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM ng)
        |SELECT event_type, p, gap AS q
        |FROM r, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE))) AS t(p)
        |WHERE rn = greatest(1, CAST(ceil(p * n) AS BIGINT))""".stripMargin,

    // midrank algebra replayed over the distinct-score groups
    "q177_auc" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), lab AS (
         |  SELECT s.score AS sc, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
         |), g AS (
         |  SELECT sc, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS np
         |  FROM lab GROUP BY 1
         |), r AS (
         |  SELECT sc, cnt, np,
         |    CAST(coalesce(sum(cnt) OVER (ORDER BY sc
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior
         |  FROM g
         |), t AS (
         |  SELECT CAST(sum(np) AS BIGINT) AS npos,
         |    CAST(sum(cnt - np) AS BIGINT) AS nneg,
         |    CAST(sum(np * (2 * prior + cnt + 1)) AS BIGINT) AS m2
         |  FROM r
         |)
         |SELECT npos AS n_pos, nneg AS n_neg,
         |  round(CASE WHEN npos > 0 AND nneg > 0 THEN
         |    CAST(m2 - npos * (npos + 1) AS DOUBLE) / (2 * npos * nneg) END, 6) AS auc
         |FROM t""".stripMargin,

    // q310: per-dose counts → decimal-weighted sums → pinned z
    "q310_ca_trend" ->
      """WITH d AS (
        |  SELECT CAST((epoch_ns(ts) // 3600000000000) % 24 AS DOUBLE) AS w,
        |    (event_type = 'purchase') AS s
        |  FROM events),
        |g AS (SELECT w, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS k
        |      FROM d GROUP BY 1),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_doses,
        |    CAST(sum(n) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS k,
        |    sum(CAST(w * k AS DECIMAL(38,12))) AS wk,
        |    sum(CAST(w * n AS DECIMAL(38,12))) AS wn,
        |    sum(CAST(w * w * n AS DECIMAL(38,12))) AS wwn
        |  FROM g),
        |f AS (
        |  SELECT n_doses, n, k,
        |    CAST(wk AS DOUBLE)
        |      - (CAST(k AS DOUBLE) / n) * CAST(wn AS DOUBLE) AS num,
        |    (CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n)
        |      * (CAST(wwn AS DOUBLE)
        |         - CAST(wn AS DOUBLE) * CAST(wn AS DOUBLE) / CAST(n AS DOUBLE)) AS vr
        |  FROM a)
        |SELECT n_doses, n, k,
        |  round(CASE WHEN vr > 0 THEN num / sqrt(vr) END, 6) AS z
        |FROM f""".stripMargin,

    // q311: q246's midrank algebra one group wider — per-(value,group)
    // cells, value-level prefix ranks, HUGEINT-exact (2R_g)², decimal
    // re-sum of the per-group IEEE terms, pinned H / tie correction
    "q311_kruskal_wallis" ->
      """WITH d AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS v, l_returnflag AS g
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
        |), cells AS (
        |  SELECT v, g, CAST(count(*) AS BIGINT) AS cg FROM d GROUP BY 1, 2
        |), vc AS (
        |  SELECT v, CAST(sum(cg) AS BIGINT) AS cnt FROM cells GROUP BY 1
        |), r AS (
        |  SELECT v, cnt,
        |    CAST(coalesce(sum(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior
        |  FROM vc
        |), pg AS (
        |  SELECT g, CAST(sum(cg) AS BIGINT) AS ng,
        |    CAST(sum(cg * (2 * prior + cnt + 1)) AS BIGINT) AS r2
        |  FROM cells JOIN r USING (v) GROUP BY 1
        |), m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k_groups,
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    sum(CAST(CAST(CAST(r2 AS HUGEINT) * r2 AS DOUBLE) / (ng * 4)
        |      AS DECIMAL(38,12))) AS sr
        |  FROM pg
        |), tie AS (
        |  SELECT CAST(coalesce(sum(CASE WHEN cnt > 1
        |    THEN cnt*cnt*cnt - cnt END), 0) AS BIGINT) AS tie FROM vc
        |), s1 AS (
        |  SELECT k_groups, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sr AS DOUBLE) AS srd, CAST(tie AS DOUBLE) AS tied
        |  FROM m, tie
        |), s2 AS (
        |  SELECT k_groups, n,
        |    12.0 / (nd * (nd + 1)) * srd - 3.0 * (nd + 1) AS h,
        |    1.0 - tied / (nd * nd * nd - nd) AS c
        |  FROM s1
        |)
        |SELECT k_groups, n, round(h, 6) AS h,
        |  CASE WHEN c > 0 THEN round(h / c, 6) END AS h_adj,
        |  CASE WHEN c > 0 AND n > k_groups
        |    THEN round((h / c - k_groups + 1) / CAST(n - k_groups AS DOUBLE), 6)
        |  END AS epsilon_sq
        |FROM s2""".stripMargin,

    // q374: q311's midrank machinery + the k-row per-group summary
    // self-joined — pairwise mean-rank gaps over the tie-corrected
    // pooled variance, in the op's pinned order
    "q374_dunn" ->
      """WITH d AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS v, l_returnflag AS g
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
        |), cells AS (
        |  SELECT v, g, CAST(count(*) AS BIGINT) AS cg FROM d GROUP BY 1, 2
        |), vc AS (
        |  SELECT v, CAST(sum(cg) AS BIGINT) AS cnt FROM cells GROUP BY 1
        |), r AS (
        |  SELECT v, cnt,
        |    CAST(coalesce(sum(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior
        |  FROM vc
        |), pg AS (
        |  SELECT g, CAST(sum(cg) AS BIGINT) AS ng,
        |    CAST(sum(cg * (2 * prior + cnt + 1)) AS BIGINT) AS r2
        |  FROM cells JOIN r USING (v) GROUP BY 1
        |), tot AS (
        |  SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n,
        |    CAST(coalesce(sum(CASE WHEN cnt > 1
        |      THEN cnt*cnt*cnt - cnt END), 0) AS BIGINT) AS tie FROM vc
        |), s1 AS (
        |  SELECT a.g AS group_a, b.g AS group_b, a.ng AS n_a, b.ng AS n_b,
        |    CAST(a.r2 AS DOUBLE) / (a.ng * 2) AS ma,
        |    CAST(b.r2 AS DOUBLE) / (b.ng * 2) AS mb,
        |    CAST(n AS DOUBLE) AS nd, CAST(tie AS DOUBLE) AS tied, n
        |  FROM pg a JOIN pg b ON a.g < b.g, tot
        |), s2 AS (
        |  SELECT group_a, group_b, n_a, n_b, ma, mb,
        |    CASE WHEN n > 1
        |      THEN nd * (nd + 1) / 12 - tied / (12.0 * (nd - 1)) END AS s2
        |  FROM s1
        |)
        |SELECT group_a, group_b, n_a, n_b,
        |  round(ma, 6) AS mean_rank_a, round(mb, 6) AS mean_rank_b,
        |  CASE WHEN s2 > 0 THEN
        |    round((ma - mb) / sqrt(s2 * (1.0 / n_a + 1.0 / n_b)), 6) END AS z
        |FROM s2""".stripMargin,

    // q312: q296's pre/post per-user frame → |d| midrank cells →
    // 2W⁺ on exact integers → tie-corrected z in pinned order
    "q312_wilcoxon_signed" ->
      """WITH days AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), m0 AS (SELECT min(day) AS m0 FROM days),
        |per AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN day < m0.m0 + 15 THEN 1 ELSE 0 END) AS BIGINT) AS pre,
        |    CAST(sum(CASE WHEN day >= m0.m0 + 15 THEN 1 ELSE 0 END) AS BIGINT) AS post
        |  FROM days, m0 GROUP BY 1
        |), d AS (
        |  SELECT CAST(post AS DOUBLE) - CAST(pre AS DOUBLE) AS dd FROM per
        |  WHERE CAST(post AS DOUBLE) - CAST(pre AS DOUBLE) <> 0
        |), cells AS (
        |  SELECT abs(dd) AS a, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS np
        |  FROM d GROUP BY 1
        |), r AS (
        |  SELECT a, cnt, np,
        |    CAST(coalesce(sum(cnt) OVER (ORDER BY a
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior
        |  FROM cells
        |), m AS (
        |  SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n,
        |    CAST(sum(np * (2 * prior + cnt + 1)) AS BIGINT) AS w2,
        |    CAST(coalesce(sum(CASE WHEN cnt > 1
        |      THEN cnt*cnt*cnt - cnt END), 0) AS BIGINT) AS tie
        |  FROM r
        |), s1 AS (
        |  SELECT n, CAST(w2 AS DOUBLE) / 2 AS wp, CAST(n AS DOUBLE) AS nd,
        |    CAST(tie AS DOUBLE) AS tied
        |  FROM m
        |), s2 AS (
        |  SELECT n, wp,
        |    nd * (nd + 1) / 4 AS mu,
        |    nd * (nd + 1) * (nd * 2 + 1) / 24 - tied / 48 AS vr,
        |    nd * (nd + 1) / 2 AS s
        |  FROM s1
        |)
        |SELECT n,
        |  CASE WHEN n > 0 THEN round(wp, 6) END AS w_plus,
        |  CASE WHEN n > 0 AND vr > 0 THEN round((wp - mu) / sqrt(vr), 6) END AS z_stat,
        |  CASE WHEN n > 0 THEN round((wp * 2 - s) / s, 6) END AS r_rb
        |FROM s2""".stripMargin,

    // q313: per-(user,type) counts → complete blocks only → within-block
    // doubled midranks (2·rank + ties − 1) → exact-integer Conover form
    // (the /4 cancels between numerator and denominator)
    "q313_friedman" ->
      """WITH cells AS (
        |  SELECT user_id AS b, event_type AS t, CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2
        |), k AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM cells),
        |ok AS (
        |  SELECT b FROM cells, k GROUP BY b, k.k
        |  HAVING count(*) = k.k AND count(DISTINCT t) = k.k
        |), kept AS (
        |  SELECT cells.b, cells.t, cells.v FROM cells JOIN ok ON ok.b = cells.b
        |), rk AS (
        |  SELECT b, t,
        |    CAST(2 * rank() OVER (PARTITION BY b ORDER BY v)
        |      + count(*) OVER (PARTITION BY b, v) - 1 AS BIGINT) AS r2
        |  FROM kept
        |), tot AS (
        |  SELECT CAST(sum(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS a2,
        |    CAST(count(DISTINCT b) AS BIGINT) AS b_blocks,
        |    (SELECT k FROM k) AS k_treatments
        |  FROM rk
        |), pt AS (
        |  SELECT t, CAST(sum(r2) AS HUGEINT) AS rj2 FROM rk GROUP BY 1
        |), num AS (
        |  SELECT CAST(sum(
        |    (rj2 - CAST(tot.b_blocks AS HUGEINT) * (tot.k_treatments + 1)) *
        |    (rj2 - CAST(tot.b_blocks AS HUGEINT) * (tot.k_treatments + 1)))
        |    AS HUGEINT) AS n4
        |  FROM pt, tot
        |), f AS (
        |  SELECT tot.b_blocks, tot.k_treatments,
        |    tot.a2 - CAST(tot.b_blocks AS HUGEINT) * tot.k_treatments *
        |      ((tot.k_treatments + 1) * (tot.k_treatments + 1)) AS d4,
        |    num.n4 AS n4
        |  FROM tot, num
        |)
        |SELECT b_blocks, k_treatments,
        |  CASE WHEN d4 > 0 THEN round(
        |    CAST(k_treatments - 1 AS DOUBLE) * CAST(n4 AS DOUBLE)
        |      / CAST(d4 AS DOUBLE), 6) END AS chi2_f,
        |  CASE WHEN d4 > 0 AND b_blocks > 0 AND k_treatments > 1 THEN round(
        |    CAST(k_treatments - 1 AS DOUBLE) * CAST(n4 AS DOUBLE)
        |      / CAST(d4 AS DOUBLE)
        |      / CAST(b_blocks * (k_treatments - 1) AS DOUBLE), 6) END AS kendall_w
        |FROM f""".stripMargin,

    // q314: q307's per-user spans → (t, r, e) cells → censoring-honest
    // pair fold (left side = event cells only) → pinned ratio
    "q314_c_index" ->
      """WITH days AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), u AS (
        |  SELECT user_id, min(day) AS fd, max(day) AS ld,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM days GROUP BY 1
        |), mx AS (SELECT max(ld) AS md FROM u),
        |obs AS (
        |  SELECT ld - fd AS t, (ld <= mx.md - 3) AS e, CAST(cnt AS DOUBLE) AS r
        |  FROM u, mx
        |), cells AS (
        |  SELECT t, r, e, CAST(count(*) AS BIGINT) AS c FROM obs GROUP BY 1, 2, 3
        |), p AS (
        |  SELECT
        |    CAST(coalesce(sum(CAST(a.c AS HUGEINT) * b.c), 0) AS HUGEINT) AS cmp,
        |    CAST(coalesce(sum(CASE WHEN a.r > b.r
        |      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END), 0) AS HUGEINT) AS conc,
        |    CAST(coalesce(sum(CASE WHEN a.r = b.r
        |      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END), 0) AS HUGEINT) AS tier
        |  FROM (SELECT * FROM cells WHERE e) a JOIN cells b ON a.t < b.t
        |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM obs)
        |SELECT nn.n, CAST(cmp AS BIGINT) AS comparable_pairs,
        |  CAST(conc AS BIGINT) AS concordant, CAST(tier AS BIGINT) AS risk_ties,
        |  CASE WHEN cmp > 0 THEN round(
        |    (CAST(conc AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(tier AS DOUBLE))
        |      / CAST(cmp AS DOUBLE), 6) END AS c_index
        |FROM nn, p""".stripMargin,

    // q315: ntile deciles over (p, doc_id) → per-bin o/e → pinned HL
    // terms, degenerate bins excluded and counted honestly
    "q315_hosmer_lemeshow" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(n_chars % 1000 AS DOUBLE) / 1000 AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |), b AS (
        |  SELECT CAST(ntile(10) OVER (ORDER BY s, doc_id) - 1 AS BIGINT) AS bin, s, y
        |  FROM d
        |), g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS o,
        |    sum(CAST(s AS DECIMAL(38,12))) AS ss
        |  FROM b GROUP BY 1
        |), t AS (
        |  SELECT n, o, CAST(ss AS DOUBLE) AS e FROM g
        |), terms AS (
        |  SELECT n, CASE WHEN e > 0 AND e < CAST(n AS DOUBLE) THEN
        |    (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / (e * (1.0 - e / n))
        |  END AS term FROM t
        |)
        |SELECT CAST(count(term) AS BIGINT) AS bins_used,
        |  CAST(sum(n) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6) AS hl_stat,
        |  CAST(count(term) - 2 AS BIGINT) AS dof
        |FROM terms""".stripMargin,

    // q316: q297's integer p-grid, step-DOWN — the first failing rank
    // caps every rejection below it
    "q316_holm" ->
      """WITH t AS (
        |  SELECT doc_id, (n_chars % 1000) * (n_chars % 1000) AS pp FROM documents),
        |r AS (SELECT doc_id, pp,
        |        row_number() OVER (ORDER BY pp, doc_id) AS rn,
        |        count(*) OVER () AS m FROM t),
        |k AS (SELECT coalesce(min(CASE WHEN pp * ((m - rn + 1) * 20) > 1000000
        |                          THEN rn END), (SELECT max(m) + 1 FROM r)) AS kstar
        |      FROM r)
        |SELECT doc_id, round(CAST(pp AS DOUBLE) / 1000000, 6) AS p,
        |  CAST(rn AS BIGINT) AS p_rank, CAST(m AS BIGINT) AS m,
        |  (rn < kstar) AS reject
        |FROM r, k""".stripMargin,

    // q317: integer-grid power sums S1..S4 in HUGEINT (the Spark side's
    // decimal(38,0)), central-moment clearing and JB in pinned doubles
    "q317_jarque_bera" ->
      """WITH d AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS g FROM lineitem
        |  WHERE l_quantity IS NOT NULL
        |), s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(g AS HUGEINT)) AS s1,
        |    sum(CAST(g AS HUGEINT) * g) AS s2,
        |    sum(CAST(g AS HUGEINT) * g * g) AS s3,
        |    sum(CAST(g AS HUGEINT) * g * g * g) AS s4
        |  FROM d
        |), f AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1,
        |    CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3,
        |    CAST(s4 AS DOUBLE) AS s4
        |  FROM s
        |), g2 AS (
        |  SELECT n, nd,
        |    nd * s2 - s1 * s1 AS a,
        |    nd * nd * s3 - 3.0 * nd * s1 * s2 + 2.0 * s1 * s1 * s1 AS b,
        |    nd * nd * nd * s4 - 4.0 * nd * nd * s1 * s3
        |      + 6.0 * nd * s1 * s1 * s2 - 3.0 * s1 * s1 * s1 * s1 AS c
        |  FROM f)
        |SELECT n,
        |  round(CASE WHEN a > 0 THEN b / (a * sqrt(a)) END, 6) AS skewness,
        |  round(CASE WHEN a > 0 THEN c / (a * a) - 3.0 END, 6) AS kurt_excess,
        |  round(CASE WHEN a > 0 THEN nd / 6.0 *
        |    ((b / (a * sqrt(a))) * (b / (a * sqrt(a)))
        |     + (c / (a * a) - 3.0) * (c / (a * a) - 3.0) / 4.0) END, 6) AS jb
        |FROM g2""".stripMargin,

    // q318: q265's gap-filled axis one granularity up; exact decimal
    // moment fit, consecutive-day residual pairs by equi-join
    "q318_durbin_watson" ->
      """WITH dd AS (SELECT epoch_ns(ts) // 86400000000000 AS d FROM events),
        |cg AS (SELECT d, CAST(count(*) AS BIGINT) AS x FROM dd GROUP BY 1),
        |bb AS (SELECT min(d) AS lo, max(d) AS hi FROM cg),
        |axis AS (SELECT bb.lo AS lo, unnest(range(bb.lo, bb.hi + 1)) AS d0 FROM bb),
        |s AS (SELECT axis.d0 - axis.lo AS t, CAST(coalesce(cg.x, 0) AS DOUBLE) AS x
        |      FROM axis LEFT JOIN cg ON cg.d = axis.d0),
        |mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(t AS DECIMAL(18,6))) AS st,
        |    sum(CAST(x AS DECIMAL(18,6))) AS sx,
        |    sum(CAST(t AS DECIMAL(18,6)) * CAST(t AS DECIMAL(18,6))) AS stt,
        |    sum(CAST(t AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6))) AS stx
        |  FROM s
        |), f AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd, CAST(st AS DOUBLE) AS std,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(stt AS DOUBLE) AS sttd,
        |    CAST(stx AS DOUBLE) AS stxd
        |  FROM mom
        |), fit AS (
        |  SELECT n,
        |    CASE WHEN nd * sttd - std * std > 0
        |      THEN (nd * stxd - std * sxd) / (nd * sttd - std * std) END AS b,
        |    CASE WHEN nd * sttd - std * std > 0
        |      THEN (sxd - (nd * stxd - std * sxd) / (nd * sttd - std * std) * std)
        |        / nd END AS a
        |  FROM f
        |), ee AS (
        |  SELECT s.t, s.x - (fit.a + fit.b * CAST(s.t AS DOUBLE)) AS e
        |  FROM s, fit
        |), den AS (
        |  SELECT sum(CAST(e * e AS DECIMAL(38,12))) AS den FROM ee
        |), num AS (
        |  SELECT coalesce(sum(CAST((b2.e - a2.e) * (b2.e - a2.e)
        |    AS DECIMAL(38,12))), CAST(0 AS DECIMAL(38,12))) AS num
        |  FROM ee a2 JOIN ee b2 ON b2.t = a2.t + 1)
        |SELECT fit.n, round(fit.b, 6) AS slope, round(fit.a, 6) AS intercept,
        |  round(CASE WHEN CAST(den.den AS DOUBLE) > 0
        |    THEN CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE) END, 6) AS dw
        |FROM fit, den, num""".stripMargin,

    // q319: q265's per-lag exact machinery UNROUNDED, the m r_k² terms
    // decimal-re-summed, Q in pinned textual order
    "q319_ljung_box" ->
      """WITH dd AS (SELECT epoch_ns(ts) // 86400000000000 AS d FROM events),
        |cg AS (SELECT d, CAST(count(*) AS BIGINT) AS x FROM dd GROUP BY 1),
        |bb AS (SELECT min(d) AS lo, max(d) AS hi FROM cg),
        |axis AS (SELECT bb.lo AS lo, unnest(range(bb.lo, bb.hi + 1)) AS d0 FROM bb),
        |s AS (SELECT axis.d0 - axis.lo AS t, CAST(coalesce(cg.x, 0) AS DECIMAL(19,6)) AS xd
        |      FROM axis LEFT JOIN cg ON cg.d = axis.d0),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(xd) AS s1,
        |          sum(xd * xd) AS s2 FROM s),
        |lg AS (SELECT unnest(range(1, 8)) AS lag),
        |p AS (SELECT lg.lag, a.xd AS x1, b2.xd AS x2
        |      FROM lg CROSS JOIN s a JOIN s b2 ON b2.t = a.t + lg.lag),
        |per AS (SELECT lag, CAST(count(*) AS BIGINT) AS m,
        |          sum(x1 * x2) AS ck, sum(x1 + x2) AS pk
        |        FROM p GROUP BY 1),
        |terms AS (
        |  SELECT tot.n,
        |    CASE WHEN CAST(tot.n AS DOUBLE) * tot.n * CAST(tot.s2 AS DOUBLE)
        |           - CAST(tot.n AS DOUBLE) * CAST(tot.s1 AS DOUBLE)
        |             * CAST(tot.s1 AS DOUBLE) > 0
        |         AND tot.n - per.lag > 0
        |      THEN ((CAST(tot.n AS DOUBLE) * tot.n * CAST(per.ck AS DOUBLE)
        |          - CAST(tot.n AS DOUBLE) * CAST(tot.s1 AS DOUBLE)
        |            * CAST(per.pk AS DOUBLE)
        |          + CAST(per.m AS DOUBLE) * CAST(tot.s1 AS DOUBLE)
        |            * CAST(tot.s1 AS DOUBLE))
        |        / (CAST(tot.n AS DOUBLE) * tot.n * CAST(tot.s2 AS DOUBLE)
        |          - CAST(tot.n AS DOUBLE) * CAST(tot.s1 AS DOUBLE)
        |            * CAST(tot.s1 AS DOUBLE)))
        |       * ((CAST(tot.n AS DOUBLE) * tot.n * CAST(per.ck AS DOUBLE)
        |          - CAST(tot.n AS DOUBLE) * CAST(tot.s1 AS DOUBLE)
        |            * CAST(per.pk AS DOUBLE)
        |          + CAST(per.m AS DOUBLE) * CAST(tot.s1 AS DOUBLE)
        |            * CAST(tot.s1 AS DOUBLE))
        |        / (CAST(tot.n AS DOUBLE) * tot.n * CAST(tot.s2 AS DOUBLE)
        |          - CAST(tot.n AS DOUBLE) * CAST(tot.s1 AS DOUBLE)
        |            * CAST(tot.s1 AS DOUBLE)))
        |       / (CAST(tot.n AS DOUBLE) - CAST(per.lag AS DOUBLE)) END AS term
        |  FROM per, tot)
        |SELECT n, CAST(7 AS INT) AS max_lag,
        |  round(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
        |    * CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6) AS q_stat
        |FROM terms GROUP BY n""".stripMargin,

    // q320: pass-1 exact moment fit, pass-2 squared-residual moments as
    // decimal-re-summed doubles; Koenker LM + classic BP pinned
    "q320_breusch_pagan" ->
      """WITH d AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(l_extendedprice AS DOUBLE) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |), mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS DECIMAL(19,6))) AS sx,
        |    sum(CAST(y AS DECIMAL(19,6))) AS sy,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS sxx,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS sxy
        |  FROM d
        |), f AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(sxy AS DOUBLE) AS sxyd
        |  FROM mom
        |), fit AS (
        |  SELECT n, sxd, sxxd, nd,
        |    (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS b,
        |    (syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * sxd)
        |      / nd AS a
        |  FROM f WHERE nd * sxxd - sxd * sxd > 0
        |), p2 AS (
        |  SELECT fit.n, fit.b, fit.a, fit.sxd, fit.sxxd, fit.nd,
        |    sum(CAST((d.y - (fit.a + fit.b * d.x)) * (d.y - (fit.a + fit.b * d.x))
        |      AS DECIMAL(38,12))) AS sz,
        |    sum(CAST(((d.y - (fit.a + fit.b * d.x)) * (d.y - (fit.a + fit.b * d.x)))
        |      * ((d.y - (fit.a + fit.b * d.x)) * (d.y - (fit.a + fit.b * d.x)))
        |      AS DECIMAL(38,12))) AS szz,
        |    sum(CAST(((d.y - (fit.a + fit.b * d.x)) * (d.y - (fit.a + fit.b * d.x)))
        |      * d.x AS DECIMAL(38,12))) AS szx
        |  FROM d, fit GROUP BY 1, 2, 3, 4, 5, 6
        |), g AS (
        |  SELECT n, b, a, nd, sxd, sxxd,
        |    CAST(sz AS DOUBLE) AS szd, CAST(szz AS DOUBLE) AS szzd,
        |    CAST(szx AS DOUBLE) AS szxd
        |  FROM p2)
        |SELECT n, round(b, 6) AS slope, round(a, 6) AS intercept,
        |  round(CASE WHEN nd * szzd - szd * szd > 0 AND nd * sxxd - sxd * sxd > 0
        |    THEN (nd * szxd - szd * sxd) * (nd * szxd - szd * sxd)
        |      / ((nd * szzd - szd * szd) * (nd * sxxd - sxd * sxd)) END, 6)
        |    AS r2_aux,
        |  round(CASE WHEN nd * szzd - szd * szd > 0 AND nd * sxxd - sxd * sxd > 0
        |    THEN nd * ((nd * szxd - szd * sxd) * (nd * szxd - szd * sxd)
        |      / ((nd * szzd - szd * szd) * (nd * sxxd - sxd * sxd))) END, 6) AS lm,
        |  round(CASE WHEN nd * szzd - szd * szd > 0 AND nd * sxxd - sxd * sxd > 0
        |        AND szd > 0
        |    THEN ((nd * szxd - szd * sxd) * (nd * szxd - szd * sxd)
        |      / ((nd * szzd - szd * szd) * (nd * sxxd - sxd * sxd)))
        |      * (nd * nd * szzd / (szd * szd) - nd) / 2.0 END, 6) AS bp
        |FROM g""".stripMargin,

    // q321: one exact moment fold pins fit/x̄/Sxx/SSE; per-row e, h, D
    // are the same IEEE expressions; top-20 on (rounded D, id)
    "q321_cooks_distance" ->
      """WITH d AS (
        |  SELECT p_partkey AS id, CAST(p_size AS DOUBLE) AS x,
        |    CAST(p_retailprice AS DOUBLE) AS y
        |  FROM part WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
        |), mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS DECIMAL(18,6))) AS sx,
        |    sum(CAST(y AS DECIMAL(18,6))) AS sy,
        |    sum(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6))) AS sxx,
        |    sum(CAST(x AS DECIMAL(18,6)) * CAST(y AS DECIMAL(18,6))) AS sxy,
        |    sum(CAST(y AS DECIMAL(18,6)) * CAST(y AS DECIMAL(18,6))) AS syy
        |  FROM d
        |), f AS (
        |  SELECT CAST(n AS DOUBLE) AS nd, n, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
        |  FROM mom
        |), fit0 AS (
        |  SELECT n, nd, sxd, sxxd, syd, sxyd, syyd,
        |    (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS b
        |  FROM f WHERE nd * sxxd - sxd * sxd > 0 AND n > 2
        |), fit AS (
        |  SELECT n, nd, b, (syd - b * sxd) / nd AS a, sxd / nd AS xbar,
        |    (nd * sxxd - sxd * sxd) / nd AS sxxc,
        |    (syyd - 2.0 * ((syd - b * sxd) / nd) * syd - 2.0 * b * sxyd
        |      + nd * ((syd - b * sxd) / nd) * ((syd - b * sxd) / nd)
        |      + 2.0 * ((syd - b * sxd) / nd) * b * sxd + b * b * sxxd)
        |      / (nd - 2.0) AS s2
        |  FROM fit0)
        |SELECT d.id, d.x, d.y,
        |  round(d.y - (fit.a + fit.b * d.x), 6) AS resid,
        |  round(1.0 / fit.nd
        |    + (d.x - fit.xbar) * (d.x - fit.xbar) / fit.sxxc, 6) AS leverage,
        |  round(CASE WHEN fit.s2 > 0 THEN
        |    (d.y - (fit.a + fit.b * d.x)) * (d.y - (fit.a + fit.b * d.x))
        |      * (1.0 / fit.nd + (d.x - fit.xbar) * (d.x - fit.xbar) / fit.sxxc)
        |      / (2.0 * fit.s2
        |        * (1.0 - (1.0 / fit.nd + (d.x - fit.xbar) * (d.x - fit.xbar)
        |            / fit.sxxc))
        |        * (1.0 - (1.0 / fit.nd + (d.x - fit.xbar) * (d.x - fit.xbar)
        |            / fit.sxxc))) END, 6) AS cooks_d
        |FROM d, fit
        |ORDER BY cooks_d DESC, id LIMIT 20""".stripMargin,

    // q355: one exact log-moment fold + the broadcast-mean Hoover pass;
    // all four indices pinned closed forms
    "q355_inequality" ->
      """WITH d AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
        |  WHERE CAST(o_totalprice AS DOUBLE) > 0
        |), m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS DECIMAL(19,6))) AS sx,
        |    sum(CAST(x * ln(x) AS DECIMAL(38,12))) AS sxlnx,
        |    sum(CAST(ln(x) AS DECIMAL(38,12))) AS slnx
        |  FROM d
        |), f AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS xd,
        |    CAST(sxlnx AS DOUBLE) AS sxlnxd, CAST(slnx AS DOUBLE) AS slnxd,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu
        |  FROM m WHERE n > 0
        |), s AS (
        |  SELECT f.n, f.nd, f.xd, f.sxlnxd, f.slnxd, f.mu,
        |    CAST(sum(CAST(abs(d.x - f.mu) AS DECIMAL(38,12))) AS DOUBLE) AS sad
        |  FROM d, f GROUP BY 1, 2, 3, 4, 5, 6)
        |SELECT n, round(mu, 6) AS mean,
        |  round(sxlnxd / xd - ln(xd / nd), 6) AS theil_t,
        |  round(ln(xd / nd) - slnxd / nd, 6) AS theil_l,
        |  round(1.0 - exp(slnxd / nd) / mu, 6) AS atkinson_1,
        |  round(sad / (2.0 * xd), 6) AS hoover
        |FROM s""".stripMargin,

    // q356: q286's frequency-of-frequency frame → four pinned
    // closed-form richness indices off exact integers
    "q356_lexical_richness" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM documents
        |), tc AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks WHERE tok <> ''
        |  GROUP BY 1
        |), ff AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r FROM tc GROUP BY 1),
        |m AS (
        |  SELECT sum(CAST(r AS DECIMAL(38,0)) * n_r) AS n,
        |    CAST(sum(n_r) AS BIGINT) AS vocab,
        |    sum(CAST(r AS DECIMAL(38,0)) * r * n_r) AS sf2,
        |    CAST(coalesce(sum(CASE WHEN r = 2 THEN n_r END), 0) AS BIGINT) AS v2
        |  FROM ff)
        |SELECT CAST(n AS BIGINT) AS n_tokens, vocab,
        |  round(CASE WHEN n > 0 THEN 10000.0
        |    * (CAST(sf2 AS DOUBLE) - CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) END, 6) AS yule_k,
        |  round(CASE WHEN n > 1 AND vocab > 0
        |    THEN ln(CAST(vocab AS DOUBLE)) / ln(CAST(n AS DOUBLE)) END, 6)
        |    AS herdan_c,
        |  round(CASE WHEN n > 0
        |    THEN CAST(vocab AS DOUBLE) / sqrt(CAST(n AS DOUBLE)) END, 6)
        |    AS guiraud_r,
        |  round(CASE WHEN vocab > 0
        |    THEN CAST(v2 AS DOUBLE) / CAST(vocab AS DOUBLE) END, 6) AS sichel_s
        |FROM m""".stripMargin,

    // q351: q219's recursive replay + the additive Greenwood cumsum
    // over the collapsed axis; bands off the ROUNDED survival
    "q351_km_ci" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), u AS (SELECT user_id, min(day) AS fd, max(day) AS ld FROM e GROUP BY 1),
        |mx AS (SELECT max(ld) AS md FROM u),
        |obs AS (SELECT ld - fd AS t, (ld <= mx.md - 3) AS ev FROM u, mx),
        |g AS (
        |  SELECT t, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM obs GROUP BY 1
        |), r AS (
        |  SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn,
        |    CAST(coalesce(sum(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior,
        |    CAST(sum(d + c) OVER () AS BIGINT) AS nt
        |  FROM g
        |), k AS (
        |  SELECT rn, t, nt - prior AS n_risk, d, c,
        |    CAST(1.0 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(d AS DOUBLE) / (nt - prior)) AS s
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.rn, r.t, r.nt - r.prior, r.d, r.c,
        |    k.s * (CAST(1.0 AS DOUBLE) - CAST(r.d AS DOUBLE) / (r.nt - r.prior))
        |  FROM k JOIN r ON r.rn = k.rn + 1
        |), cur AS (
        |  SELECT t, n_risk, d, c, round(s, 6) AS survival,
        |    CASE WHEN n_risk - d > 0
        |      THEN CAST(d AS DOUBLE)
        |        / (CAST(n_risk AS DOUBLE) * (CAST(n_risk AS DOUBLE) - CAST(d AS DOUBLE)))
        |      ELSE 0.0 END AS term
        |  FROM k
        |), w AS (
        |  SELECT t, n_risk, d, c, survival,
        |    survival * sqrt(CAST(sum(CAST(term AS DECIMAL(38,12)))
        |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE)) AS seraw
        |  FROM cur)
        |SELECT t, n_risk, d AS n_events, c AS n_censored, survival,
        |  round(seraw, 6) AS se,
        |  round(greatest(survival - 1.959963984540054 * seraw, 0.0), 6) AS ci_lo,
        |  round(least(survival + 1.959963984540054 * seraw, 1.0), 6) AS ci_hi
        |FROM w""".stripMargin,

    // q352: q59's rounded prototypes; exploded squared sums per point /
    // per centroid pair, decimal-re-summed; worst-pair ratio per cluster
    "q352_davies_bouldin" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, label,
        |        unnest(list_transform(range(len(v)), i -> {'pos': i, 'x': v[i + 1]})) AS u
        |      FROM e),
        |xx AS (SELECT vec_id, label, u.pos AS pos, u.x AS x FROM x),
        |c AS (SELECT label AS cl, pos, round(avg(x), 6) AS mean FROM xx GROUP BY 1, 2),
        |p AS (
        |  SELECT xx.vec_id, xx.label,
        |    sum(CAST((xx.x - c.mean) * (xx.x - c.mean) AS DECIMAL(38,18))) AS sq
        |  FROM xx JOIN c ON c.cl = xx.label AND c.pos = xx.pos GROUP BY 1, 2
        |), sc AS (
        |  SELECT label,
        |    CAST(sum(CAST(sqrt(CAST(sq AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE)
        |      / count(*) AS s
        |  FROM p GROUP BY 1
        |), pd AS (
        |  SELECT a.cl AS c1, b.cl AS c2,
        |    sqrt(CAST(sum(CAST((a.mean - b.mean) * (a.mean - b.mean)
        |      AS DECIMAL(38,18))) AS DOUBLE)) AS d
        |  FROM c a JOIN c b ON b.pos = a.pos AND b.cl <> a.cl GROUP BY 1, 2
        |), rt AS (
        |  SELECT c1, max(CASE WHEN d > 0 THEN (s1.s + s2.s) / d END) AS r
        |  FROM pd JOIN sc s1 ON s1.label = pd.c1 JOIN sc s2 ON s2.label = pd.c2
        |  GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS k,
        |  round(CASE WHEN count(*) > 1 AND NOT bool_or(r IS NULL)
        |    THEN CAST(sum(CAST(r AS DECIMAL(38,18))) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) END, 6) AS db_index
        |FROM rt""".stripMargin,

    // q353: the same prototypes fanned out per point; a/b by min over
    // the bounded candidate set; boundary convention s=0 at a=b=0
    "q353_silhouette" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, label,
        |        unnest(list_transform(range(len(v)), i -> {'pos': i, 'x': v[i + 1]})) AS u
        |      FROM e),
        |xx AS (SELECT vec_id, label, u.pos AS pos, u.x AS x FROM x),
        |c AS (SELECT label AS cand, pos, round(avg(x), 6) AS mean
        |      FROM xx GROUP BY 1, 2),
        |pc AS (
        |  SELECT xx.vec_id, xx.label AS own, c.cand,
        |    sqrt(CAST(sum(CAST((xx.x - c.mean) * (xx.x - c.mean)
        |      AS DECIMAL(38,18))) AS DOUBLE)) AS dist
        |  FROM xx JOIN c ON c.pos = xx.pos GROUP BY 1, 2, 3
        |), pp AS (
        |  SELECT vec_id, own,
        |    min(CASE WHEN cand = own THEN dist END) AS a,
        |    min(CASE WHEN cand <> own THEN dist END) AS b
        |  FROM pc GROUP BY 1, 2
        |), ps AS (
        |  SELECT own, CASE WHEN greatest(a, b) > 0
        |    THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s
        |  FROM pp)
        |SELECT own AS label, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(s AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6)
        |    AS mean_sil,
        |  CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
        |FROM ps GROUP BY 1""".stripMargin,

    // q354: per-(label, component) exact moments → anovaF's W/B
    // decomposition per dimension → the pinned F-ratio
    "q354_calinski" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, label,
        |        unnest(list_transform(range(len(v)), i -> {'pos': i, 'x': v[i + 1]})) AS u
        |      FROM e),
        |xx AS (SELECT label, u.pos AS pos, u.x AS x FROM x),
        |cell AS (
        |  SELECT label AS cl, pos, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS DECIMAL(38,18))) AS s1,
        |    sum(CAST(x * x AS DECIMAL(38,18))) AS s2
        |  FROM xx GROUP BY 1, 2
        |), gl AS (
        |  SELECT pos, CAST(sum(n) AS BIGINT) AS nt, sum(s1) AS st FROM cell GROUP BY 1
        |), j AS (
        |  SELECT
        |    CAST(cell.s2 AS DOUBLE) - CAST(cell.s1 AS DOUBLE)
        |      * (CAST(cell.s1 AS DOUBLE) / CAST(cell.n AS DOUBLE)) AS wterm,
        |    CAST(cell.n AS DOUBLE)
        |      * (CAST(cell.s1 AS DOUBLE) / CAST(cell.n AS DOUBLE)
        |         - CAST(gl.st AS DOUBLE) / CAST(gl.nt AS DOUBLE))
        |      * (CAST(cell.s1 AS DOUBLE) / CAST(cell.n AS DOUBLE)
        |         - CAST(gl.st AS DOUBLE) / CAST(gl.nt AS DOUBLE)) AS bterm
        |  FROM cell JOIN gl ON gl.pos = cell.pos
        |), agg AS (
        |  SELECT sum(CAST(wterm AS DECIMAL(38,18))) AS w,
        |    sum(CAST(bterm AS DECIMAL(38,18))) AS b
        |  FROM j
        |), dims AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(nc) AS BIGINT) AS n
        |  FROM (SELECT cl, max(n) AS nc FROM cell GROUP BY 1))
        |SELECT dims.n, dims.k,
        |  round(CAST(agg.b AS DOUBLE), 6) AS b_ss,
        |  round(CAST(agg.w AS DOUBLE), 6) AS w_ss,
        |  round(CASE WHEN dims.k > 1 AND dims.n > dims.k THEN
        |    CASE WHEN CAST(agg.w AS DOUBLE) > 0 THEN
        |      (CAST(agg.b AS DOUBLE) / (CAST(dims.k AS DOUBLE) - 1.0))
        |        / (CAST(agg.w AS DOUBLE)
        |           / (CAST(dims.n AS DOUBLE) - CAST(dims.k AS DOUBLE)))
        |    END END, 6) AS ch
        |FROM dims, agg""".stripMargin,

    // q346: q313's complete-block midranks × range-cell midranks →
    // S₄ integer grid → the 4s cancel in the pinned F
    "q346_quade" ->
      """WITH cells AS (
        |  SELECT user_id AS b, event_type AS t, CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2
        |), k AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM cells),
        |ok AS (
        |  SELECT b FROM cells, k GROUP BY b, k.k
        |  HAVING count(*) = k.k AND count(DISTINCT t) = k.k
        |), kept AS (
        |  SELECT cells.b, cells.t, cells.v FROM cells JOIN ok ON ok.b = cells.b
        |), rk AS (
        |  SELECT b, t,
        |    CAST(2 * rank() OVER (PARTITION BY b ORDER BY v)
        |      + count(*) OVER (PARTITION BY b, v) - 1 AS BIGINT) AS r2
        |  FROM kept
        |), rg AS (SELECT b, max(v) - min(v) AS rg FROM kept GROUP BY 1),
        |rc AS (SELECT rg, CAST(count(*) AS BIGINT) AS cnt FROM rg GROUP BY 1),
        |rr AS (
        |  SELECT rg, cnt,
        |    CAST(coalesce(sum(cnt) OVER (ORDER BY rg
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS prior
        |  FROM rc
        |), q2 AS (SELECT rg, 2 * prior + cnt + 1 AS q2 FROM rr),
        |bq AS (SELECT rg.b, q2.q2 FROM rg JOIN q2 ON q2.rg = rg.rg),
        |s4 AS (
        |  SELECT rk.b, rk.t,
        |    CAST(bq.q2 AS HUGEINT) * (rk.r2 - ((SELECT k FROM k) + 1)) AS s4
        |  FROM rk JOIN bq ON bq.b = rk.b
        |), a4 AS (
        |  SELECT CAST(sum(s4 * s4) AS HUGEINT) AS a4,
        |    CAST(count(DISTINCT b) AS BIGINT) AS b_blocks,
        |    (SELECT k FROM k) AS k_treatments
        |  FROM s4
        |), t4 AS (
        |  SELECT coalesce(CAST(sum(t4 * t4) AS HUGEINT), 0) AS b4
        |  FROM (SELECT t, CAST(sum(s4) AS HUGEINT) AS t4 FROM s4 GROUP BY 1)
        |), f AS (
        |  SELECT b_blocks, k_treatments, CAST(b_blocks AS DOUBLE) AS bd,
        |    CAST(a4.a4 AS DOUBLE) AS a4d, CAST(t4.b4 AS DOUBLE) AS b4d
        |  FROM a4, t4)
        |SELECT b_blocks, k_treatments,
        |  round(CASE WHEN b_blocks > 1 AND k_treatments > 1 THEN
        |    CASE WHEN bd * a4d - b4d > 0
        |      THEN (bd - 1.0) * b4d / (bd * a4d - b4d) END END, 6) AS f_stat,
        |  k_treatments - 1 AS df1,
        |  (b_blocks - 1) * (k_treatments - 1) AS df2
        |FROM f""".stripMargin,

    // q347: one 9-sum fold (DECIMAL(19,6) hugeint operands), Cramer on
    // the centered 2×2, R² and VIF in pinned order
    "q347_ols2" ->
      """WITH li AS (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS x1,
        |    CAST(sum(l_quantity) AS DOUBLE) AS x2
        |  FROM lineitem GROUP BY 1
        |), d AS (
        |  SELECT CAST(li.x1 AS DOUBLE) AS a, li.x2 AS b,
        |    CAST(o_totalprice AS DOUBLE) AS y
        |  FROM orders JOIN li ON li.l_orderkey = o_orderkey
        |  WHERE o_totalprice IS NOT NULL
        |), mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(a AS DECIMAL(19,6))) AS s1, sum(CAST(b AS DECIMAL(19,6))) AS s2,
        |    sum(CAST(y AS DECIMAL(19,6))) AS sy,
        |    sum(CAST(a AS DECIMAL(19,6)) * CAST(a AS DECIMAL(19,6))) AS s11,
        |    sum(CAST(b AS DECIMAL(19,6)) * CAST(b AS DECIMAL(19,6))) AS s22,
        |    sum(CAST(a AS DECIMAL(19,6)) * CAST(b AS DECIMAL(19,6))) AS s12,
        |    sum(CAST(a AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS s1y,
        |    sum(CAST(b AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS s2y,
        |    sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS syy
        |  FROM d
        |), f AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
        |    CAST(sy AS DOUBLE) AS syd, CAST(s11 AS DOUBLE) AS s11d,
        |    CAST(s22 AS DOUBLE) AS s22d, CAST(s12 AS DOUBLE) AS s12d,
        |    CAST(s1y AS DOUBLE) AS s1yd, CAST(s2y AS DOUBLE) AS s2yd,
        |    CAST(syy AS DOUBLE) AS syyd
        |  FROM mom
        |), c AS (
        |  SELECT n, nd, s1d, s2d, syd,
        |    nd * s11d - s1d * s1d AS c11, nd * s22d - s2d * s2d AS c22,
        |    nd * s12d - s1d * s2d AS c12, nd * s1yd - s1d * syd AS c1y,
        |    nd * s2yd - s2d * syd AS c2y, nd * syyd - syd * syd AS cyy
        |  FROM f
        |), g AS (
        |  SELECT n, nd, s1d, s2d, syd, c11, c22, c12, c1y, c2y, cyy,
        |    c11 * c22 - c12 * c12 AS det,
        |    (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
        |    (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
        |  FROM c)
        |SELECT n,
        |  round(CASE WHEN det > 0 THEN (syd - b1 * s1d - b2 * s2d) / nd END, 6)
        |    AS b0,
        |  round(CASE WHEN det > 0 THEN b1 END, 6) AS b1,
        |  round(CASE WHEN det > 0 THEN b2 END, 6) AS b2,
        |  round(CASE WHEN det > 0 THEN CASE WHEN cyy > 0
        |    THEN (b1 * c1y + b2 * c2y) / cyy END END, 6) AS r2,
        |  round(CASE WHEN c11 > 0 AND c22 > 0 THEN
        |    CASE WHEN 1.0 - c12 * c12 / (c11 * c22) > 0
        |      THEN 1.0 / (1.0 - c12 * c12 / (c11 * c22)) END END, 6) AS vif
        |FROM g""".stripMargin,

    // q348: two q119-style exact rank picks per margin, least/greatest
    // clamps on the same doubles, q108's exact fold on the clamped pair
    "q348_winsorized_corr" ->
      """WITH d AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS x, CAST(l_extendedprice AS DOUBLE) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |), rx AS (
        |  SELECT x, row_number() OVER (ORDER BY x) AS rn, count(*) OVER () AS nn
        |  FROM d
        |), cx AS (
        |  SELECT
        |    min(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * nn) AS BIGINT))
        |      THEN x END) AS lox,
        |    min(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * nn) AS BIGINT))
        |      THEN x END) AS hix
        |  FROM rx
        |), ry AS (
        |  SELECT y, row_number() OVER (ORDER BY y) AS rn, count(*) OVER () AS nn
        |  FROM d
        |), cy AS (
        |  SELECT
        |    min(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * nn) AS BIGINT))
        |      THEN y END) AS loy,
        |    min(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * nn) AS BIGINT))
        |      THEN y END) AS hiy
        |  FROM ry
        |), cl AS (
        |  SELECT least(greatest(d.x, cx.lox), cx.hix) AS xc,
        |    least(greatest(d.y, cy.loy), cy.hiy) AS yc,
        |    cx.lox, cx.hix, cy.loy, cy.hiy
        |  FROM d, cx, cy
        |), mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    any_value(lox) AS lox, any_value(hix) AS hix,
        |    any_value(loy) AS loy, any_value(hiy) AS hiy,
        |    sum(CAST(xc AS DECIMAL(19,6))) AS sx, sum(CAST(yc AS DECIMAL(19,6))) AS sy,
        |    sum(CAST(xc AS DECIMAL(19,6)) * CAST(xc AS DECIMAL(19,6))) AS sxx,
        |    sum(CAST(yc AS DECIMAL(19,6)) * CAST(yc AS DECIMAL(19,6))) AS syy,
        |    sum(CAST(xc AS DECIMAL(19,6)) * CAST(yc AS DECIMAL(19,6))) AS sxy
        |  FROM cl
        |), f AS (
        |  SELECT n, lox, hix, loy, hiy, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
        |    CAST(sxy AS DOUBLE) AS sxyd
        |  FROM mom)
        |SELECT n, round(lox, 6) AS lo_x, round(hix, 6) AS hi_x,
        |  round(loy, 6) AS lo_y, round(hiy, 6) AS hi_y,
        |  round(CASE WHEN nd * sxxd - sxd * sxd > 0 AND nd * syyd - syd * syd > 0
        |    THEN (nd * sxyd - sxd * syd)
        |      / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd))
        |    END, 6) AS corr_w
        |FROM f""".stripMargin,

    // q349: the q239 decomposition verbatim, filtered to complete
    // component rows, then per-series exact variance folds → FPP F_T/F_S
    "q349_seasonal_strength" ->
      """WITH c AS (
        |  SELECT event_type, (epoch_ns(ts) // 1000) // 3600000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, bucket, n,
        |    round(CASE WHEN count(n) OVER w = 25
        |      THEN CAST(sum(n) OVER w + sum(n) OVER wi AS DOUBLE) / 48 END, 6) AS trend
        |  FROM c
        |  WINDOW w  AS (PARTITION BY event_type ORDER BY bucket
        |                RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING),
        |         wi AS (PARTITION BY event_type ORDER BY bucket
        |                RANGE BETWEEN 11 PRECEDING AND 11 FOLLOWING)),
        |p AS (
        |  SELECT event_type, bucket % 24 AS ph,
        |    sum(CAST(n - trend AS DECIMAL(38,12))) AS sd, CAST(count(*) AS BIGINT) AS sc
        |  FROM t WHERE trend IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT event_type, ph, round(CAST(sd AS DOUBLE) / sc, 6) AS seasonal FROM p),
        |dec AS (
        |  SELECT t.event_type, t.trend, s.seasonal,
        |    round(t.n - t.trend - s.seasonal, 6) AS residual
        |  FROM t LEFT JOIN s ON s.event_type = t.event_type AND s.ph = t.bucket % 24
        |  WHERE t.trend IS NOT NULL AND s.seasonal IS NOT NULL
        |), agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
        |    sum(CAST(residual AS DECIMAL(38,12))) AS s_r,
        |    sum(CAST(residual * residual AS DECIMAL(38,12))) AS q_r,
        |    sum(CAST(seasonal + residual AS DECIMAL(38,12))) AS s_sr,
        |    sum(CAST((seasonal + residual) * (seasonal + residual)
        |      AS DECIMAL(38,12))) AS q_sr,
        |    sum(CAST(trend + residual AS DECIMAL(38,12))) AS s_tr,
        |    sum(CAST((trend + residual) * (trend + residual)
        |      AS DECIMAL(38,12))) AS q_tr
        |  FROM dec GROUP BY 1
        |), v AS (
        |  SELECT event_type, n_buckets, CAST(n_buckets AS DOUBLE) AS nd,
        |    CAST(q_r AS DOUBLE) AS qr, CAST(s_r AS DOUBLE) AS sr,
        |    CAST(q_sr AS DOUBLE) AS qsr, CAST(s_sr AS DOUBLE) AS ssr,
        |    CAST(q_tr AS DOUBLE) AS qtr, CAST(s_tr AS DOUBLE) AS str
        |  FROM agg)
        |SELECT event_type, n_buckets,
        |  round(CASE WHEN nd * qtr - str * str > 0
        |    THEN greatest(0.0, 1.0 - (nd * qr - sr * sr) / (nd * qtr - str * str))
        |    END, 6) AS trend_strength,
        |  round(CASE WHEN nd * qsr - ssr * ssr > 0
        |    THEN greatest(0.0, 1.0 - (nd * qr - sr * sr) / (nd * qsr - ssr * ssr))
        |    END, 6) AS seasonal_strength
        |FROM v""".stripMargin,

    // q350: the q319 lag machinery with Bartlett weights; γ₀ and the
    // kernel sum pinned; LRV floored at 0 before the √
    "q350_newey_west" ->
      """WITH dd AS (SELECT epoch_ns(ts) // 86400000000000 AS d FROM events),
        |cg AS (SELECT d, CAST(count(*) AS BIGINT) AS x FROM dd GROUP BY 1),
        |bb AS (SELECT min(d) AS lo, max(d) AS hi FROM cg),
        |axis AS (SELECT bb.lo AS lo, unnest(range(bb.lo, bb.hi + 1)) AS d0 FROM bb),
        |s AS (SELECT axis.d0 - axis.lo AS t, CAST(coalesce(cg.x, 0) AS DECIMAL(19,6)) AS xd
        |      FROM axis LEFT JOIN cg ON cg.d = axis.d0),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(xd) AS s1,
        |          sum(xd * xd) AS s2 FROM s),
        |lg AS (SELECT unnest(range(1, 8)) AS lag),
        |p AS (SELECT lg.lag, a.xd AS x1, b2.xd AS x2
        |      FROM lg CROSS JOIN s a JOIN s b2 ON b2.t = a.t + lg.lag),
        |per AS (SELECT lag, CAST(count(*) AS BIGINT) AS m,
        |          sum(x1 * x2) AS ck, sum(x1 + x2) AS pk
        |        FROM p GROUP BY 1),
        |terms AS (
        |  SELECT
        |    CAST((1.0 - CAST(per.lag AS DOUBLE) / 8.0)
        |      * ((CAST(tot.n AS DOUBLE) * tot.n * CAST(per.ck AS DOUBLE)
        |          - CAST(tot.n AS DOUBLE) * CAST(tot.s1 AS DOUBLE)
        |            * CAST(per.pk AS DOUBLE)
        |          + CAST(per.m AS DOUBLE) * CAST(tot.s1 AS DOUBLE)
        |            * CAST(tot.s1 AS DOUBLE))
        |        / (CAST(tot.n AS DOUBLE) * tot.n * CAST(tot.n AS DOUBLE)))
        |      AS DECIMAL(38,12)) AS term
        |  FROM per, tot
        |), ks AS (
        |  SELECT coalesce(sum(term), CAST(0.0 AS DECIMAL(38,12))) AS ks FROM terms
        |), g AS (
        |  SELECT tot.n, CAST(tot.n AS DOUBLE) AS nd,
        |    (CAST(tot.n AS DOUBLE) * CAST(tot.s2 AS DOUBLE)
        |      - CAST(tot.s1 AS DOUBLE) * CAST(tot.s1 AS DOUBLE))
        |      / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)) AS g0,
        |    CAST(ks.ks AS DOUBLE) AS ksd
        |  FROM tot, ks
        |), h AS (
        |  SELECT n, nd, g0, greatest(g0 + 2.0 * ksd, 0.0) AS lrv FROM g)
        |SELECT n, CAST(7 AS INT) AS max_lag,
        |  round(CASE WHEN n > 0 THEN g0 END, 6) AS gamma0,
        |  round(CASE WHEN n > 0 THEN lrv END, 6) AS lrv,
        |  round(CASE WHEN n > 0 THEN sqrt(lrv / nd) END, 6) AS se_mean,
        |  round(CASE WHEN n > 0 THEN CASE WHEN g0 >= 0 THEN sqrt(g0 / nd) END END, 6)
        |    AS se_naive,
        |  round(CASE WHEN n > 0 THEN CASE WHEN g0 > 0 THEN lrv / g0 END END, 6)
        |    AS inflation
        |FROM h""".stripMargin,

    // q341: (group, value) cells → doubled pair fold over the strict
    // group-ordered triangle → tie-corrected three-term variance
    "q341_jonckheere" ->
      """WITH cells AS (
        |  SELECT CAST(l_linenumber AS DOUBLE) AS g, CAST(l_quantity AS DOUBLE) AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem
        |  WHERE l_linenumber IS NOT NULL AND l_quantity IS NOT NULL
        |  GROUP BY 1, 2
        |), jt2 AS (
        |  SELECT coalesce(sum(CASE WHEN b.v > a.v THEN 2 * CAST(a.c AS HUGEINT) * b.c
        |                           WHEN b.v = a.v THEN CAST(a.c AS HUGEINT) * b.c
        |                      END), 0) AS jt2
        |  FROM cells a JOIN cells b ON b.g > a.g
        |), gm AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k_groups, CAST(sum(nn) AS BIGINT) AS n,
        |    sum(CAST(nn AS HUGEINT) * nn) AS sn2,
        |    sum(CAST(nn AS HUGEINT) * (nn - 1) * (2 * nn + 5)) AS sn25,
        |    sum(CAST(nn AS HUGEINT) * (nn - 1)) AS sn1,
        |    sum(CAST(nn AS HUGEINT) * (nn - 1) * (nn - 2)) AS sn12
        |  FROM (SELECT g, CAST(sum(c) AS BIGINT) AS nn FROM cells GROUP BY 1)
        |), vm AS (
        |  SELECT
        |    sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS st25,
        |    sum(CAST(t AS HUGEINT) * (t - 1)) AS st1,
        |    sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS st12
        |  FROM (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1)
        |), f AS (
        |  SELECT k_groups, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(jt2 AS DOUBLE) / 2.0 AS jt,
        |    CAST(sn2 AS DOUBLE) AS sn2, CAST(sn25 AS DOUBLE) AS sn25,
        |    CAST(sn1 AS DOUBLE) AS sn1, CAST(sn12 AS DOUBLE) AS sn12,
        |    CAST(st25 AS DOUBLE) AS st25, CAST(st1 AS DOUBLE) AS st1,
        |    CAST(st12 AS DOUBLE) AS st12
        |  FROM gm, vm, jt2
        |), g2 AS (
        |  SELECT k_groups, n, jt,
        |    (nd * nd - sn2) / 4.0 AS e,
        |    (nd * (nd - 1.0) * (2.0 * nd + 5.0) - sn25 - st25) / 72.0
        |      + sn12 * st12 / (36.0 * nd * (nd - 1.0) * (nd - 2.0))
        |      + sn1 * st1 / (8.0 * nd * (nd - 1.0)) AS v
        |  FROM f WHERE n > 2)
        |SELECT k_groups, n, round(jt, 6) AS jt,
        |  round(CASE WHEN v > 0 THEN (jt - e) / sqrt(v) END, 6) AS z
        |FROM g2""".stripMargin,

    // q342: the q318 series; both naive lags by equi-join; every error
    // sum decimal-re-summed; the five ratios pinned
    "q342_forecast_errors" ->
      """WITH dd AS (SELECT epoch_ns(ts) // 86400000000000 AS d FROM events),
        |cg AS (SELECT d, CAST(count(*) AS BIGINT) AS x FROM dd GROUP BY 1),
        |bb AS (SELECT min(d) AS lo, max(d) AS hi FROM cg),
        |axis AS (SELECT bb.lo AS lo, unnest(range(bb.lo, bb.hi + 1)) AS d0 FROM bb),
        |s AS (SELECT axis.d0 - axis.lo AS t, CAST(coalesce(cg.x, 0) AS DOUBLE) AS x
        |      FROM axis LEFT JOIN cg ON cg.d = axis.d0),
        |j AS (
        |  SELECT s.t, s.x, s7.x AS xs, s1.x AS x1
        |  FROM s JOIN s s7 ON s.t = s7.t + 7 JOIN s s1 ON s.t = s1.t + 1
        |), agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x - xs AS DECIMAL(38,12))) AS se,
        |    sum(CAST(abs(x - xs) AS DECIMAL(38,12))) AS sae,
        |    sum(CAST((x - xs) * (x - xs) AS DECIMAL(38,12))) AS sse,
        |    sum(CAST((x - x1) * (x - x1) AS DECIMAL(38,12))) AS sse1,
        |    sum(CASE WHEN abs(x) + abs(xs) > 0
        |      THEN CAST(2.0 * abs(x - xs) / (abs(x) + abs(xs)) AS DECIMAL(38,12))
        |      END) AS ssm,
        |    CAST(sum(CASE WHEN abs(x) + abs(xs) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS smape_n
        |  FROM j)
        |SELECT n,
        |  round(CASE WHEN n > 0 THEN CAST(se AS DOUBLE) / CAST(n AS DOUBLE) END, 6)
        |    AS me,
        |  round(CASE WHEN n > 0 THEN CAST(sae AS DOUBLE) / CAST(n AS DOUBLE) END, 6)
        |    AS mae,
        |  round(CASE WHEN n > 0 THEN sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE))
        |    END, 6) AS rmse,
        |  round(CASE WHEN smape_n > 0
        |    THEN CAST(ssm AS DOUBLE) / CAST(smape_n AS DOUBLE) END, 6) AS smape,
        |  smape_n,
        |  round(CASE WHEN CAST(sse1 AS DOUBLE) > 0
        |    THEN sqrt(CAST(sse AS DOUBLE)) / sqrt(CAST(sse1 AS DOUBLE)) END, 6) AS u2
        |FROM agg""".stripMargin,

    // q343: exact per-order reconstruction (decimal-re-summed), one
    // moment fold pins bias/sd/limits, outside mass by the same doubles
    "q343_bland_altman" ->
      """WITH est AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS est
        |  FROM lineitem GROUP BY 1
        |), p AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) - est AS d
        |  FROM orders JOIN est ON est.l_orderkey = o_orderkey
        |  WHERE o_totalprice IS NOT NULL AND est IS NOT NULL
        |), mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(d AS DECIMAL(19,6))) AS s,
        |    sum(CAST(d AS DECIMAL(19,6)) * CAST(d AS DECIMAL(19,6))) AS q
        |  FROM p
        |), fit AS (
        |  SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sd
        |  FROM mom
        |  WHERE n > 1 AND (CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) > 0
        |), lim AS (
        |  SELECT n, mu, sd, mu - 1.959963984540054 * sd AS lo,
        |    mu + 1.959963984540054 * sd AS hi
        |  FROM fit)
        |SELECT any_value(lim.n) AS n, round(any_value(mu), 6) AS bias,
        |  round(any_value(sd), 6) AS sd_diff,
        |  round(any_value(lo), 6) AS loa_lo, round(any_value(hi), 6) AS loa_hi,
        |  CAST(sum(CASE WHEN p.d < lim.lo OR p.d > lim.hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outside,
        |  round(CAST(sum(CASE WHEN p.d < lim.lo OR p.d > lim.hi THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(any_value(lim.n) AS DOUBLE), 6) AS pct_outside
        |FROM p, lim""".stripMargin,

    // q344: the q343 pair through one moment fold; the n² factors
    // cancel so the closed form reads the raw sums
    "q344_lin_ccc" ->
      """WITH est AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS est
        |  FROM lineitem GROUP BY 1
        |), p AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS x, est AS y
        |  FROM orders JOIN est ON est.l_orderkey = o_orderkey
        |  WHERE o_totalprice IS NOT NULL AND est IS NOT NULL
        |), mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS DECIMAL(19,6))) AS sx, sum(CAST(y AS DECIMAL(19,6))) AS sy,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS sxx,
        |    sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS syy,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS sxy
        |  FROM p
        |), f AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
        |  FROM mom
        |), g AS (
        |  SELECT n, nd * sxyd - sxd * syd AS covn,
        |    nd * sxxd - sxd * sxd AS vx, nd * syyd - syd * syd AS vy,
        |    (sxd - syd) * (sxd - syd) AS bias2
        |  FROM f)
        |SELECT n,
        |  round(CASE WHEN vx > 0 AND vy > 0
        |    THEN covn / (sqrt(vx) * sqrt(vy)) END, 6) AS pearson_r,
        |  round(CASE WHEN vx > 0 AND vy > 0 THEN CASE WHEN covn <> 0
        |    THEN (2.0 * covn / (vx + vy + bias2))
        |      / (covn / (sqrt(vx) * sqrt(vy))) END END, 6) AS c_b,
        |  round(CASE WHEN vx + vy + bias2 > 0
        |    THEN 2.0 * covn / (vx + vy + bias2) END, 6) AS ccc
        |FROM g""".stripMargin,

    // q345: one moment fold; the quadratic's positive root in pinned
    // IEEE (√, not pow); NULL at zero covariance
    "q345_deming" ->
      """WITH d AS (
        |  SELECT CAST(p_size AS DOUBLE) AS x, CAST(p_retailprice AS DOUBLE) AS y
        |  FROM part WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
        |), mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS DECIMAL(19,6))) AS sx, sum(CAST(y AS DECIMAL(19,6))) AS sy,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS sxx,
        |    sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS syy,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS sxy
        |  FROM d
        |), f AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
        |  FROM mom
        |), g AS (
        |  SELECT n, nd, sxd, syd,
        |    nd * sxxd - sxd * sxd AS cxx, nd * syyd - syd * syd AS cyy,
        |    nd * sxyd - sxd * syd AS cxy
        |  FROM f
        |), h AS (
        |  SELECT n, nd, sxd, syd, cxy,
        |    (cyy - 1.0 * cxx
        |      + sqrt((cyy - 1.0 * cxx) * (cyy - 1.0 * cxx) + 4.0 * cxy * cxy))
        |      / (2.0 * cxy) AS slope
        |  FROM g)
        |SELECT n,
        |  round(CASE WHEN cxy <> 0 THEN slope END, 6) AS slope,
        |  round(CASE WHEN cxy <> 0 THEN (syd - slope * sxd) / nd END, 6) AS intercept
        |FROM h""".stripMargin,

    // q336: q176's score/label frame → the same asc (score, id) ntile
    // deciles → weighted-gap fold (decimal-re-summed) + max gap
    "q336_ece" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), lab AS (
         |  SELECT s.doc_id, s.score,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
         |), b AS (
         |  SELECT CAST(ntile(10) OVER (ORDER BY score, doc_id) - 1 AS BIGINT) AS bin,
         |    score, y
         |  FROM lab
         |), g AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS nb,
         |    sum(CAST(score AS DECIMAL(38,12))) AS ss,
         |    CAST(sum(y) AS BIGINT) AS sy
         |  FROM b GROUP BY 1
         |), t AS (
         |  SELECT nb,
         |    abs(CAST(ss AS DOUBLE) / nb - CAST(sy AS DOUBLE) / nb) AS gap
         |  FROM g)
         |SELECT CAST(count(*) AS BIGINT) AS bins_used,
         |  CAST(sum(nb) AS BIGINT) AS n,
         |  round(CASE WHEN sum(nb) > 0
         |    THEN CAST(sum(CAST(CAST(nb AS DOUBLE) * gap AS DECIMAL(38,12))) AS DOUBLE)
         |      / CAST(sum(nb) AS DOUBLE) END, 6) AS ece,
         |  round(max(gap), 6) AS mce
         |FROM t""".stripMargin,

    // q337: exact arm counts; MDE and required-n in pinned IEEE off the
    // SAME fixed z-sum double literal both engines parse
    "q337_power_two_prop" ->
      """WITH d AS (
        |  SELECT (user_id % 2 = 0) AS a, (event_type = 'purchase') AS y FROM events
        |), m AS (
        |  SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM d
        |), g AS (
        |  SELECT n_a, n_b, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(k AS DOUBLE) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS p
        |  FROM m)
        |SELECT n_a, n_b,
        |  round(CASE WHEN n_a + n_b > 0 THEN p END, 6) AS p_pool,
        |  round(CASE WHEN n_a > 0 AND n_b > 0
        |    THEN 2.8015852181129683
        |      * sqrt(2.0 * p * (1.0 - p) / (2.0 * na * nb / (na + nb))) END, 6)
        |    AS mde_abs,
        |  round(CASE WHEN n_a > 0 AND n_b > 0 THEN CASE WHEN p > 0
        |    THEN 2.8015852181129683
        |      * sqrt(2.0 * p * (1.0 - p) / (2.0 * na * nb / (na + nb))) / p
        |    END END, 6) AS mde_rel,
        |  CASE WHEN n_a + n_b > 0
        |    THEN CAST(ceil(2.0 * p * (1.0 - p)
        |      * (2.8015852181129683 / 0.02) * (2.8015852181129683 / 0.02))
        |      AS BIGINT) END AS n_req_per_arm
        |FROM g""".stripMargin,

    // q338: q157's projection; exact club sizes/edge counts per k off
    // one degree frame; ordered-pair φ
    "q338_rich_club" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS l, CAST(l_partkey AS BIGINT) AS r
        |  FROM lineitem
        |), pe AS (
        |  SELECT x.l AS a, y.l AS b
        |  FROM e x JOIN e y ON x.r = y.r AND x.l < y.l
        |  GROUP BY 1, 2 HAVING count(*) >= 150
        |), bi AS (
        |  SELECT a AS u, b AS v FROM pe UNION ALL SELECT b, a FROM pe
        |), deg AS (
        |  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM bi GROUP BY 1
        |), ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS k),
        |cn AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
        |  FROM deg, ks WHERE deg > k GROUP BY 1
        |), wd AS (
        |  SELECT du.deg AS d1, dv.deg AS d2
        |  FROM bi JOIN deg du ON du.u = bi.u JOIN deg dv ON dv.u = bi.v
        |), ce AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n_edges
        |  FROM wd, ks WHERE d1 > k AND d2 > k GROUP BY 1)
        |SELECT cn.k, cn.n_nodes,
        |  CAST(coalesce(ce.n_edges, 0) AS BIGINT) AS n_edges,
        |  round(CASE WHEN cn.n_nodes > 1
        |    THEN CAST(coalesce(ce.n_edges, 0) AS DOUBLE)
        |      / CAST(cn.n_nodes * (cn.n_nodes - 1) AS DOUBLE) END, 6) AS phi
        |FROM cn LEFT JOIN ce ON ce.k = cn.k""".stripMargin,

    // q339: q219's recursive-CTE KM replay; lag segments over the
    // ROUNDED curve + the tail carried to the horizon
    "q339_rmst" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), u AS (SELECT user_id, min(day) AS fd, max(day) AS ld FROM e GROUP BY 1),
        |mx AS (SELECT max(ld) AS md FROM u),
        |obs AS (SELECT ld - fd AS t, (ld <= mx.md - 3) AS ev FROM u, mx),
        |g AS (
        |  SELECT t, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM obs GROUP BY 1
        |), r AS (
        |  SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn,
        |    CAST(coalesce(sum(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior,
        |    CAST(sum(d + c) OVER () AS BIGINT) AS nt
        |  FROM g
        |), k AS (
        |  SELECT rn, t, nt - prior AS n_risk, d, c,
        |    CAST(1.0 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(d AS DOUBLE) / (nt - prior)) AS s
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.rn, r.t, r.nt - r.prior, r.d, r.c,
        |    k.s * (CAST(1.0 AS DOUBLE) - CAST(r.d AS DOUBLE) / (r.nt - r.prior))
        |  FROM k JOIN r ON r.rn = k.rn + 1
        |), nn AS (SELECT CAST(max(n_risk) AS BIGINT) AS n FROM k),
        |cr AS (SELECT t, round(s, 6) AS survival FROM k WHERE t <= 20),
        |seg AS (
        |  SELECT t, survival,
        |    coalesce(lag(t) OVER (ORDER BY t), 0) AS tp,
        |    coalesce(lag(survival) OVER (ORDER BY t), 1.0) AS sp
        |  FROM cr
        |), area AS (
        |  SELECT
        |    coalesce(sum(CAST(sp * CAST(t - tp AS DOUBLE) AS DECIMAL(38,12))),
        |      CAST(0.0 AS DECIMAL(38,12))) AS a,
        |    coalesce(arg_max(survival, t), 1.0) AS slast,
        |    coalesce(max(t), 0) AS tlast
        |  FROM seg)
        |SELECT CAST(20 AS BIGINT) AS tau, nn.n,
        |  round(CAST(area.a AS DOUBLE)
        |    + area.slast * CAST(20 - area.tlast AS DOUBLE), 6) AS rmst
        |FROM nn, area""".stripMargin,

    // q340: dense user×period grid → q313's doubled midranks → dose-
    // ranked L fold on the integer grid → pinned z
    "q340_page_trend" ->
      """WITH days AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), m0 AS (SELECT min(day) AS m0 FROM days),
        |per AS (
        |  SELECT user_id, least((day - m0.m0) // 10, 2) AS period,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM days, m0 GROUP BY 1, 2
        |), users AS (SELECT DISTINCT user_id FROM per),
        |grid AS (SELECT user_id, unnest(range(0, 3)) AS period FROM users),
        |dense AS (
        |  SELECT grid.user_id, grid.period,
        |    CAST(coalesce(per.cnt, 0) AS BIGINT) AS cnt
        |  FROM grid LEFT JOIN per
        |    ON per.user_id = grid.user_id AND per.period = grid.period
        |), ranked AS (
        |  SELECT user_id, period, cnt,
        |    2 * rank() OVER (PARTITION BY user_id ORDER BY cnt)
        |      + count(*) OVER (PARTITION BY user_id, cnt) - 1 AS r2
        |  FROM dense
        |), pt AS (
        |  SELECT period, sum(CAST(r2 AS HUGEINT)) AS rj2 FROM ranked GROUP BY 1
        |), wc AS (
        |  SELECT period, rj2, row_number() OVER (ORDER BY period) AS c FROM pt
        |), tot AS (
        |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS b,
        |    CAST(count(DISTINCT period) AS BIGINT) AS k
        |  FROM ranked
        |), l2 AS (
        |  SELECT coalesce(sum(CAST(c AS HUGEINT) * rj2), 0) AS l2 FROM wc
        |), f AS (
        |  SELECT tot.b, tot.k, CAST(tot.b AS DOUBLE) AS bd, CAST(tot.k AS DOUBLE) AS kd,
        |    CAST(l2.l2 AS DOUBLE) / 2.0 AS lstat
        |  FROM tot, l2)
        |SELECT b AS b_blocks, k AS k_treatments,
        |  round(lstat, 6) AS l_stat,
        |  round(CASE WHEN b > 0 AND k > 1 THEN
        |    CASE WHEN bd * kd * kd * (kd + 1.0) * (kd * kd - 1.0) / 144.0 > 0 THEN
        |      (lstat - bd * kd * (kd + 1.0) * (kd + 1.0) / 4.0)
        |        / sqrt(bd * kd * kd * (kd + 1.0) * (kd * kd - 1.0) / 144.0)
        |    END END, 6) AS z
        |FROM f""".stripMargin,

    // q329: q286's token-count frame → frequency-of-frequency margins →
    // the bias-corrected Chao1 and Good's coverage in pinned doubles
    "q329_chao1" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM documents
        |), tc AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks WHERE tok <> ''
        |  GROUP BY 1
        |), m AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS s_obs,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |  FROM tc)
        |SELECT n, s_obs, f1, f2,
        |  round(CAST(s_obs AS DOUBLE) + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
        |    / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 6) AS chao1,
        |  round(CASE WHEN n > 0
        |    THEN 1.0 - CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE) END, 6) AS coverage
        |FROM m""".stripMargin,

    // q330: per-lang token cells → exact counts → each index the same
    // IEEE term decimal-re-summed (the q234 entropy discipline)
    "q330_diversity" ->
      """WITH toks AS (
        |  SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM documents WHERE lang IS NOT NULL
        |), cells AS (
        |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM toks
        |  WHERE tok <> '' GROUP BY 1, 2
        |), tt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY 1),
        |f AS (
        |  SELECT cells.lang, any_value(tt.n) AS n,
        |    CAST(count(*) AS BIGINT) AS richness,
        |    sum(CAST(-(CAST(c AS DOUBLE) / CAST(tt.n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(tt.n AS DOUBLE)) AS DECIMAL(38,12))) AS h,
        |    sum(CAST((CAST(c AS DOUBLE) / CAST(tt.n AS DOUBLE))
        |      * (CAST(c AS DOUBLE) / CAST(tt.n AS DOUBLE)) AS DECIMAL(38,12))) AS d,
        |    CAST(max(c) AS BIGINT) AS maxc
        |  FROM cells JOIN tt ON tt.lang = cells.lang GROUP BY 1)
        |SELECT lang, n, richness,
        |  round(CAST(h AS DOUBLE), 6) AS shannon,
        |  round(CASE WHEN richness > 1
        |    THEN CAST(h AS DOUBLE) / ln(CAST(richness AS DOUBLE)) END, 6) AS pielou,
        |  round(CAST(d AS DOUBLE), 6) AS simpson,
        |  round(1.0 - CAST(d AS DOUBLE), 6) AS gini_simpson,
        |  round(CASE WHEN CAST(d AS DOUBLE) > 0
        |    THEN 1.0 / CAST(d AS DOUBLE) END, 6) AS inv_simpson,
        |  round(CAST(maxc AS DOUBLE) / CAST(n AS DOUBLE), 6) AS berger_parker
        |FROM f""".stripMargin,

    // q331: the q319 lag machinery at lags {1,2} UNROUNDED, then the
    // Yule–Walker clearing in pinned scalar IEEE
    "q331_yule_walker" ->
      """WITH dd AS (SELECT epoch_ns(ts) // 86400000000000 AS d FROM events),
        |cg AS (SELECT d, CAST(count(*) AS BIGINT) AS x FROM dd GROUP BY 1),
        |bb AS (SELECT min(d) AS lo, max(d) AS hi FROM cg),
        |axis AS (SELECT bb.lo AS lo, unnest(range(bb.lo, bb.hi + 1)) AS d0 FROM bb),
        |s AS (SELECT axis.d0 - axis.lo AS t, CAST(coalesce(cg.x, 0) AS DECIMAL(19,6)) AS xd
        |      FROM axis LEFT JOIN cg ON cg.d = axis.d0),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(xd) AS s1,
        |          sum(xd * xd) AS s2 FROM s),
        |lg AS (SELECT unnest(range(1, 3)) AS lag),
        |p AS (SELECT lg.lag, a.xd AS x1, b2.xd AS x2
        |      FROM lg CROSS JOIN s a JOIN s b2 ON b2.t = a.t + lg.lag),
        |per AS (SELECT lag, CAST(count(*) AS BIGINT) AS m,
        |          sum(x1 * x2) AS ck, sum(x1 + x2) AS pk
        |        FROM p GROUP BY 1),
        |w AS (
        |  SELECT sum(CASE WHEN lag = 1 THEN ck END) AS ck1,
        |    sum(CASE WHEN lag = 1 THEN pk END) AS pk1,
        |    sum(CASE WHEN lag = 1 THEN m END) AS m1,
        |    sum(CASE WHEN lag = 2 THEN ck END) AS ck2,
        |    sum(CASE WHEN lag = 2 THEN pk END) AS pk2,
        |    sum(CASE WHEN lag = 2 THEN m END) AS m2
        |  FROM per
        |), g AS (
        |  SELECT tot.n, CAST(tot.n AS DOUBLE) AS nd,
        |    CAST(tot.s1 AS DOUBLE) AS s1d, CAST(tot.s2 AS DOUBLE) AS s2d,
        |    CAST(w.ck1 AS DOUBLE) AS ck1, CAST(w.pk1 AS DOUBLE) AS pk1,
        |    CAST(w.m1 AS DOUBLE) AS m1,
        |    CAST(w.ck2 AS DOUBLE) AS ck2, CAST(w.pk2 AS DOUBLE) AS pk2,
        |    CAST(w.m2 AS DOUBLE) AS m2
        |  FROM tot, w
        |), rr AS (
        |  SELECT n, nd * nd * s2d - nd * s1d * s1d AS den,
        |    (nd * nd * ck1 - nd * s1d * pk1 + m1 * s1d * s1d)
        |      / (nd * nd * s2d - nd * s1d * s1d) AS rho1,
        |    (nd * nd * ck2 - nd * s1d * pk2 + m2 * s1d * s1d)
        |      / (nd * nd * s2d - nd * s1d * s1d) AS rho2
        |  FROM g
        |), ph AS (
        |  SELECT n, den, rho1, rho2, 1.0 - rho1 * rho1 AS omr2,
        |    rho1 * (1.0 - rho2) / (1.0 - rho1 * rho1) AS phi1,
        |    (rho2 - rho1 * rho1) / (1.0 - rho1 * rho1) AS phi2
        |  FROM rr)
        |SELECT n,
        |  round(CASE WHEN den > 0 THEN rho1 END, 6) AS rho1,
        |  round(CASE WHEN den > 0 THEN rho2 END, 6) AS rho2,
        |  round(CASE WHEN den > 0 AND omr2 > 0 THEN phi1 END, 6) AS phi1,
        |  round(CASE WHEN den > 0 AND omr2 > 0 THEN phi2 END, 6) AS phi2,
        |  round(CASE WHEN den > 0 AND omr2 > 0
        |    THEN 1.0 - phi1 * rho1 - phi2 * rho2 END, 6) AS var_ratio
        |FROM ph""".stripMargin,

    // q332: cumulative (t, k) on the (ts, event_id) total order; LLR
    // off the SAME fixed double literals; first boundary crossing
    "q332_sprt" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) AS tsn, event_id, (event_type = 'purchase') AS s
        |  FROM events
        |), r AS (
        |  SELECT row_number() OVER (ORDER BY tsn, event_id) AS t,
        |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END)
        |      OVER (ORDER BY tsn, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k
        |  FROM e
        |), scored AS (
        |  SELECT t, k,
        |    CAST(k AS DOUBLE) * 0.6931471805599453
        |      + CAST(t - k AS DOUBLE) * (-0.11778303565638339) AS llr
        |  FROM r
        |), fc AS (
        |  SELECT min(t) AS tc FROM scored
        |  WHERE llr >= 2.9444389791664403 OR llr <= -2.9444389791664403
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM e)
        |SELECT tot.n, tot.k AS k_total,
        |  CASE WHEN scored.llr >= 2.9444389791664403 THEN 'accept_h1'
        |       ELSE 'accept_h0' END AS decision,
        |  CAST(scored.t AS BIGINT) AS t_stop, scored.k AS k_stop,
        |  round(scored.llr, 6) AS llr_stop
        |FROM scored, fc, tot WHERE scored.t = fc.tc
        |UNION ALL
        |SELECT tot.n, tot.k, 'continue', tot.n, tot.k,
        |  round(CAST(tot.k AS DOUBLE) * 0.6931471805599453
        |    + CAST(tot.n - tot.k AS DOUBLE) * (-0.11778303565638339), 6)
        |FROM tot, fc WHERE fc.tc IS NULL""".stripMargin,

    // q333: q306's pair frame unioned per direction, the rule card's
    // five ratios pinned off the same exact integers
    "q333_assoc_rules" ->
      """WITH bi0 AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |keep AS (SELECT b FROM bi0 GROUP BY 1 HAVING count(*) <= 10000),
        |bi AS (SELECT bi0.b, bi0.i FROM bi0 JOIN keep ON keep.b = bi0.b),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM bi),
        |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS ni FROM bi GROUP BY 1
        |       HAVING count(*) >= 2),
        |f AS (SELECT bi.b, bi.i FROM bi JOIN ic ON ic.i = bi.i),
        |p AS (
        |  SELECT a.i AS ia, c.i AS ib, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM f a JOIN f c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |pp AS (
        |  SELECT p.ia, p.ib, p.n_ab, x.ni AS na, y.ni AS nbi
        |  FROM p JOIN ic x ON x.i = p.ia JOIN ic y ON y.i = p.ib),
        |dir AS (
        |  SELECT ia AS antecedent, ib AS consequent, n_ab, na AS n_ante,
        |    nbi AS n_cons FROM pp
        |  UNION ALL
        |  SELECT ib, ia, n_ab, nbi, na FROM pp)
        |SELECT antecedent, consequent, n_ab, n_ante, n_cons,
        |  round(CAST(n_ab AS DOUBLE) / nb.n, 6) AS support,
        |  round(CAST(n_ab AS DOUBLE) / n_ante, 6) AS confidence,
        |  round((CAST(n_ab AS DOUBLE) * nb.n)
        |    / (CAST(n_ante AS DOUBLE) * n_cons), 6) AS lift,
        |  round(CAST(n_ab AS DOUBLE) / nb.n
        |    - (CAST(n_ante AS DOUBLE) / nb.n) * (CAST(n_cons AS DOUBLE) / nb.n), 6)
        |    AS leverage,
        |  round(CASE WHEN CAST(n_ab AS DOUBLE) / n_ante < 1.0
        |    THEN (1.0 - CAST(n_cons AS DOUBLE) / nb.n)
        |      / (1.0 - CAST(n_ab AS DOUBLE) / n_ante) END, 6) AS conviction,
        |  round(CAST(n_ab AS DOUBLE)
        |    / CAST(n_ante + n_cons - n_ab AS DOUBLE), 6) AS jaccard
        |FROM dir, nb""".stripMargin,

    // q334: q157's projection CTEs; z off one exact mean; cross/square
    // sums decimal-re-summed; the I ratio in the op's pinned order
    "q334_morans_i" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS l, CAST(l_partkey AS BIGINT) AS r
        |  FROM lineitem
        |), pe AS (
        |  SELECT x.l AS a, y.l AS b
        |  FROM e x JOIN e y ON x.r = y.r AND x.l < y.l
        |  GROUP BY 1, 2 HAVING count(*) >= 150
        |), bi AS (
        |  SELECT a AS u, b AS v FROM pe UNION ALL SELECT b, a FROM pe
        |), vals AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS id, CAST(s_acctbal AS DOUBLE) AS v
        |  FROM supplier WHERE s_suppkey IS NOT NULL AND s_acctbal IS NOT NULL
        |), mn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mu
        |  FROM vals
        |), z AS (SELECT id, v - mn.mu AS z FROM vals, mn),
        |den AS (SELECT sum(CAST(z * z AS DECIMAL(38,12))) AS den FROM z),
        |num AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |    coalesce(sum(CAST(zu.z * zv.z AS DECIMAL(38,12))),
        |      CAST(0 AS DECIMAL(38,12))) AS num
        |  FROM bi JOIN z zu ON zu.id = bi.u JOIN z zv ON zv.id = bi.v)
        |SELECT mn.n_nodes, num.n_edges,
        |  round(CASE WHEN num.n_edges > 0 AND CAST(den.den AS DOUBLE) > 0
        |    THEN CAST(mn.n_nodes AS DOUBLE) / CAST(num.n_edges AS DOUBLE)
        |      * (CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE)) END, 6)
        |    AS morans_i,
        |  round(CASE WHEN mn.n_nodes > 1
        |    THEN -1.0 / (CAST(mn.n_nodes AS DOUBLE) - 1.0) END, 6) AS e_i
        |FROM mn, num, den""".stripMargin,

    // q376: q334's CTE spine with the edge fold swapped to squared
    // differences and the (n−1)/(2W) normalizer
    "q376_gearys_c" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS l, CAST(l_partkey AS BIGINT) AS r
        |  FROM lineitem
        |), pe AS (
        |  SELECT x.l AS a, y.l AS b
        |  FROM e x JOIN e y ON x.r = y.r AND x.l < y.l
        |  GROUP BY 1, 2 HAVING count(*) >= 150
        |), bi AS (
        |  SELECT a AS u, b AS v FROM pe UNION ALL SELECT b, a FROM pe
        |), vals AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS id, CAST(s_acctbal AS DOUBLE) AS v
        |  FROM supplier WHERE s_suppkey IS NOT NULL AND s_acctbal IS NOT NULL
        |), mn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mu
        |  FROM vals
        |), z AS (SELECT id, v, v - mn.mu AS z FROM vals, mn),
        |den AS (SELECT sum(CAST(z * z AS DECIMAL(38,12))) AS den FROM z),
        |num AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |    coalesce(sum(CAST((zu.v - zv.v) * (zu.v - zv.v) AS DECIMAL(38,12))),
        |      CAST(0 AS DECIMAL(38,12))) AS num
        |  FROM bi JOIN z zu ON zu.id = bi.u JOIN z zv ON zv.id = bi.v)
        |SELECT mn.n_nodes, num.n_edges,
        |  round(CASE WHEN num.n_edges > 0 AND CAST(den.den AS DOUBLE) > 0
        |      AND mn.n_nodes > 1
        |    THEN (CAST(mn.n_nodes AS DOUBLE) - 1.0) / (2.0 * CAST(num.n_edges AS DOUBLE))
        |      * (CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE)) END, 6)
        |    AS gearys_c,
        |  CAST(1.0 AS DOUBLE) AS e_c
        |FROM mn, num, den""".stripMargin,

    // q335: one exact moment fold pins x̄/s; the witness is selected by
    // EQUALITY on the max deviation, max(v) breaks the symmetric tie
    "q335_grubbs" ->
      """WITH d AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_totalprice IS NOT NULL
        |), mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(v AS DECIMAL(19,6))) AS s,
        |    sum(CAST(v AS DECIMAL(19,6)) * CAST(v AS DECIMAL(19,6))) AS q
        |  FROM d
        |), fit AS (
        |  SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CASE WHEN (CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) > 0
        |      THEN sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END AS sd
        |  FROM mom WHERE n > 1
        |), dev AS (
        |  SELECT fit.n, fit.mu, fit.sd, d.v, abs(d.v - fit.mu) AS ad
        |  FROM d, fit
        |), mx AS (SELECT max(ad) AS mx FROM dev)
        |SELECT any_value(n) AS n, round(any_value(mu), 6) AS mean,
        |  round(any_value(sd), 6) AS sd,
        |  round(CASE WHEN any_value(sd) IS NOT NULL
        |    THEN any_value(mx.mx) / any_value(sd) END, 6) AS g_stat,
        |  max(v) AS outlier
        |FROM dev, mx WHERE dev.ad = mx.mx""".stripMargin,

    // q322: q119's exact type-1 median rank pick, 2×k exact counts,
    // χ² fold with pinned expectations (zero-margin → NULL)
    "q322_moods_median" ->
      """WITH d AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v, l_returnflag AS g
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
        |), r AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS nn
        |  FROM d
        |), med AS (
        |  SELECT v AS m FROM r
        |  WHERE rn = greatest(1, CAST(ceil(0.5 * nn) AS BIGINT))
        |), cells AS (
        |  SELECT g,
        |    CAST(sum(CASE WHEN d.v > med.m THEN 1 ELSE 0 END) AS BIGINT) AS ab,
        |    CAST(sum(CASE WHEN d.v <= med.m THEN 1 ELSE 0 END) AS BIGINT) AS be,
        |    any_value(med.m) AS m
        |  FROM d, med GROUP BY 1
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ab) AS BIGINT) AS ta,
        |    CAST(sum(be) AS BIGINT) AS tb, any_value(m) AS m
        |  FROM cells
        |), terms AS (
        |  SELECT tot.k, tot.ta, tot.tb, tot.m,
        |    (CASE WHEN CAST(ab + be AS DOUBLE) * CAST(ta AS DOUBLE)
        |            / CAST(ta + tb AS DOUBLE) > 0
        |      THEN (CAST(ab AS DOUBLE) - CAST(ab + be AS DOUBLE) * CAST(ta AS DOUBLE)
        |              / CAST(ta + tb AS DOUBLE))
        |         * (CAST(ab AS DOUBLE) - CAST(ab + be AS DOUBLE) * CAST(ta AS DOUBLE)
        |              / CAST(ta + tb AS DOUBLE))
        |         / (CAST(ab + be AS DOUBLE) * CAST(ta AS DOUBLE)
        |              / CAST(ta + tb AS DOUBLE)) ELSE 0.0 END)
        |    + (CASE WHEN CAST(ab + be AS DOUBLE) * CAST(tb AS DOUBLE)
        |            / CAST(ta + tb AS DOUBLE) > 0
        |      THEN (CAST(be AS DOUBLE) - CAST(ab + be AS DOUBLE) * CAST(tb AS DOUBLE)
        |              / CAST(ta + tb AS DOUBLE))
        |         * (CAST(be AS DOUBLE) - CAST(ab + be AS DOUBLE) * CAST(tb AS DOUBLE)
        |              / CAST(ta + tb AS DOUBLE))
        |         / (CAST(ab + be AS DOUBLE) * CAST(tb AS DOUBLE)
        |              / CAST(ta + tb AS DOUBLE)) ELSE 0.0 END) AS term
        |  FROM cells, tot)
        |SELECT any_value(k) AS k_groups, any_value(ta) + any_value(tb) AS n,
        |  round(any_value(m), 6) AS grand_median,
        |  round(CASE WHEN NOT (any_value(ta) = 0 OR any_value(tb) = 0)
        |    THEN CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE) END, 6) AS chi2,
        |  any_value(k) - 1 AS df1
        |FROM terms""".stripMargin,

    // q323: q252's cell-pair fold with the tie policy split out —
    // γ drops ties, Somers' D charges the dependent axis
    "q323_gk_gamma" ->
      """WITH d AS (
        |  SELECT l_linenumber AS x, l_quantity AS y FROM lineitem
        |  WHERE l_linenumber IS NOT NULL AND l_quantity IS NOT NULL),
        |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS o FROM d GROUP BY 1, 2),
        |cd AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN b.y > a.y THEN a.o * b.o END), 0) AS BIGINT) AS c,
        |    CAST(coalesce(sum(CASE WHEN b.y < a.y THEN a.o * b.o END), 0) AS BIGINT) AS dd
        |  FROM cells a JOIN cells b ON b.x > a.x),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |tx AS (SELECT CAST(coalesce(sum(t * (t - 1)), 0) AS BIGINT) AS tx2
        |       FROM (SELECT CAST(sum(o) AS BIGINT) AS t FROM cells GROUP BY x)),
        |ty AS (SELECT CAST(coalesce(sum(t * (t - 1)), 0) AS BIGINT) AS ty2
        |       FROM (SELECT CAST(sum(o) AS BIGINT) AS t FROM cells GROUP BY y)),
        |s1 AS (SELECT n, c, dd,
        |       CAST(n * (n - 1) AS DOUBLE) / 2 AS n0,
        |       CAST(tx2 AS DOUBLE) / 2 AS n1,
        |       CAST(ty2 AS DOUBLE) / 2 AS n2
        |       FROM cd, nn, tx, ty)
        |SELECT n,
        |  round(CASE WHEN (CAST(c AS DOUBLE) + CAST(dd AS DOUBLE)) > 0 THEN
        |    (CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
        |      / (CAST(c AS DOUBLE) + CAST(dd AS DOUBLE)) END, 6) AS gamma,
        |  round(CASE WHEN (n0 - n1) > 0 THEN
        |    (CAST(c AS DOUBLE) - CAST(dd AS DOUBLE)) / (n0 - n1) END, 6)
        |    AS somers_d_yx,
        |  round(CASE WHEN (n0 - n2) > 0 THEN
        |    (CAST(c AS DOUBLE) - CAST(dd AS DOUBLE)) / (n0 - n2) END, 6)
        |    AS somers_d_xy
        |FROM s1""".stripMargin,

    // q324: exact cell/margin integers; Σ_x max_y vs the modal column,
    // both directions, one pinned division each
    "q324_gk_lambda" ->
      """WITH cells AS (
        |  SELECT source AS x, lang AS y, CAST(count(*) AS BIGINT) AS o
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |smy AS (SELECT CAST(sum(m) AS BIGINT) AS smy
        |        FROM (SELECT max(o) AS m FROM cells GROUP BY x)),
        |mcy AS (SELECT CAST(max(t) AS BIGINT) AS mcy
        |        FROM (SELECT sum(o) AS t FROM cells GROUP BY y)),
        |smx AS (SELECT CAST(sum(m) AS BIGINT) AS smx
        |        FROM (SELECT max(o) AS m FROM cells GROUP BY y)),
        |mcx AS (SELECT CAST(max(t) AS BIGINT) AS mcx
        |        FROM (SELECT sum(o) AS t FROM cells GROUP BY x))
        |SELECT n,
        |  round(CASE WHEN (n - mcy) > 0 THEN
        |    CAST(smy - mcy AS DOUBLE) / CAST(n - mcy AS DOUBLE) END, 6) AS lambda_yx,
        |  round(CASE WHEN (n - mcx) > 0 THEN
        |    CAST(smx - mcx AS DOUBLE) / CAST(n - mcx AS DOUBLE) END, 6) AS lambda_xy
        |FROM nn, smy, mcy, smx, mcx""".stripMargin,

    // q325: one conditional-sum scan; the DECIMAL(19,6) operand width
    // keeps DuckDB's v² product on the hugeint path
    "q325_point_biserial" ->
      """WITH d AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v, (lang = 'en') AS f
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |), m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN NOT f THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    sum(CASE WHEN f THEN CAST(v AS DECIMAL(19,6)) END) AS s1,
        |    sum(CASE WHEN NOT f THEN CAST(v AS DECIMAL(19,6)) END) AS s0,
        |    sum(CAST(v AS DECIMAL(19,6)) * CAST(v AS DECIMAL(19,6))) AS sxx
        |  FROM d
        |), g AS (
        |  SELECT n1, n0, CAST(n1 + n0 AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s0 AS DOUBLE) / n0 AS m0,
        |    CAST(s1 AS DOUBLE) + CAST(s0 AS DOUBLE) AS sx,
        |    CAST(sxx AS DOUBLE) AS sxxd
        |  FROM m
        |), h AS (
        |  SELECT n1, n0, nd, m1, m0,
        |    nd * sxxd - sx * sx AS varn,
        |    (m1 - m0) * sqrt(CAST(n1 * n0 AS DOUBLE))
        |      / sqrt(nd * sxxd - sx * sx) AS r
        |  FROM g)
        |SELECT n1 + n0 AS n, n1, n0,
        |  round(CASE WHEN n1 > 0 THEN m1 END, 6) AS mean1,
        |  round(CASE WHEN n0 > 0 THEN m0 END, 6) AS mean0,
        |  round(CASE WHEN n1 > 0 AND n0 > 0 AND varn > 0 THEN r END, 6) AS r_pb,
        |  round(CASE WHEN n1 > 0 AND n0 > 0 AND varn > 0 AND n1 + n0 > 2
        |      AND r * r < 1
        |    THEN r * sqrt((nd - 2.0) / (1.0 - r * r)) END, 6) AS t_stat
        |FROM h""".stripMargin,

    // q326: one 9-sum exact decimal fold (DECIMAL(19,6) operands for
    // the hugeint product path), three pinned r's, the partial on top
    "q326_partial_corr" ->
      """WITH d AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(l_extendedprice AS DOUBLE) AS y, CAST(l_discount AS DOUBLE) AS z
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL
        |), mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS DECIMAL(19,6))) AS sx,
        |    sum(CAST(y AS DECIMAL(19,6))) AS sy,
        |    sum(CAST(z AS DECIMAL(19,6))) AS sz,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS sxx,
        |    sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS syy,
        |    sum(CAST(z AS DECIMAL(19,6)) * CAST(z AS DECIMAL(19,6))) AS szz,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS sxy,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(z AS DECIMAL(19,6))) AS sxz,
        |    sum(CAST(y AS DECIMAL(19,6)) * CAST(z AS DECIMAL(19,6))) AS syz
        |  FROM d
        |), f AS (
        |  SELECT n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sz AS DOUBLE) AS szd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd, CAST(szz AS DOUBLE) AS szzd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxz AS DOUBLE) AS sxzd,
        |    CAST(syz AS DOUBLE) AS syzd
        |  FROM mom
        |), rr AS (
        |  SELECT n,
        |    CASE WHEN nd * sxxd - sxd * sxd > 0 AND nd * syyd - syd * syd > 0
        |      THEN (nd * sxyd - sxd * syd)
        |        / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd))
        |    END AS rxy,
        |    CASE WHEN nd * sxxd - sxd * sxd > 0 AND nd * szzd - szd * szd > 0
        |      THEN (nd * sxzd - sxd * szd)
        |        / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * szzd - szd * szd))
        |    END AS rxz,
        |    CASE WHEN nd * syyd - syd * syd > 0 AND nd * szzd - szd * szd > 0
        |      THEN (nd * syzd - syd * szd)
        |        / (sqrt(nd * syyd - syd * syd) * sqrt(nd * szzd - szd * szd))
        |    END AS ryz
        |  FROM f)
        |SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
        |  round(ryz, 6) AS r_yz,
        |  round(CASE WHEN rxz * rxz < 1 AND ryz * ryz < 1 THEN
        |    (rxy - rxz * ryz)
        |      / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) END, 6) AS r_xy_z
        |FROM rr""".stripMargin,

    // q327: q225's per-group moments + the Σn² term; mean squares, the
    // unbalanced n₀ and the ICC in pinned order
    "q327_icc" ->
      """WITH d AS (
        |  SELECT CAST(c_acctbal AS DOUBLE) AS v, c_nationkey AS g FROM customer
        |  WHERE c_acctbal IS NOT NULL AND c_nationkey IS NOT NULL
        |), grp AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS ng,
        |    sum(CAST(v AS DECIMAL(38,12))) AS sg,
        |    sum(CAST(v * v AS DECIMAL(38,12))) AS qg
        |  FROM d GROUP BY 1
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |    sum(sg) AS st, sum(CAST(ng * ng AS DECIMAL(38,0))) AS sq
        |  FROM grp
        |), x AS (
        |  SELECT ng, qg, CAST(sg AS DOUBLE) / ng AS mg, CAST(st AS DOUBLE) / n AS m,
        |    k, n, sq FROM grp, tot
        |), c AS (
        |  SELECT k, n, sq,
        |    CAST(ng * (mg - m) * (mg - m) AS DECIMAL(38,12)) AS ssb,
        |    CAST(CAST(qg AS DOUBLE) - ng * mg * mg AS DECIMAL(38,12)) AS ssw
        |  FROM x
        |), s AS (
        |  SELECT any_value(k) AS k, any_value(n) AS n, any_value(sq) AS sq,
        |    sum(ssb) AS b, sum(ssw) AS w
        |  FROM c
        |), g2 AS (
        |  SELECT k, n,
        |    CAST(b AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0) AS msb,
        |    CAST(w AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) AS msw,
        |    (CAST(n AS DOUBLE) - CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(k AS DOUBLE) - 1.0) AS n0
        |  FROM s)
        |SELECT k, n,
        |  round(CASE WHEN k > 1 THEN msb END, 6) AS msb,
        |  round(CASE WHEN n > k THEN msw END, 6) AS msw,
        |  round(CASE WHEN k > 1 THEN n0 END, 6) AS n0,
        |  round(CASE WHEN k > 1 AND n > k AND (msb + (n0 - 1.0) * msw) > 0
        |    THEN (msb - msw) / (msb + (n0 - 1.0) * msw) END, 6) AS icc1
        |FROM g2""".stripMargin,

    // q328: exact (item, category) cells over the constant-panel
    // filter; P̄ and P_e single pinned divisions off integer sums
    "q328_fleiss_kappa" ->
      """WITH base AS (
        |  SELECT l_orderkey AS i, l_returnflag AS c FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
        |), per AS (
        |  SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY 1
        |), dropped AS (
        |  SELECT CAST(coalesce(sum(CASE WHEN cnt <> 4 THEN 1 END), 0) AS BIGINT)
        |    AS n_items_dropped
        |  FROM per
        |), kept AS (
        |  SELECT base.i, base.c FROM base JOIN per ON per.i = base.i
        |  WHERE per.cnt = 4
        |), cells AS (
        |  SELECT i, c, CAST(count(*) AS BIGINT) AS x FROM kept GROUP BY 1, 2
        |), q AS (
        |  SELECT CAST(count(DISTINCT i) AS BIGINT) AS n_items,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qq
        |  FROM cells
        |), ct AS (
        |  SELECT CAST(coalesce(sum(CAST(t AS HUGEINT) * t), 0) AS HUGEINT) AS ct2
        |  FROM (SELECT CAST(sum(x) AS BIGINT) AS t FROM cells GROUP BY c)
        |), g AS (
        |  SELECT n_items, n_items_dropped,
        |    (CAST(qq AS DOUBLE) - CAST(n_items AS DOUBLE) * 4.0)
        |      / (CAST(n_items AS DOUBLE) * 4.0 * (4.0 - 1.0)) AS pbar,
        |    CAST(ct2 AS DOUBLE)
        |      / (CAST(n_items AS DOUBLE) * 4.0 * (CAST(n_items AS DOUBLE) * 4.0))
        |      AS pe
        |  FROM q, ct, dropped)
        |SELECT n_items, n_items_dropped, CAST(4 AS INT) AS n_raters,
        |  round(CASE WHEN n_items > 0 THEN pbar END, 6) AS p_bar,
        |  round(CASE WHEN n_items > 0 THEN pe END, 6) AS p_e,
        |  round(CASE WHEN n_items > 0 AND pe < 1.0
        |    THEN (pbar - pe) / (1.0 - pe) END, 6) AS kappa
        |FROM g""".stripMargin,

    // q308: per-user counts → rounded rates → decimal moments → the
    // method-of-moments Beta prior → pinned shrinkage arithmetic
    "q308_eb_rates" ->
      """WITH per AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM events GROUP BY 1),
        |pr AS (SELECT user_id, n, k,
        |         round(CAST(k AS DOUBLE) / n, 6) AS rate FROM per),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS mm,
        |    sum(CAST(rate AS DECIMAL(38,12))) AS sp,
        |    sum(CAST(rate * rate AS DECIMAL(38,12))) AS sq
        |  FROM pr),
        |f AS (
        |  SELECT CAST(sp AS DOUBLE) / mm AS mu,
        |    CAST(sq AS DOUBLE) / mm
        |      - (CAST(sp AS DOUBLE) / mm) * (CAST(sp AS DOUBLE) / mm) AS v
        |  FROM m),
        |p AS (
        |  SELECT
        |    round(mu * (CASE WHEN v > 0 AND v < mu * (1.0 - mu)
        |      THEN mu * (1.0 - mu) / v - 1.0 END), 6) AS alpha,
        |    round((1.0 - mu) * (CASE WHEN v > 0 AND v < mu * (1.0 - mu)
        |      THEN mu * (1.0 - mu) / v - 1.0 END), 6) AS beta
        |  FROM f)
        |SELECT user_id, n, k, rate,
        |  round(coalesce((k + alpha) / (n + alpha + beta), rate), 6) AS rate_shrunk,
        |  alpha, beta
        |FROM pr, p""".stripMargin,

    // q307: q359's purchase-clock spans + an even/odd arm; at-risk counts
    // via the total − prior windows; per-event-time O−E and hypergeometric
    // V in the op's pinned order (re-based round 13: the retention clock
    // is 100% censored at sf0.01, which made the row all-NULL — a gate
    // nothing could fail)
    // q359: the gate row — exact totals from q357's obs CTE; the β/z
    // self-verification happens inside the query (q304's pattern)
    "q359_cox" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, event_type FROM events
        |), u AS (
        |  SELECT user_id, min(day) AS fd, max(day) AS ld,
        |    min(CASE WHEN event_type = 'purchase' THEN day END) AS pd
        |  FROM e GROUP BY 1),
        |obs AS (SELECT (coalesce(pd, ld) - fd) AS dur,
        |          (pd IS NOT NULL) AS ev, (user_id % 2 = 0) AS a FROM u)
        |SELECT
        |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS events_a,
        |  CAST(sum(CASE WHEN NOT a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS events_b,
        |  CAST(TRUE AS BOOLEAN) AS cox_pass
        |FROM obs""".stripMargin,

    // q372: the gate row — q359's exact totals; the Efron β̂'s local-max
    // self-verification happens inside the query (q359's pattern)
    "q372_cox_efron" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, event_type FROM events
        |), u AS (
        |  SELECT user_id, min(day) AS fd, max(day) AS ld,
        |    min(CASE WHEN event_type = 'purchase' THEN day END) AS pd
        |  FROM e GROUP BY 1),
        |obs AS (SELECT (coalesce(pd, ld) - fd) AS dur,
        |          (pd IS NOT NULL) AS ev, (user_id % 2 = 0) AS a FROM u)
        |SELECT
        |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS events_a,
        |  CAST(sum(CASE WHEN NOT a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS events_b,
        |  CAST(TRUE AS BOOLEAN) AS efron_pass
        |FROM obs""".stripMargin,

    // q377: the gate row — q359's obs totals (arm-free); the per-axis
    // local-max self-verification of BOTH tie modes happens inside the
    // query (q372's pattern, generalized to the 3-covariate fit)
    "q377_cox_multi" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, event_type FROM events
        |), u AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'purchase' THEN day END) AS pd
        |  FROM e GROUP BY 1)
        |SELECT
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS events,
        |  CAST(3 AS BIGINT) AS p,
        |  CAST(TRUE AS BOOLEAN) AS breslow_pass,
        |  CAST(TRUE AS BOOLEAN) AS efron_pass
        |FROM u""".stripMargin,

    // q381: FULL-VALUE weighted-log-rank oracle — q357's window
    // machinery on q359's purchase clock, the pooled KM product replayed
    // lagged by the recursive CTE (k.sp updated with the PREVIOUS event
    // row's d/n), w = round(sp,6)·(1−round(sp,6)) as a plain product
    // (integer exponents — pow ulp is not pinned cross-engine)
    "q381_fleming_harrington" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, event_type FROM events
        |), u AS (
        |  SELECT user_id, min(day) AS fd, max(day) AS ld,
        |    min(CASE WHEN event_type = 'purchase' THEN day END) AS pd
        |  FROM e GROUP BY 1),
        |obs AS (SELECT (coalesce(pd, ld) - fd) // 3 AS t,
        |          (pd IS NOT NULL) AS ev, (user_id % 2 = 0) AS a FROM u),
        |g AS (SELECT t,
        |        CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |        CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS r0,
        |        CAST(sum(CASE WHEN a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |        CAST(sum(CASE WHEN NOT a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS d0
        |      FROM obs GROUP BY 1),
        |r AS (SELECT t, d1, d0,
        |        CAST(sum(r1) OVER () AS BIGINT)
        |          - CAST(coalesce(sum(r1) OVER wp, 0) AS BIGINT) AS n1,
        |        CAST(sum(r0) OVER () AS BIGINT)
        |          - CAST(coalesce(sum(r0) OVER wp, 0) AS BIGINT) AS n0,
        |        CAST(sum(r1) OVER () AS BIGINT) AS ta,
        |        CAST(sum(r0) OVER () AS BIGINT) AS tb,
        |        CAST(sum(d1) OVER () AS BIGINT) AS ea,
        |        CAST(sum(d0) OVER () AS BIGINT) AS eb
        |      FROM g
        |      WINDOW wp AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |v AS (SELECT *, row_number() OVER (ORDER BY t) AS rn FROM r WHERE d1 + d0 > 0),
        |k AS (
        |  SELECT rn, t, n1, n0, d1, d0, ta, tb, ea, eb, CAST(1.0 AS DOUBLE) AS sp
        |  FROM v WHERE rn = 1
        |  UNION ALL
        |  SELECT v.rn, v.t, v.n1, v.n0, v.d1, v.d0, v.ta, v.tb, v.ea, v.eb,
        |    k.sp * (CAST(1.0 AS DOUBLE) - CAST(k.d1 + k.d0 AS DOUBLE) / (k.n1 + k.n0))
        |  FROM k JOIN v ON v.rn = k.rn + 1
        |),
        |w AS (SELECT *, round(sp, 6) AS spr FROM k),
        |agg AS (
        |  SELECT any_value(ta) AS n_a, any_value(tb) AS n_b,
        |    any_value(ea) AS events_a, any_value(eb) AS events_b,
        |    sum(CAST((spr * (1 - spr)) * (d1 - (CAST(d1 + d0 AS DOUBLE) * n1) / (n1 + n0))
        |      AS DECIMAL(38,12))) AS oe,
        |    sum(CAST((spr * (1 - spr)) * (spr * (1 - spr)) * (CASE WHEN n1 + n0 > 1 THEN
        |      (CAST(d1 + d0 AS DOUBLE) * n1) / (n1 + n0) * n0 / (n1 + n0)
        |        * ((n1 + n0) - (d1 + d0)) / ((n1 + n0) - 1)
        |      ELSE CAST(0.0 AS DOUBLE) END) AS DECIMAL(38,12))) AS vv
        |  FROM w)
        |SELECT n_a, n_b, events_a, events_b,
        |  CAST(1.0 AS DOUBLE) AS rho, CAST(1.0 AS DOUBLE) AS gamma,
        |  round(CAST(oe AS DOUBLE), 6) AS o_minus_e,
        |  round(CAST(vv AS DOUBLE), 6) AS var_o,
        |  round(CASE WHEN vv > 0
        |    THEN CAST(oe AS DOUBLE) / sqrt(CAST(vv AS DOUBLE)) END, 6) AS z
        |FROM agg""".stripMargin,

    // q380: the gate row — q377's totals + the stratum count; the
    // per-axis local-max self-verification of the PER-STRATUM-summed
    // likelihood happens inside the query
    "q380_cox_stratified" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, event_type FROM events
        |), u AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'purchase' THEN day END) AS pd
        |  FROM e GROUP BY 1)
        |SELECT
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS events,
        |  CAST(count(DISTINCT user_id % 3) AS BIGINT) AS n_strata,
        |  CAST(TRUE AS BOOLEAN) AS breslow_pass,
        |  CAST(TRUE AS BOOLEAN) AS efron_pass
        |FROM u""".stripMargin,

    // q379: FULL-VALUE competing-risks oracle — q219's recursive-CTE KM
    // product carried LAGGED (sp = Ŝ(t−), the previous row's update), the
    // per-cause increments rounded at 12dp and summed as exact DECIMAL in
    // the op's pinned order; tie rule (pd = sd → purchase) shared verbatim
    "q379_cum_incidence" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, event_type FROM events
        |), u AS (
        |  SELECT user_id, min(day) AS fd, max(day) AS ld,
        |    min(CASE WHEN event_type = 'purchase' THEN day END) AS pd,
        |    min(CASE WHEN event_type = 'signup' THEN day END) AS sd
        |  FROM e GROUP BY 1),
        |obs AS (SELECT
        |    (coalesce(least(coalesce(pd, sd), coalesce(sd, pd)), ld) - fd) // 3 AS t,
        |    CASE WHEN pd IS NOT NULL AND (sd IS NULL OR pd <= sd) THEN 'purchase'
        |         WHEN sd IS NOT NULL THEN 'signup' END AS cause
        |  FROM u),
        |g AS (SELECT t,
        |    CAST(sum(CASE WHEN cause IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN cause IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM obs GROUP BY 1),
        |r AS (SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn,
        |    CAST(coalesce(sum(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior,
        |    CAST(sum(d + c) OVER () AS BIGINT) AS nt
        |  FROM g),
        |k AS (
        |  SELECT rn, t, nt - prior AS n_risk, d, CAST(1.0 AS DOUBLE) AS sp
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.rn, r.t, r.nt - r.prior, r.d,
        |    k.sp * (CAST(1.0 AS DOUBLE) - CAST(k.d AS DOUBLE) / k.n_risk)
        |  FROM k JOIN r ON r.rn = k.rn + 1
        |),
        |ev AS (SELECT t, cause, CAST(count(*) AS BIGINT) AS n_events
        |  FROM obs WHERE cause IS NOT NULL GROUP BY 1, 2),
        |inc AS (SELECT ev.t, ev.cause, k.n_risk, ev.n_events,
        |    CAST(round(round(k.sp, 6) * ev.n_events / k.n_risk, 12) AS DECIMAL(38,12)) AS i
        |  FROM ev JOIN k ON k.t = ev.t)
        |SELECT t, cause, n_risk, n_events,
        |  round(CAST(sum(i) OVER (PARTITION BY cause ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS cif
        |FROM inc""".stripMargin,

    // q357: q307's machinery verbatim on the 5-day life-table bin axis —
    // the FromStates face must equal the grouped log-rank on binned t
    "q357_logrank_binned" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), u AS (SELECT user_id, min(day) AS fd, max(day) AS ld FROM e GROUP BY 1),
        |mx AS (SELECT max(ld) AS md FROM u),
        |obs AS (SELECT (ld - fd) // 5 AS t, (ld <= mx.md - 3) AS ev,
        |          (user_id % 2 = 0) AS a FROM u, mx),
        |g AS (SELECT t,
        |        CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |        CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS r0,
        |        CAST(sum(CASE WHEN a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |        CAST(sum(CASE WHEN NOT a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS d0
        |      FROM obs GROUP BY 1),
        |r AS (SELECT t, r1, r0, d1, d0,
        |        CAST(sum(r1) OVER () AS BIGINT)
        |          - CAST(coalesce(sum(r1) OVER wp, 0) AS BIGINT) AS n1,
        |        CAST(sum(r0) OVER () AS BIGINT)
        |          - CAST(coalesce(sum(r0) OVER wp, 0) AS BIGINT) AS n0,
        |        CAST(sum(r1) OVER () AS BIGINT) AS ta,
        |        CAST(sum(r0) OVER () AS BIGINT) AS tb,
        |        CAST(sum(d1) OVER () AS BIGINT) AS ea,
        |        CAST(sum(d0) OVER () AS BIGINT) AS eb
        |      FROM g
        |      WINDOW wp AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |v AS (SELECT * FROM r WHERE d1 + d0 > 0),
        |a AS (
        |  SELECT any_value(ta) AS n_a, any_value(tb) AS n_b,
        |    any_value(ea) AS events_a, any_value(eb) AS events_b,
        |    sum(CAST(d1 - (CAST(d1 + d0 AS DOUBLE) * n1) / (n1 + n0)
        |      AS DECIMAL(38,12))) AS oe,
        |    sum(CAST(CASE WHEN n1 + n0 > 1 THEN
        |      (CAST(d1 + d0 AS DOUBLE) * n1) / (n1 + n0) * n0 / (n1 + n0)
        |        * ((n1 + n0) - (d1 + d0)) / ((n1 + n0) - 1)
        |      ELSE CAST(0.0 AS DOUBLE) END AS DECIMAL(38,12))) AS vv
        |  FROM v)
        |SELECT n_a, n_b, events_a, events_b,
        |  round(CAST(oe AS DOUBLE), 6) AS o_minus_e,
        |  round(CAST(vv AS DOUBLE), 6) AS var_o,
        |  round(CASE WHEN vv > 0
        |    THEN CAST(oe AS DOUBLE) / sqrt(CAST(vv AS DOUBLE)) END, 6) AS z
        |FROM a""".stripMargin,

    // q358: q219's recursive KM replay on the 3-day bin axis (the state
    // split/merge is additive, so the oracle needs no half-split)
    "q358_km_binned" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), u AS (SELECT user_id, min(day) AS fd, max(day) AS ld FROM e GROUP BY 1),
        |mx AS (SELECT max(ld) AS md FROM u),
        |obs AS (SELECT (ld - fd) // 3 AS t, (ld <= mx.md - 3) AS ev FROM u, mx),
        |g AS (
        |  SELECT t, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM obs GROUP BY 1
        |), r AS (
        |  SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn,
        |    CAST(coalesce(sum(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior,
        |    CAST(sum(d + c) OVER () AS BIGINT) AS nt
        |  FROM g
        |), k AS (
        |  SELECT rn, t, nt - prior AS n_risk, d, c,
        |    CAST(1.0 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(d AS DOUBLE) / (nt - prior)) AS s
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.rn, r.t, r.nt - r.prior, r.d, r.c,
        |    k.s * (CAST(1.0 AS DOUBLE) - CAST(r.d AS DOUBLE) / (r.nt - r.prior))
        |  FROM k JOIN r ON r.rn = k.rn + 1
        |)
        |SELECT t, n_risk, d AS n_events, c AS n_censored, round(s, 6) AS survival
        |FROM k""".stripMargin,

    "q307_logrank" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, event_type FROM events
        |), u AS (
        |  SELECT user_id, min(day) AS fd, max(day) AS ld,
        |    min(CASE WHEN event_type = 'purchase' THEN day END) AS pd
        |  FROM e GROUP BY 1),
        |obs AS (SELECT (coalesce(pd, ld) - fd) AS t, (pd IS NOT NULL) AS ev,
        |          (user_id % 2 = 0) AS a FROM u),
        |g AS (SELECT t,
        |        CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |        CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS r0,
        |        CAST(sum(CASE WHEN a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |        CAST(sum(CASE WHEN NOT a AND ev THEN 1 ELSE 0 END) AS BIGINT) AS d0
        |      FROM obs GROUP BY 1),
        |r AS (SELECT t, r1, r0, d1, d0,
        |        CAST(sum(r1) OVER () AS BIGINT)
        |          - CAST(coalesce(sum(r1) OVER wp, 0) AS BIGINT) AS n1,
        |        CAST(sum(r0) OVER () AS BIGINT)
        |          - CAST(coalesce(sum(r0) OVER wp, 0) AS BIGINT) AS n0,
        |        CAST(sum(r1) OVER () AS BIGINT) AS ta,
        |        CAST(sum(r0) OVER () AS BIGINT) AS tb,
        |        CAST(sum(d1) OVER () AS BIGINT) AS ea,
        |        CAST(sum(d0) OVER () AS BIGINT) AS eb
        |      FROM g
        |      WINDOW wp AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |v AS (SELECT * FROM r WHERE d1 + d0 > 0),
        |a AS (
        |  SELECT any_value(ta) AS n_a, any_value(tb) AS n_b,
        |    any_value(ea) AS events_a, any_value(eb) AS events_b,
        |    sum(CAST(d1 - (CAST(d1 + d0 AS DOUBLE) * n1) / (n1 + n0)
        |      AS DECIMAL(38,12))) AS oe,
        |    sum(CAST(CASE WHEN n1 + n0 > 1 THEN
        |      (CAST(d1 + d0 AS DOUBLE) * n1) / (n1 + n0) * n0 / (n1 + n0)
        |        * ((n1 + n0) - (d1 + d0)) / ((n1 + n0) - 1)
        |      ELSE CAST(0.0 AS DOUBLE) END AS DECIMAL(38,12))) AS vv
        |  FROM v)
        |SELECT n_a, n_b, events_a, events_b,
        |  round(CAST(oe AS DOUBLE), 6) AS o_minus_e,
        |  round(CAST(vv AS DOUBLE), 6) AS var_o,
        |  round(CASE WHEN vv > 0
        |    THEN CAST(oe AS DOUBLE) / sqrt(CAST(vv AS DOUBLE)) END, 6) AS z
        |FROM a""".stripMargin,

    // q306: distinct → min-support item prune → within-order pair join,
    // ratios in the op's pinned order
    "q306_basket_pairs" ->
      """WITH bi0 AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |keep AS (SELECT b FROM bi0 GROUP BY 1 HAVING count(*) <= 10000),
        |bi AS (SELECT bi0.b, bi0.i FROM bi0 JOIN keep ON keep.b = bi0.b),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM bi),
        |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS ni FROM bi GROUP BY 1
        |       HAVING count(*) >= 2),
        |f AS (SELECT bi.b, bi.i FROM bi JOIN ic ON ic.i = bi.i),
        |p AS (
        |  SELECT a.i AS ia, c.i AS ib, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM f a JOIN f c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.ia AS item_a, p.ib AS item_b, p.n_ab,
        |  x.ni AS n_a, y.ni AS n_b,
        |  round(CAST(p.n_ab AS DOUBLE) / nb.n, 6) AS support,
        |  round(CAST(p.n_ab AS DOUBLE) / x.ni, 6) AS conf_a_b,
        |  round(CAST(p.n_ab AS DOUBLE) / y.ni, 6) AS conf_b_a,
        |  round((CAST(p.n_ab AS DOUBLE) * nb.n) / (CAST(x.ni AS DOUBLE) * y.ni), 6)
        |    AS lift
        |FROM p JOIN ic x ON x.i = p.ia JOIN ic y ON y.i = p.ib, nb""".stripMargin,

    // q305: desc-window cumulative arms (≡ the op's reversed prefix
    // sums on a total order); every scalar in the op's pinned order
    "q305_qini" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), d AS (
         |  SELECT s.score AS sc, s.doc_id AS id,
         |    ((${md5l("'9:' || d0.source")} % 1000000) % 2 = 0) AS t,
         |    (d0.n_chars >= 500) AS y
         |  FROM scored s JOIN documents d0 ON d0.doc_id = s.doc_id
         |  WHERE d0.source IS NOT NULL AND d0.n_chars IS NOT NULL
         |), r AS (
         |  SELECT
         |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) OVER w AS BIGINT) AS nt,
         |    CAST(sum(CASE WHEN t AND y THEN 1 ELSE 0 END) OVER w AS BIGINT) AS yt,
         |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) OVER w AS BIGINT) AS nc,
         |    CAST(sum(CASE WHEN NOT t AND y THEN 1 ELSE 0 END) OVER w AS BIGINT) AS yc
         |  FROM d WINDOW w AS (ORDER BY sc DESC, id DESC ROWS UNBOUNDED PRECEDING)
         |), a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(CAST(yt AS DOUBLE)
         |      - CASE WHEN nc > 0 THEN (CAST(yc AS DOUBLE) * nt) / nc
         |             ELSE CAST(0.0 AS DOUBLE) END AS DECIMAL(38,12))) AS sq,
         |    max(nt) AS tnt, max(yt) AS tyt, max(nc) AS tnc, max(yc) AS tyc
         |  FROM r)
         |SELECT n, tnt AS n_treated, tnc AS n_control,
         |  round(CAST(tyt AS DOUBLE) - (CAST(tyc AS DOUBLE) * tnt) / tnc, 6) AS q_final,
         |  round(CAST(sq AS DOUBLE) / n, 6) AS auuc,
         |  round(CAST(sq AS DOUBLE) / n
         |    - (CAST(tyt AS DOUBLE) - (CAST(tyc AS DOUBLE) * tnt) / tnc)
         |      * (n + 1) / (2 * n), 6) AS qini
         |FROM a""".stripMargin,

    // q303: q177's grouped-count CTEs; descending cumulatives as
    // total − cum + self; per-group term in the same pinned order
    "q303_pr_auc" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), lab AS (
         |  SELECT s.score AS sc, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
         |), g AS (
         |  SELECT sc, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS np
         |  FROM lab GROUP BY 1
         |), t AS (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS ntot, CAST(sum(np) AS BIGINT) AS ptot FROM g
         |), r AS (
         |  SELECT np,
         |    t.ntot - CAST(sum(cnt) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |      + cnt AS nge,
         |    t.ptot - CAST(sum(np) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |      + np AS pge,
         |    t.ntot, t.ptot
         |  FROM g, t
         |), a AS (
         |  SELECT any_value(ptot) AS ptot, any_value(ntot) AS ntot,
         |    sum(CAST((CAST(np AS DOUBLE) * pge) / (CAST(ptot AS DOUBLE) * nge)
         |      AS DECIMAL(38,12))) AS ap
         |  FROM r
         |)
         |SELECT ptot AS n_pos, ntot - ptot AS n_neg,
         |  round(CASE WHEN ptot > 0 THEN CAST(ap AS DOUBLE) END, 6) AS pr_auc
         |FROM a""".stripMargin,

    // identical tp/fp/fn counting; the F1 spells out the unrounded p·r
    // composition so both engines run the same scalar arithmetic
    "q178_pr_thresholds" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), lab AS (
         |  SELECT s.score AS sc, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
         |), th(threshold) AS (
         |  VALUES (CAST(0.3 AS DOUBLE)), (CAST(0.4 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
         |         (CAST(0.6 AS DOUBLE)), (CAST(0.7 AS DOUBLE))
         |), c AS (
         |  SELECT th.threshold,
         |    CAST(sum(CASE WHEN sc >= threshold AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN sc >= threshold AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN sc < threshold AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM lab, th GROUP BY 1
         |)
         |SELECT threshold, tp, fp, fn,
         |  round(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6)
         |    AS "precision",
         |  round(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6)
         |    AS recall,
         |  round(CASE WHEN tp > 0 THEN
         |    CAST(2 AS DOUBLE) * (CAST(tp AS DOUBLE) / (tp + fp)) * (CAST(tp AS DOUBLE) / (tp + fn))
         |      / ((CAST(tp AS DOUBLE) / (tp + fp)) + (CAST(tp AS DOUBLE) / (tp + fn))) END, 6)
         |    AS f1
         |FROM c""".stripMargin,

    // the q154 change-point build over the non-purchase stream + the q46
    // LATERAL top-1 read at the purchase timestamp
    "q179_scd2_lookup" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS t, event_id FROM events
        |), ne AS (SELECT * FROM e WHERE event_type <> 'purchase'),
        |c AS (
        |  SELECT user_id, event_type, t,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
        |  FROM ne
        |), ch AS (
        |  SELECT user_id, event_type AS state, t AS vf FROM c
        |  WHERE prev IS NULL OR event_type <> prev
        |), p AS (
        |  SELECT event_id, user_id, t FROM e WHERE event_type = 'purchase'
        |)
        |SELECT coalesce(m.state, 'none') AS state, CAST(count(*) AS BIGINT) AS n
        |FROM p LEFT JOIN LATERAL (
        |  SELECT ch.state FROM ch
        |  WHERE ch.user_id = p.user_id AND ch.vf <= p.t
        |  ORDER BY ch.vf DESC, ch.state DESC LIMIT 1) m ON TRUE
        |GROUP BY 1""".stripMargin,

    // the shared q95 scoring CTE, ntile-binned with the same (score,
    // doc_id) tie order, exact-integer positive rates
    "q176_calibration" ->
      s"""WITH scored AS (
         |${ngramClassifierOracle}
         |), lab AS (
         |  SELECT s.doc_id, s.score, (d.lang = 'en') AS y
         |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
         |), b AS (
         |  SELECT score, y,
         |    CAST(ntile(10) OVER (ORDER BY score, doc_id) - 1 AS BIGINT) AS bin
         |  FROM lab
         |)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(CAST(score AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
         |    AS mean_score,
         |  round(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         |    AS positive_rate
         |FROM b GROUP BY 1""".stripMargin,

    // lag/lead windows with the identical (t, event_id) tie-break
    "q154_event_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS t, event_id FROM events
        |), c AS (
        |  SELECT user_id, event_type, t, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS p
        |  FROM e
        |), ch AS (
        |  SELECT user_id, event_type, t, event_id FROM c
        |  WHERE p IS NULL OR event_type <> p
        |)
        |SELECT user_id, event_type, t AS valid_from,
        |  lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to
        |FROM ch""".stripMargin,

    // the self-verifying fixed-point gate carries the contract (q116/q126
    // discipline); the oracle pins the vertex count
    "q155_graph_hits" ->
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS v FROM lineitem
        |  UNION
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) + 10000000 FROM lineitem)) AS n_vertices,
        |  CAST(TRUE AS BOOLEAN) AS hits_pass""".stripMargin,

    // shares squared and decimal-summed exactly as the Spark side;
    // effective = one reciprocal off the exact decimal
    "q151_source_diversity" ->
      """WITH c AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2
        |), t AS (
        |  SELECT lang, CAST(sum(n) AS BIGINT) AS total,
        |         CAST(count(*) AS BIGINT) AS n_categories
        |  FROM c GROUP BY 1
        |), s AS (
        |  SELECT c.lang,
        |    sum(CAST((CAST(c.n AS DOUBLE) / t.total) * (CAST(c.n AS DOUBLE) / t.total)
        |        AS DECIMAL(38,18))) AS simpson_d,
        |    max(t.total) AS n, max(t.n_categories) AS n_categories
        |  FROM c JOIN t USING (lang) GROUP BY 1
        |)
        |SELECT lang, n, n_categories,
        |  round(CAST(simpson_d AS DOUBLE), 6) AS simpson,
        |  round(CAST(1.0 AS DOUBLE) / CAST(simpson_d AS DOUBLE), 6) AS effective
        |FROM s""".stripMargin,

    // per-dim decimal sums on both snapshots, one division per mean,
    // decimal-summed dot/norm/l2 terms — the identical deterministic chain
    "q152_embed_drift" ->
      """WITH eo AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 10 <> 1
        |), en AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 10 <> 2
        |), o AS (
        |  SELECT j, sum(CAST(v[j] AS DECIMAL(38,18))) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM eo, range(1, 65) t(j) GROUP BY 1
        |), w AS (
        |  SELECT j, sum(CAST(v[j] AS DECIMAL(38,18))) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM en, range(1, 65) t(j) GROUP BY 1
        |), m AS (
        |  SELECT CAST(o.s AS DOUBLE) / o.n AS ma, CAST(w.s AS DOUBLE) / w.n AS mb,
        |         o.n AS n_old, w.n AS n_new
        |  FROM o JOIN w USING (j)
        |), agg AS (
        |  SELECT sum(CAST(ma * mb AS DECIMAL(38,18))) AS dot,
        |         sum(CAST(ma * ma AS DECIMAL(38,18))) AS na,
        |         sum(CAST(mb * mb AS DECIMAL(38,18))) AS nb,
        |         sum(CAST((ma - mb) * (ma - mb) AS DECIMAL(38,18))) AS l2,
        |         max(n_old) AS n_old, max(n_new) AS n_new
        |  FROM m
        |)
        |SELECT
        |  round(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
        |    AS cos_means,
        |  round(sqrt(CAST(l2 AS DOUBLE)), 6) AS l2_shift,
        |  n_old, n_new
        |FROM agg""".stripMargin,

    // per-source signature = 16 min-hash aggregates over the shingle
    // postings; agreement is the positionwise match count, exact Jaccard
    // from the distinct shingle sets rides alongside
    "q153_source_overlap_est" -> {
      val mins = (0 until 16)
        .map(i => s"min(${md5l(s"'$i:' || shingle")}) AS h$i").mkString(", ")
      val agree = (0 until 16)
        .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      raw"""WITH sh AS (
         |  SELECT source AS key,
         |    unnest(list_transform(range(greatest(len(toks) - 3, 0) + 1),
         |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS shingle
         |  FROM (SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
         |        FROM documents)
         |), sig AS (
         |  SELECT key, $mins FROM sh GROUP BY 1
         |), ds AS (
         |  SELECT DISTINCT key, shingle FROM sh
         |), sz AS (
         |  SELECT key, CAST(count(*) AS BIGINT) AS n FROM ds GROUP BY 1
         |), iv AS (
         |  SELECT x.key AS key_a, y.key AS key_b, CAST(count(*) AS BIGINT) AS inter
         |  FROM ds x JOIN ds y ON x.shingle = y.shingle AND x.key < y.key
         |  GROUP BY 1, 2
         |)
         |SELECT a.key AS key_a, b.key AS key_b,
         |  CAST($agree AS INT) AS agreement,
         |  round(CAST($agree AS DOUBLE) / 16, 6) AS est_jaccard,
         |  round(CAST(coalesce(iv.inter, 0) AS DOUBLE)
         |    / (sa.n + sb.n - coalesce(iv.inter, 0)), 6) AS jaccard
         |FROM sig a
         |JOIN sig b ON a.key < b.key
         |JOIN sz sa ON sa.key = a.key
         |JOIN sz sb ON sb.key = b.key
         |LEFT JOIN iv ON iv.key_a = a.key AND iv.key_b = b.key""".stripMargin
    },

    // the q139 aggregate row (minus uniqueness) over the WHOLE table —
    // the merged three-batch counters must land on the identical report
    "q149_validate_merge" ->
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    count(text) AS nn_text,
        |    count(*) FILTER (lang IN ('en','de','es','fr')) AS st_lang, count(lang) AS nn_lang,
        |    count(*) FILTER (n_chars BETWEEN 100 AND 2000) AS rg_nc, count(n_chars) AS nn_nc,
        |    count(*) FILTER (regexp_matches(source, '^src[0-9]+$')) AS re_src, count(source) AS nn_src
        |  FROM documents)
        |SELECT 'not_null(text)' AS "check", 'text' AS "column",
        |  round(CAST(nn_text AS DOUBLE) / n, 6) AS metric,
        |  CAST(1.0 AS DOUBLE) AS threshold,
        |  coalesce(CAST(nn_text AS DOUBLE) / n >= 1.0, FALSE) AS pass FROM a
        |UNION ALL
        |SELECT 'in_set(lang)', 'lang',
        |  round(CAST(st_lang AS DOUBLE) / nn_lang, 6), CAST(0.9 AS DOUBLE),
        |  coalesce(CAST(st_lang AS DOUBLE) / nn_lang >= 0.9, FALSE) FROM a
        |UNION ALL
        |SELECT 'in_range(n_chars,100.0,2000.0)', 'n_chars',
        |  round(CAST(rg_nc AS DOUBLE) / nn_nc, 6), CAST(0.9 AS DOUBLE),
        |  coalesce(CAST(rg_nc AS DOUBLE) / nn_nc >= 0.9, FALSE) FROM a
        |UNION ALL
        |SELECT 'matches(source)', 'source',
        |  round(CAST(re_src AS DOUBLE) / nn_src, 6), CAST(1.0 AS DOUBLE),
        |  coalesce(CAST(re_src AS DOUBLE) / nn_src >= 1.0, FALSE) FROM a
        |UNION ALL
        |SELECT 'row_count(100,1000000000)', '',
        |  round(CAST(n AS DOUBLE), 6), CAST(100.0 AS DOUBLE),
        |  n BETWEEN 100 AND 1000000000 FROM a""".stripMargin,

    // cumulative-weight ranges per (src, dst) with parallel links summed;
    // the recursive extension picks the range containing hash mod total
    "q150_graph_walks_weighted" ->
      s"""WITH RECURSIVE raw AS (
         |  SELECT CAST(l_partkey AS BIGINT) AS a,
         |         CAST(l_suppkey AS BIGINT) + 10000000 AS b,
         |         CAST(1 + l_linenumber % 3 AS BIGINT) AS w
         |  FROM lineitem
         |), bi AS (
         |  SELECT a AS src, b AS dst, w FROM raw UNION ALL SELECT b, a, w FROM raw
         |), adj AS (
         |  SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM bi GROUP BY 1, 2
         |), cum AS (
         |  SELECT src, dst, w, sum(w) OVER (PARTITION BY src ORDER BY dst) AS hi FROM adj
         |), tot AS (
         |  SELECT src, CAST(sum(w) AS BIGINT) AS total FROM adj GROUP BY 1
         |), walk(walk_id, step, vertex) AS (
         |  SELECT CAST(p * 2 + q AS BIGINT), 0, CAST(p AS BIGINT)
         |  FROM (SELECT unnest(range(1, 11)) AS p), (SELECT unnest(range(0, 2)) AS q)
         |  UNION ALL
         |  SELECT wk.walk_id, wk.step + 1, c.dst
         |  FROM walk wk
         |  JOIN tot t ON t.src = wk.vertex
         |  JOIN cum c ON c.src = wk.vertex
         |   AND ${md5l("'7:' || CAST(wk.walk_id AS VARCHAR) || ':' || CAST(wk.step AS VARCHAR)")} % t.total >= c.hi - c.w
         |   AND ${md5l("'7:' || CAST(wk.walk_id AS VARCHAR) || ':' || CAST(wk.step AS VARCHAR)")} % t.total < c.hi
         |  WHERE wk.step < 5
         |)
         |SELECT walk_id, CAST(step AS INT) AS step, vertex FROM walk""".stripMargin,

    // q133's projection CTE at 150, canonical triangle enumeration
    // (x<y<z via the a<b edge orientation), per-corner counts, then the
    // one-division coefficient
    "q147_graph_clustering" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS l, CAST(l_partkey AS BIGINT) AS r
        |  FROM lineitem
        |), pe AS (
        |  SELECT x.l AS a, y.l AS b
        |  FROM e x JOIN e y ON x.r = y.r AND x.l < y.l
        |  GROUP BY 1, 2 HAVING count(*) >= 150
        |), bi AS (
        |  SELECT a AS v FROM pe UNION ALL SELECT b FROM pe
        |), deg AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS degree FROM bi GROUP BY 1
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM pe e1
        |  JOIN pe e2 ON e2.a = e1.b
        |  JOIN pe e3 ON e3.a = e1.a AND e3.b = e2.b
        |), tc AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS triangles
        |  FROM (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
        |        UNION ALL SELECT z FROM tri)
        |  GROUP BY 1
        |)
        |SELECT s.s_suppkey AS id,
        |  coalesce(tc.triangles, 0) AS triangles,
        |  coalesce(deg.degree, 0) AS degree,
        |  CASE WHEN coalesce(deg.degree, 0) >= 2 THEN
        |    round(CAST(2.0 AS DOUBLE) * coalesce(tc.triangles, 0)
        |      / (deg.degree * (deg.degree - 1)), 6)
        |  END AS coeff
        |FROM supplier s
        |LEFT JOIN deg ON deg.v = s.s_suppkey
        |LEFT JOIN tc ON tc.v = s.s_suppkey""".stripMargin,

    // exact counts; share and skew are single divisions off the two
    // corpus scalars
    "q148_key_skew" ->
      """WITH c AS (
        |  SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS nkeys FROM c
        |), r AS (
        |  SELECT key, n,
        |    CAST(row_number() OVER (ORDER BY n DESC, key) AS INT) AS rank
        |  FROM c
        |)
        |SELECT r.key, r.n, r.rank,
        |  round(CAST(r.n AS DOUBLE) / t.total, 6) AS share,
        |  round(CAST(r.n * t.nkeys AS DOUBLE) / t.total, 6) AS skew
        |FROM r, t WHERE r.rank <= 10""".stripMargin,

    // q83's scoring CTE with self excluded, rank <= 3, the mutual
    // self-join, then q50's transitive-closure min-label
    "q143_semantic_clusters" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_dot_product(c.v, q.v)
        |      / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.v, q.v))), 6)
        |      AS score
        |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
        |), r AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
        |  FROM s
        |), nn AS (
        |  SELECT query_id, neighbor_id FROM r WHERE rnk <= 3
        |), m AS (
        |  SELECT a.query_id AS a, a.neighbor_id AS b
        |  FROM nn a JOIN nn b
        |    ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
        |  WHERE a.query_id < a.neighbor_id
        |), edges AS (
        |  SELECT a, b FROM m UNION SELECT b, a FROM m
        |), reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r2.a, e2.b FROM reach r2 JOIN edges e2 ON r2.b = e2.a
        |), comp AS (
        |  SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a
        |)
        |SELECT e.vec_id, coalesce(c.cluster, e.vec_id) AS cluster_id
        |FROM e LEFT JOIN comp c ON c.id = e.vec_id""".stripMargin,

    // weight = 1 / 2^age (integer shift), terms cast to DECIMAL(38,18)
    // before summing — both engines round the binary rationals identically
    // and the decimal sums are exact
    "q144_event_decay" ->
      """WITH e AS (
        |  SELECT event_type, value, epoch_ns(ts) AS t FROM events
        |), m AS (SELECT max(t) AS tmax FROM e),
        |w AS (
        |  SELECT event_type, value,
        |    CAST(least((tmax - t) // 86400000000000, 50) AS INT) AS age
        |  FROM e, m)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(1.0 / CAST(1::BIGINT << age AS DOUBLE)
        |    AS DECIMAL(38,18))) AS DOUBLE), 6) AS decayed_n,
        |  round(CAST(sum(CAST(value * (1.0 / CAST(1::BIGINT << age AS DOUBLE))
        |    AS DECIMAL(38,18))) AS DOUBLE), 6) AS decayed_sum
        |FROM w GROUP BY 1""".stripMargin,

    "q145_k_anonymity" ->
      """SELECT lang, source,
        |  CAST(count(*) AS BIGINT) AS group_size,
        |  CAST(count(DISTINCT n_chars) AS BIGINT) AS n_sensitive,
        |  count(*) >= 3 AS k_anonymous,
        |  count(DISTINCT n_chars) >= 5 AS l_diverse
        |FROM documents GROUP BY 1, 2""".stripMargin,

    // e = n_new · c_old / n_old left-to-right; contrib = (c_new − e)²/e —
    // the identical IEEE sequence per row in both engines
    "q146_drift_chisq" ->
      """WITH o AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_old
        |  FROM documents WHERE doc_id % 10 <> 1 GROUP BY 1
        |), nw AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_new
        |  FROM documents WHERE doc_id % 10 <> 2 GROUP BY 1
        |), t AS (
        |  SELECT (SELECT count(*) FROM documents WHERE doc_id % 10 <> 1) AS t_old,
        |         (SELECT count(*) FROM documents WHERE doc_id % 10 <> 2) AS t_new
        |)
        |SELECT coalesce(o.lang, nw.lang) AS lang,
        |  coalesce(o.n_old, 0) AS n_old,
        |  coalesce(nw.n_new, 0) AS n_new,
        |  round(CAST(t.t_new AS DOUBLE) * coalesce(o.n_old, 0) / t.t_old, 6) AS expected,
        |  CASE WHEN coalesce(o.n_old, 0) > 0 THEN
        |    round((coalesce(nw.n_new, 0) - CAST(t.t_new AS DOUBLE) * o.n_old / t.t_old)
        |      * (coalesce(nw.n_new, 0) - CAST(t.t_new AS DOUBLE) * o.n_old / t.t_old)
        |      / (CAST(t.t_new AS DOUBLE) * o.n_old / t.t_old), 6)
        |  END AS contrib
        |FROM o FULL OUTER JOIN nw ON o.lang = nw.lang, t""".stripMargin,

    // q121's walk verbatim — the warm-started Spark side must land on the
    // identical distance table
    "q138_graph_bfs_warm" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS a,
        |         CAST(l_suppkey AS BIGINT) + 10000000 AS b
        |  FROM lineitem
        |), bi AS (
        |  SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
        |), walk(id, dist) AS (
        |  SELECT CAST(v AS BIGINT) AS id, 0 AS dist
        |  FROM (VALUES (1), (2), (3), (4), (5)) s(v)
        |  UNION
        |  SELECT bi.b AS id, walk.dist + 1 AS dist
        |  FROM walk JOIN bi ON bi.a = walk.id
        |  WHERE walk.dist < 8
        |)
        |SELECT id, CAST(MIN(dist) AS INT) AS dist FROM walk GROUP BY id""".stripMargin,

    // the directional window in µs — timestamps compare exactly at that
    // resolution on both engines
    "q137_stream_follows" ->
      """WITH v AS (
        |  SELECT user_id, event_id AS view_id, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'view'
        |), p AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT v.user_id, v.view_id, p.purchase_id
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND p.t >= v.t AND p.t <= v.t + 3600000000""".stripMargin,

    // the plain range join (exact overlap predicate) — the bucketized
    // exactly-once claim on the Spark side must reproduce it pair for pair
    "q130_interval_overlap" ->
      """WITH v AS (
        |  SELECT user_id, event_id AS view_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + 3600000000 AS e
        |  FROM events WHERE event_type = 'view'
        |), p AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + 3600000000 AS e
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT v.user_id, v.view_id, p.purchase_id
        |FROM v JOIN p ON v.user_id = p.user_id AND v.s <= p.e AND p.s <= v.e""".stripMargin,

    // q16's lang_pred CASE rolled up against the metadata label
    "q136_langid_confusion" ->
      """WITH m AS (
        |  SELECT lang,
        |    len(list_filter(ltoks, x -> x IN ('the','and','of','is'))) AS s_en,
        |    len(list_filter(ltoks, x -> x IN ('der','die','und','das'))) AS s_de,
        |    len(list_filter(ltoks, x -> x IN ('le','la','et','les'))) AS s_fr,
        |    len(list_filter(ltoks, x -> x IN ('el','los','que','y'))) AS s_es
        |  FROM (SELECT lang, regexp_split_to_array(lower(trim(text)), '\s+') AS ltoks
        |        FROM documents)
        |)
        |SELECT lang,
        |  CASE WHEN greatest(s_en, s_de, s_fr, s_es) > 0 THEN
        |    CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
        |         WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
        |         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
        |         ELSE 'es' END
        |  ELSE 'und' END AS lang_pred,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM m GROUP BY 1, 2""".stripMargin,

    // the q16 fingerprint expression on both synthetic snapshots, full
    // outer join, 4-way CASE — exact string equality end to end
    "q135_snapshot_diff" ->
      """WITH o AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 10 <> 1
        |), n AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 10 <> 2
        |)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.fp = n.fp THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,

    // pair slots, pair counts and both marginals from the same
    // tokenization; the lift is bigint×bigint cast double, one division
    "q134_text_cooccurrence" ->
      """WITH t AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents
        |), p AS (
        |  SELECT toks[CAST(i.i AS INT) + 1] AS w1, toks[CAST(i.i AS INT) + 2] AS w2
        |  FROM t, LATERAL (SELECT unnest(range(len(toks) - 1)) AS i) i
        |  WHERE len(toks) >= 2
        |), n AS (SELECT COUNT(*) AS n FROM p),
        |cp AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab FROM p GROUP BY w1, w2
        |  HAVING COUNT(*) >= 20
        |), cl AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_a FROM p GROUP BY w1),
        |cr AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c_b FROM p GROUP BY w2)
        |SELECT cp.w1, cp.w2, cp.c_ab,
        |  round(CAST(cp.c_ab * (SELECT n FROM n) AS DOUBLE)
        |    / CAST(cl.c_a * cr.c_b AS DOUBLE), 6) AS lift
        |FROM cp JOIN cl ON cl.w1 = cp.w1 JOIN cr ON cr.w2 = cp.w2""".stripMargin,

    // the same inverted-index shape in SQL: distinct links, self-join on
    // the part key, canonical pair order, exact integer counts
    "q133_graph_bipartite" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS l, CAST(l_partkey AS BIGINT) AS r
        |  FROM lineitem
        |)
        |SELECT x.l AS a, y.l AS b, CAST(COUNT(*) AS BIGINT) AS shared
        |FROM e x JOIN e y ON x.r = y.r AND x.l < y.l
        |GROUP BY x.l, y.l
        |HAVING COUNT(*) >= 135""".stripMargin,

    // q121's recursive walk with the landmark carried through the
    // recursion: MIN(dist) per (vertex, landmark) under the same cap
    "q128_graph_landmarks" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS a,
        |         CAST(l_suppkey AS BIGINT) + 10000000 AS b
        |  FROM lineitem
        |), bi AS (
        |  SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0
        |), walk(id, lm, dist) AS (
        |  SELECT CAST(v AS BIGINT) AS id, CAST(v AS BIGINT) AS lm, 0 AS dist
        |  FROM (VALUES (1), (2), (3)) s(v)
        |  UNION
        |  SELECT bi.b AS id, walk.lm AS lm, walk.dist + 1 AS dist
        |  FROM walk JOIN bi ON bi.a = walk.id
        |  WHERE walk.dist < 6
        |)
        |SELECT id, lm AS landmark, CAST(MIN(dist) AS INT) AS dist
        |FROM walk GROUP BY id, lm""".stripMargin,

    // q128's walk collapsed to |landmarks| rows: capped eccentricity and
    // reach per landmark, all exact integers
    "q129_graph_ecc" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS a,
        |         CAST(l_suppkey AS BIGINT) + 10000000 AS b
        |  FROM lineitem
        |), bi AS (
        |  SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0
        |), walk(id, lm, dist) AS (
        |  SELECT CAST(v AS BIGINT) AS id, CAST(v AS BIGINT) AS lm, 0 AS dist
        |  FROM (VALUES (1), (2), (3)) s(v)
        |  UNION
        |  SELECT bi.b AS id, walk.lm AS lm, walk.dist + 1 AS dist
        |  FROM walk JOIN bi ON bi.a = walk.id
        |  WHERE walk.dist < 6
        |), d AS (
        |  SELECT id, lm, MIN(dist) AS dist FROM walk GROUP BY id, lm
        |)
        |SELECT lm AS landmark, CAST(MAX(dist) AS INT) AS ecc_capped,
        |       CAST(COUNT(*) AS BIGINT) AS n_reached
        |FROM d GROUP BY lm""".stripMargin,

    // the q119 rank rule applied twice: median = value at ceil(n/2), MAD =
    // median of |x − med|; integer med/mad/dev, one double division, and
    // the 3.5 cut compared on the UNROUNDED quotient in both engines
    "q123_robust_outliers" ->
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents
        |), med AS (
        |  SELECT lang, n_chars AS med FROM r
        |  WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
        |), d AS (
        |  SELECT doc_id, lang, n_chars, med, abs(n_chars - med) AS dev
        |  FROM documents JOIN med USING (lang)
        |), r2 AS (
        |  SELECT lang, dev,
        |    row_number() OVER (PARTITION BY lang ORDER BY dev) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM d
        |), mad AS (
        |  SELECT lang, dev AS mad FROM r2
        |  WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
        |)
        |SELECT d.doc_id, d.lang, d.n_chars, d.med, mad.mad,
        |  round(CAST(d.dev AS DOUBLE) / NULLIF(mad.mad, 0), 6) AS rscore,
        |  CAST(d.dev AS DOUBLE) / NULLIF(mad.mad, 0) > 3.5 AS is_outlier
        |FROM d JOIN mad USING (lang)""".stripMargin,

    // q112's gram CTE + per-dimension decimal mean sums; the corr closed
    // form is written once with sii/sjj read from the SAME rounded gram
    // rows the Spark side reads, so the diagonal is exactly 1
    "q117_embed_corr" ->
      """WITH p AS (
        |  SELECT i.range AS i, j.range AS j
        |  FROM range(64) i, range(64) j WHERE i.range <= j.range
        |), g AS (
        |  SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
        |    CAST(count(*) AS BIGINT) AS n,
        |    round(CAST(sum(CAST(
        |      CAST(embedding[CAST(p.i AS INT) + 1] AS DOUBLE) *
        |      CAST(embedding[CAST(p.j AS INT) + 1] AS DOUBLE)
        |      AS DECIMAL(20,10))) AS DOUBLE), 10) AS sum_prod
        |  FROM embeddings, p
        |  GROUP BY 1, 2
        |), m AS (
        |  SELECT CAST(d.range AS BIGINT) AS i,
        |    CAST(sum(CAST(CAST(embedding[CAST(d.range AS INT) + 1] AS DOUBLE)
        |         AS DECIMAL(18,6))) AS DOUBLE) AS sx
        |  FROM embeddings, range(64) d
        |  GROUP BY 1
        |)
        |SELECT g.i, g.j,
        |  round(CASE WHEN (g.n * di.sum_prod - mi.sx * mi.sx) > 0
        |              AND (g.n * dj.sum_prod - mj.sx * mj.sx) > 0
        |    THEN (g.n * g.sum_prod - mi.sx * mj.sx)
        |      / (sqrt(g.n * di.sum_prod - mi.sx * mi.sx)
        |         * sqrt(g.n * dj.sum_prod - mj.sx * mj.sx))
        |    END, 6) AS corr
        |FROM g
        |JOIN m mi ON mi.i = g.i
        |JOIN m mj ON mj.i = g.j
        |JOIN g di ON di.i = g.i AND di.j = g.i
        |JOIN g dj ON dj.i = g.j AND dj.j = g.j""".stripMargin,

    // q57's rate arithmetic with token sums as the counts — the token
    // count is the q16/q108 tokenizer replica, summed exactly as BIGINT
    "q114_sample_mix_tokens" ->
      raw"""WITH cnt AS (
         |  SELECT lang, CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
         |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS c
         |  FROM documents WHERE lang IN ('en', 'de', 'fr') GROUP BY 1
         |), w AS (SELECT * FROM (VALUES ('en', 0.5), ('de', 0.3), ('fr', 0.2)) AS t(lang, w)),
         |t AS (SELECT min(c / w) AS total FROM cnt JOIN w USING (lang)),
         |rate AS (
         |  SELECT lang, CAST(round(least(w * total / c, 1.0) * 1000000) AS BIGINT) AS thr
         |  FROM cnt JOIN w USING (lang), t)
         |SELECT d.doc_id, d.lang FROM documents d JOIN rate USING (lang)
         |WHERE ${md5l("'42:' || CAST(doc_id AS VARCHAR)")} % 1000000 < thr""".stripMargin,

    // the q108 decimal-moment discipline applied to standardization: the
    // same (x − sx/n)·n / sqrt(n·sxx − sx²) expression text in both engines
    "q115_zscore_length" ->
      """WITH m AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(n_chars AS DECIMAL(18,6)) * CAST(n_chars AS DECIMAL(18,6)))
        |         AS DOUBLE) AS sxx
        |  FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  round(CASE WHEN (n * sxx - sx * sx) > 0
        |    THEN (CAST(d.n_chars AS DOUBLE) - sx / n) * n / sqrt(n * sxx - sx * sx)
        |    END, 6) AS z
        |FROM documents d JOIN m USING (lang)""".stripMargin,

    // q62's verdict CTE rolled up per source — exact integer counts, one
    // IEEE division per source
    "q113_contamination_by_source" ->
      raw"""WITH sh AS (
         |  SELECT doc_id AS id,
         |    list_distinct(list_transform(range(greatest(len(toks) - 3, 0) + 1),
         |      i -> array_to_string(toks[(i + 1):(i + 3)], ' '))) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
         |        FROM documents)
         |), ev AS (SELECT id AS eval_id, unnest(sh) AS gram FROM sh WHERE id % 20 = 0),
         |tr AS (SELECT id, unnest(sh) AS gram FROM sh WHERE id % 20 <> 0),
         |pairs AS (
         |  SELECT tr.id AS doc_id, ev.eval_id, count(*) AS shared
         |  FROM tr JOIN ev USING (gram) GROUP BY 1, 2 HAVING count(*) >= 5
         |), hit AS (SELECT DISTINCT doc_id FROM pairs)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contaminated,
         |  round(CAST(sum(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS contamination_rate
         |FROM documents d LEFT JOIN hit ON d.doc_id = hit.doc_id
         |WHERE d.doc_id % 20 <> 0
         |GROUP BY 1""".stripMargin,

    // products are double-multiplied then cast to DECIMAL(20,10) BEFORE
    // the sum (binary rationals never tie a decimal half-grid, so both
    // engines round to the identical decimal; the sums are then exact) —
    // the q108 moment discipline applied to the second-moment matrix
    "q112_embed_gram" ->
      """WITH p AS (
        |  SELECT i.range AS i, j.range AS j
        |  FROM range(64) i, range(64) j WHERE i.range <= j.range
        |)
        |SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(
        |    CAST(embedding[CAST(p.i AS INT) + 1] AS DOUBLE) *
        |    CAST(embedding[CAST(p.j AS INT) + 1] AS DOUBLE)
        |    AS DECIMAL(20,10))) AS DOUBLE), 6) AS sum_prod
        |FROM embeddings, p
        |GROUP BY 1, 2""".stripMargin,

    // top-50 by (tf desc, token), then a per-doc not-in count — exact
    // integer arithmetic end to end, one IEEE division per doc
    "q111_vocab_coverage" ->
      raw"""WITH t AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
         |  FROM documents
         |), toks AS (SELECT doc_id, token FROM t WHERE token <> ''),
         |vocab AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1
         |), top AS (
         |  SELECT token FROM vocab ORDER BY tf DESC, token LIMIT 50
         |), per AS (
         |  SELECT toks.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN top.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         |  FROM toks LEFT JOIN top ON toks.token = top.token
         |  GROUP BY 1
         |)
         |SELECT d.doc_id,
         |  coalesce(per.n_tokens, 0) AS n_tokens,
         |  coalesce(per.n_oov, 0) AS n_oov,
         |  round(CASE WHEN coalesce(per.n_tokens, 0) = 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE CAST(coalesce(per.n_oov, 0) AS DOUBLE) / per.n_tokens END, 6) AS oov_rate
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin,

    // the merge path's exact columns equal the one-shot aggregation —
    // decimal quality sums merge exactly, so the oracle is q81's aggregate
    // restricted to the exact-mergeable fields (the batch split is
    // invisible to an exact merge, by construction)
    "q110_corpus_report_merge" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS toks,
         |    regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks,
         |    length(text) AS n,
         |    CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) AS npunct
         |  FROM documents
         |), m AS (
         |  SELECT lang,
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE CAST(len(toks) AS INT) END AS token_count,
         |    round(npunct / greatest(n, 1), 10) AS p10,
         |    round(CAST(len(list_filter(ltoks, x -> x IN ($stop10))) AS DOUBLE)
         |          / greatest(len(ltoks), 1), 10) AS s10,
         |    n
         |  FROM base
         |), d AS (
         |  SELECT lang,
         |    token_count,
         |    round((least(n / 500.0, 1.0) + (1.0 - least(p10 * 10.0, 1.0))
         |           + least(s10 * 5.0, 1.0)) / 3.0, 6) AS q
         |  FROM m
         |)
         |SELECT lang AS stratum, count(*) AS n_docs,
         |  CAST(sum(token_count) AS BIGINT) AS total_tokens,
         |  round(CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_quality,
         |  CAST(sum(CASE WHEN q < CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
         |FROM d GROUP BY 1""".stripMargin,

    // The 8 matrix-row dot products are spelled out as a struct list (the
    // md5 plane strings need literal row indexes); ascending-j list_sum
    // matches the Scala side's ascending reduce, so the doubles are
    // bit-identical before the shared round(6).
    "q80_embed_random_projection" -> {
      val comps = (0 until 8)
        .map(i => s"{'pos': $i, 'val': ${rpProj("v", i)}}")
        .mkString("[", ",\n         |          ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT vec_id, CAST(u.pos AS INT) AS pos,
         |  round(u.val * sqrt(3.0 / 8), 6) AS value
         |FROM (SELECT vec_id, unnest($comps) AS u FROM e)""".stripMargin
    },

    // Same struct-unnest indexing pattern as q73; winner election is the
    // row_number twin of the Scala side's groupBy-min(struct), and
    // string_agg(... ORDER BY pos) is the reassembly contract.
    "q79_text_dedup_paragraphs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    'This site uses cookies to improve your experience.' || chr(10) ||
        |    text || chr(10) ||
        |    'Copyright Example Corp. All rights reserved.' AS tx
        |  FROM documents),
        |p0 AS (SELECT doc_id, string_split(tx, chr(10)) AS l FROM t),
        |p1 AS (
        |  SELECT doc_id, unnest(list_transform(range(len(l)),
        |    i -> {'pos': i, 'para': l[i + 1]})) AS u
        |  FROM p0),
        |p AS (
        |  SELECT doc_id, u.pos AS pos, u.para AS para FROM p1
        |  WHERE trim(u.para) <> ''),
        |f AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1 AS keep
        |  FROM p),
        |r AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(para, chr(10) ORDER BY pos) FILTER (WHERE keep), '') AS clean_text,
        |    count(*) AS n_paragraphs,
        |    sum(CASE WHEN keep THEN 0 ELSE 1 END) AS n_dropped
        |  FROM f GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(r.clean_text, '') AS clean_text,
        |  CAST(coalesce(r.n_paragraphs, 0) AS BIGINT) AS n_paragraphs,
        |  CAST(coalesce(r.n_dropped, 0) AS BIGINT) AS n_dropped
        |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN r USING (doc_id)""".stripMargin,

    // Families 0 and 1 read planes 0-3 and 4-7 of the same deterministic
    // sequence; UNION dedups the candidate pairs before scoring, exactly
    // like semanticPairsMulti's distinct().
    "q78_dedup_semantic_multi" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |be AS (SELECT vec_id, v, ${lshBucket("v", 0)} AS b0, ${lshBucket("v", 1)} AS b1 FROM e),
         |cand AS (
         |  SELECT a.vec_id AS id_a, x.vec_id AS id_b
         |  FROM be a JOIN be x ON a.b0 = x.b0 AND a.vec_id < x.vec_id
         |  UNION
         |  SELECT a.vec_id, x.vec_id
         |  FROM be a JOIN be x ON a.b1 = x.b1 AND a.vec_id < x.vec_id
         |)
         |SELECT id_a, id_b,
         |  round(list_dot_product(ea.v, eb.v)
         |    / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6)
         |    AS cosine
         |FROM cand JOIN e ea ON cand.id_a = ea.vec_id JOIN e eb ON cand.id_b = eb.vec_id
         |WHERE list_dot_product(ea.v, eb.v)
         |    / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.25""".stripMargin,

    "q66_text_vocabulary" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM toks WHERE token <> ''
        |GROUP BY token HAVING count(DISTINCT doc_id) >= 2""".stripMargin,

    // The salted join is result-identical to the plain equi-join by
    // construction — the oracle IS the plain join, so any salting bug
    // (lost/duplicated rows) hash-fails.
    "q65_skew_salted_join" ->
      """SELECT p_brand, count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "q64_text_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |  WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 2
        |), sp AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(len(t) - 1), j -> t[j + 1])) AS w1,
        |    unnest(list_transform(range(len(t) - 1), j -> t[j + 2])) AS w2
        |  FROM toks
        |), bi AS (SELECT w1, w2, count(*) AS c2 FROM sp GROUP BY 1, 2),
        |pre AS (SELECT w1, sum(c2) AS c1 FROM bi GROUP BY 1),
        |voc AS (SELECT count(DISTINCT w2) AS v FROM bi)
        |SELECT sp.doc_id, count(*) AS n_bigrams,
        |  round(avg(ln((c2 + 1.0) / (c1 + voc.v))), 6) AS avg_logprob
        |FROM sp JOIN bi USING (w1, w2) JOIN pre USING (w1) CROSS JOIN voc
        |GROUP BY 1""".stripMargin,

    "q63_decontaminate_substr" ->
      """WITH fp AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_transform(range(greatest(len(toks) - 8, 0) + 1),
        |      i -> md5(array_to_string(toks[(i + 1):(i + 8)], ' ')))) AS fps
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents)
        |), ev AS (SELECT id AS eval_id, unnest(fps) AS fp FROM fp WHERE id % 20 = 0),
        |tr AS (SELECT id, unnest(fps) AS fp FROM fp WHERE id % 20 <> 0),
        |pairs AS (
        |  SELECT tr.id AS doc_id, ev.eval_id, count(*) AS shared
        |  FROM tr JOIN ev USING (fp) GROUP BY 1, 2 HAVING count(*) >= 1
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_matches, max(shared) AS mx FROM pairs GROUP BY 1
        |)
        |SELECT t.doc_id, coalesce(n_matches, 0) AS n_eval_matches,
        |  coalesce(mx, 0) AS max_shared, n_matches IS NOT NULL AS contaminated
        |FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 20 <> 0) t
        |LEFT JOIN agg USING (doc_id)""".stripMargin,

    // k-regular components' PageRank fixed point (1.0 connected, resetProb
    // isolated), scaled by GraphX's sum-to-N normalization: N / mass where
    // mass = C + 0.15 * I (see the Spark side's derivation)
    "q44_graph_pagerank" ->
      """WITH d AS (
        |  SELECT s_suppkey, count(*) OVER (PARTITION BY s_nationkey) AS cnt FROM supplier
        |), tot AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN cnt > 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.15 AS DOUBLE) END) AS mass
        |  FROM d
        |)
        |SELECT s_suppkey AS id,
        |  round(CAST(CASE WHEN cnt > 1 THEN 1.0 ELSE 0.15 END AS DOUBLE) * n / mass, 6) AS pagerank
        |FROM d, tot""".stripMargin,

    "q23_mm_decode" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  CASE (ascii(substr(text, 1, 1)) & 3)
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'webp' ELSE 'raw' END AS format,
        |  CAST(64 + octet_length(encode(text)) % 640 AS INT) AS width,
        |  CAST(64 + octet_length(encode(text)) % 480 AS INT) AS height
        |FROM documents""".stripMargin,

    "q24_mm_frames" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  CAST(unnest(range(0, greatest(CAST(floor(octet_length(encode(text)) / 1024.0) AS INT) - 1, 0) + 1, 10)) AS INT) AS frame_idx
        |FROM documents""".stripMargin
  )
}
