package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling for training-data pipelines.
  *
  * Every operator keys off `hash("<seed>:" || key) mod Granularity` — a pure
  * map-side filter: no shuffle, no RNG state, no per-partition sampler
  * re-seeding. The properties that matter at 100 TB:
  *
  *  - '''reproducible''': the selected row set depends only on row keys, so
  *    it is identical across runs, cluster sizes, and input partitionings —
  *    unlike `df.sample`, whose Bernoulli draw follows partition iteration
  *    order (a repartition changes the sample under the same seed);
  *  - '''consistent across tables''': membership is a function of the key,
  *    so sampling several tables by the same entity key (user_id, doc_id)
  *    keeps their join structure intact — the sampled fact rows still find
  *    their sampled dimension partners;
  *  - '''nesting''': the kept sets are nested by threshold — a p-sample of
  *    a q-sample is exactly the min(p,q)-sample, so growing a 0.1% pilot to
  *    a 1% run keeps every pilot row;
  *  - '''stratified rates are per-group exact-in-expectation''' with zero
  *    coordination: no per-stratum count pass, no driver state.
  *
  * The hash family is pluggable like the sketch operators': [[XxHash]] for
  * production, [[Md5Hash]] when an external engine must reproduce the
  * selection row-for-row (the driver oracle does).
  */
object Sampling {

  /** Sampling resolution: rates are quantized to 1/Granularity steps. */
  val Granularity: Long = 1000000L

  /** The row's sampling bucket in [0, Granularity): uniform, deterministic
    * in (seed, key). `pmod` because XxHash is signed.
    */
  def bucket(key: Column, seed: Int, hash: HashFamily = XxHash): Column =
    pmod(hash.seeded(seed, key), lit(Granularity))

  private def thresholdOf(fraction: Double): Long = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1], got $fraction")
    math.round(fraction * Granularity)
  }

  /** Ceiling on the driver-side per-stratum count map the mixing operators
    * collect. The map is sized for domain/source/language columns (tens to
    * thousands of strata); without a cap, pointing `strataCol` at a
    * high-cardinality column (a doc id) would silently collect the whole
    * key space onto the driver.
    */
  val DefaultMaxStrata: Int = 100000

  /** The per-stratum count map, collected with a hard cardinality guard:
    * the plan fetches at most `maxStrata + 1` aggregated rows, and one row
    * past the cap fails loudly instead of flooding the driver.
    */
  private def strataCounts(df: DataFrame, strataCol: String,
      maxStrata: Int): Array[(String, Long)] = {
    require(maxStrata > 0, s"maxStrata must be positive, got $maxStrata")
    val rows = df.groupBy(col(strataCol)).agg(count(lit(1)).as("c"))
      .limit(maxStrata + 1).collect()
    require(rows.length <= maxStrata,
      s"'$strataCol' has more than $maxStrata distinct strata — the mixing operators " +
        "build a driver-side rate map sized for domain/source/language columns; " +
        "check the stratum column (or raise maxStrata if the strata genuinely number that many)")
    rows.map(r => String.valueOf(r.get(0)) -> r.getLong(1))
  }

  /** Bernoulli sample at `fraction`, keyed on `key`. Map-side only — at any
    * scale this is a filter over the scan, never a shuffle.
    */
  def hashSample(df: DataFrame, key: Column, fraction: Double, seed: Int = 42,
      hash: HashFamily = XxHash): DataFrame =
    df.where(bucket(key, seed, hash) < lit(thresholdOf(fraction)))

  /** Coordinated (join-preserving) sampling: filter EVERY table by the same
    * `(seed, entity-key)` hash rule, so an entity's rows survive or drop
    * together across all of them. Sampling a fact star at the user/customer
    * grain ("keep 10% of users WITH all their orders and events") this way
    * needs zero joins and zero shuffles — each table applies the same
    * map-side filter on its own copy of the entity key, and referential
    * closure between any two sampled tables holds by construction (a child
    * row's key passes iff the parent's does, since it is the same hash of
    * the same value). Contrast `df.sample`, whose independent coin flips per
    * table destroy every cross-table join.
    *
    * Each `(table, key)` pair names the entity-key column AS PRESENT in that
    * table (e.g. `c_custkey` in customer, `o_custkey` in orders); a table
    * that does not carry the entity key must first be joined to a slim
    * key-map — that join is the caller's, not this operator's.
    */
  def coordinatedSample(tables: Seq[(DataFrame, Column)], fraction: Double,
      seed: Int = 42, hash: HashFamily = XxHash): Seq[DataFrame] = {
    val threshold = lit(thresholdOf(fraction))
    tables.map { case (df, key) => df.where(bucket(key, seed, hash) < threshold) }
  }

  /** Stratified sample: per-stratum rate from `rates`, `defaultRate` for
    * unlisted strata. The rate lookup is a broadcast-free literal map
    * (`element_at` on a map literal — constant-folded per row, no join).
    * This is also the domain-mixing primitive: weights-by-source IS a
    * stratified sample on the source column.
    */
  def stratifiedHashSample(df: DataFrame, strataCol: String, rates: Map[String, Double],
      defaultRate: Double, key: Column, seed: Int = 42, hash: HashFamily = XxHash): DataFrame = {
    require(rates.size <= DefaultMaxStrata,
      s"rates has ${rates.size} entries — the literal rate map is sized for " +
        s"domain-cardinality strata (≤ $DefaultMaxStrata); join a rate table instead")
    // empty map short-circuits to the default: `map()` with zero entries is
    // untyped (map<null,null>) and element_at against it fails analysis /
    // coerces oddly rather than cleanly falling through the coalesce
    val threshold =
      if (rates.isEmpty) lit(thresholdOf(defaultRate))
      else {
        val rateMap = map(rates.toSeq.flatMap { case (k, v) =>
          Seq(lit(k), lit(thresholdOf(v)))
        }: _*)
        coalesce(element_at(rateMap, col(strataCol)), lit(thresholdOf(defaultRate)))
      }
    df.where(bucket(key, seed, hash) < threshold)
  }

  /** Deterministic train/test split: adds a `split` column (`"train"` /
    * `"test"`) instead of filtering, so one pass feeds both sinks. Keyed —
    * all rows of one entity land on the same side (no leakage across the
    * split for grouped data).
    */
  def trainTestSplit(df: DataFrame, key: Column, testFraction: Double, seed: Int = 42,
      hash: HashFamily = XxHash): DataFrame =
    df.withColumn(
      "split",
      when(bucket(key, seed, hash) < lit(thresholdOf(testFraction)), "test").otherwise("train"))

  /** Resample to a TARGET domain mix — the data-mixture step of corpus
    * assembly ("40% web, 30% code, 30% books"): given target weights per
    * stratum, take the LARGEST achievable downsample with exactly those
    * expected proportions (no stratum is upsampled). The binding stratum
    * is the one minimizing cₛ/wₛ; the achievable total is T = minₛ(cₛ/wₛ)
    * and each stratum samples at rate wₛ·T/cₛ ≤ 1.
    *
    * Cost: one count aggregation (collected — |strata| rows, a scalar
    * plan) to derive the rates, then the same map-side deterministic
    * filter as [[stratifiedHashSample]] — the data itself never shuffles.
    * Strata absent from `weights` are excluded. Proportions are exact in
    * expectation (the hash sampler's usual contract), sizes Binomial.
    */
  def toTargetMix(df: DataFrame, strataCol: String, weights: Map[String, Double],
      key: Column, seed: Int = 42, hash: HashFamily = XxHash,
      maxStrata: Int = DefaultMaxStrata): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be non-empty and positive")
    val counts = strataCounts(df, strataCol, maxStrata).toMap
    val present = weights.filter { case (s, _) => counts.getOrElse(s, 0L) > 0L }
    if (present.isEmpty) df.limit(0)
    else {
      val total = present.map { case (s, w) => counts(s) / w }.min
      val rates = present.map { case (s, w) => s -> math.min(w * total / counts(s), 1.0) }
      stratifiedHashSample(
        df.where(col(strataCol).isin(present.keys.toSeq: _*)),
        strataCol, rates, defaultRate = 0.0, key, seed, hash)
    }
  }

  /** [[toTargetMix]] with TOKEN-mass weights — the LLM data-mixing form of
    * the operator ("40% of the TOKENS from web, 30% from code…"): the
    * binding stratum minimizes tokₛ/wₛ over per-stratum token sums instead
    * of document counts, so a stratum of long documents is not
    * over-represented by row-count math. Selection stays per-document
    * (the deterministic hash filter on `key`), so expected kept token mass
    * per stratum is rateₛ·tokₛ — exact in expectation, like the row-count
    * variant. One |strata|-row sum aggregation (collected under the same
    * cardinality guard), then the map-side filter; the corpus never
    * shuffles.
    */
  def toTargetMixByTokens(df: DataFrame, strataCol: String, weights: Map[String, Double],
      tokens: Column, key: Column, seed: Int = 42, hash: HashFamily = XxHash,
      maxStrata: Int = DefaultMaxStrata): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be non-empty and positive")
    require(maxStrata > 0, s"maxStrata must be positive, got $maxStrata")
    val rows = df.groupBy(col(strataCol))
      .agg(sum(tokens.cast("long")).as("_tok"))
      .limit(maxStrata + 1).collect()
    require(rows.length <= maxStrata,
      s"'$strataCol' has more than $maxStrata distinct strata — see stratifiedHashSample")
    val counts = rows.map(r => String.valueOf(r.get(0)) -> (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
    val present = weights.filter { case (s, _) => counts.getOrElse(s, 0L) > 0L }
    if (present.isEmpty) df.limit(0)
    else {
      val total = present.map { case (s, w) => counts(s) / w }.min
      val rates = present.map { case (s, w) => s -> math.min(w * total / counts(s), 1.0) }
      stratifiedHashSample(
        df.where(col(strataCol).isin(present.keys.toSeq: _*)),
        strataCol, rates, defaultRate = 0.0, key, seed, hash)
    }
  }

  /** Temperature-flattened domain mixture — the `p_d ∝ c_d^α` sampling
    * rule of multilingual / multi-domain corpus assembly (α < 1 upweights
    * small domains relative to their natural share; α = 1 is proportional,
    * i.e. a plain `hashSample`). Draws an expected `targetFraction` of the
    * corpus with stratum proportions following the flattened distribution;
    * strata whose flattened share exceeds their size cap at rate 1 (no
    * upsampling — the standard behavior).
    *
    * Determinism/portability: rates derive from one |strata|-row count
    * pass; the power sum Σ c^α is folded in ascending stratum order and
    * α = 0.5 uses `sqrt` (correctly-rounded IEEE, unlike `pow`), so an
    * external engine (the DuckDB oracle) reproduces every threshold
    * bit-for-bit with an `ORDER BY`-qualified sum. Selection itself is
    * [[stratifiedHashSample]]'s map-side hash filter — the data never
    * shuffles.
    */
  def temperatureMix(df: DataFrame, strataCol: String, alpha: Double = 0.5,
      targetFraction: Double = 0.5, key: Column, seed: Int = 42,
      hash: HashFamily = XxHash, maxStrata: Int = DefaultMaxStrata): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(targetFraction > 0.0 && targetFraction <= 1.0,
      s"targetFraction must be in (0,1], got $targetFraction")
    def powa(c: Long): Double =
      if (alpha == 0.5) math.sqrt(c.toDouble) else math.pow(c.toDouble, alpha)
    val counts = strataCounts(df, strataCol, maxStrata)
      .filter(_._2 > 0L).sortBy(_._1)
    if (counts.isEmpty) df.limit(0)
    else {
      val z = counts.foldLeft(0.0) { case (acc, (_, c)) => acc + powa(c) }
      val n = counts.map(_._2).sum.toDouble // exact: long-sum then one widening
      val rates = counts.map { case (s, c) =>
        s -> math.min(targetFraction * n * (powa(c) / z) / c, 1.0)
      }.toMap
      stratifiedHashSample(df, strataCol, rates, defaultRate = 0.0, key, seed, hash)
    }
  }

  /** Per-stratum rank-based winsorization — the robust outlier trim of
    * corpus curation ("drop the shortest 5% and longest 5% of documents
    * per language"): keeps rows whose `percent_rank` of `value` within
    * their stratum lies in `[loP, hiP]`. Rank-based rather than
    * value-based on purpose: `percent_rank = (rank−1)/(n−1)` is one exact
    * integer ratio per row — engines agree bit-for-bit, and tied values
    * share a rank so a distinct value is kept or dropped atomically —
    * whereas an interpolated-percentile THRESHOLD (`percentile` /
    * `quantile_cont`) is arithmetic whose ulps can flip boundary rows
    * between engines.
    *
    * Cost: one shuffle + per-stratum sort (ranking is inherently a sort).
    * At corpus scale prefer strata that parallelize (language × source);
    * for a cheaper approximate trim at extreme sizes, derive value bounds
    * from `approx_percentile` and filter map-side — this operator is the
    * exact gate.
    */
  def rankTrim(df: DataFrame, value: Column, strataCols: Seq[String],
      loP: Double, hiP: Double): DataFrame = {
    require(loP >= 0.0 && hiP <= 1.0 && loP <= hiP,
      s"need 0 <= loP <= hiP <= 1, got [$loP, $hiP]")
    if (strataCols.isEmpty) {
      // global percent_rank without the single-partition window: because
      // tie groups are kept or dropped atomically, the decision lives on
      // the DISTINCT-value frame — collapse, prefix-sum the counts
      // (rank(v) = cum(v) − cnt(v) + 1, the shared SQL rank of the tie
      // group), band-filter the values, and semi-join the data back
      val g = df.groupBy(value.as("_rt_v")).agg(count(lit(1)).as("_rt_c"))
      val (ranked, grand) =
        Stats.prefixSumsCore(g, Seq(col("_rt_v")), Seq(col("_rt_c") -> "_rt_cum"))
      val n = grand("_rt_cum")
      val pr =
        if (n <= 1L) lit(0.0) // SQL percent_rank of a single row is 0
        else (col("_rt_cum") - col("_rt_c")).cast("double") / lit((n - 1).toDouble)
      val keep = ranked.where(pr >= loP && pr <= hiP).select(col("_rt_v"))
      df.join(keep, value <=> col("_rt_v"), "left_semi")
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(strataCols.map(col): _*)
        .orderBy(value)
      df.withColumn("_pr", percent_rank().over(w))
        .where(col("_pr") >= loP && col("_pr") <= hiP)
        .drop("_pr")
    }
  }

  /** Deterministic corpus shuffle — the training-order randomization step
    * of dataset assembly: orders rows by a keyed hash, so the permutation
    * is a pure function of (seed, key) — reproducible across runs,
    * partitionings and engines, with no RNG state, and re-shuffleable to a
    * different order by changing the seed. Appends the hash as `shuffle_id`
    * (write with `repartitionByRange(shuffle_id)` + sortWithinPartitions
    * for globally shuffled shards without a single-point global sort).
    *
    * The permutation key is the FULL-WIDTH seeded hash (60 or 64 bits), not
    * the 1/Granularity-quantized [[bucket]]: at corpus scale (≫ 10⁶ rows) a
    * quantized key collides constantly and the key tie-break would leave
    * systematic key-ordered runs inside every collision bucket. With the
    * full hash, collisions are ~birthday-rare (2⁻⁶⁰) and the key tie-break
    * only pins determinism for those.
    */
  def deterministicShuffle(df: DataFrame, key: Column, seed: Int = 42,
      hash: HashFamily = XxHash): DataFrame =
    df.withColumn("shuffle_id", hash.seeded(seed, key))
      .orderBy(col("shuffle_id"), key)

  /** Deterministic WEIGHTED sampling without replacement (the
    * Efraimidis–Spirakis A-ES scheme): keeps the `k` rows per stratum
    * ranking highest by `u^(1/w)` — equivalently by `ln(u)/w` — where `u`
    * is the row's deterministic hash-uniform in (0, 1] and `w` its weight
    * column. Inclusion probability is proportional to weight, without
    * replacement; the canonical use is token-weighted document selection
    * (`weight = token/char count`), so a fixed-doc-count budget draws a
    * representative token mass instead of over-representing short docs.
    *
    * Determinism/portability, same contract as the other samplers: `u`
    * derives from [[bucket]] (so it is a pure function of (seed, key),
    * quantized to 1/Granularity — an O(10⁻⁶) bias, far below sampling
    * noise), the rank key is the ROUNDED `ln(u)/w` (an ulp of cross-engine
    * `ln` divergence cannot reorder; q71's residual boundary risk class),
    * ties by the row key. Rows with `w <= 0` or null are excluded (zero
    * weight = never sampled). One shuffle on the strata columns, O(1) rank
    * state per stream — the [[topKPerKey]] shape with a weighted rank key.
    */
  def weightedTopK(df: DataFrame, strataCols: Seq[String], k: Int, weight: Column,
      rowKey: Column, seed: Int = 42, hash: HashFamily = XxHash): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (bucket(rowKey, seed, hash) + 1).cast("double") / lit(Granularity.toDouble)
    val score = round(log(u) / weight.cast("double"), 6)
    val eligible = df.where(weight.isNotNull && weight > 0)
    if (strataCols.isEmpty) {
      // global top-k: orderBy+limit plans TakeOrderedAndProject (map-side
      // bounded heaps), never a single-partition rank window
      eligible.orderBy(score.desc, rowKey).limit(k)
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(strataCols.map(col): _*)
        .orderBy(score.desc, rowKey)
      eligible
        .withColumn("_es_rank", row_number().over(w))
        .where(col("_es_rank") <= k)
        .drop("_es_rank")
    }
  }

  /** Deterministic fixed-SIZE per-stratum sample ("hash reservoir"): keeps
    * exactly min(k, |stratum|) rows per stratum, the ones ranking first in
    * hash order of `rowKey` (ties broken by the key itself). The
    * fixed-count complement of [[stratifiedHashSample]]'s fixed-rate
    * sampling — use it when every stratum must contribute the same number
    * of rows regardless of its size (balanced eval sets, per-domain
    * pilots).
    *
    * Reproducible like the rate samplers (selection is a function of keys
    * only) and nested in k: the top-j (j < k) of a stratum is a prefix of
    * its top-k. Cost: one shuffle on the stratum columns + a per-partition
    * sort — rank state is O(1) per stream; no stratum's rows are ever
    * collected to one row.
    */
  def topKPerKey(df: DataFrame, strataCols: Seq[String], k: Int, rowKey: Column,
      seed: Int = 42, hash: HashFamily = XxHash): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    if (strataCols.isEmpty) {
      // global hash-order top-k: TakeOrderedAndProject, not a global window
      df.orderBy(bucket(rowKey, seed, hash), rowKey).limit(k)
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(strataCols.map(col): _*)
        .orderBy(bucket(rowKey, seed, hash), rowKey)
      df.withColumn("_hash_rank", row_number().over(w))
        .where(col("_hash_rank") <= k)
        .drop("_hash_rank")
    }
  }

  /** Per-stratum REPEAT factors — the "epochs per source" step of corpus
    * assembly (up-weight high-quality sources by repeating them, down-weight
    * bulk sources below one pass): each row is replicated `repeats(stratum)`
    * times in expectation, tagged with an `epoch` column (1-based). A
    * fractional factor f replicates every row ⌊f⌋ times and one extra time
    * for the deterministic hash-selected `frac(f)` fraction of rows — so
    * factor 2.5 yields epochs 1..2 for every row and epoch 3 for half of
    * them, and factor 0.5 keeps half the rows at epoch 1 (the others
    * vanish, the sub-one-pass case). Downstream, `epoch` feeds the
    * deterministic shuffle key so repeated copies spread across the
    * training order instead of clumping.
    *
    * Determinism/portability, the module contract: the extra-copy choice is
    * the same `(seed, key)` hash filter as [[hashSample]] — reproducible,
    * nested across factor changes (raising 2.4 → 2.6 keeps every 2.4-copy),
    * consistent across tables on one entity key. Cost: a literal-map lookup
    * plus one codegen `explode(sequence)` — pure map-side, no shuffle, no
    * driver state; output size is the only cost, and it is exactly the
    * requested corpus size.
    */
  def withEpochs(df: DataFrame, strataCol: String, repeats: Map[String, Double],
      defaultRepeat: Double = 1.0, key: Column = null, seed: Int = 42,
      hash: HashFamily = XxHash): DataFrame = {
    require(repeats.size <= DefaultMaxStrata,
      s"repeats has ${repeats.size} entries — the literal factor map is sized for " +
        s"domain-cardinality strata (≤ $DefaultMaxStrata); join a factor table instead")
    (repeats.values.toSeq :+ defaultRepeat).foreach(f =>
      require(f >= 0.0 && f <= 1000.0, s"repeat factors must be in [0, 1000], got $f"))
    def whole(f: Double): Long = math.floor(f).toLong
    def fracThreshold(f: Double): Long = math.round((f - math.floor(f)) * Granularity)
    val rowKey = Option(key).getOrElse(col(strataCol))
    // empty factor map short-circuits to the default (same untyped-empty-map
    // hazard as stratifiedHashSample's rate lookup)
    val (nWhole, nFrac) =
      if (repeats.isEmpty)
        (lit(whole(defaultRepeat)), lit(fracThreshold(defaultRepeat)))
      else {
        val wholeMap = map(repeats.toSeq.flatMap { case (k, f) =>
          Seq(lit(k), lit(whole(f)))
        }: _*)
        val fracMap = map(repeats.toSeq.flatMap { case (k, f) =>
          Seq(lit(k), lit(fracThreshold(f)))
        }: _*)
        (coalesce(element_at(wholeMap, col(strataCol)), lit(whole(defaultRepeat))),
          coalesce(element_at(fracMap, col(strataCol)), lit(fracThreshold(defaultRepeat))))
      }
    val n = nWhole + when(bucket(rowKey, seed, hash) < nFrac, 1L).otherwise(0L)
    df.withColumn("_n_epochs", n)
      .where(col("_n_epochs") >= 1L) // sequence(1, 0) would DESCEND, not empty
      .withColumn("epoch", explode(sequence(lit(1L), col("_n_epochs"))))
      .drop("_n_epochs")
  }

  /** Deterministic k-fold assignment: adds `fold` ∈ [0, k) — cross-
    * validation / sharded-eval partitioning as ONE map-side hash, no RNG
    * state, reproducible across runs, partitionings and engines (the
    * [[trainTestSplit]] contract generalized from 2 labeled sides to k
    * numbered folds). Pass a near-dup CLUSTER id as `key` for the
    * leakage-safe variant, exactly as in the q82 split.
    */
  def kFold(df: DataFrame, key: Column, k: Int, seed: Int = 42,
      hash: HashFamily = XxHash): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    df.withColumn("fold", pmod(hash.seeded(seed, key), lit(k.toLong)))
  }

  /** Leakage-safe OUT-OF-FOLD target encoding — the mean-encoding table
    * for a high-cardinality categorical feature, built so no row's own
    * target leaks into the mean it trains against (the classic target-
    * leak: encode with the full-data mean and the model memorizes the
    * label through the encoding). Folds are [[kFold]]'s deterministic
    * hash; each `(category, fold)` cell gets the mean over the OTHER
    * folds, smoothed toward the global mean:
    * `te = (S_c − S_{c,f} + α·ḡ) / (n_c − n_{c,f} + α)` — a category
    * seen only inside the row's own fold degrades smoothly to ḡ (the
    * α-prior is the whole numerator), never to a NULL or a leak.
    *
    * Returns the COMPACT encoding table
    * `(category, fold, n_in, n_out, te)` (|categories|·k rows — the
    * mergeable-state serving discipline: training joins it back on
    * `(category, fold)`, inference joins the all-data variant). Target
    * sums are decimal(38,12) term-casts (order-free); every derived
    * mean is pinned scalar IEEE off those exact sums. One aggregate
    * shuffle on `(category, fold)`; everything above it folds from that
    * frame, and the global row is a one-row scalar attach.
    */
  def targetEncode(
      df: DataFrame,
      category: Column,
      target: Column,
      key: Column,
      k: Int = 5,
      smoothing: Double = 10.0,
      seed: Int = 42,
      hash: HashFamily = XxHash,
      scale: Int = 6
  ): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(smoothing > 0.0, s"smoothing must be positive, got $smoothing")
    val cf = graft.Caches.track(
      df.select(category.as("category"), target.cast("double").as("_y"),
          pmod(hash.seeded(seed, key), lit(k.toLong)).as("fold"))
        .where(col("_y").isNotNull)
        .groupBy(col("category"), col("fold"))
        .agg(sum(col("_y").cast("decimal(38,12)")).as("_sf"), count(lit(1)).as("_nf")))
    val c = cf.groupBy(col("category")).agg(sum(col("_sf")).as("_s"), sum(col("_nf")).as("_n"))
    val g = cf.agg(sum(col("_sf")).as("_sa"), sum(col("_nf")).as("_na"))
    cf.join(c, Seq("category")).crossJoin(g)
      .withColumn("_gm", col("_sa").cast("double") / col("_na"))
      .select(col("category"), col("fold"),
        col("_nf").as("n_in"), (col("_n") - col("_nf")).as("n_out"),
        round(((col("_s") - col("_sf")).cast("double") + lit(smoothing) * col("_gm"))
          / ((col("_n") - col("_nf")).cast("double") + lit(smoothing)), scale).as("te"))
  }

  /** Deterministic contrastive negative sampling: for every anchor id, `m`
    * pseudo-random partner ids drawn uniformly from the corpus — the
    * negative-pair generator of contrastive/embedding training (positives
    * come from the dedup/similarity pipeline; negatives must be random,
    * reproducible, and cheap at corpus scale). Returns
    * `(anchor_id, j, negative_id)` with `j` ∈ [0, m); self-pairs are
    * dropped, and `positives` (a 2-column pair frame, any orientation)
    * excludes known-similar pairs via one anti-join — so a corpus-rebuild
    * regenerates the identical pair set minus exactly the new positives.
    *
    * Scale shape: the target of draw (anchor, j) is RANK
    * `hash(seed, anchor:j) mod n` in the id order — ranks come from
    * `RDD.zipWithIndex` over the sorted slim id frame (per-partition
    * offsets, no global-window single-partition collapse), and the draw
    * resolves with one equi-join of the (n·m)-row candidate frame against
    * the n-row rank table. Nothing quadratic, nothing random-stateful.
    */
  def negativePairs(
      df: DataFrame,
      idCol: String,
      m: Int,
      positives: Option[DataFrame] = None,
      seed: Int = 42,
      hash: HashFamily = XxHash
  ): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val ids = df.select(col(idCol).cast("long").as("id")).distinct()
    val ranked = graft.ids.ZipWithIndex.zipWithIndex(ids.orderBy("id"), colName = "_rk1")
      .select(col("id"), (col("_rk1") - 1L).as("_rk"))
    val n = ranked.count()
    require(n >= 2, s"need at least 2 distinct ids to draw negatives, got $n")
    val cand = ranked.select(col("id").as("anchor_id"))
      .select(col("anchor_id"), explode(array((0 until m).map(lit): _*)).as("j"))
      .withColumn("_trk",
        pmod(hash.seeded(seed, concat_ws(":", col("anchor_id"), col("j"))), lit(n)))
    val withNeg = cand
      .join(ranked.select(col("_rk").as("_trk"), col("id").as("negative_id")), Seq("_trk"))
      .where(col("negative_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("j"), col("negative_id"))
    positives match {
      case None => withNeg
      case Some(p) =>
        require(p.columns.length >= 2, "positives must carry two id columns")
        val pp = p.select(
          col(p.columns(0)).cast("long").as("pa"), col(p.columns(1)).cast("long").as("pb"))
        val both = pp.union(pp.select(col("pb").as("pa"), col("pa").as("pb"))).distinct()
        withNeg.join(both,
          withNeg("anchor_id") === both("pa") && withNeg("negative_id") === both("pb"),
          "left_anti")
    }
  }

  /** Deterministic PROPORTIONAL quota sample of exactly `min(total, N)`
    * rows: each stratum contributes its largest-remainder share
    * `⌊T·nₛ/N⌋` (+1 for the strata with the largest remainders, ranked
    * `T·nₛ mod N` descending with the stratum as tie-break, until the
    * quotas sum to T) — the exact-count counterpart of
    * [[stratifiedHashSample]]'s expected-rate sampling, for "give me
    * exactly 100k docs with today's source mix" release cuts. Within a
    * stratum the selected rows are the first `quotaₛ` in hash order of
    * `key` (the [[topKPerKey]] rule with a per-stratum k), so the cut is
    * reproducible and nested: growing T keeps every previously selected
    * row whose stratum quota did not shrink.
    *
    * Everything is integer arithmetic — allocation is engine-exact, no
    * float rate ever rounds. The allocation runs entirely on the
    * |strata|-row count frame (two global windows over that tiny frame,
    * never over data; no driver collect), then one broadcast join feeds
    * the per-stratum rank filter: one data shuffle total, on the stratum
    * key.
    */
  def quotaSample(df: DataFrame, strataCol: String, total: Long, key: Column,
      seed: Int = 42, hash: HashFamily = XxHash): DataFrame = {
    require(total >= 0, s"total must be >= 0, got $total")
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("_n"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy(col("_rem").desc, col(strataCol))
    val quotas = counts
      // "_tot", not "_N": Spark resolves column names case-insensitively,
      // so "_N" would silently REPLACE "_n" in withColumn
      .withColumn("_tot", sum(col("_n")).over(wAll))
      .withColumn("_T", least(lit(total), col("_tot")))
      .withColumn("_base", expr("(_T * _n) div _tot")) // integer division, stays long
      .withColumn("_rem", expr("(_T * _n) % _tot"))
      .withColumn("_left", col("_T") - sum(col("_base")).over(wAll))
      .withColumn("_rr", row_number().over(wRem))
      .select(col(strataCol),
        least(col("_n"),
          col("_base") + when(col("_rr") <= col("_left"), 1L).otherwise(0L)).as("_quota"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(bucket(key, seed, hash), key)
    df.withColumn("_qs_rank", row_number().over(wRank))
      .join(broadcast(quotas), Seq(strataCol))
      .where(col("_qs_rank") <= col("_quota"))
      .drop("_qs_rank", "_quota")
  }

  /** EXACTLY balanced stratified k-fold assignment: within each stratum,
    * rows take folds round-robin in hash-rank order — every stratum's
    * fold sizes differ by at most one, where plain [[kFold]]'s
    * independent hash draw only balances in expectation (a small stratum
    * can land 80/20 by luck, which wrecks per-language eval variance).
    * Deterministic in (seed, key): reproducible across runs, engines and
    * partitionings. One partitioned rank window per stratum — no global
    * sort, no RNG state.
    */
  def stratifiedKFold(df: DataFrame, strataCol: String, key: Column, k: Int,
      seed: Int = 42, hash: HashFamily = XxHash): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(bucket(key, seed, hash), key)
    df.withColumn("fold", pmod(row_number().over(w).cast("long") - 1L, lit(k.toLong)))
  }

  /** Purged temporal split for time-series training data: rows strictly
    * before `cutoff − embargo` are `train`, rows at-or-after `cutoff` are
    * `test`, and the embargo band between them is labeled `embargo` and
    * meant to be DROPPED — the gap prevents look-ahead leakage through
    * features computed over trailing windows (a trailing 7-day feature on
    * the last train row would otherwise read test-period events). Labels
    * instead of filters, so one pass feeds all sinks
    * ([[trainTestSplit]]'s contract); a pure map-side projection.
    */
  def temporalSplit(df: DataFrame, ts: Column, cutoff: Long, embargo: Long = 0L): DataFrame = {
    require(embargo >= 0, s"embargo must be >= 0, got $embargo")
    df.withColumn("split",
      when(ts < lit(cutoff - embargo), "train")
        .when(ts >= lit(cutoff), "test")
        .otherwise("embargo"))
  }

  /** Variance-optimal (Neyman) stratified allocation: a total budget of
    * `total` rows split across strata `n_h ∝ N_h·σ_h` — big AND noisy
    * strata get the samples, so the stratified mean estimator's variance
    * is minimized at the same budget (the statistically-right way to
    * audit a heterogeneous corpus, vs [[quotaSample]]'s proportional
    * allocation). σ_h is the population σ from EXACT decimal moments;
    * fractional seats resolve by largest remainder (ties by remainder
    * then stratum — deterministic), each quota clipped at the stratum
    * size; membership is the same per-stratum hash-rank draw as
    * [[quotaSample]], so each stratum's sample is a PREFIX of its fixed
    * hash-rank order — a stratum whose quota grows only gains rows
    * (though largest-remainder seat counts themselves are not monotone
    * in `total`: the Alabama paradox applies here as in any
    * apportionment).
    *
    * A zero-variance stratum gets weight 0 and NO rows — its mean is
    * known exactly from the moments already in hand; that is the Neyman
    * optimum, not an omission (give such strata a floor by unioning a
    * [[topKPerKey]] row if a witness per stratum is required).
    *
    * Scale shape: one moments shuffle to |strata| rows, the |strata|-row
    * allocation window, one broadcast join back, and the per-stratum
    * rank window — identical cost profile to [[quotaSample]].
    */
  def neymanQuota(df: DataFrame, strataCol: String, value: Column, total: Long,
      key: Column, seed: Int = 42, hash: HashFamily = XxHash): DataFrame = {
    require(total >= 0, s"total must be >= 0, got $total")
    val m = df.groupBy(col(strataCol)).agg(
      count(lit(1)).as("_n"),
      sum(value.cast("decimal(38,12)")).as("_s"),
      sum((value * value).cast("decimal(38,12)")).as("_q"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy(col("_frac").desc, col(strataCol))
    val quotas = m
      .withColumn("_mu", col("_s").cast("double") / col("_n"))
      .withColumn("_var", greatest(lit(0.0),
        (col("_q").cast("double") - col("_n") * col("_mu") * col("_mu")) / col("_n")))
      .withColumn("_w", col("_n") * sqrt(col("_var")))
      .withColumn("_wtot", sum(col("_w")).over(wAll))
      .withColumn("_share",
        when(col("_wtot") > 0, lit(total) * col("_w") / col("_wtot")).otherwise(lit(0.0)))
      .withColumn("_base", floor(col("_share")).cast("long"))
      .withColumn("_frac", col("_share") - col("_base"))
      .withColumn("_left", lit(total) - sum(col("_base")).over(wAll))
      .withColumn("_rr", row_number().over(wRem))
      .select(col(strataCol),
        least(col("_n"),
          col("_base") + when(col("_rr") <= col("_left"), 1L).otherwise(0L)).as("_quota"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(bucket(key, seed, hash), key)
    df.withColumn("_nq_rank", row_number().over(wRank))
      .join(broadcast(quotas), Seq(strataCol))
      .where(col("_nq_rank") <= col("_quota"))
      .drop("_nq_rank", "_quota")
  }

  /** Token-budget corpus cut: keeps the prefix of `sortCols` order whose
    * cumulative `tokens` stays within `budget` — "as much data as fits in
    * the training budget, best first". The cumulative sum is the
    * distributed prefix-sum ([[Stats.runningTotal]] — range partitioning
    * + per-partition offsets), NOT a single-partition global window, so
    * the cut scales; the `cum` column stays in the output as the
    * audit trail. `sortCols` must be a total order (unique tie-break),
    * `tokens` integer.
    */
  def tokenBudget(df: DataFrame, tokens: Column, budget: Long,
      sortCols: Seq[Column], out: String = "cum"): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    Stats.runningTotal(df, sortCols, tokens, out).where(col(out) <= budget)
  }

  /** Water-filling budget allocation across strata — the corpus-mixing
    * cap: find the unique level `t` with `Σ min(wᵢ, t) = budget` and give
    * every stratum `min(wᵢ, t)` — big sources are capped at the common
    * water line, small sources keep their full mass (contrast
    * [[toTargetMixByTokens]], which needs target shares up front; this
    * needs only the budget). Closed form, no iteration: sort strata by
    * mass ascending — in the interval where the line lands after the i
    * smallest are kept whole, `t = (budget − Σ_{j≤i} wⱼ) / (k − i)`; scan
    * the ≤k candidate intervals and keep the first valid one. A budget
    * covering everything leaves every stratum uncapped.
    *
    * Returns one row per stratum: `(strataCols…, w, alloc, capped)`.
    *
    * Scale shape: the corpus collapses to |strata| rows in one
    * partial-agg shuffle BEFORE the global windows (same bounded-frame
    * contract as quotaSample/neymanQuota — |strata| is report-sized by
    * definition), the interval scan is pure column arithmetic on exact
    * decimal prefix sums (a windowed double sum would be at the mercy of
    * the engine's summation tree), and the elected level rides a one-row
    * scalar-attach crossJoin. Ties in mass order break by the strata
    * values; the first valid interval is elected by `min_by` on the scan
    * rank, so equal-`t` boundary candidates cannot flap.
    */
  def waterFillBudget(
      df: DataFrame,
      strataCols: Seq[String],
      weight: Column,
      budget: Double,
      scale: Int = 6
  ): DataFrame = {
    require(strataCols.nonEmpty, "strataCols must be non-empty")
    require(budget > 0, s"budget must be positive, got $budget")
    import org.apache.spark.sql.expressions.Window
    val strata = strataCols.map(col)
    val sizes = df.where(weight.isNotNull && weight > 0)
      .groupBy(strata: _*)
      .agg(sum(weight.cast("decimal(38,6)")).as("w"))
    val ow = Window.orderBy(col("w") +: strata: _*)
    val ranked = sizes
      .withColumn("_rn", row_number().over(ow))
      .withColumn("_cum", sum(col("w"))
        .over(ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_prev", coalesce(lag(col("w"), 1).over(ow), lit(0).cast("decimal(38,6)")))
      .crossJoin(sizes.agg(count(lit(1)).as("_k")))
      .withColumn("_t",
        (lit(budget) - (col("_cum") - col("w")).cast("double"))
          / (col("_k") - col("_rn") + 1))
    val level = ranked
      .where(col("_prev").cast("double") <= col("_t") &&
        col("_t") <= col("w").cast("double"))
      .agg(min_by(col("_t"), col("_rn")).as("_lvl"))
    ranked.crossJoin(level)
      .select(strata ++ Seq(
        col("w").cast("double").as("w"),
        round(when(col("_lvl").isNotNull, least(col("w").cast("double"), col("_lvl")))
          .otherwise(col("w").cast("double")), scale).as("alloc"),
        (col("_lvl").isNotNull && col("w").cast("double") > col("_lvl")).as("capped")): _*)
  }

  /** Raking (iterative proportional fitting) — reweight a corpus so BOTH
    * marginals hit a target at once: "equal mass per source AND equal
    * mass per language" cannot be done by two independent per-stratum
    * scalings (fixing one margin breaks the other); IPF alternates
    * row-scale / column-scale passes and converges to the unique
    * minimum-KL reweighting with both margins matched. Targets here are
    * the UNIFORM margins (total mass N split evenly across the observed
    * row values, then across the observed column values) — the "balance
    * my training mix" ask. Returns one row per observed cell:
    * `(row_key, col_key, n, weight, factor)` where `weight` is the raked
    * cell mass after `rounds` row+column sweeps (Σweight = N up to the
    * final column pass, exactly) and `factor = weight/n` is the
    * per-example multiplier a sampler consumes downstream.
    *
    * Determinism: the state lives on the |rows|×|cols| CELL frame, never
    * on examples; after every scaling pass the cell mass is rounded to
    * scale 9 and decimal-cast, so each margin sum is an exact decimal
    * fold (order-free) and every pass is the same scalar IEEE expression
    * in any engine — the whole table is engine-exact.
    *
    * Scale shape: ONE data-size shuffle (the cells partial aggregate);
    * the `rounds` sweeps run entirely on the bounded cell frame
    * (per-pass: one |rows|- or |cols|-row margin aggregate + one slim
    * broadcast-back join). Each pass joins the cell frame with an
    * aggregate OF ITSELF, so the frame is materialized per sweep — the
    * self-referencing lineage would otherwise double the analyzed plan
    * every pass (2^rounds nodes: the densestSubgraph loop discipline).
    * Fixed `rounds`, not convergence-tested — callers wanting tighter
    * margins raise `rounds` (IPF converges geometrically; 3 sweeps land
    * well inside round-6 display scale on real mixes).
    */
  def ipfWeights(
      df: DataFrame,
      rowCol: Column,
      colCol: Column,
      rounds: Int = 3,
      scale: Int = 6
  ): DataFrame = graft.Caches.trackNewRdds(df.sparkSession) {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val dec = (c: Column) => round(c, 9).cast("decimal(28,9)")
    val cells0 = graft.Loop.materialize(
      df.select(rowCol.as("_r"), colCol.as("_c"))
        .where(col("_r").isNotNull && col("_c").isNotNull)
        .groupBy(col("_r"), col("_c")).agg(count(lit(1)).as("n"))
        .withColumn("_w", dec(col("n").cast("double"))))
    val tot = cells0.agg(
      sum(col("n")).as("_tn"),
      countDistinct(col("_r")).as("_nr"),
      countDistinct(col("_c")).as("_nc")).head()
    val targetRow = tot.getLong(0).toDouble / tot.getLong(1)
    val targetCol = tot.getLong(0).toDouble / tot.getLong(2)
    val cells = graft.Loop.run(cells0, rounds, held = Seq(cells0)) { (cells, round) =>
      val rm = cells.groupBy(col("_r")).agg(sum(col("_w")).as("_rs"))
      val rowPass = graft.Loop.materialize(
        cells.join(broadcast(rm), Seq("_r"))
          .withColumn("_w",
            dec(col("_w").cast("double") * lit(targetRow) / col("_rs").cast("double")))
          .drop("_rs"))
      val cm = rowPass.groupBy(col("_c")).agg(sum(col("_w")).as("_cs"))
      val colPass = round.cut(
        rowPass.join(broadcast(cm), Seq("_c"))
          .withColumn("_w",
            dec(col("_w").cast("double") * lit(targetCol) / col("_cs").cast("double")))
          .drop("_cs"))
      graft.Loop.release(rowPass)
      Some(colPass)
    }.state
    cells.select(col("_r").as("row_key"), col("_c").as("col_key"), col("n"),
      round(col("_w").cast("double"), scale).as("weight"),
      round(col("_w").cast("double") / col("n"), scale).as("factor"))
  }

  /** Rendezvous (highest-random-weight) sharding — assign each key to
    * the shard whose `hash(shard # key)` score is highest: the stable
    * routing rule whose defining property is MINIMAL DISRUPTION — adding
    * a shard moves only the keys the NEW shard wins (≈ 1/(n+1) of them),
    * where a `key mod n` rule reshuffles almost everything. The serving
    * layer's answer to "which node owns this document/user/cache entry".
    * Ties break toward the earlier shard in `shards` (deterministic);
    * the hash family is pluggable like the samplers'.
    *
    * Pure map-side projection — |shards| hash evaluations per row, no
    * shuffle, no state; the assignment is a function of (seed, shard
    * names, key) alone, so it reproduces across runs and engines.
    */
  def rendezvousAssign(
      df: DataFrame,
      key: Column,
      shards: Seq[String],
      seed: Int = 42,
      hash: HashFamily = XxHash): DataFrame = {
    require(shards.nonEmpty, "rendezvousAssign needs at least one shard")
    require(shards.distinct.size == shards.size, "shard names must be unique")
    val scores = shards.map(s =>
      s -> hash.seeded(seed, concat(lit(s + "#"), key.cast("string"))))
    val top = greatest(scores.map(_._2): _*)
    val pick = scores.tail.foldLeft(
      when(scores.head._2 === top, scores.head._1): Column) {
      case (acc, (name, sc)) => acc.when(sc === top, name)
    }
    df.withColumn("shard", pick)
  }

  /** Approximate GROUP BY from a hash sample (AQP) — scan `fraction` of
    * the data, answer with error bars: the Horvitz–Thompson estimator
    * under Bernoulli(hash) sampling scales each sampled row by 1/f, and
    * its variance is estimable FROM THE SAMPLE ALONE
    * (`V̂(T̂) = Σ_{i∈s} xᵢ²·(1−f)/f²`), so the scan never touches the
    * other (1−f) of the corpus — the point of AQP at 100 TB: a 1%
    * sample answers a dashboard query 100× cheaper with honest ±z·SE
    * intervals. Returns per group
    * `(group…, n_sample, est_count, count_lo, count_hi, est_sum,
    * sum_lo, sum_hi)` (95% normal intervals).
    *
    * Determinism: membership is the [[hashSample]] rule (key-hash
    * threshold — reproducible across runs, engines, partitionings; the
    * SAME sample every time, so the "approximate" answer is itself
    * exactly reproducible); the sample sums fold decimal-cast values;
    * the estimator is pinned scalar IEEE off those exact sums. Groups
    * with no sampled row are absent — the estimator has no evidence
    * they exist (the standard small-group AQP caveat).
    *
    * Scale shape: one map-side hash filter (no shuffle to sample), one
    * partial-aggregated shuffle on the group key over the f-sized
    * stream.
    */
  /** Systematic sampling — every `every`-th row in a total key order
    * (starting at `offset`), the evenly-spaced sample that guarantees
    * coverage of the whole key range where a Bernoulli hash sample can
    * cluster by chance (the classic survey-sampling design; also the
    * "one doc per stride" debugging slice). The caller's `orderCol` must
    * be a unique total order (tie-break before calling).
    *
    * Scale shape: the global position comes from [[Stats.runningTotal]]'s
    * range-partition prefix-sum — an any-size frame never collapses into
    * a single-partition rank window — and the keep test is one map-side
    * modulus on that rank. Deterministic: same data, same stride, same
    * rows, any partitioning.
    */
  def systematicSample(
      df: DataFrame,
      orderCol: Column,
      every: Long,
      offset: Long = 0L): DataFrame = {
    require(every >= 1, s"every must be >= 1, got $every")
    require(offset >= 0 && offset < every, s"offset must be in [0, every), got $offset")
    Stats.runningTotal(df, Seq(orderCol), lit(1L), "_sys_rank")
      .where(pmod(col("_sys_rank") - 1, lit(every)) === offset)
      .drop("_sys_rank")
  }

  def approxAggregate(
      df: DataFrame,
      key: Column,
      value: Column,
      groupCols: Seq[String],
      fraction: Double,
      seed: Int = 42,
      hash: HashFamily = XxHash,
      scale: Int = 6): DataFrame = {
    val thr = thresholdOf(fraction)
    require(thr > 0 && thr < Granularity,
      s"fraction must leave a non-trivial sample, got $fraction")
    val inv = Granularity.toDouble / thr
    val gs = groupCols.map(col)
    val sampled = df.where(bucket(key, seed, hash) < lit(thr))
      .select(gs :+ value.cast("double").as("_v"): _*)
      .where(col("_v").isNotNull)
    val agg = sampled.groupBy(gs: _*)
      .agg(
        count(lit(1)).as("n_sample"),
        sum(round(col("_v"), 6).cast("decimal(28,6)")).as("_s"),
        sum((col("_v") * col("_v")).cast("decimal(38,12)")).as("_s2"))
    val z = 1.959963984540054 // Φ⁻¹(0.975)
    val vf = lit(inv) * lit(inv) * (lit(1.0) - lit(fraction))
    val estC = col("n_sample").cast("double") * lit(inv)
    val seC = sqrt(col("n_sample").cast("double") * vf)
    val estT = col("_s").cast("double") * lit(inv)
    val seT = sqrt(col("_s2").cast("double") * vf)
    agg.select(gs ++ Seq(
      col("n_sample"),
      round(estC, scale).as("est_count"),
      round(estC - lit(z) * seC, scale).as("count_lo"),
      round(estC + lit(z) * seC, scale).as("count_hi"),
      round(estT, scale).as("est_sum"),
      round(estT - lit(z) * seT, scale).as("sum_lo"),
      round(estT + lit(z) * seT, scale).as("sum_hi")): _*)
  }
}
