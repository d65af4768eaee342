package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over a `(user, event_type, ts)` stream: windowed
  * funnels, cohort retention, and state-transition statistics — the
  * behavioral-analytics face of the engine (the same event table the
  * sessionizers consume).
  *
  * All three operators share the scale discipline: per-step/bucket frames
  * are filtered at the SCAN (the step predicate pushes down, so a funnel
  * over 3 event types never reads the other types' bytes), every shuffle is
  * keyed by the user/cohort column on already-aggregated slim frames, and
  * nothing ever sorts globally — ordering is per-user inside one window
  * partition or an exact integer aggregate.
  *
  * Determinism: callers pass an integer time column (the driver contract
  * uses µs, `ts div 1000`) and a unique tie-break id, so window orders and
  * min/max elections never depend on partition iteration order.
  */
object EventAnalytics {

  /** Windowed funnel with earliest-anchor greedy semantics: for each user,
    * step 1 anchors at the user's EARLIEST step-1 event; each later step
    * matches the earliest event of its type strictly after the previous
    * step and no later than `anchor + windowTs`. Returns one row per user
    * who reached step 1: `(userCol, ts_1 … ts_n, steps_completed)` with
    * NULL ts for unreached steps.
    *
    * Greedy-earliest is the standard funnel simplification (a later anchor
    * could complete where the earliest fails when the window binds) — it
    * makes the result deterministic and engine-portable, and each stage is
    * one scan-pruned filter + one user-keyed min aggregate: stage frames
    * are |users| rows, so at 100 TB the shuffles move per-user scalars,
    * never raw events.
    */
  def funnel(
      events: DataFrame,
      steps: Seq[String],
      windowTs: Long,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts"
  ): DataFrame = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps, got ${steps.size}")
    require(windowTs > 0, s"windowTs must be positive, got $windowTs")
    val u = col(userCol)
    // stage 1: earliest anchor per user
    val s1 = events.where(col(typeCol) === steps.head)
      .groupBy(u).agg(min(col(tsCol)).as("ts_1"))
    // stage i: earliest step-i event in (ts_{i-1}, ts_1 + window]
    val stages = steps.tail.zipWithIndex.scanLeft(s1) { case (prev, (step, i)) =>
      val tsPrev = col(s"ts_${i + 1}")
      val ev = events.where(col(typeCol) === step)
        .select(u, col(tsCol).as("_t"))
      prev.join(ev, Seq(userCol))
        .where(col("_t") > tsPrev && col("_t") <= col("ts_1") + lit(windowTs))
        .groupBy(prev.columns.map(col): _*)
        .agg(min(col("_t")).as(s"ts_${i + 2}"))
    }
    // assemble partial funnels: left-join each deeper stage's new column
    val full = stages.tail.zipWithIndex.foldLeft(s1) { case (acc, (st, i)) =>
      acc.join(st.select(u, col(s"ts_${i + 2}")), Seq(userCol), "left")
    }
    val reached = steps.indices.tail.map(i => when(col(s"ts_${i + 1}").isNotNull, 1).otherwise(0))
    full.withColumn("steps_completed",
      reached.foldLeft(lit(1))(_ + _).cast("long"))
  }

  /** Cohort retention matrix: users are cohorted by the epoch-aligned
    * `bucketTs` bucket of their FIRST event; cell `(cohort, offset)` counts
    * the cohort's users active `offset` buckets later, with
    * `rate = users / cohort_size`. Returns
    * `(cohort, offset, users, cohort_size, rate)`, offset 0 = the cohort
    * bucket itself.
    *
    * Shape: one user-keyed min (first event), one distinct over
    * `(user, bucket)` — both shrink to per-user/per-bucket scalars before
    * any shuffle; the matrix itself is |cohorts| × |offsets| rows.
    */
  def cohortRetention(
      events: DataFrame,
      bucketTs: Long,
      userCol: String = "user_id",
      tsCol: String = "ts"
  ): DataFrame = {
    require(bucketTs > 0, s"bucketTs must be positive, got $bucketTs")
    val u = col(userCol)
    // integer `div`, not `/`: double division can round up across a bucket
    // boundary at epoch-µs magnitudes
    val bucket = expr(s"`$tsCol` div $bucketTs")
    val first = events.groupBy(u).agg(min(col(tsCol)).as("_first_ts"))
      .select(u, expr(s"_first_ts div $bucketTs").as("cohort"))
    val active = events.select(u, bucket.as("_bucket")).distinct()
    val cells = active.join(first, Seq(userCol))
      .groupBy(col("cohort"), (col("_bucket") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("users"))
    val sizes = first.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_size"))
    cells.join(sizes, Seq("cohort"))
      .select(col("cohort"), col("offset"), col("users"), col("cohort_size"),
        round(col("users").cast("double") / col("cohort_size").cast("double"), 6).as("rate"))
  }

  /** First-order state transitions (the Markov-chain view of user
    * behavior): per user, events ordered by `(ts, idCol)` yield
    * `(from_type, to_type)` pairs; returns global
    * `(from_type, to_type, n, p)` where `p = n / Σ n over from_type`.
    *
    * One shuffle by user for the per-user ordering window (events stay
    * inside their user partition), then an exact integer aggregate over
    * the |types|² transition matrix — the probability division is the only
    * floating-point step.
    */
  def transitionCounts(
      events: DataFrame,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"
  ): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(userCol), col(typeCol), col(tsCol), col(idCol))
      .withColumn("_next", lead(col(typeCol), 1).over(w))
      .where(col("_next").isNotNull)
    val counts = pairs.groupBy(col(typeCol).as("from_type"), col("_next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy(col("from_type"))
    counts.select(col("from_type"), col("to_type"), col("n"),
      round(col("n").cast("double") / sum(col("n")).over(totals).cast("double"), 6).as("p"))
  }

  /** Stationary distribution of the [[transitionCounts]] Markov chain —
    * "where do user journeys spend their time in the long run": power
    * iteration `x ← Pᵀx` from the uniform start over a FIXED number of
    * rounds (a deterministic contract, not a convergence test — two
    * engines running the same `iterations` produce the same frame;
    * geometric convergence makes 10–20 rounds plenty on mixing chains).
    * States with no outgoing transitions get a self-loop (the absorbing
    * convention — mass parks there instead of leaking), so every row of P
    * is stochastic and total mass stays exactly 1. Null from/to types are
    * excluded. Returns `(state, p)` for EVERY state, zero-mass states
    * included.
    *
    * Scale shape: P is the transitions frame itself (|observed pairs|
    * rows, probabilities by a from-partitioned window on exact integer
    * counts), x is |states| rows, and each round is one equi-join on the
    * from key + one partial-agg shuffle on the to key — pageRankDF's cost
    * profile without the teleport. Per-round sums run over
    * `decimal(38,12)`-cast double products so partitioning cannot move
    * them (the chain is replayable verbatim in ANSI SQL), and frames
    * materialize on a cadence so lineage stays bounded.
    */
  def markovStationary(
      transitions: DataFrame,
      iterations: Int = 10,
      fromCol: String = "from_type",
      toCol: String = "to_type",
      nCol: String = "n",
      scale: Int = 6
  ): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val spark = transitions.sparkSession
    graft.Caches.trackNewRdds(spark) {
    val c = transitions.where(col(fromCol).isNotNull && col(toCol).isNotNull)
      .select(col(fromCol).as("_f"), col(toCol).as("_t"), col(nCol).cast("long").as("_n"))
    val states = c.select(col("_f").as("_s")).union(c.select(col("_t"))).distinct()
    val dangling = states
      .join(c.select(col("_f")).distinct(), col("_s") === col("_f"), "left_anti")
      .select(col("_s").as("_f"), col("_s").as("_t"), lit(1L).as("_n"))
    val p = c.union(dangling).select(col("_f"), col("_t"),
      (col("_n").cast("double") /
        sum(col("_n")).over(Window.partitionBy(col("_f"))).cast("double")).as("_prob"))
    val nStates = states.agg(count(lit(1)).as("_k"))
    val x0 = states.crossJoin(nStates).select(col("_s"), (lit(1.0) / col("_k")).as("_p"))
    // the last round feeds the output join directly, so it is never cut
    val x = graft.Loop.run(x0, iterations) { (x, round) =>
      val next = p.join(x, col("_f") === col("_s"))
        .groupBy(col("_t"))
        .agg(sum((col("_p") * col("_prob")).cast("decimal(38,12)")).cast("double").as("_p"))
        .select(col("_t").as("_s"), col("_p"))
      Some(if (round.last) next else round.cadence(next))
    }.state
    states.join(x, Seq("_s"), "left")
      .select(col("_s").as("state"), round(coalesce(col("_p"), lit(0.0)), scale).as("p"))
    }
  }

  /** k-step HITTING probability of a target state — "how likely does a
    * session in state s reach `purchase` within k more transitions?",
    * the absorbing complement of [[markovStationary]]'s long-run mix
    * (that asks where mass settles; this asks what converts). The row-
    * stochastic chain is the same build (per-state normalized transition
    * counts, dangling states self-loop); the recursion
    * `h_k(s) = 1 if s = target else Σ_t P(s→t)·h_{k−1}(t)` runs a FIXED
    * `steps` rounds — a deterministic contract an oracle can replay by
    * unrolling, not a convergence loop.
    *
    * Determinism: probabilities are exact-count ratios (one division),
    * each round's products are decimal(38,12)-cast before the per-state
    * sum (order-free), and the target pin is an exact literal 1.0 —
    * partitioning cannot move anything. Per round: one equi-join of the
    * |edges| frame against the |states| vector + one partial-agg shuffle.
    */
  def hittingProbability(
      transitions: DataFrame,
      target: String,
      steps: Int = 6,
      fromCol: String = "from_type",
      toCol: String = "to_type",
      nCol: String = "n",
      scale: Int = 6
  ): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val spark = transitions.sparkSession
    graft.Caches.trackNewRdds(spark) {
      val c = transitions.where(col(fromCol).isNotNull && col(toCol).isNotNull)
        .select(col(fromCol).as("_f"), col(toCol).as("_t"), col(nCol).cast("long").as("_n"))
      val states = c.select(col("_f").as("_s")).union(c.select(col("_t"))).distinct()
      val dangling = states
        .join(c.select(col("_f")).distinct(), col("_s") === col("_f"), "left_anti")
        .select(col("_s").as("_f"), col("_s").as("_t"), lit(1L).as("_n"))
      // the chain is probed every round — materialize once
      val p = graft.Loop.materialize(c.union(dangling).select(col("_f"), col("_t"),
        (col("_n").cast("double") /
          sum(col("_n")).over(Window.partitionBy(col("_f"))).cast("double")).as("_prob")))
      val h0 = states.select(col("_s"),
        when(col("_s") === target, lit(1.0)).otherwise(lit(0.0)).as("_h"))
      // the last round feeds the output directly, so it is never cut
      val h = graft.Loop.run(h0, steps) { (h, round) =>
        val next = p.join(h, col("_t") === col("_s"))
          .groupBy(col("_f"))
          .agg(sum((col("_prob") * col("_h")).cast("decimal(38,12)")).cast("double").as("_hs"))
          .select(col("_f").as("_s"),
            when(col("_f") === target, lit(1.0)).otherwise(col("_hs")).as("_h"))
        Some(if (round.last) next else round.cadence(next))
      }.state
      h.select(col("_s").as("state"), round(col("_h"), scale).as("h"))
    }
  }

  /** Bucketed event time series with a trailing moving average: events
    * collapse to `(series, bucket, n)` counts (bucket = `ts div bucketTs`,
    * epoch-aligned integer division), then a per-series window adds
    * `ma = avg(n)` over the trailing `maBuckets` PRESENT buckets.
    *
    * The aggregate shrinks the stream to |series| × |buckets| rows BEFORE
    * the window's shuffle — the window never sees raw events, so the
    * expensive ordered step runs on the already-tiny frame. Note the MA is
    * over present buckets (row frame), not calendar buckets: an empty
    * bucket contributes no zero row. Densify first if gap semantics
    * matter.
    */
  def timeSeries(
      events: DataFrame,
      bucketTs: Long,
      maBuckets: Int,
      seriesCol: String = "event_type",
      tsCol: String = "ts"
  ): DataFrame = {
    require(bucketTs > 0, s"bucketTs must be positive, got $bucketTs")
    require(maBuckets >= 1, s"maBuckets must be >= 1, got $maBuckets")
    val counts = events
      .groupBy(col(seriesCol), expr(s"`$tsCol` div $bucketTs").as("bucket"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(seriesCol)).orderBy(col("bucket"))
      .rowsBetween(-(maBuckets - 1).toLong, Window.currentRow)
    counts.withColumn("ma", round(avg(col("n")).over(w), 6))
  }

  /** Classic additive seasonal decomposition of the bucketed event series
    * (`n = trend + seasonal + residual`) — "is Monday traffic really up,
    * or is that just Mondays?": trend is the centered moving average over
    * one full period (the textbook 2×MA when the period is even, so both
    * phase ends weigh half), seasonal is the per-phase mean of the
    * detrended values (`phase = bucket mod period`), residual is what's
    * left. Trend is NULL until a full period surrounds the bucket (series
    * edges), and phases are positional in BUCKET VALUE, so a missing
    * bucket voids the trend window around it (the count guard) instead of
    * silently misaligning phases.
    *
    * Determinism: counts are exact integers, trend is one integer-sum
    * division rounded at `scale`, detrended values are then ≤scale-decimal
    * exacts summed as `decimal(38,12)` (partitioning cannot move the
    * phase means), and residuals subtract the two already-rounded parts.
    * Cost: the count collapse, one per-series window pass (RANGE frames
    * over the bucket value), one |series×period|-row aggregate joined
    * back — the stream never shuffles twice.
    *
    * Returns `(seriesCol, bucket, n, trend, seasonal, residual)`.
    */
  def seasonalDecompose(
      events: DataFrame,
      bucketTs: Long,
      period: Int,
      seriesCol: String = "event_type",
      tsCol: String = "ts",
      scale: Int = 6
  ): DataFrame = {
    require(bucketTs > 0, s"bucketTs must be positive, got $bucketTs")
    require(period >= 2, s"period must be >= 2, got $period")
    val counts = events
      .groupBy(col(seriesCol), expr(s"`$tsCol` div $bucketTs").as("bucket"))
      .agg(count(lit(1)).as("n"))
    val h = period / 2
    val full = Window.partitionBy(col(seriesCol)).orderBy(col("bucket"))
      .rangeBetween(-h.toLong, h.toLong)
    val trendCol =
      if (period % 2 == 1)
        when(count(col("n")).over(full) === period,
          sum(col("n")).over(full).cast("double") / period)
      else {
        val inner = Window.partitionBy(col(seriesCol)).orderBy(col("bucket"))
          .rangeBetween(-(h - 1).toLong, (h - 1).toLong)
        when(count(col("n")).over(full) === period + 1,
          (sum(col("n")).over(full) + sum(col("n")).over(inner)).cast("double")
            / (2 * period))
      }
    val t = counts
      .withColumn("trend", round(trendCol, scale))
      .withColumn("_ph", pmod(col("bucket"), lit(period.toLong)))
    val phaseMeans = t.where(col("trend").isNotNull)
      .groupBy(col(seriesCol), col("_ph"))
      .agg(sum((col("n") - col("trend")).cast("decimal(38,12)")).as("_sd"),
        count(lit(1)).as("_sc"))
      .select(col(seriesCol), col("_ph"),
        round(col("_sd").cast("double") / col("_sc"), scale).as("seasonal"))
    t.join(phaseMeans, Seq(seriesCol, "_ph"), "left")
      .select(col(seriesCol), col("bucket"), col("n"), col("trend"), col("seasonal"),
        round(col("n") - col("trend") - col("seasonal"), scale).as("residual"))
  }

  /** Kaplan–Meier curve with Greenwood confidence bands — the
    * [[kaplanMeier]] estimate plus the uncertainty every curve reader
    * eventually asks for: Greenwood's
    * `Var(S(t)) = S(t)²·Σ_{tᵢ≤t} dᵢ/(nᵢ(nᵢ−dᵢ))`, plain-scale bands
    * `S ∓ z·se` clamped to [0,1] (z a caller-fixed double literal — no
    * Φ⁻¹ in either engine). Returns
    * `(t, n_risk, n_events, n_censored, survival, se, ci_lo, ci_hi)`.
    * A time where everyone at risk dies (nᵢ = dᵢ) contributes 0 to the
    * variance sum — S is 0 from there on and the band collapses with it
    * (the standard convention; Greenwood is undefined past extinction).
    *
    * Scale shape and determinism: [[kaplanMeier]]'s collapse-first
    * discipline verbatim; the variance cumulative is an ADDITIVE window
    * over the ≤|distinct durations| collapsed axis (bounded-window
    * class) of per-time terms decimal-cast at (38,12); se multiplies
    * the curve's ROUNDED survival (the published artifact), and the
    * clamps are least/greatest on the same doubles.
    */
  def kaplanMeierCi(
      df: DataFrame,
      duration: Column,
      event: Column,
      zCi: Double = 1.959963984540054,
      scale: Int = 6): DataFrame = {
    val curve = kaplanMeier(df, duration, event, scale)
    val nr = col("n_risk").cast("double")
    val d = col("n_events").cast("double")
    val term = when(col("n_risk") - col("n_events") > 0,
      d / (nr * (nr - d))).otherwise(lit(0.0))
    val w = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)
    val withVar = curve
      .withColumn("_gw", sum(term.cast("decimal(38,12)")).over(w))
      .withColumn("_se", col("survival") * sqrt(col("_gw").cast("double")))
    withVar.select(col("t"), col("n_risk"), col("n_events"), col("n_censored"),
      col("survival"),
      round(col("_se"), scale).as("se"),
      round(greatest(col("survival") - lit(zCi) * col("_se"), lit(0.0)), scale)
        .as("ci_lo"),
      round(least(col("survival") + lit(zCi) * col("_se"), lit(1.0)), scale)
        .as("ci_hi"))
  }

  /** Trend / seasonal strength indices — [[seasonalDecompose]]'s
    * components folded to the two FPP-standard numbers per series:
    * `F_T = max(0, 1 − Var(R)/Var(T+R))` and
    * `F_S = max(0, 1 − Var(R)/Var(S+R))` — "how much of this series is
    * trend, how much is the weekly/daily cycle, how much is noise?" in
    * [0,1] each (the one-line answer the component plot buries). One
    * row per series `(seriesCol, n_buckets, trend_strength,
    * seasonal_strength)`; NULL where the reference variance is 0.
    *
    * Determinism: runs on the decomposition's ROUNDED components (the
    * published artifact — strengths must agree with integrating the
    * frame a reader sees); population variances via exact decimal
    * moment folds, the shared n² clearing cancels in each ratio, and
    * the final expressions are pinned IEEE.
    */
  def seasonalStrength(
      events: DataFrame,
      bucketTs: Long,
      period: Int,
      seriesCol: String = "event_type",
      tsCol: String = "ts",
      scale: Int = 6): DataFrame = {
    val comp = graft.Caches.track(
      seasonalDecompose(events, bucketTs, period, seriesCol, tsCol, scale)
        .where(col("trend").isNotNull && col("seasonal").isNotNull))
    val r = col("residual")
    val sr = col("seasonal") + col("residual")
    val tr = col("trend") + col("residual")
    val agg = comp.groupBy(col(seriesCol)).agg(
      count(lit(1)).as("n_buckets"),
      sum(r.cast("decimal(38,12)")).as("_s_r"),
      sum((r * r).cast("decimal(38,12)")).as("_q_r"),
      sum(sr.cast("decimal(38,12)")).as("_s_sr"),
      sum((sr * sr).cast("decimal(38,12)")).as("_q_sr"),
      sum(tr.cast("decimal(38,12)")).as("_s_tr"),
      sum((tr * tr).cast("decimal(38,12)")).as("_q_tr"))
    val n = col("n_buckets").cast("double")
    def v(pre: String) =
      n * col(s"_q$pre").cast("double") -
        col(s"_s$pre").cast("double") * col(s"_s$pre").cast("double")
    agg.select(col(seriesCol), col("n_buckets"),
      round(when(v("_tr") > 0,
        greatest(lit(0.0), lit(1.0) - v("_r") / v("_tr"))), scale)
        .as("trend_strength"),
      round(when(v("_sr") > 0,
        greatest(lit(0.0), lit(1.0) - v("_r") / v("_sr"))), scale)
        .as("seasonal_strength"))
  }

  /** Exponentially-weighted moving average of the per-series bucket
    * counts — the time-decayed activity level behind "what is this
    * series doing NOW" dashboards (the unweighted cousin is
    * [[timeSeries]]'s flat moving average):
    * `ewma(t) = Σ_{k=0..maxLag} n(t−k)·2⁻ᵏ / (2 − 2^{−maxLag})`, so a
    * missing bucket correctly contributes ZERO events (gaps decay the
    * level instead of being skipped) and gap buckets inside a series'
    * span get a smoothed row with `n = 0`.
    *
    * The decay base is pinned at ½ per bucket (choose the bucket width
    * to set the half-life) because every weight `2⁻ᵏ` and every term
    * `n·2⁻ᵏ` is then EXACT in IEEE doubles (scaling by a power of two)
    * and, for `maxLag ≤ 18`, exact in `decimal(38,18)` — the term sum is
    * order-free and the whole table engine-portable. An arbitrary decay
    * would float-round per term and per sum order.
    *
    * Scale shape: no window, no join in the hot path — each count row
    * EXPLODES into its `maxLag+1` future contributions (map-side ×17 for
    * the default), one partial-aggregated shuffle on `(series, bucket)`
    * collapses them; the per-series max-bucket frame that trims the
    * decay tail past the last event is a broadcast of |series| rows.
    */
  def ewmaSmooth(
      events: DataFrame,
      bucketTs: Long,
      maxLag: Int = 16,
      seriesCol: String = "event_type",
      tsCol: String = "ts",
      scale: Int = 6
  ): DataFrame = {
    require(bucketTs > 0, s"bucketTs must be positive, got $bucketTs")
    require(maxLag >= 1 && maxLag <= 18,
      s"maxLag must be in [1, 18] (2^-k exactness bound in decimal(38,18)), got $maxLag")
    // tracked: feeds both the contribution explode and the max-bucket frame
    // (Spark does not CSE common subplans across join branches)
    val counts = graft.Caches.track(events
      .groupBy(col(seriesCol), expr(s"`$tsCol` div $bucketTs").as("bucket"))
      .agg(count(lit(1)).as("n")))
    val contrib = counts
      .select(col(seriesCol), col("bucket"), col("n"),
        explode(sequence(lit(0), lit(maxLag))).as("k"))
      .select(col(seriesCol), (col("bucket") + col("k")).as("t"),
        (col("n").cast("double") / expr("cast(shiftleft(1L, k) as double)"))
          .cast("decimal(38,18)").as("_term"),
        when(col("k") === 0, col("n")).as("_own"))
    val g = contrib.groupBy(col(seriesCol), col("t"))
      .agg(sum(col("_term")).as("_s"),
        coalesce(sum(col("_own")), lit(0L)).as("n"))
    val mx = counts.groupBy(col(seriesCol)).agg(max(col("bucket")).as("_mb"))
    val norm = 2.0 - 1.0 / (1L << maxLag) // dyadic: exact in both engines
    g.join(broadcast(mx), Seq(seriesCol))
      .where(col("t") <= col("_mb"))
      .select(col(seriesCol), col("t").as("bucket"), col("n"),
        round(col("_s").cast("double") / lit(norm), scale).as("ewma"))
  }

  /** Change-point validity intervals (the SCD-2 dimension-history build):
    * collapse a per-key event stream to the rows where `valueCol`
    * CHANGED, each stamped `[valid_from, valid_to)` — `valid_to` is the
    * next change's timestamp, NULL for the currently-open interval. The
    * ETL face of the as-of join family: `AsOfJoin.backward` asks "what
    * was the value at time t", this materializes the whole history table
    * that answers it with a plain range predicate.
    *
    * Deterministic: ordering ties break by `tieCol` (a unique event id),
    * the change test is null-safe (`<=>`), and timestamps are integer
    * epochs — the whole table is engine-exact. Cost: two windows over
    * the same per-key partitioning (one shuffle on the key); rows shrink
    * to change points after the first window, so the second runs on the
    * collapsed frame.
    */
  def changeIntervals(
      events: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tsCol: String = "ts",
      tieCol: String = "event_id"
  ): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(tsCol), col(tieCol))
    val changes = events
      .select(keys ++ Seq(col(valueCol), col(tsCol), col(tieCol)): _*)
      .withColumn("_prev", lag(col(valueCol), 1).over(w))
      .where(!(col(valueCol) <=> col("_prev")))
    val w2 = Window.partitionBy(keys: _*).orderBy(col(tsCol), col(tieCol))
    changes
      .withColumn("valid_to", lead(col(tsCol), 1).over(w2))
      .select(keys ++ Seq(col(valueCol), col(tsCol).as("valid_from"), col("valid_to")): _*)
  }

  /** Recency-weighted aggregates with exponential half-life decay — the
    * "recent data matters more" rollup (freshness-weighted source mixing
    * quotas, decayed engagement scores, drift-resistant popularity).
    * Each event's weight halves per `bucketTs` of age relative to the
    * stream's max timestamp: `w = 2^(-age_buckets)`, age capped at
    * `maxAgeBuckets` so the weight never leaves (±,18)-decimal range.
    * Returns per group: `n` (raw count), `decayed_n` (Σw) and
    * `decayed_sum` (Σ value·w), both rounded to 6.
    *
    * Engine-exact by construction: the age is integer arithmetic off one
    * global max-ts scalar (a broadcast one-row frame, not a window);
    * `2^age` is an integer shift; value·2^-age is an EXACT double
    * operation (multiplying by a power of two only moves the exponent);
    * and the per-group sums run over `decimal(38,18)`-cast terms — a
    * binary rational can never land on a decimal half-grid, so the cast
    * rounds identically in every engine (the q112 argument) and the
    * decimal sums are order-free. One aggregate shuffle on the group key;
    * the result is |groups| rows.
    */
  def decayedStats(
      events: DataFrame,
      groupCols: Seq[String],
      value: Column,
      bucketTs: Long,
      tsCol: String = "ts",
      maxAgeBuckets: Int = 50
  ): DataFrame = {
    require(bucketTs > 0, s"bucketTs must be positive, got $bucketTs")
    require(maxAgeBuckets >= 0 && maxAgeBuckets <= 62,
      s"maxAgeBuckets must be in [0, 62], got $maxAgeBuckets")
    val tmax = events.agg(max(col(tsCol)).as("_tmax"))
    val age = least(
      expr(s"(_tmax - `$tsCol`) div $bucketTs"), lit(maxAgeBuckets.toLong))
    val weight = lit(1.0) / expr("shiftleft(CAST(1 AS BIGINT), CAST(_age AS INT))").cast("double")
    events
      .crossJoin(broadcast(tmax))
      .withColumn("_age", age)
      .withColumn("_w", weight)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("_w").cast("decimal(38,18)")).cast("double"), 6).as("decayed_n"),
        round(sum((value * col("_w")).cast("decimal(38,18)")).cast("double"), 6)
          .as("decayed_sum"))
  }

  /** Trailing-window rate-anomaly detection (traffic spike / outage
    * monitoring): per series and time bucket, the event count's z-score
    * against the `trailing` PRIOR buckets' mean and population std —
    * `z = (n·m − Σn) / √(m·Σn² − (Σn)²)` where the sums run over the
    * prior frame of size `m`. `z` is NULL while fewer than `minPrior`
    * prior buckets exist (warm-up) or the trailing window is constant
    * (zero variance); `is_anomaly` flags `|z| > threshold`.
    *
    * Engine-exact where rolling statistics usually aren't: the frame sums
    * are INTEGER (event counts), so `n·m − Σn` and `m·Σn² − (Σn)²` are
    * exact, and the only float ops are one `sqrt` and one division per
    * row — no accumulated rolling float state. Cost matches [[timeSeries]]:
    * the aggregate shrinks the stream to |series|×|buckets| rows BEFORE
    * the ordered window shuffles, so the window never touches raw events.
    * Prior buckets are PRESENT buckets (row frame) — densify upstream if
    * empty buckets should count as zeros.
    */
  def anomalies(
      events: DataFrame,
      bucketTs: Long,
      trailing: Int,
      threshold: Double = 3.0,
      minPrior: Int = 3,
      seriesCol: String = "event_type",
      tsCol: String = "ts"
  ): DataFrame = {
    require(bucketTs > 0, s"bucketTs must be positive, got $bucketTs")
    val counts = events
      .groupBy(col(seriesCol), expr(s"`$tsCol` div $bucketTs").as("bucket"))
      .agg(count(lit(1)).as("n"))
    anomaliesFromCounts(counts, trailing, threshold, minPrior, seriesCol)
  }

  /** The z-scoring half of [[anomalies]], applied to an ALREADY-bucketed
    * count frame `(seriesCol, bucket, n)` — the incremental face: counts
    * per bucket are plain mergeable sums, so a monitor can maintain them
    * per batch ([[graft.streaming.StreamingRateMonitor]]) and re-score
    * only the merged |series|×|buckets| frame, never rescanning events.
    */
  def anomaliesFromCounts(
      counts: DataFrame,
      trailing: Int,
      threshold: Double = 3.0,
      minPrior: Int = 3,
      seriesCol: String = "event_type"
  ): DataFrame = {
    require(trailing >= minPrior && minPrior >= 2,
      s"need trailing >= minPrior >= 2, got trailing=$trailing minPrior=$minPrior")
    val w = Window.partitionBy(col(seriesCol)).orderBy(col("bucket"))
      .rowsBetween(-trailing.toLong, -1L)
    val m  = count(lit(1)).over(w)
    val s1 = sum(col("n")).over(w)
    val s2 = sum(col("n") * col("n")).over(w)
    val varN = m * s2 - s1 * s1 // m² · population variance — exact integer
    val z = when(m >= minPrior && varN > 0,
      round((col("n") * m - s1).cast("double") / sqrt(varN.cast("double")), 6))
    counts
      .withColumn("z", z)
      .withColumn("is_anomaly", when(col("z").isNotNull, abs(col("z")) > threshold))
  }

  /** Item co-visitation (collaborative-filtering candidate generation):
    * for item pairs interacted with by the same user, the co-count and
    * the binary-cosine score `n_ab / √(n_a·n_b)` — "users who touched
    * this also touched that", the first stage of any recommender.
    * Pairs are canonical (`item_a < item_b`); `minSupport` drops the
    * noise tail.
    *
    * Scale shape: events first collapse to the deduped (user, item)
    * frame; a user with a pathological item count would contribute
    * O(items²) pairs, so each user's item list caps at
    * `maxItemsPerUser` (deterministic — lowest item ids kept; same skew
    * discipline as the same-value clique cap). The capped frame is
    * tracked-persisted (it feeds BOTH sides of the pair self-join —
    * Spark does not CSE across join branches) and the join shuffles on
    * the user key. The score is one sqrt + one division off exact
    * integer counts.
    */
  def coVisitation(
      events: DataFrame,
      item: Column,
      minSupport: Long = 1L,
      maxItemsPerUser: Int = 1000,
      userCol: String = "user_id",
      scale: Int = 6
  ): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxItemsPerUser >= 2, s"maxItemsPerUser must be >= 2, got $maxItemsPerUser")
    val w = Window.partitionBy(col("_u")).orderBy(col("_i"))
    val ui = graft.Caches.track(
      events.select(col(userCol).as("_u"), item.as("_i"))
        .where(col("_i").isNotNull)
        .distinct()
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") <= maxItemsPerUser)
        .drop("_rn"))
    val itemCounts = ui.groupBy(col("_i").as("item")).agg(count(lit(1)).as("n_item"))
    val pairs = ui.select(col("_u"), col("_i").as("item_a"))
      .join(ui.select(col("_u"), col("_i").as("item_b")), Seq("_u"))
      .where(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSupport)
    pairs
      .join(itemCounts.select(col("item").as("item_a"), col("n_item").as("n_a")), Seq("item_a"))
      .join(itemCounts.select(col("item").as("item_b"), col("n_item").as("n_b")), Seq("item_b"))
      .withColumn("score",
        round(col("n_ab").cast("double") / sqrt((col("n_a") * col("n_b")).cast("double")),
          scale))
  }

  /** Rolling distinct actives (DAU/WAU/MAU): per observed time bucket, the
    * EXACT distinct `userCol` count over the trailing `window` buckets —
    * the "7-day active users" dashboard series, where a naive per-day
    * distinct-over-range rescans the window per day.
    *
    * Scale shape: events first collapse to the deduped `(user, bucket)`
    * frame (one shuffle — the frame is ≤ users×buckets however many raw
    * events exist), then each row FANS OUT map-side to the `window` target
    * buckets it keeps alive (`explode(sequence)` — codegen, ×window rows
    * of two longs), and one exact-distinct aggregate per target bucket
    * finishes. Trailing buckets with no events of their own don't appear
    * (present-bucket semantics, as [[timeSeries]]); window edges at the
    * stream start are partial by definition.
    */
  def rollingDistinct(
      events: DataFrame,
      bucketTs: Long,
      window: Int,
      userCol: String = "user_id",
      tsCol: String = "ts"
  ): DataFrame = {
    require(bucketTs > 0, s"bucketTs must be positive, got $bucketTs")
    require(window >= 1, s"window must be >= 1, got $window")
    val du = events
      .select(col(userCol).as("_u"), expr(s"`$tsCol` div $bucketTs").as("_b"))
      .distinct()
    val dau = du.groupBy(col("_b").as("bucket")).agg(count(lit(1)).as("dau"))
    val rolling = du
      .withColumn("bucket", explode(sequence(col("_b"), col("_b") + (window - 1).toLong)))
      .groupBy(col("bucket"))
      .agg(countDistinct(col("_u")).as("rolling_active"))
    // observed buckets only: the fanout also lands on trailing buckets
    // with no events of their own — dau's inner join drops them
    dau.join(rolling, Seq("bucket"))
  }

  /** Top-k user journeys: each user's first `maxSteps` event types in
    * time order joined `">"`-separated, counted across users, top `k`
    * paths by frequency (ties by path text). The "what do sessions
    * actually do" product-analytics staple.
    *
    * The path assembles WITHOUT arrays or higher-order functions (both
    * interpreted): step i is the plain aggregate `max(when(rn = i, type))`
    * — one codegen column per step — and `concat_ws` skips the NULLs of
    * users with fewer than `maxSteps` events. Cost: one window shuffle on
    * the user key over rows already filtered to `rn <= maxSteps`... the
    * row_number filter itself runs on the same shuffle; then two partial-
    * aggregated shuffles (per-user, per-path) whose frames only shrink,
    * and the final top-k plans as TakeOrderedAndProject.
    */
  def topPaths(
      events: DataFrame,
      k: Int,
      maxSteps: Int,
      seriesCol: String = "event_type",
      userCol: String = "user_id",
      tsCol: String = "ts",
      tieCol: String = "event_id"
  ): DataFrame = {
    require(k > 0 && maxSteps > 0, s"need k > 0 and maxSteps > 0, got k=$k maxSteps=$maxSteps")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val steps = (1 to maxSteps).map(i =>
      max(when(col("_rn") === i, col(seriesCol))))
    events
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= maxSteps)
      .groupBy(col(userCol))
      .agg(concat_ws(">", steps: _*).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  /** Lagged cross-correlation of two (already collapsed) time series —
    * "do purchases follow views, and by how many buckets?": for each lag
    * `k ∈ [−maxLag, maxLag]`, the Pearson correlation of `x(t)` against
    * `y(t + k)` over the buckets where both exist. The peak's lag is the
    * lead/lag estimate; returns `(lag, n, corr)`.
    *
    * The lag axis rides a literal-array explode (no join against a lag
    * table), the shifted pairing is ONE equi-join on the bucket key, and
    * each lag's correlation uses the decimal-moment linearFit discipline
    * — exact sums, pinned closed form, NULL on constant sides. Inputs
    * are collapsed series (`(t, value)`, one row per bucket), so every
    * frame is |buckets|·|lags| at most.
    */
  def crossCorrelation(
      seriesX: DataFrame,
      seriesY: DataFrame,
      maxLag: Int,
      scale: Int = 6): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    val x = seriesX.select(col("t").cast("long").as("t"),
      col("x").cast("decimal(18,6)").as("_xd"))
    val y = seriesY.select(col("t").cast("long").as("_ty"),
      col("y").cast("decimal(18,6)").as("_yd"))
    val lags = explode(array((-maxLag to maxLag).map(l => lit(l.toLong)): _*)).as("lag")
    val paired = x.select(col("t"), col("_xd"), lags)
      .withColumn("_ty", col("t") + col("lag"))
      .join(y, Seq("_ty"))
    val agg = paired.groupBy(col("lag")).agg(
      count(lit(1)).as("n"),
      sum(col("_xd")).as("_sx"), sum(col("_yd")).as("_sy"),
      sum(col("_xd") * col("_yd")).as("_sxy"),
      sum(col("_xd") * col("_xd")).as("_sxx"),
      sum(col("_yd") * col("_yd")).as("_syy"))
    val n = col("n").cast("double")
    val sx = col("_sx").cast("double"); val sy = col("_sy").cast("double")
    val sxy = col("_sxy").cast("double")
    val sxx = col("_sxx").cast("double"); val syy = col("_syy").cast("double")
    val covN = n * sxy - sx * sy
    val varXN = n * sxx - sx * sx
    val varYN = n * syy - sy * sy
    agg.select(col("lag"), col("n"),
      round(when(varXN > 0 && varYN > 0, covN / (sqrt(varXN) * sqrt(varYN))), scale)
        .as("corr"))
  }

  /** Last-n user history assembly — the `(user, [recent behavior])`
    * feature table a sequence/recommendation model trains and serves on:
    * each user's most recent `n` event types in CHRONOLOGICAL order, plus
    * their total event count. The rank cut happens BEFORE any array is
    * built (a per-user window keeps ≤n rows per user — never a
    * collect-then-slice, which would buffer whole user histories), and
    * the array is assembled by sorting `(ts, id, type)` structs — an
    * order the engine can reproduce anywhere, so the same user always
    * gets the identical history array.
    */
  def lastNHistory(
      events: DataFrame,
      n: Int,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol).desc, col(idCol).desc)
    val recent = events
      .withColumn("_rn", row_number().over(w))
      .withColumn("_total", count(lit(1)).over(Window.partitionBy(col(userCol))))
      .where(col("_rn") <= n)
    recent.groupBy(col(userCol))
      .agg(
        first(col("_total")).as("n_events_total"),
        transform(
          array_sort(collect_list(struct(
            col(tsCol).as("t"), col(idCol).as("i"), col(typeCol).as("y")))),
          x => x.getField("y")).as("history"))
  }

  /** Seasonal-naive forecast backtest (MASE numerator/denominator) — "is
    * yesterday-same-hour a better predictor than the last hour?" the
    * zero-parameter baselines every real forecast must beat, scored as
    * `mase = Σ|xₜ − xₜ₋ₛₑₐₛₒₙ| / Σ|xₜ − xₜ₋₁|` over the positions where
    * both lags exist (mase < 1 ⇔ the seasonal pattern is real). Input: a
    * DENSE regular series `(strata…, t, x)` — fill gap buckets before
    * calling or the lags silently skip them. Returns
    * `(strata…, n, sae_seasonal, sae_naive, mase)`.
    *
    * Both error sums fold decimal-cast absolute differences (order-free,
    * engine-exact off the scale-6 decimal input); the two lags ride ONE
    * window PARTITIONED by the strata — a bounded per-series sort, never
    * a global one.
    */
  def maseBacktest(
      series: DataFrame,
      season: Int,
      strataCols: Seq[String] = Nil,
      scale: Int = 6): DataFrame = {
    require(season >= 2, s"season must be >= 2, got $season")
    val gs = strataCols.map(col)
    val base = series.select(gs :+ col("t").cast("long").as("_t") :+
      round(col("x").cast("double"), 6).cast("decimal(18,6)").as("_x"): _*)
    val w = Window.partitionBy(gs: _*).orderBy(col("_t"))
    val lagged = base
      .withColumn("_xs", lag(col("_x"), season).over(w))
      .withColumn("_x1", lag(col("_x"), 1).over(w))
      .where(col("_xs").isNotNull && col("_x1").isNotNull)
    lagged.groupBy(gs: _*)
      .agg(
        count(lit(1)).as("n"),
        sum(abs(col("_x") - col("_xs"))).as("_ss"),
        sum(abs(col("_x") - col("_x1"))).as("_sn"))
      .select(gs ++ Seq(col("n"),
        round(col("_ss").cast("double"), scale).as("sae_seasonal"),
        round(col("_sn").cast("double"), scale).as("sae_naive"),
        round(when(col("_sn").cast("double") > 0,
          col("_ss").cast("double") / col("_sn").cast("double")), scale).as("mase")): _*)
  }

  /** Frequent consecutive episodes — the n-step behavioral motifs that
    * recur ANYWHERE in user streams ([[topPaths]] ranks each user's
    * single leading path; this mines every sliding window, so a motif
    * buried mid-session still surfaces). Each user's stream, ordered by
    * `(ts, id)`, yields one candidate per position via n−1 lead()s;
    * support is counted BOTH ways: `n_users` (distinct users exhibiting
    * the motif — the robust signal) and `n_occurrences` (raw frequency —
    * inflatable by one obsessive user, which is why it's the tiebreak,
    * not the rank). Returns the global `topK` as
    * `(episode, n_users, n_occurrences)`, ranked
    * `(n_users desc, n_occurrences desc, episode)` — fully deterministic.
    *
    * Scale shape: the leads ride ONE window PARTITIONED by user (the
    * sessionize discipline — never global), candidates collapse in one
    * partial-aggregated shuffle on the episode string (distinct-user
    * support via one Expand), and the cut is a TakeOrdered top-k.
    */
  def frequentEpisodes(
      events: DataFrame,
      n: Int = 3,
      topK: Int = 20,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    require(n >= 2 && n <= 8, s"episode length must be in [2, 8], got $n")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val steps = (1 until n).map(i => lead(col(typeCol), i).over(w).as(s"_t$i"))
    val withLeads = events.select(
      col(userCol).as("_u") +: col(typeCol).as("_t0") +: steps: _*)
    val full = (1 until n).map(i => col(s"_t$i").isNotNull).reduce(_ && _)
    val eps = withLeads.where(full)
      .select(col("_u"),
        concat_ws(">", (0 until n).map(i => col(s"_t$i")): _*).as("episode"))
    eps.groupBy(col("episode"))
      .agg(countDistinct(col("_u")).as("n_users"), count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_users").desc, col("n_occurrences").desc, col("episode"))
      .limit(topK)
  }

  /** Sample autocorrelation function — "does this hour predict the next
    * hour? the same hour tomorrow?" — the textbook estimator
    * `r_k = Σ_t (x_t − x̄)(x_{t+k} − x̄) / Σ_t (x_t − x̄)²` with the GLOBAL
    * mean and variance in the denominator (so r decays with lag and
    * |r_k| ≤ 1; [[crossCorrelation]] of a series with itself instead
    * renormalizes per lag — a different, windowed question). Input: a
    * regular series `(t, x)` on a contiguous integer time axis — fill
    * gap buckets with 0 (or the series mean) BEFORE calling, or the lag
    * pairing silently skips them. Returns `(lag, n_pairs, acf)` for lags
    * 0..maxLag (lag 0 is exactly 1.0 — the built-in sanity row).
    *
    * Determinism: x is decimal-cast at scale 6, every per-lag aggregate
    * (ΣxᵗxᵗᵏΣ, pair sums) and the global moments are EXACT decimal sums;
    * the closed form clears the rational mean by n²
    * (`num = n²·C_k − n·S₁·P_k + m_k·S₁²`, `den = n²·S₂ − n·S₁²`) and
    * evaluates it as a fixed scalar IEEE expression off those exact
    * inputs — engine-portable, partitioning-free.
    *
    * Scale shape: one self equi-join on the shifted time key (the series
    * is already collapsed to |buckets| rows — the [[crossCorrelation]]
    * contract), one partial-aggregated |lags|-row fold, one scalar
    * attach.
    */
  def autocorrelation(
      series: DataFrame,
      maxLag: Int,
      scale: Int = 6): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    val x = graft.Caches.track(
      series.select(col("t").cast("long").as("t"),
        col("x").cast("decimal(18,6)").as("_xd")))
    val tot = x.agg(
      count(lit(1)).as("_n"),
      sum(col("_xd")).as("_s1"),
      sum(col("_xd") * col("_xd")).as("_s2"))
    val lags = explode(array((0 to maxLag).map(l => lit(l.toLong)): _*)).as("lag")
    val paired = x.select(col("t"), col("_xd"), lags)
      .withColumn("_tk", col("t") + col("lag"))
      .join(x.select(col("t").as("_tk"), col("_xd").as("_xk")), Seq("_tk"))
    val perLag = paired.groupBy(col("lag")).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("_xd") * col("_xk")).as("_ck"),
      sum(col("_xd") + col("_xk")).as("_pk"))
    val n = col("_n").cast("double")
    val s1 = col("_s1").cast("double"); val s2 = col("_s2").cast("double")
    val ck = col("_ck").cast("double"); val pk = col("_pk").cast("double")
    val m = col("n_pairs").cast("double")
    val num = n * n * ck - n * s1 * pk + m * s1 * s1
    val den = n * n * s2 - n * s1 * s1
    perLag.crossJoin(broadcast(tot))
      .select(col("lag"), col("n_pairs"),
        round(when(den > 0, num / den), scale).as("acf"))
      .orderBy(col("lag"))
  }

  /** Kaplan–Meier survival curve — the censoring-aware retention/churn
    * estimator (plain "fraction still active at t" is WRONG when users
    * joined at different times: the late joiners aren't churned, they're
    * censored). Input: one observation per subject with `duration` and
    * `event` (true = the event happened, false = censored at that
    * duration). Returns one row per distinct duration
    * `(t, n_risk, n_events, n_censored, survival)` with
    * `S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ)`.
    *
    * Scale shape: subjects collapse FIRST to per-duration counts (one
    * partial-agg shuffle, output bounded by |distinct durations|); the
    * at-risk counts are one cumulative window over that collapsed frame,
    * and the product recurrence — inherently sequential — runs as one
    * sorted-partition fold (the cusum discipline: legitimate only
    * because the frame is the collapsed time axis, never subjects).
    * Each step is the same IEEE arithmetic in the same order in any
    * engine, so the curve is reproducible bit for bit.
    *
    * CONTRACT — the time axis must be coarse: every downstream window
    * and the sequential fold run over |distinct durations| rows, so the
    * estimator is scale-safe only when durations are integral and
    * bounded (days, weeks, billing periods). Continuous or
    * high-resolution durations (ms/ns timestamps) must pre-bin via
    * [[survivalPartials]] and read the curve from
    * [[kaplanMeierFromState]] — the standard actuarial/life-table
    * coarsening, and the only shape whose state stays bounded at 100 TB.
    */
  def kaplanMeier(
      df: DataFrame,
      duration: Column,
      event: Column,
      scale: Int = 6): DataFrame = {
    val d = df.select(duration.cast("long").as("t"), event.cast("boolean").as("e"))
      .where(col("t").isNotNull && col("e").isNotNull)
    val g = d.groupBy(col("t")).agg(
      sum(when(col("e"), 1L).otherwise(0L)).as("d"),
      sum(when(!col("e"), 1L).otherwise(0L)).as("c"))
    kmCore(g, scale)
  }

  /** Mergeable survival STATE: per-duration-bin event/censor counts —
    * the q228/q229 `FromState` discipline applied to the survival
    * family. `bin = floor(duration / binWidth)` (the life-table
    * coarsening: every subject in a bin is treated as reaching the
    * bin's time), one row per non-empty bin, combinable across batches /
    * days / shards by plain summation ([[survivalMerge]]). Feed the
    * merged state to [[kaplanMeierFromState]] / [[logRankFromStates]];
    * every statistic then reads ≤|bins| rows no matter the corpus size.
    * One partial-aggregated shuffle; output bounded by the bin grid.
    */
  def survivalPartials(
      df: DataFrame,
      duration: Column,
      event: Column,
      binWidth: Long = 1L): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    df.select((duration.cast("long") / lit(binWidth)).cast("long").as("bin"),
        event.cast("boolean").as("e"))
      .where(col("bin").isNotNull && col("e").isNotNull)
      .groupBy(col("bin")).agg(
        sum(when(col("e"), 1L).otherwise(0L)).as("n_events"),
        sum(when(!col("e"), 1L).otherwise(0L)).as("n_censored"))
  }

  /** Merge [[survivalPartials]] states (batches, shards, days) by
    * summation — the additive-state property that makes the survival
    * family streamable and incrementally maintainable. */
  def survivalMerge(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "survivalMerge needs at least one partial state")
    parts.reduce(_ unionByName _).groupBy(col("bin")).agg(
      sum(col("n_events")).as("n_events"),
      sum(col("n_censored")).as("n_censored"))
  }

  /** The competing-risks analogue of [[survivalPartials]]: collapse
    * subjects to `(bin, cause, n)` cells where `cause` is the event type
    * that ENDED the subject's observation (NULL ⇔ censored) — the
    * additive, mergeable state behind [[cumulativeIncidenceFromState]].
    * Same coarse-bin contract: one partial-agg shuffle, ≤|bins|·|causes|
    * rows regardless of corpus size.
    */
  def competingPartials(
      df: DataFrame,
      duration: Column,
      cause: Column,
      binWidth: Long = 1L): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    df.select((duration.cast("long") / lit(binWidth)).cast("long").as("bin"),
        cause.cast("string").as("cause"))
      .where(col("bin").isNotNull)
      .groupBy(col("bin"), col("cause")).agg(count(lit(1)).as("n"))
  }

  /** Merge [[competingPartials]] states by summation (the
    * [[survivalMerge]] property with the cause key along for the ride). */
  def competingMerge(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "competingMerge needs at least one partial state")
    parts.reduce(_ unionByName _).groupBy(col("bin"), col("cause"))
      .agg(sum(col("n")).as("n"))
  }

  /** Aalen–Johansen cumulative incidence from a (merged)
    * [[competingPartials]] state — the competing-risks curve the
    * Kaplan–Meier CANNOT give: when several event types compete (first
    * purchase vs first churn; dedup-drop vs quality-drop), 1−KM of one
    * cause treats the others as censoring and OVERSTATES every risk.
    * The CIF is the honest decomposition:
    * `CIF_k(t) = Σ_{t'≤ t} Ŝ(t'−)·d_k(t')/n(t')` with `Ŝ` the ALL-CAUSE
    * KM — so `Σ_k CIF_k(t) = 1 − Ŝ(t)` exactly (spec-pinned identity).
    *
    * Returns one row per (event bin, cause) — the step-curve's corners:
    * `(t, cause, n_risk, n_events, cif)`; bins where a cause had no
    * events inherit the previous corner (no grid densification, so the
    * frame is |event cells| rows and the plan needs no cross join).
    *
    * Determinism (the [[rmst]] discipline): increments ride the ROUNDED
    * published Ŝ(t−) (a reader integrating the published KM must get
    * this CIF), each increment is rounded at 12dp and summed as exact
    * DECIMAL per cause — the one sequential IEEE fold is the all-cause
    * KM product itself, oracle-replayed by the recursive-CTE pattern.
    *
    * Scale shape: [[kaplanMeierFromState]]'s — every window, the product
    * fold, and the per-cause cumulative sums run over ≤|bins| (resp.
    * ≤|bins|·|causes|) rows; the corpus only ever passes through the ONE
    * [[competingPartials]] shuffle.
    */
  def cumulativeIncidenceFromState(state: DataFrame, scale: Int = 6): DataFrame = {
    val st = graft.Caches.track(
      state.select(col("bin").cast("long").as("t"),
        col("cause").cast("string").as("cause"), col("n").cast("long").as("n")))
    val g = st.groupBy(col("t")).agg(
      sum(when(col("cause").isNotNull, col("n")).otherwise(0L)).as("d"),
      sum(when(col("cause").isNull, col("n")).otherwise(0L)).as("c"))
    val wPrior = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    val withRisk = g
      .withColumn("_prior", coalesce(sum(col("d") + col("c")).over(wPrior), lit(0L)))
      .withColumn("_nt", sum(col("d") + col("c")).over(wAll))
      .withColumn("n_risk", col("_nt") - col("_prior"))
      .select(col("t"), col("n_risk"), col("d"))
    val axis = withLaggedKm(withRisk, "n_risk", "d")
      .select(col("t"), col("n_risk"), round(col("_sp"), scale).as("_sp"))
    val ev = st.where(col("cause").isNotNull)
      .groupBy(col("t"), col("cause")).agg(sum(col("n")).as("n_events"))
    val w = Window.partitionBy(col("cause")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ev.join(axis, Seq("t"))
      .withColumn("_i",
        round(col("_sp") * col("n_events") / col("n_risk"), 12).cast("decimal(38,12)"))
      .select(col("t"), col("cause"), col("n_risk"), col("n_events"),
        round(sum(col("_i")).over(w).cast("double"), scale).as("cif"))
  }

  /** Appends the LAGGED pooled-KM product `_sp = Π_{t' < t}(1 − d/n)` to
    * an already-collapsed event-time frame (one row per event time; other
    * columns ride along): the ONE sequential IEEE fold the CIF and
    * Fleming–Harrington faces share — a single-partition ascending-t
    * sweep, emit-then-update, oracle-replayed by the recursive-CTE
    * pattern. `nCol`/`dCol` must be LONG at-risk / event-count columns.
    */
  private def withLaggedKm(df: DataFrame, nCol: String, dCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartition(1).sortWithinPartitions(col("t"))
    val nIdx = sorted.schema.fieldIndex(nCol)
    val dIdx = sorted.schema.fieldIndex(dCol)
    val sch = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "_sp", org.apache.spark.sql.types.DoubleType))
    val rows = sorted.rdd.mapPartitions { it =>
      var s = 1.0
      it.map { r =>
        val n = r.getLong(nIdx)
        val d = r.getLong(dIdx)
        val out = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ s)
        if (n > 0) s = s * (1.0 - d.toDouble / n)
        out
      }
    }
    spark.createDataFrame(rows, sch)
  }

  /** [[cumulativeIncidenceFromState]] straight off subject rows —
    * `cause` NULL ⇔ censored, any other value is a competing event type. */
  def cumulativeIncidence(
      df: DataFrame,
      duration: Column,
      cause: Column,
      binWidth: Long = 1L,
      scale: Int = 6): DataFrame =
    cumulativeIncidenceFromState(competingPartials(df, duration, cause, binWidth), scale)

  /** Kaplan–Meier curve served from a (merged) [[survivalPartials]]
    * state: identical estimator to [[kaplanMeier]] with the bin index as
    * the time axis — the corpus-scale face for continuous durations,
    * where the raw-duration estimator's |distinct durations| state would
    * be unbounded. Returns `(t, n_risk, n_events, n_censored, survival)`
    * with `t` = bin index; every window and the product fold run over
    * ≤|bins| rows.
    */
  def kaplanMeierFromState(state: DataFrame, scale: Int = 6): DataFrame =
    kmCore(
      state.select(col("bin").cast("long").as("t"),
        col("n_events").cast("long").as("d"),
        col("n_censored").cast("long").as("c")),
      scale)

  /** The KM machinery over an already-collapsed `(t, d, c)` time axis:
    * at-risk counts via the bounded prior-window, then the sequential
    * survival product as one sorted single-partition fold (legitimate
    * only because the input is the collapsed time axis, never
    * subjects). */
  private def kmCore(g: DataFrame, scale: Int): DataFrame = {
    val spark = g.sparkSession
    val wPrior = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    val withRisk = g
      .withColumn("_prior", coalesce(sum(col("d") + col("c")).over(wPrior), lit(0L)))
      .withColumn("_nt", sum(col("d") + col("c")).over(wAll))
      .withColumn("n_risk", col("_nt") - col("_prior"))
      .select(col("t"), col("n_risk"), col("d"), col("c"))
      .repartition(1)
      .sortWithinPartitions(col("t"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_risk", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_events", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_censored", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_s", org.apache.spark.sql.types.DoubleType)))
    val rows = withRisk.rdd.mapPartitions { it =>
      var s = 1.0
      it.map { r =>
        val nRisk = r.getLong(1)
        val dEv = r.getLong(2)
        s = s * (1.0 - dEv.toDouble / nRisk)
        org.apache.spark.sql.Row(r.getLong(0), nRisk, dEv, r.getLong(3), s)
      }
    }
    spark.createDataFrame(rows, outSchema)
      .select(col("t"), col("n_risk"), col("n_events"), col("n_censored"),
        round(col("_s"), scale).as("survival"))
  }

  /** Restricted mean survival time — the AREA under the [[kaplanMeier]]
    * curve up to a pre-specified horizon τ: "how many of the next τ days
    * does the average subject survive?" — the effect-size reading of a
    * survival curve that median-survival can't give when the curve never
    * crosses 0.5 (low churn) and a hazard ratio can't give without the
    * proportional-hazards leap of faith.
    * `RMST = Σᵢ S(tᵢ₋₁)·(tᵢ − tᵢ₋₁) + S(t_last)·(τ − t_last)` over event
    * times ≤ τ, with S = 1 before the first. One row `(tau, n, rmst)`.
    *
    * Determinism: rides the KM curve's ROUNDED survival values (the
    * curve is the published artifact — an area off unrounded internals
    * would disagree with integrating the curve a reader sees); segment
    * widths are exact longs; the products decimal-cast before the fold.
    *
    * Scale shape: [[kaplanMeier]]'s collapse-first discipline; the lag
    * window runs over the ≤|distinct durations| collapsed curve (the
    * bounded-window allowlist class).
    */
  def rmst(
      df: DataFrame,
      duration: Column,
      event: Column,
      tau: Long,
      scale: Int = 6): DataFrame = {
    require(tau > 0, s"tau must be > 0, got $tau")
    val curve = graft.Caches.track(kaplanMeier(df, duration, event, scale))
    val n = curve.agg(coalesce(max(col("n_risk")), lit(0L)).as("n"))
    val cr = curve.select(col("t"), col("survival")).where(col("t") <= tau)
    val w = Window.orderBy(col("t"))
    val seg = cr
      .withColumn("_tp", coalesce(lag(col("t"), 1).over(w), lit(0L)))
      .withColumn("_sp", coalesce(lag(col("survival"), 1).over(w), lit(1.0)))
    val area = seg.agg(
      coalesce(sum((col("_sp") * (col("t") - col("_tp")).cast("double"))
        .cast("decimal(38,12)")), lit(0.0).cast("decimal(38,12)")).as("_a"),
      // the tail segment: the LAST pre-τ state carries to the horizon
      coalesce(max(struct(col("t"), col("survival"))).getField("survival"),
        lit(1.0)).as("_sLast"),
      coalesce(max(col("t")), lit(0L)).as("_tLast"))
    n.crossJoin(broadcast(area))
      .select(lit(tau).as("tau"), col("n"),
        round(col("_a").cast("double") +
          col("_sLast") * (lit(tau) - col("_tLast")).cast("double"), scale)
          .as("rmst"))
  }

  /** Nelson–Aalen cumulative hazard — [[kaplanMeier]]'s additive twin:
    * instead of the survival product `Π(1 − dᵢ/nᵢ)` it accumulates the
    * hazard SUM `H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ`, the estimator whose slope is
    * readable as an instantaneous event rate (flat = nobody churning,
    * steepening = accelerating churn) and whose variance behaves better
    * than −ln S(t) at small risk sets. Same input contract as
    * [[kaplanMeier]]: one row per subject, `(duration, event)`. Returns
    * `(t, n_risk, n_events, n_censored, hazard, cum_hazard)`.
    *
    * Scale shape: subjects collapse FIRST to the |distinct duration|
    * frame (one partial-agg shuffle); the at-risk count and the hazard
    * cumulative are windows over that bounded collapsed time axis (the
    * [[kaplanMeier]] / cusum allowlist shape — never a window over
    * subjects). Each per-time hazard dᵢ/nᵢ is rounded to `scale` and
    * decimal-cast before the cumulative sum, so the running total is
    * partitioning- and engine-exact.
    *
    * CONTRACT — same coarse-time-axis requirement as [[kaplanMeier]]:
    * continuous durations must pre-bin ([[survivalPartials]]; the
    * cumulative hazard over bins is the life-table hazard).
    */
  def nelsonAalen(
      df: DataFrame,
      duration: Column,
      event: Column,
      scale: Int = 6): DataFrame = {
    val d = df.select(duration.cast("long").as("t"), event.cast("boolean").as("e"))
      .where(col("t").isNotNull && col("e").isNotNull)
    val g = d.groupBy(col("t")).agg(
      sum(when(col("e"), 1L).otherwise(0L)).as("d"),
      sum(when(!col("e"), 1L).otherwise(0L)).as("c"))
    naCore(g, scale)
  }

  /** Nelson–Aalen cumulative hazard served from a (merged)
    * [[survivalPartials]] state — the additive leg of the FromState
    * survival family next to [[kaplanMeierFromState]] /
    * [[logRankFromStates]] / [[coxFromStates]]: same estimator with the
    * bin index as the time axis, every window over ≤|bins| rows. */
  def nelsonAalenFromState(state: DataFrame, scale: Int = 6): DataFrame =
    naCore(
      state.select(col("bin").cast("long").as("t"),
        col("n_events").cast("long").as("d"),
        col("n_censored").cast("long").as("c")),
      scale)

  private def naCore(g: DataFrame, scale: Int): DataFrame = {
    val wPrior = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    g.withColumn("_prior", coalesce(sum(col("d") + col("c")).over(wPrior), lit(0L)))
      .withColumn("_nt", sum(col("d") + col("c")).over(wAll))
      .withColumn("n_risk", col("_nt") - col("_prior"))
      .withColumn("_h",
        round(col("d").cast("double") / col("n_risk"), scale).cast("decimal(18,6)"))
      .select(col("t"), col("n_risk"), col("d").as("n_events"), col("c").as("n_censored"),
        col("_h").cast("double").as("hazard"),
        sum(col("_h")).over(wCum).cast("double").as("cum_hazard"))
  }

  /** Linear multi-touch attribution: every touch inside the lookback
    * window before a conversion shares the credit EQUALLY (1/n per touch)
    * — the fairness-baseline complement of last-touch attribution, and the
    * shape that generalizes to position-weighted models (swap the 1/n for
    * any per-rank weight). Returns `(channel, n_touches, credit)` where
    * `credit` sums each touch's exact-rational `1/n` share,
    * decimal-cast before the sum so partitioning cannot move totals.
    *
    * Scale shape: conversions ⋈ touches is a per-user equi-join with a
    * time-range residual (the interval-join discipline — one user-key
    * shuffle, windows bound the per-user blowup); the per-conversion touch
    * count is a partial aggregate on the conversion id, re-attached by one
    * slim join.
    */
  def linearAttribution(
      events: DataFrame,
      touchTypes: Seq[String],
      convType: String,
      windowTs: Long,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      idCol: String = "event_id",
      scale: Int = 6): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(windowTs > 0, s"windowTs must be positive, got $windowTs")
    val conv = events.where(col(typeCol) === convType)
      .select(col(userCol).as("_u"), col(tsCol).as("_ct"), col(idCol).as("_cid"))
    val touch = events.where(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("_u"), col(typeCol).as("_tt"), col(tsCol).as("_tts"))
    val pairs = conv.join(touch, Seq("_u"))
      .where(col("_tts") < col("_ct") && col("_tts") >= col("_ct") - lit(windowTs))
    val n = pairs.groupBy(col("_cid")).agg(count(lit(1)).as("_nt"))
    pairs.join(n, Seq("_cid"))
      .withColumn("_credit", lit(1.0) / col("_nt"))
      .groupBy(col("_tt").as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("_credit").cast("decimal(38,12)")).cast("double"), scale)
          .as("credit"))
  }

  /** Tabular CUSUM change-point scores over an (already collapsed) series:
    * `cusum_pos/neg` accumulate deviations beyond the slack `k` from the
    * series' own exact mean, reset at zero, and `alarm` fires where either
    * exceeds `h` — the classic sequential drift detector that catches
    * SMALL persistent shifts a per-point z-score never sees (complement of
    * the spike-oriented anomaly monitor). Returns
    * `(t, x, cusum_pos, cusum_neg, alarm)` in series order.
    *
    * The recurrence `S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ − μ − k))` is inherently
    * sequential, so this runs as ONE sorted-partition pass — sound here
    * and only here because the input is a COLLAPSED series (hourly/daily
    * buckets: 10⁴ rows for a year of hours, bounded at any corpus scale),
    * never raw events; collapse first, like the q103 time-series shape.
    * μ is an exact decimal mean; each step is the same IEEE arithmetic in
    * series order in every engine, so scores are reproducible bit for bit.
    */
  def cusum(
      series: DataFrame,
      tsCol: Column,
      valueCol: Column,
      k: Double,
      h: Double,
      scale: Int = 6): DataFrame = {
    require(k >= 0.0, s"slack k must be >= 0, got $k")
    require(h > 0.0, s"alarm threshold h must be > 0, got $h")
    val spark = series.sparkSession
    val d = series.select(tsCol.cast("long").as("t"), valueCol.cast("double").as("x"))
    val tot = d.agg(
      sum(col("x").cast("decimal(38,6)")).as("_s"), count(lit(1)).as("_n"))
    val sorted = d.crossJoin(broadcast(tot))
      .withColumn("_mu", col("_s").cast("double") / col("_n"))
      .select(col("t"), col("x"), col("_mu"))
      .repartition(1)
      .sortWithinPartitions(col("t"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("_sp", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("_sn", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("alarm", org.apache.spark.sql.types.BooleanType)))
    val rows = sorted.rdd.mapPartitions { it =>
      var sp = 0.0
      var sn = 0.0
      it.map { r =>
        val x = r.getDouble(1)
        val mu = r.getDouble(2)
        sp = math.max(0.0, sp + (x - mu - k))
        sn = math.max(0.0, sn + (mu - x - k))
        org.apache.spark.sql.Row(r.getLong(0), x, sp, sn, sp > h || sn > h)
      }
    }
    spark.createDataFrame(rows, outSchema)
      .select(col("t"), col("x"),
        round(col("_sp"), scale).as("cusum_pos"),
        round(col("_sn"), scale).as("cusum_neg"), col("alarm"))
  }

  /** Holt linear-trend (double exponential) smoothing over an (already
    * collapsed) series — the level+trend tracker a plain EWMA can't be:
    * `ℓₜ = α·xₜ + (1−α)(ℓₜ₋₁+bₜ₋₁)`, `bₜ = β(ℓₜ−ℓₜ₋₁) + (1−β)bₜ₋₁`,
    * initialized `ℓ₁ = x₁, b₁ = 0` (documented convention). Returns
    * `(t, x, level, trend, forecast)` in series order, `forecast` the
    * 1-step-ahead prediction `ℓₜ₋₁ + bₜ₋₁` (NULL at the first point) —
    * subtract it from `x` for the residual a control chart consumes.
    *
    * The recurrence is inherently sequential, so this is the [[cusum]]
    * class: ONE sorted-partition pass, sound only because the input is a
    * COLLAPSED series (bounded buckets, never raw events). Each step is
    * the same IEEE arithmetic in series order in any engine — an oracle
    * replays it with an ordered recursion; pick α/β with exact binary
    * representations (½, ¼, ⅛) and even the literals carry no
    * representation slack.
    */
  def holtLinear(
      series: DataFrame,
      tsCol: Column,
      valueCol: Column,
      alpha: Double = 0.5,
      beta: Double = 0.25,
      scale: Int = 6): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(beta >= 0.0 && beta <= 1.0, s"beta must be in [0,1], got $beta")
    val spark = series.sparkSession
    val sorted = series.select(tsCol.cast("long").as("t"), valueCol.cast("double").as("x"))
      // null t/x rows carry no observation and would NPE inside the fold
      // (r.getDouble on a null) — filter first, like cusum/kaplanMeier
      .where(col("t").isNotNull && col("x").isNotNull)
      .repartition(1)
      .sortWithinPartitions(col("t"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("_l", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("_b", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("_f", org.apache.spark.sql.types.DoubleType, nullable = true)))
    val rows = sorted.rdd.mapPartitions { it =>
      var l = 0.0; var b = 0.0; var first = true
      it.map { r =>
        val x = r.getDouble(1)
        val f: Any =
          if (first) { l = x; b = 0.0; first = false; null }
          else {
            val fc = l + b
            val l2 = alpha * x + (1 - alpha) * (l + b)
            b = beta * (l2 - l) + (1 - beta) * b
            l = l2
            fc
          }
        org.apache.spark.sql.Row(r.getLong(0), x, l, b, f)
      }
    }
    spark.createDataFrame(rows, outSchema)
      .select(col("t"), col("x"),
        round(col("_l"), scale).as("level"),
        round(col("_b"), scale).as("trend"),
        round(col("_f"), scale).as("forecast"))
  }

  /** RFM segmentation — recency / frequency / monetary quartile scores per
    * actor, the classic value-segmentation grid (and, for corpus work, the
    * "recently active, prolific, high-value contributor" facet of source
    * scoring). Per `user`: `recency = max(ts)`, `frequency = count`,
    * `monetary = round(Σ amount, 2)` (round-before-rank — an ulp of float
    * summation must not flip a bin), then three equal-frequency `ntile`
    * bins 0..bins−1, each tie-broken by the user id so the assignment is
    * exact and engine-portable (the q107 ntile discipline). Pass a NUMERIC
    * `ts` (e.g. `unix_micros`) — raw timestamp columns differ in physical
    * representation across engines.
    *
    * Scale shape: the event stream collapses to one row per user in a
    * single partial-aggregated shuffle BEFORE any ordering; the three
    * global ntiles then ride [[graft.ops.Stats.globalNtile]]'s
    * range-partition prefix-sum rank — the |users| frame is itself
    * corpus-sized at scale, so it never collapses into one partition.
    */
  def rfm(
      df: DataFrame,
      user: Column,
      ts: Column,
      amount: Column,
      bins: Int = 4): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    // tracked: the event-stream aggregate feeds the first prefix-sum's
    // sample + sums jobs (later passes derive from each other's caches)
    val base = graft.Caches.track(df.groupBy(user.as("user_id"))
      .agg(max(ts).as("recency"), count(lit(1)).as("frequency"),
        round(sum(amount), 2).as("monetary")))
    // three GLOBAL ntiles over the |users| frame: each rides the
    // globalNtile prefix-sum rank — the collapsed actor frame is still
    // corpus-sized at scale, so no single-partition rank window
    Seq("recency" -> "r_bin", "frequency" -> "f_bin", "monetary" -> "m_bin")
      .foldLeft(base) { case (acc, (v, out)) =>
        graft.ops.Stats.globalNtile(acc, bins, Seq(col(v), col("user_id")), out)
      }
  }

  /** Log-rank (Mantel–Cox) test — the survival-curve A/B: "does arm A
    * genuinely retain longer than arm B?" asked the censoring-honest way
    * ([[kaplanMeier]] draws the two curves; this says whether their gap
    * beats chance). At every distinct EVENT time the observed arm-A
    * events are compared against the hypergeometric expectation given
    * the at-risk sets: `z = Σ(O₁ⱼ − E₁ⱼ) / √ΣVⱼ` with
    * `E₁ⱼ = dⱼ·n₁ⱼ/nⱼ` and
    * `Vⱼ = dⱼ·(n₁ⱼ/nⱼ)·(n₀ⱼ/nⱼ)·(nⱼ−dⱼ)/(nⱼ−1)` (0 at nⱼ ≤ 1).
    * Input: one row per subject `(duration, event, arm)` — the
    * [[kaplanMeier]] contract plus a boolean arm. Returns one row
    * `(n_a, n_b, events_a, events_b, o_minus_e, var_o, z)`; NULL z when
    * the variance is 0 (no comparable event times).
    *
    * Scale shape: subjects collapse FIRST to per-duration per-arm counts
    * (one partial-agg shuffle, |distinct durations| rows); the at-risk
    * counts are the [[kaplanMeier]] windows over that bounded collapsed
    * axis; per-time O−E and V are pinned scalar IEEE off exact longs,
    * decimal-summed order-free.
    *
    * CONTRACT — same coarse-time-axis requirement as [[kaplanMeier]]:
    * cost and window state scale with |distinct durations|. Continuous
    * durations must pre-bin per arm via [[survivalPartials]] and test
    * through [[logRankFromStates]] (the life-table coarsening: the
    * hypergeometric O−E then compares bins, which is the standard
    * grouped log-rank).
    */
  def logRankTest(
      df: DataFrame,
      duration: Column,
      event: Column,
      arm: Column,
      scale: Int = 6): DataFrame = {
    val d = df.select(duration.cast("long").as("t"), event.cast("boolean").as("e"),
        arm.cast("boolean").as("a"))
      .where(col("t").isNotNull && col("e").isNotNull && col("a").isNotNull)
    val g = d.groupBy(col("t")).agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("r1"),
      sum(when(!col("a"), 1L).otherwise(0L)).as("r0"),
      sum(when(col("a") && col("e"), 1L).otherwise(0L)).as("d1"),
      sum(when(!col("a") && col("e"), 1L).otherwise(0L)).as("d0"))
    logRankCore(g, scale)
  }

  /** Log-rank test served from two (merged) [[survivalPartials]] states —
    * arm A and arm B each pre-binned to `(bin, n_events, n_censored)`:
    * the corpus-scale face of [[logRankTest]] (the grouped/life-table
    * log-rank over the bin axis). Identical statistic machinery; every
    * window reads ≤|bins| rows, and the states merge additively across
    * batches, so the A/B monitor is incrementally maintainable.
    */
  def logRankFromStates(
      stateA: DataFrame,
      stateB: DataFrame,
      scale: Int = 6): DataFrame = {
    val a = stateA.select(col("bin").cast("long").as("t"),
      (col("n_events") + col("n_censored")).cast("long").as("r1"),
      col("n_events").cast("long").as("d1"))
    val b = stateB.select(col("bin").cast("long").as("t"),
      (col("n_events") + col("n_censored")).cast("long").as("r0"),
      col("n_events").cast("long").as("d0"))
    val g = a.join(b, Seq("t"), "full")
      .select(col("t"),
        coalesce(col("r1"), lit(0L)).as("r1"),
        coalesce(col("r0"), lit(0L)).as("r0"),
        coalesce(col("d1"), lit(0L)).as("d1"),
        coalesce(col("d0"), lit(0L)).as("d0"))
    logRankCore(g, scale)
  }

  /** Gehan–Breslow–Wilcoxon test — the weighted log-rank that weights
    * each event time by the at-risk count `nⱼ`, so EARLY differences
    * (where nⱼ is large) dominate: the survival A/B for "does arm A
    * churn less in the first weeks", where the unweighted [[logRankTest]]
    * treats a day-1 and a day-300 gap equally (and is the more powerful
    * test under proportional hazards — run both, disagreement means the
    * curves CROSS). Same input contract and output schema as
    * [[logRankTest]]: `(n_a, n_b, events_a, events_b, o_minus_e, var_o,
    * z)` with `o_minus_e = Σnⱼ(O₁ⱼ−E₁ⱼ)` and `var_o = Σnⱼ²Vⱼ`. Same
    * collapse-first scale shape; same coarse-time-axis contract
    * ([[gehanWilcoxonFromStates]] is the binned face).
    */
  def gehanWilcoxonTest(
      df: DataFrame,
      duration: Column,
      event: Column,
      arm: Column,
      scale: Int = 6): DataFrame = {
    val d = df.select(duration.cast("long").as("t"), event.cast("boolean").as("e"),
        arm.cast("boolean").as("a"))
      .where(col("t").isNotNull && col("e").isNotNull && col("a").isNotNull)
    val g = d.groupBy(col("t")).agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("r1"),
      sum(when(!col("a"), 1L).otherwise(0L)).as("r0"),
      sum(when(col("a") && col("e"), 1L).otherwise(0L)).as("d1"),
      sum(when(!col("a") && col("e"), 1L).otherwise(0L)).as("d0"))
    logRankCore(g, scale, gehan = true)
  }

  /** [[gehanWilcoxonTest]] served from two (merged) [[survivalPartials]]
    * states — the corpus-scale binned face, like [[logRankFromStates]]. */
  def gehanWilcoxonFromStates(
      stateA: DataFrame,
      stateB: DataFrame,
      scale: Int = 6): DataFrame = {
    val a = stateA.select(col("bin").cast("long").as("t"),
      (col("n_events") + col("n_censored")).cast("long").as("r1"),
      col("n_events").cast("long").as("d1"))
    val b = stateB.select(col("bin").cast("long").as("t"),
      (col("n_events") + col("n_censored")).cast("long").as("r0"),
      col("n_events").cast("long").as("d0"))
    val g = a.join(b, Seq("t"), "full")
      .select(col("t"),
        coalesce(col("r1"), lit(0L)).as("r1"),
        coalesce(col("r0"), lit(0L)).as("r0"),
        coalesce(col("d1"), lit(0L)).as("d1"),
        coalesce(col("d0"), lit(0L)).as("d0"))
    logRankCore(g, scale, gehan = true)
  }

  /** Fleming–Harrington G(ρ,γ) weighted log-rank — the tunable member of
    * the weighted-log-rank family: each event time's O−E is weighted by
    * `w = Ŝ(t−)^ρ · (1−Ŝ(t−))^γ` with `Ŝ` the POOLED Kaplan–Meier lagged
    * one event time. ρ=γ=0 IS the log-rank (spec-pinned exact — w ≡ 1
    * leaves the [[logRankCore]] arithmetic bit-identical); ρ>0 up-weights
    * EARLY differences (like [[gehanWilcoxonTest]] but bounded weights),
    * γ>0 up-weights LATE ones — the test to pre-register when the effect
    * is expected to emerge after a delay (onboarding changes, long-term
    * retention). Output: `(n_a, n_b, events_a, events_b, rho, gamma,
    * o_minus_e, var_o, z)`.
    *
    * Determinism (the [[cumulativeIncidenceFromState]] discipline): the
    * weight rides the ROUNDED published Ŝ(t−); the only sequential IEEE
    * fold is the pooled KM product (oracle-replayed by the recursive-CTE
    * pattern); weighted O−E / V terms decimal-sum order-free. With
    * integer ρ/γ the weight is plain multiplication in both engines —
    * fractional exponents ride `pow`, whose cross-engine ulp is not
    * pinned (keep registry faces on integer exponents).
    *
    * Same collapse-first scale shape and coarse-time-axis contract as
    * [[logRankTest]] / [[logRankFromStates]].
    */
  def flemingHarringtonTest(
      df: DataFrame,
      duration: Column,
      event: Column,
      arm: Column,
      rho: Double,
      gamma: Double,
      scale: Int = 6): DataFrame = {
    val d = df.select(duration.cast("long").as("t"), event.cast("boolean").as("e"),
        arm.cast("boolean").as("a"))
      .where(col("t").isNotNull && col("e").isNotNull && col("a").isNotNull)
    val g = d.groupBy(col("t")).agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("r1"),
      sum(when(!col("a"), 1L).otherwise(0L)).as("r0"),
      sum(when(col("a") && col("e"), 1L).otherwise(0L)).as("d1"),
      sum(when(!col("a") && col("e"), 1L).otherwise(0L)).as("d0"))
    fhCore(g, rho, gamma, scale)
  }

  /** [[flemingHarringtonTest]] served from two (merged)
    * [[survivalPartials]] states — the corpus-scale binned face, like
    * [[logRankFromStates]]. */
  def flemingHarringtonFromStates(
      stateA: DataFrame,
      stateB: DataFrame,
      rho: Double,
      gamma: Double,
      scale: Int = 6): DataFrame = {
    val a = stateA.select(col("bin").cast("long").as("t"),
      (col("n_events") + col("n_censored")).cast("long").as("r1"),
      col("n_events").cast("long").as("d1"))
    val b = stateB.select(col("bin").cast("long").as("t"),
      (col("n_events") + col("n_censored")).cast("long").as("r0"),
      col("n_events").cast("long").as("d0"))
    val g = a.join(b, Seq("t"), "full")
      .select(col("t"),
        coalesce(col("r1"), lit(0L)).as("r1"),
        coalesce(col("r0"), lit(0L)).as("r0"),
        coalesce(col("d1"), lit(0L)).as("d1"),
        coalesce(col("d0"), lit(0L)).as("d0"))
    fhCore(g, rho, gamma, scale)
  }

  /** The G(ρ,γ) machinery over the collapsed `(t, r1, r0, d1, d0)` frame:
    * [[logRankCore]]'s windows + one sequential pooled-KM sweep emitting
    * the LAGGED Ŝ, then weighted decimal sums. */
  private def fhCore(g: DataFrame, rho: Double, gamma: Double, scale: Int): DataFrame = {
    require(rho >= 0.0 && gamma >= 0.0, s"rho/gamma must be >= 0, got ($rho, $gamma)")
    val wPrior = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    val risk = g
      .withColumn("_n1", sum(col("r1")).over(wAll) -
        coalesce(sum(col("r1")).over(wPrior), lit(0L)))
      .withColumn("_n0", sum(col("r0")).over(wAll) -
        coalesce(sum(col("r0")).over(wPrior), lit(0L)))
      .withColumn("_ta", sum(col("r1")).over(wAll))
      .withColumn("_tb", sum(col("r0")).over(wAll))
      .withColumn("_ea", sum(col("d1")).over(wAll))
      .withColumn("_eb", sum(col("d0")).over(wAll))
      .where(col("d1") + col("d0") > 0)
      .select(col("t"), col("_n1"), col("_n0"), col("d1"), col("d0"),
        col("_ta"), col("_tb"), col("_ea"), col("_eb"),
        (col("_n1") + col("_n0")).as("_nn"), (col("d1") + col("d0")).as("_dd"))
    val withSp = withLaggedKm(risk, "_nn", "_dd")
      .withColumn("_spr", round(col("_sp"), scale))
    val nj = col("_n1") + col("_n0")
    val dj = col("d1") + col("d0")
    val e1 = (dj.cast("double") * col("_n1")) / nj
    val vj = when(nj > 1,
      (dj.cast("double") * col("_n1")) / nj * col("_n0") / nj *
        (nj - dj) / (nj - 1)).otherwise(lit(0.0).cast("double"))
    val w = pow(col("_spr"), lit(rho)) * pow(lit(1.0) - col("_spr"), lit(gamma))
    withSp.agg(
        first(col("_ta")).as("n_a"), first(col("_tb")).as("n_b"),
        first(col("_ea")).as("events_a"), first(col("_eb")).as("events_b"),
        sum((w * (col("d1") - e1)).cast("decimal(38,12)")).as("_oe"),
        sum((w * w * vj).cast("decimal(38,12)")).as("_v"))
      .select(col("n_a"), col("n_b"), col("events_a"), col("events_b"),
        lit(rho).as("rho"), lit(gamma).as("gamma"),
        round(col("_oe").cast("double"), scale).as("o_minus_e"),
        round(col("_v").cast("double"), scale).as("var_o"),
        round(when(col("_v") > 0,
          col("_oe").cast("double") / sqrt(col("_v").cast("double"))), scale).as("z"))
  }

  /** The Mantel–Cox machinery over an already-collapsed per-time per-arm
    * `(t, r1, r0, d1, d0)` frame (r = subjects reaching exactly t,
    * d = events at t). `gehan = true` weights each event time's O−E by
    * `nⱼ` (and Vⱼ by `nⱼ²`) — the Gehan–Breslow–Wilcoxon variant; the
    * classic path's expression shapes are untouched. */
  private def logRankCore(g: DataFrame, scale: Int, gehan: Boolean = false): DataFrame = {
    val wPrior = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    val risk = g
      .withColumn("_n1", sum(col("r1")).over(wAll) -
        coalesce(sum(col("r1")).over(wPrior), lit(0L)))
      .withColumn("_n0", sum(col("r0")).over(wAll) -
        coalesce(sum(col("r0")).over(wPrior), lit(0L)))
      .withColumn("_ta", sum(col("r1")).over(wAll))
      .withColumn("_tb", sum(col("r0")).over(wAll))
      .withColumn("_ea", sum(col("d1")).over(wAll))
      .withColumn("_eb", sum(col("d0")).over(wAll))
      .where(col("d1") + col("d0") > 0)
    val nj = col("_n1") + col("_n0")
    val dj = col("d1") + col("d0")
    val e1 = (dj.cast("double") * col("_n1")) / nj
    val vj = when(nj > 1,
      (dj.cast("double") * col("_n1")) / nj * col("_n0") / nj *
        (nj - dj) / (nj - 1)).otherwise(lit(0.0).cast("double"))
    val oeTerm = if (gehan) nj.cast("double") * (col("d1") - e1) else col("d1") - e1
    val vTerm  = if (gehan) nj.cast("double") * nj.cast("double") * vj else vj
    risk.agg(
        first(col("_ta")).as("n_a"), first(col("_tb")).as("n_b"),
        first(col("_ea")).as("events_a"), first(col("_eb")).as("events_b"),
        sum(oeTerm.cast("decimal(38,12)")).as("_oe"),
        sum(vTerm.cast("decimal(38,12)")).as("_v"))
      .select(col("n_a"), col("n_b"), col("events_a"), col("events_b"),
        round(col("_oe").cast("double"), scale).as("o_minus_e"),
        round(col("_v").cast("double"), scale).as("var_o"),
        round(when(col("_v") > 0,
          col("_oe").cast("double") / sqrt(col("_v").cast("double"))), scale).as("z"))
  }

  /** Cox proportional hazards for a BINARY covariate — the hazard-ratio
    * effect size the log-rank test can't give: `h₁(t) = h₀(t)·e^β`, with
    * `e^β` the arm-A hazard ratio. Tie handling via `ties` — `"breslow"`
    * (default) or `"efron"` (see [[coxCore]]'s contract note); under
    * Breslow `β̂` solves the partial-likelihood score
    * `U(β) = Σⱼ [d₁ⱼ − dⱼ·n₁ⱼe^β/(n₀ⱼ+n₁ⱼe^β)]
    * = 0` by Newton–Raphson with information
    * `I(β) = Σⱼ dⱼ·n₁ⱼn₀ⱼe^β/(n₀ⱼ+n₁ⱼe^β)²` (for a binary covariate the
    * risk-set exponential sums collapse to these closed forms — no
    * per-subject pass inside the loop). Newton starts at β = 0, where the
    * first step is exactly the score test. Returns one row
    * `(n_a, n_b, events_a, events_b, beta, hazard_ratio, se, z,
    * iterations, converged)`; β is NULL under complete separation (all
    * events in one arm — the MLE diverges) with `converged = false`.
    *
    * Scale shape: the distributed work is exactly the [[logRankTest]]
    * collapse (one partial-agg shuffle to the per-time per-arm frame +
    * the bounded at-risk windows); Newton then runs ON THE DRIVER over
    * the COLLECTED event-time frame — legitimate only because that frame
    * is ≤|distinct durations| rows, which is why the same coarse-time-
    * axis contract applies: continuous durations must pre-bin via
    * [[survivalPartials]] and fit through [[coxFromStates]]. The fold
    * runs in ascending-t order with fixed tolerance — deterministic IEEE
    * for a given collapsed frame.
    */
  def coxBinary(
      df: DataFrame,
      duration: Column,
      event: Column,
      arm: Column,
      maxIter: Int = 25,
      scale: Int = 6,
      ties: String = "breslow"): DataFrame = {
    val d = df.select(duration.cast("long").as("t"), event.cast("boolean").as("e"),
        arm.cast("boolean").as("a"))
      .where(col("t").isNotNull && col("e").isNotNull && col("a").isNotNull)
    val g = d.groupBy(col("t")).agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("r1"),
      sum(when(!col("a"), 1L).otherwise(0L)).as("r0"),
      sum(when(col("a") && col("e"), 1L).otherwise(0L)).as("d1"),
      sum(when(!col("a") && col("e"), 1L).otherwise(0L)).as("d0"))
    coxCore(g, maxIter, scale, ties)
  }

  /** [[coxBinary]] served from two (merged) [[survivalPartials]] states —
    * the corpus-scale face: the hazard ratio off the same bounded bin
    * axis the binned log-rank reads. */
  def coxFromStates(
      stateA: DataFrame,
      stateB: DataFrame,
      maxIter: Int = 25,
      scale: Int = 6,
      ties: String = "breslow"): DataFrame = {
    val a = stateA.select(col("bin").cast("long").as("t"),
      (col("n_events") + col("n_censored")).cast("long").as("r1"),
      col("n_events").cast("long").as("d1"))
    val b = stateB.select(col("bin").cast("long").as("t"),
      (col("n_events") + col("n_censored")).cast("long").as("r0"),
      col("n_events").cast("long").as("d0"))
    val g = a.join(b, Seq("t"), "full")
      .select(col("t"),
        coalesce(col("r1"), lit(0L)).as("r1"),
        coalesce(col("r0"), lit(0L)).as("r0"),
        coalesce(col("d1"), lit(0L)).as("d1"),
        coalesce(col("d0"), lit(0L)).as("d0"))
    coxCore(g, maxIter, scale, ties)
  }

  /** Tie handling: `"breslow"` (default — every tied event sees the full
    * risk-set denominator; the cheapest and the historical face) or
    * `"efron"` (the default of every mainstream survival package: the
    * l-th of dⱼ tied events sees the denominator with l/dⱼ of the tied
    * events' own hazard removed — a strictly better approximation to the
    * exact partial likelihood, at O(Σ dⱼ) driver work per Newton
    * iteration instead of O(|event times|); on a coarse bin axis where
    * dⱼ is large, that cost difference is material and Breslow remains
    * the scale face).
    *
    * For the binary covariate both reduce to closed per-slot forms:
    * with S = n₀+n₁e^β, Sd = d₀+d₁e^β, cₗ = l/dⱼ, the slot expectation is
    * Eₗ = (n₁−cₗd₁)e^β / (S−cₗSd); U += d₁/dⱼ − Eₗ and I += Eₗ(1−Eₗ)
    * (Breslow is the cₗ = 0 special case, dⱼ identical slots).
    */
  private def coxCore(g: DataFrame, maxIter: Int, scale: Int, ties: String = "breslow"): DataFrame = {
    require(ties == "breslow" || ties == "efron", s"ties must be breslow|efron, got $ties")
    val efron = ties == "efron"
    val spark = g.sparkSession
    import spark.implicits._
    val wPrior = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    // the bounded collapsed event-time frame: (n1, n0, d1, d0) at event times
    val risk = g
      .withColumn("_n1", sum(col("r1")).over(wAll) -
        coalesce(sum(col("r1")).over(wPrior), lit(0L)))
      .withColumn("_n0", sum(col("r0")).over(wAll) -
        coalesce(sum(col("r0")).over(wPrior), lit(0L)))
      .where(col("d1") + col("d0") > 0)
      .select(col("t"), col("_n1"), col("_n0"), col("d1"), col("d0"))
      .orderBy(col("t"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val totals = g.agg(
        sum(col("r1")).as("na"), sum(col("r0")).as("nb"),
        sum(col("d1")).as("ea"), sum(col("d0")).as("eb"))
      .collect().head
    val (na, nb, ea, eb) =
      (totals.getLong(0), totals.getLong(1), totals.getLong(2), totals.getLong(3))

    def scoreInfo(beta: Double): (Double, Double) = {
      var u = 0.0; var inf = 0.0
      val eb0 = math.exp(beta)
      risk.foreach { case (n1, n0, d1, d0) =>
        val dj = (d1 + d0).toDouble
        val den = n0.toDouble + n1.toDouble * eb0
        if (den > 0 && n1 + n0 > 0) {
          if (!efron) {
            u += d1.toDouble - dj * n1.toDouble * eb0 / den
            inf += dj * n1.toDouble * n0.toDouble * eb0 / (den * den)
          } else {
            // Efron: the l-th tied event's risk set drops l/dⱼ of the tied
            // events' own hazard; per-slot expectation/variance of the
            // binary covariate, exact closed form
            val sd = d0.toDouble + d1.toDouble * eb0
            var l = 0L
            while (l < d1 + d0) {
              val c = l.toDouble / dj
              val denL = den - c * sd
              if (denL > 0) {
                val eL = (n1.toDouble - c * d1.toDouble) * eb0 / denL
                u += d1.toDouble / dj - eL
                inf += eL * (1.0 - eL)
              }
              l += 1L
            }
          }
        }
      }
      (u, inf)
    }

    // complete separation: every event in one arm → the MLE diverges
    val separated = risk.nonEmpty && (risk.forall(_._3 == 0L) || risk.forall(_._4 == 0L))
    var beta = 0.0; var it = 0; var converged = false
    if (!separated && risk.nonEmpty) {
      var continue = true
      while (continue && it < maxIter) {
        val (u, inf) = scoreInfo(beta)
        if (inf <= 0) { continue = false }
        else {
          val step = u / inf
          beta += math.max(-2.0, math.min(2.0, step)) // damped: e^β stays finite
          it += 1
          if (math.abs(step) < 1e-12) { converged = true; continue = false }
        }
      }
    }
    val ok = converged && !separated
    val infAtHat = if (ok) scoreInfo(beta)._2 else 0.0
    val se = if (ok && infAtHat > 0) math.sqrt(1.0 / infAtHat) else Double.NaN
    def r6(x: Double): Option[Double] =
      if (x.isNaN || x.isInfinite) None
      else Some(BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble)
    Seq((na, nb, ea, eb,
        if (ok) r6(beta) else None,
        if (ok) r6(math.exp(beta)) else None,
        if (ok) r6(se) else None,
        if (ok && se > 0) r6(beta / se) else None,
        it.toLong, ok))
      .toDF("n_a", "n_b", "events_a", "events_b", "beta", "hazard_ratio",
        "se", "z", "iterations", "converged")
  }

  /** Cox proportional hazards with SEVERAL covariates (p ≤ 8) — the fit
    * real survival users reach for immediately after [[coxBinary]]:
    * `h(t|x) = h₀(t)·e^{βᵀx}` with a p-vector β, Newton–Raphson on the
    * partial likelihood with the full p×p information matrix, tie
    * handling `"breslow"` or `"efron"` (same contracts as [[coxCore]];
    * under Efron the l-th of dⱼ tied events sees the risk sums with l/dⱼ
    * of the tied events' own hazard removed — here applied to the vector
    * sums S₁ and matrix sums S₂ as well as S₀).
    *
    * Returns ONE ROW PER COVARIATE
    * `(covariate, beta, hazard_ratio, se, z, n, events, iterations,
    * converged)` — `se` from the inverse information diagonal at β̂; all
    * β NULL (converged = false) when Newton fails, the information is
    * singular (collinear covariates), or the likelihood is unbounded.
    *
    * Scale shape — the [[coxBinary]] contract generalized: the
    * distributed work is ONE partial-agg shuffle collapsing subjects to
    * `(t, x₁..xₚ)` CELLS carrying (count, events); Newton then runs on
    * the driver over the collected cell frame, sweeping it once per
    * iteration in descending-t order so the risk-set sums S₀/S₁/S₂ are
    * running accumulators (O(cells·p²) per iteration, no per-subject
    * pass). Legitimate only because the cell count is bounded by the
    * VALUE GRID, not the row count — the same coarse-axis contract as the
    * binned log-rank: continuous durations AND continuous covariates must
    * pre-bin (a `require` fails past `maxCells` rather than silently
    * collecting a corpus). The driver fold is ascending-(t, x) sorted —
    * deterministic IEEE for a given cell frame.
    */
  def coxMulti(
      df: DataFrame,
      duration: Column,
      event: Column,
      covariates: Seq[(String, Column)],
      maxIter: Int = 50,
      scale: Int = 6,
      ties: String = "breslow",
      maxCells: Int = 100000): DataFrame =
    coxStratified(df, duration, event, covariates, strata = lit(""),
      maxIter, scale, ties, maxCells)

  /** [[coxMulti]] with a STRATIFIED baseline — `h_s(t|x) = h₀ₛ(t)·e^{βᵀx}`:
    * one shared β, a free baseline hazard PER STRATUM (site, cohort,
    * device class — the nuisance a center effect would otherwise bias β
    * through). The partial likelihood factorizes over strata, so the
    * score/information are per-stratum sweeps SUMMED — risk sets never
    * cross a stratum boundary. Same cell collapse with the stratum in the
    * key (≤ maxCells total across strata, same coarse-grid contract);
    * same output shape plus nothing — strata are integrated out.
    * `coxMulti` is the single-stratum (constant `strata`) special case.
    */
  def coxStratified(
      df: DataFrame,
      duration: Column,
      event: Column,
      covariates: Seq[(String, Column)],
      strata: Column,
      maxIter: Int = 50,
      scale: Int = 6,
      ties: String = "breslow",
      maxCells: Int = 100000): DataFrame = {
    coxValidate(covariates, ties)
    val spark = df.sparkSession
    import spark.implicits._
    val fit = new CoxCellFit(
      coxCells(df, duration, event, covariates, strata, maxCells),
      covariates.size, ties == "efron", maxIter)
    def r6(x: Double): Option[Double] =
      if (x.isNaN || x.isInfinite) None
      else Some(BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble)
    covariates.zipWithIndex.map { case ((name, _), k) =>
      val se = fit.ses(k)
      (name,
        if (fit.ok) r6(fit.beta(k)) else None,
        if (fit.ok) r6(math.exp(fit.beta(k))) else None,
        if (fit.ok) r6(se) else None,
        if (fit.ok && se > 0) r6(fit.beta(k) / se) else None,
        fit.n, fit.nEvents, fit.iterations.toLong, fit.ok)
    }.toDF("covariate", "beta", "hazard_ratio", "se", "z",
      "n", "events", "iterations", "converged")
  }

  /** Shared argument validation for the cell-based Cox family. */
  private def coxValidate(covariates: Seq[(String, Column)], ties: String): Unit = {
    require(covariates.nonEmpty && covariates.size <= 8,
      s"cox fits 1..8 covariates, got ${covariates.size}")
    require(covariates.map(_._1).distinct.size == covariates.size,
      "covariate names must be distinct")
    require(ties == "breslow" || ties == "efron",
      s"ties must be breslow|efron, got $ties")
  }

  /** The ONE distributed pass of the cell-based Cox family
    * ([[coxMulti]]/[[coxStratified]]/[[coxBaseline]]/[[coxSchoenfeld]]):
    * subjects collapse to `(stratum, t, x-vector)` cells carrying
    * (count, events), require-capped at `maxCells` (the coarse-grid
    * contract), collected and deterministically sorted stratum-asc /
    * t-DESC / x-asc — the order every driver sweep walks so the
    * per-stratum risk-set sums are running accumulators. */
  private def coxCells(
      df: DataFrame,
      duration: Column,
      event: Column,
      covariates: Seq[(String, Column)],
      strata: Column,
      maxCells: Int): Array[(String, Long, Array[Double], Long, Long)] = {
    val p = covariates.size
    val xNames = covariates.indices.map(i => s"_x$i")
    val base = df.select(
      strata.cast("string").as("_s") +: duration.cast("long").as("_t") +:
        event.cast("boolean").as("_e") +:
        covariates.zipWithIndex.map { case ((_, c), i) => c.cast("double").as(s"_x$i") }: _*)
      .where(covariates.indices
        .map(i => col(s"_x$i").isNotNull && !isnan(col(s"_x$i")))
        .foldLeft(col("_s").isNotNull && col("_t").isNotNull && col("_e").isNotNull)(_ && _))
    // the ONE distributed pass: subjects -> (stratum, t, x-vector) cells
    val cellsDf = graft.Caches.track(
      base.groupBy(col("_s") +: col("_t") +: xNames.map(col): _*)
        .agg(count(lit(1)).as("_n"), sum(when(col("_e"), 1L).otherwise(0L)).as("_d")))
    val nCells = cellsDf.count()
    require(nCells <= maxCells,
      s"cox collapsed to $nCells (stratum, t, x) cells > maxCells=$maxCells — " +
        "bin continuous covariates/durations to a coarse grid first " +
        "(the binned log-rank contract)")
    // driver-sorted for a deterministic fold order; strata swept in order
    cellsDf.collect()
      .map(r => (r.getString(0), r.getLong(1),
        xNames.indices.map(i => r.getDouble(2 + i)).toArray,
        r.getLong(2 + p), r.getLong(3 + p)))
      .sortBy { case (s, t, x, _, _) => (s, -t, x.mkString(",")) }
  }

  /** Driver-side Newton fit over collected Cox cells — the engine behind
    * [[coxMulti]]/[[coxStratified]] and the post-fit faces
    * ([[coxBaseline]], [[coxSchoenfeld]]). One sweep per evaluation:
    * per-stratum descending-t risk accumulators, U/I summed across
    * strata (the stratified partial likelihood factorizes); damped
    * Newton steps; partial-pivot solve that refuses collinear designs.
    */
  private final class CoxCellFit(
      val cells: Array[(String, Long, Array[Double], Long, Long)],
      val p: Int,
      val efron: Boolean,
      maxIter: Int) {
    val n: Long = cells.map(_._4).sum
    val nEvents: Long = cells.map(_._5).sum

      def scoreInfo(beta: Array[Double]): (Array[Double], Array[Array[Double]]) = {
        val u = new Array[Double](p)
        val inf = Array.fill(p, p)(0.0)
        var s0 = 0.0
        val s1 = new Array[Double](p)
        val s2 = Array.fill(p, p)(0.0)
        var i = 0
        while (i < cells.length) {
          val st = cells(i)._1
          val t = cells(i)._2
          if (i == 0 || cells(i - 1)._1 != st) {
            // stratum boundary: its risk set starts empty
            s0 = 0.0
            java.util.Arrays.fill(s1, 0.0)
            s2.foreach(row => java.util.Arrays.fill(row, 0.0))
          }
          // absorb every cell at this (stratum, t) into the accumulators
          var j = i
          while (j < cells.length && cells(j)._1 == st && cells(j)._2 == t) {
            val (_, _, x, cn, _) = cells(j)
            var bx = 0.0
            var k = 0
            while (k < p) { bx += beta(k) * x(k); k += 1 }
            val w = cn.toDouble * math.exp(bx)
            s0 += w
            k = 0
            while (k < p) {
              s1(k) += w * x(k)
              var l = 0
              while (l < p) { s2(k)(l) += w * x(k) * x(l); l += 1 }
              k += 1
            }
            j += 1
          }
          // events at (stratum, t): risk set = this stratum's accumulators
          val dj = (i until j).map(cells(_)._5).sum
          if (dj > 0L) {
            val sumXev = new Array[Double](p)
            var d0 = 0.0
            val d1 = new Array[Double](p)
            val d2 = Array.fill(p, p)(0.0)
            var q = i
            while (q < j) {
              val (_, _, x, _, cd) = cells(q)
              if (cd > 0L) {
                var k = 0
                while (k < p) { sumXev(k) += cd.toDouble * x(k); k += 1 }
                if (efron) {
                  var bx = 0.0
                  k = 0
                  while (k < p) { bx += beta(k) * x(k); k += 1 }
                  val w = cd.toDouble * math.exp(bx)
                  d0 += w
                  k = 0
                  while (k < p) {
                    d1(k) += w * x(k)
                    var l = 0
                    while (l < p) { d2(k)(l) += w * x(k) * x(l); l += 1 }
                    k += 1
                  }
                }
              }
              q += 1
            }
            if (!efron) {
              // Breslow: dⱼ identical slots against the full risk sums
              if (s0 > 0) {
                var k = 0
                while (k < p) {
                  u(k) += sumXev(k) - dj.toDouble * s1(k) / s0
                  var l = 0
                  while (l < p) {
                    inf(k)(l) += dj.toDouble * (s2(k)(l) / s0 - (s1(k) / s0) * (s1(l) / s0))
                    l += 1
                  }
                  k += 1
                }
              }
            } else {
              var sl = 0L
              while (sl < dj) {
                val c = sl.toDouble / dj.toDouble
                val a0 = s0 - c * d0
                if (a0 > 0) {
                  var k = 0
                  while (k < p) {
                    val mk = (s1(k) - c * d1(k)) / a0
                    u(k) += sumXev(k) / dj.toDouble - mk
                    var l = 0
                    while (l < p) {
                      val ml = (s1(l) - c * d1(l)) / a0
                      inf(k)(l) += (s2(k)(l) - c * d2(k)(l)) / a0 - mk * ml
                      l += 1
                    }
                    k += 1
                  }
                }
                sl += 1L
              }
            }
          }
          i = j
        }
        (u, inf)
      }
      def solve(a0: Array[Array[Double]], b0: Array[Double]): Option[Array[Double]] = {
        val a = a0.map(_.clone())
        val b = b0.clone()
        val maxDiag = (0 until p).map(k => math.abs(a0(k)(k))).foldLeft(0.0)(math.max)
        var k = 0
        while (k < p) {
          var piv = k
          var r = k + 1
          while (r < p) { if (math.abs(a(r)(k)) > math.abs(a(piv)(k))) piv = r; r += 1 }
          if (math.abs(a(piv)(k)) <= 1e-12 * math.max(1.0, maxDiag)) return None
          if (piv != k) {
            val tmp = a(piv); a(piv) = a(k); a(k) = tmp
            val tb = b(piv); b(piv) = b(k); b(k) = tb
          }
          r = k + 1
          while (r < p) {
            val f = a(r)(k) / a(k)(k)
            var cc = k
            while (cc < p) { a(r)(cc) -= f * a(k)(cc); cc += 1 }
            b(r) -= f * b(k)
            r += 1
          }
          k += 1
        }
        val x = new Array[Double](p)
        k = p - 1
        while (k >= 0) {
          var s = b(k)
          var cc = k + 1
          while (cc < p) { s -= a(k)(cc) * x(cc); cc += 1 }
          x(k) = s / a(k)(k)
          k -= 1
        }
        Some(x)
      }
    val beta = new Array[Double](p)
    var iterations = 0
    private var converged = false
    private var singular = false
    if (nEvents > 0L && cells.nonEmpty) {
      var continue = true
      while (continue && iterations < maxIter) {
        val (u, inf) = scoreInfo(beta)
        solve(inf, u) match {
          case None => singular = true; continue = false
          case Some(step) =>
            // damped: every component's e^{Δβ} stays finite per iteration
            val mx = step.map(math.abs).foldLeft(0.0)(math.max)
            val f = if (mx > 2.0) 2.0 / mx else 1.0
            var k = 0
            while (k < p) { beta(k) += f * step(k); k += 1 }
            iterations += 1
            if (mx < 1e-10) { converged = true; continue = false }
        }
      }
    }
    val ok: Boolean = converged && !singular

    /** Information matrix at β̂ — evaluated once, shared by the se
      * extraction and the post-fit faces. */
    lazy val infoAtHat: Array[Array[Double]] = scoreInfo(beta)._2

    /** k-th column of the inverse information at β̂ (solve I·v = e_k);
      * None when the information is singular. */
    def invInfoCol(k: Int): Option[Array[Double]] = {
      val ek = Array.tabulate(p)(i => if (i == k) 1.0 else 0.0)
      solve(infoAtHat, ek)
    }

    // se from the inverse-information diagonal at beta-hat
    lazy val ses: Array[Double] =
      if (!ok) Array.fill(p)(Double.NaN)
      else (0 until p).map { k =>
        invInfoCol(k) match {
          case Some(v) if v(k) > 0 => math.sqrt(v(k))
          case _                   => Double.NaN
        }
      }.toArray
  }

  /** Per-stratum risk-set sweeps shared by the post-fit faces: extend
    * [[CoxCellFit]] with the baseline-hazard and Schoenfeld-residual
    * extractions — both are by-products of the SAME descending-t
    * accumulator walk the likelihood sweep already does, evaluated once
    * at β̂ (no extra distributed work; the cells are already on the
    * driver under the maxCells contract). */
  private object CoxPostFit {

    /** Baseline cumulative-hazard increments at `beta`: one
      * `(stratum, t, h0)` per event time, in stratum-asc / t-ASC order.
      * Breslow: h₀(tⱼ) = dⱼ / S₀(tⱼ); Efron: the l-th of dⱼ tied events
      * sees the denominator with l/dⱼ of the tied events' own hazard
      * removed — Σ_l 1/(S₀ − (l/dⱼ)·D₀), the increment matching the
      * Efron likelihood slots (both reduce to dⱼ/S₀ when dⱼ = 1). */
    def baselineIncrements(fit: CoxCellFit): Array[(String, Long, Double)] = {
      val cells = fit.cells
      val p = fit.p
      val beta = fit.beta
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
      var s0 = 0.0
      var i = 0
      while (i < cells.length) {
        val st = cells(i)._1
        val t = cells(i)._2
        if (i == 0 || cells(i - 1)._1 != st) s0 = 0.0
        var d0 = 0.0
        var dj = 0L
        var j = i
        while (j < cells.length && cells(j)._1 == st && cells(j)._2 == t) {
          val (_, _, x, cn, cd) = cells(j)
          var bx = 0.0
          var k = 0
          while (k < p) { bx += beta(k) * x(k); k += 1 }
          val ebx = math.exp(bx)
          s0 += cn.toDouble * ebx
          if (cd > 0L) { d0 += cd.toDouble * ebx; dj += cd }
          j += 1
        }
        if (dj > 0L && s0 > 0.0) {
          val h0 =
            if (!fit.efron) dj.toDouble / s0
            else {
              var acc = 0.0
              var l = 0L
              while (l < dj) {
                val den = s0 - (l.toDouble / dj.toDouble) * d0
                if (den > 0) acc += 1.0 / den
                l += 1L
              }
              acc
            }
          out += ((st, t, h0))
        }
        i = j
      }
      // descending-t sweep recorded newest-first: flip to ascending per stratum
      out.toArray.groupBy(_._1).toArray.sortBy(_._1)
        .flatMap { case (_, rows) => rows.reverse }
    }

    /** Schoenfeld residual vectors at `beta`: one `(stratum, t, dⱼ, sⱼ)`
      * per event time — sⱼ = Σ_events x − dⱼ·x̄(tⱼ) (Breslow) or the
      * Efron slot-mean sum; exactly the per-time increments of the score
      * U, so Σⱼ sⱼ = U(β̂) ≈ 0 at the MLE (the classic residual-sum
      * identity, spec-pinned). */
    def schoenfeldResiduals(fit: CoxCellFit): Array[(String, Long, Long, Array[Double])] = {
      val cells = fit.cells
      val p = fit.p
      val beta = fit.beta
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Array[Double])]
      var s0 = 0.0
      val s1 = new Array[Double](p)
      var i = 0
      while (i < cells.length) {
        val st = cells(i)._1
        val t = cells(i)._2
        if (i == 0 || cells(i - 1)._1 != st) {
          s0 = 0.0
          java.util.Arrays.fill(s1, 0.0)
        }
        val sumXev = new Array[Double](p)
        var d0 = 0.0
        val d1 = new Array[Double](p)
        var dj = 0L
        var j = i
        while (j < cells.length && cells(j)._1 == st && cells(j)._2 == t) {
          val (_, _, x, cn, cd) = cells(j)
          var bx = 0.0
          var k = 0
          while (k < p) { bx += beta(k) * x(k); k += 1 }
          val ebx = math.exp(bx)
          val w = cn.toDouble * ebx
          s0 += w
          var k2 = 0
          while (k2 < p) { s1(k2) += w * x(k2); k2 += 1 }
          if (cd > 0L) {
            dj += cd
            val wd = cd.toDouble * ebx
            d0 += wd
            var k3 = 0
            while (k3 < p) {
              sumXev(k3) += cd.toDouble * x(k3)
              d1(k3) += wd * x(k3)
              k3 += 1
            }
          }
          j += 1
        }
        if (dj > 0L && s0 > 0.0) {
          val r = new Array[Double](p)
          if (!fit.efron) {
            var k = 0
            while (k < p) { r(k) = sumXev(k) - dj.toDouble * s1(k) / s0; k += 1 }
          } else {
            var k = 0
            while (k < p) { r(k) = sumXev(k); k += 1 }
            var l = 0L
            while (l < dj) {
              val c = l.toDouble / dj.toDouble
              val den = s0 - c * d0
              if (den > 0) {
                var k4 = 0
                while (k4 < p) { r(k4) -= (s1(k4) - c * d1(k4)) / den; k4 += 1 }
              }
              l += 1L
            }
          }
          out += ((st, t, dj, r))
        }
        i = j
      }
      out.toArray
    }

    /** χ²(df) upper-5% critical values for df 1..8 — the engine's
      * p-value convention (emit the statistic + df and the 0.05 verdict;
      * callers map to exact p-values; the [[Stats.friedmanTest]]
      * "caller maps chi2_f" contract). Abramowitz–Stegun table values. */
    val chiSqCrit05: Array[Double] = Array(
      3.841459, 5.991465, 7.814728, 9.487729,
      11.070498, 12.591587, 14.067140, 15.507313)
  }

  /** Breslow/Efron cumulative baseline hazard off the SAME cell sweep as
    * [[coxStratified]] — the post-fit product real users plot: fit β̂,
    * then serve Ŝ(t|x) = S₀(t)^{exp(β̂ᵀx)} at covariate profiles.
    * One row per (stratum, event time), ascending t:
    * `(stratum, t, h0, cum_h0, baseline_surv)` with `h0` the per-time
    * increment, `cum_h0 = H₀(t) = Σ_{tⱼ≤t} h₀(tⱼ)` (lifelines'
    * `baseline_cumulative_hazard_`), `baseline_surv = exp(−H₀(t))`
    * (`baseline_survival_`). EMPTY frame when the fit does not converge
    * (collinear design / separation) — baseline values off a failed β̂
    * would be noise; call [[coxStratified]] for the diagnosis.
    *
    * Scale shape: identical to [[coxMulti]] — the one distributed pass
    * is the (stratum, t, x) cell collapse; the baseline extraction is a
    * single extra driver sweep of the already-collected cells at β̂.
    */
  def coxBaseline(
      df: DataFrame,
      duration: Column,
      event: Column,
      covariates: Seq[(String, Column)],
      strata: Column = lit(""),
      maxIter: Int = 50,
      scale: Int = 6,
      ties: String = "breslow",
      maxCells: Int = 100000): DataFrame = {
    coxValidate(covariates, ties)
    val spark = df.sparkSession
    val fit = new CoxCellFit(
      coxCells(df, duration, event, covariates, strata, maxCells),
      covariates.size, ties == "efron", maxIter)
    coxBaselineRows(spark, fit, scale)
  }

  private def coxBaselineRows(
      spark: SparkSession, fit: CoxCellFit, scale: Int): DataFrame = {
    import spark.implicits._
    val rows =
      if (!fit.ok) Array.empty[(String, Long, Double, Double, Double)]
      else {
        var prevStratum: String = null
        var cum = 0.0
        CoxPostFit.baselineIncrements(fit).map { case (st, t, h0) =>
          if (st != prevStratum) { cum = 0.0; prevStratum = st }
          cum += h0
          (st, t, rs(h0, scale), rs(cum, scale), rs(math.exp(-cum), scale))
        }
      }
    rows.toSeq.toDF("stratum", "t", "h0", "cum_h0", "baseline_surv")
  }

  private def rs(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** [[coxBaseline]] for the two-arm binary fit served from two (merged)
    * [[survivalPartials]] states — the corpus-scale / streaming face
    * (the [[coxFromStates]] sibling): arm A is the x = 1 covariate, the
    * shared bin axis is the time grid. Columns `(t, h0, cum_h0,
    * baseline_surv)` — the baseline is the x = 0 (arm B) hazard. */
  def coxBaselineFromStates(
      stateA: DataFrame,
      stateB: DataFrame,
      maxIter: Int = 25,
      scale: Int = 6,
      ties: String = "breslow"): DataFrame = {
    val spark = stateA.sparkSession
    def side(state: DataFrame, x: Double) =
      state.select(col("bin").cast("long"), col("n_events").cast("long"),
          col("n_censored").cast("long"))
        .collect()
        .map(r => ("", r.getLong(0), Array(x), r.getLong(1) + r.getLong(2), r.getLong(1)))
    val cells = (side(stateA, 1.0) ++ side(stateB, 0.0))
      .sortBy { case (s, t, x, _, _) => (s, -t, x.mkString(",")) }
    val fit = new CoxCellFit(cells, 1, ties == "efron", maxIter)
    coxBaselineRows(spark, fit, scale).drop("stratum")
  }

  /** Grambsch–Therneau proportional-hazards diagnostic off the Schoenfeld
    * residuals — "is the PH assumption even true?" (R `cox.zph`,
    * lifelines `check_assumptions`). Fits β̂ on the same cell frame as
    * [[coxStratified]], extracts per-event-time residual vectors sⱼ in
    * the same sweep, and score-tests a time-varying coefficient
    * β(t) = β + θ·g(t) at θ = 0 with the G–T averaged-information
    * approximation: with v = Σⱼ (gⱼ−ḡ)·sⱼ and d = total events,
    *
    *   per-covariate  T_k = d·[(I⁻¹v)_k]² / ((I⁻¹)_kk · Σ(g−ḡ)²),  df 1
    *   global         T   = d·(vᵀ I⁻¹ v) / Σ(g−ḡ)²,               df p
    *
    * (ḡ and Σ(g−ḡ)² are event-weighted — dⱼ events at tⱼ count dⱼ
    * times). `transform` picks g: `"identity"` (g = t) or `"rank"`
    * (event midranks — robust to time-scale outliers, the cox.zph
    * option). One row per covariate plus a `GLOBAL` row:
    * `(covariate, chisq, df, ph_violated, n, events, event_times,
    * converged)` — `chisq` NULL (converged false) when the fit fails;
    * `ph_violated = chisq > χ²₀.₀₅(df)` per the engine's emit-the-
    * statistic convention (exact p-values are the caller's lookup).
    *
    * Scale shape: the cell collapse is the only distributed work; the
    * residual extraction and the p×p solve are one driver sweep +
    * O(p³) — same contract as the fit itself.
    */
  def coxSchoenfeld(
      df: DataFrame,
      duration: Column,
      event: Column,
      covariates: Seq[(String, Column)],
      strata: Column = lit(""),
      maxIter: Int = 50,
      scale: Int = 6,
      ties: String = "breslow",
      maxCells: Int = 100000,
      transform: String = "identity"): DataFrame = {
    coxValidate(covariates, ties)
    require(transform == "identity" || transform == "rank",
      s"transform must be identity|rank, got $transform")
    val spark = df.sparkSession
    import spark.implicits._
    val p = covariates.size
    val fit = new CoxCellFit(
      coxCells(df, duration, event, covariates, strata, maxCells),
      p, ties == "efron", maxIter)
    val names = covariates.map(_._1) :+ "GLOBAL"
    val dfs = covariates.map(_ => 1L) :+ p.toLong

    val resid = if (fit.ok) CoxPostFit.schoenfeldResiduals(fit) else Array.empty[(String, Long, Long, Array[Double])]
    val nTimes = resid.length.toLong
    val stats: Option[Array[Double]] =
      if (!fit.ok || resid.isEmpty) None
      else {
        val d = fit.nEvents.toDouble
        // g per event time (global transform of the shared time axis)
        val g: Array[Double] = transform match {
          case "identity" => resid.map(_._2.toDouble)
          case "rank" =>
            // event midranks: events at a tied time share the midrank of
            // their block in the pooled ascending-t event sequence
            val byT = resid.map(r => (r._2, r._3)).groupBy(_._1).view
              .mapValues(_.map(_._2).sum).toArray.sortBy(_._1)
            var before = 0L
            val rankOf = scala.collection.mutable.Map.empty[Long, Double]
            byT.foreach { case (t, dt) =>
              rankOf(t) = before.toDouble + (dt.toDouble + 1.0) / 2.0
              before += dt
            }
            resid.map(r => rankOf(r._2))
        }
        val gBar = resid.indices.map(i => resid(i)._3.toDouble * g(i)).sum / d
        val denG = resid.indices.map { i =>
          val dg = g(i) - gBar
          resid(i)._3.toDouble * dg * dg
        }.sum
        val v = new Array[Double](p)
        resid.indices.foreach { i =>
          val w = g(i) - gBar
          var k = 0
          while (k < p) { v(k) += w * resid(i)._4(k); k += 1 }
        }
        if (denG <= 0.0) None
        else fit.solve(fit.infoAtHat, v).flatMap { w =>
          val perCov = (0 until p).map { k =>
            fit.invInfoCol(k) match {
              case Some(colK) if colK(k) > 0 =>
                d * w(k) * w(k) / (colK(k) * denG)
              case _ => Double.NaN
            }
          }
          val tGlobal = d * (0 until p).map(k => v(k) * w(k)).sum / denG
          val all = perCov :+ tGlobal
          if (all.exists(x => x.isNaN || x.isInfinite)) None else Some(all.toArray)
        }
      }
    names.indices.map { i =>
      val dfI = dfs(i)
      val chi = stats.map(s => rs(s(i), scale))
      (names(i), chi, dfI,
        chi.map(_ > CoxPostFit.chiSqCrit05(dfI.toInt - 1)),
        fit.n, fit.nEvents, nTimes, fit.ok && stats.isDefined)
    }.toDF("covariate", "chisq", "df", "ph_violated",
      "n", "events", "event_times", "converged")
  }


  /** Harrell's concordance index — does a risk score RANK survival
    * correctly under censoring? ("among user pairs where one provably
    * outlasted the other, how often did the score call it?") The
    * survival-eval staple alongside [[logRankTest]]: a pair (i, j) is
    * comparable iff `t_i < t_j` and subject i had the EVENT (a censored
    * shorter time proves nothing — i might have outlasted j unobserved);
    * same-time pairs are excluded. Concordant when `risk_i > risk_j`
    * (higher risk ⇒ shorter survival); tied risks count ½. One row
    * `(n, comparable_pairs, concordant, risk_ties, c_index)` with
    * `c_index = (concordant + 0.5·ties)/comparable` — 0.5 ⇔ random,
    * 1.0 ⇔ perfect ranking; NULL when no pair is comparable.
    *
    * Scale shape: rows collapse to `(time, risk, event)` cells FIRST, so
    * the quadratic pair fold runs on |cells|² — bounded by the value
    * grid, not the row count (the kendallTauB bounded-matrix class;
    * callers feed per-entity survival frames, which are |entities|-
    * bounded by construction). Pair masses fold as exact DECIMAL
    * integers; the single ratio is pinned scalar IEEE.
    */
  def concordanceIndex(
      df: DataFrame,
      time: Column,
      event: Column,
      risk: Column,
      scale: Int = 6): DataFrame = {
    val base = df.select(time.as("_t"), event.cast("boolean").as("_e"), risk.as("_r"))
      .where(col("_t").isNotNull && col("_e").isNotNull && col("_r").isNotNull)
    val cells = graft.Caches.track(
      base.groupBy(col("_t"), col("_r"), col("_e")).agg(count(lit(1)).as("_c")))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val l = cells.where(col("_e"))
      .select(col("_t").as("_ti"), col("_r").as("_ri"), col("_c").as("_ci"))
    val r = cells.select(col("_t").as("_tj"), col("_r").as("_rj"), col("_c").as("_cj"))
    val agg = l.join(r, col("_ti") < col("_tj"))
      .agg(
        coalesce(sum(dec(col("_ci")) * dec(col("_cj"))), dec(lit(0L))).as("_cmp"),
        coalesce(sum(when(col("_ri") > col("_rj"), dec(col("_ci")) * dec(col("_cj")))
          .otherwise(dec(lit(0L)))), dec(lit(0L))).as("_conc"),
        coalesce(sum(when(col("_ri") === col("_rj"), dec(col("_ci")) * dec(col("_cj")))
          .otherwise(dec(lit(0L)))), dec(lit(0L))).as("_tie"))
    base.agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(agg))
      .select(
        col("n"),
        col("_cmp").cast("long").as("comparable_pairs"),
        col("_conc").cast("long").as("concordant"),
        col("_tie").cast("long").as("risk_ties"),
        when(col("_cmp") > 0,
          round((col("_conc").cast("double") + lit(0.5) * col("_tie").cast("double")) /
            col("_cmp").cast("double"), scale)).as("c_index"))
  }

  /** Market-basket pair mining — support / confidence / lift for item
    * PAIRS that co-occur in a basket ("parts ordered together", "event
    * types co-occurring in a session"), the association-rule staple.
    * Returns one row per surviving unordered pair
    * `(item_a, item_b, n_ab, n_a, n_b, support, conf_a_b, conf_b_a,
    * lift)` with `item_a < item_b`, `support = n_ab/N` (N = distinct
    * baskets), `conf_x_y = P(y|x)` and
    * `lift = n_ab·N/(n_a·n_b)` (>1 ⇔ the pair co-occurs beyond chance).
    *
    * Scale shape — the two classic guards are both applied BEFORE the
    * quadratic step: items below `minSupport` baskets are pruned first
    * (Apriori downward closure: a pair can never out-support its items),
    * and baskets larger than `maxBasketSize` are dropped whole (one
    * degenerate mega-basket otherwise contributes |b|² pairs; dropping
    * is the standard practice and is reported honestly — N counts only
    * kept baskets). After the guards: one distinct, two partial-agg
    * shuffles, one within-basket self-join on the basket key, and the
    * |items|-row count frame joined back. Ratios are pinned scalar IEEE
    * off exact longs.
    */
  /** Shared core of [[basketPairs]] / [[associationRules]]: the exact
    * integer pair-count frame `(_ia, _ib, n_ab, n_a, n_b)` plus the
    * 1-row kept-basket total. Every reused frame is tracked-persisted so
    * the quadratic within-basket self-join and the input distinct run
    * ONCE per invocation — the rules face previously re-derived the
    * basket total from scratch and duplicated the whole mining subplan
    * under its direction union (guide §1.2). */
  private def basketPairCounts(
      df: DataFrame,
      basket: Column,
      item: Column,
      minSupport: Int,
      maxBasketSize: Int): (DataFrame, DataFrame) = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    val pairsIn = graft.Caches.track(
      df.select(basket.as("_b"), item.as("_i"))
        .where(col("_b").isNotNull && col("_i").isNotNull)
        .distinct())
    val sized = pairsIn.groupBy(col("_b")).agg(count(lit(1)).as("_bs"))
      .where(col("_bs") <= maxBasketSize)
    val kept = graft.Caches.track(
      pairsIn.join(sized.select(col("_b")), Seq("_b")))
    val nBaskets = graft.Caches.track(
      kept.agg(countDistinct(col("_b")).as("_nb")))
    val itemCounts = graft.Caches.track(
      kept.groupBy(col("_i")).agg(count(lit(1)).as("_ni"))
        .where(col("_ni") >= minSupport))
    val frequent = graft.Caches.track(
      kept.join(itemCounts.select(col("_i")), Seq("_i")))
    val pairCounts = frequent.select(col("_b"), col("_i").as("_ia"))
      .join(frequent.select(col("_b"), col("_i").as("_ib")), Seq("_b"))
      .where(col("_ia") < col("_ib"))
      .groupBy(col("_ia"), col("_ib")).agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSupport)
    val pairs = pairCounts
      .join(itemCounts.select(col("_i").as("_ia"), col("_ni").as("n_a")), Seq("_ia"))
      .join(itemCounts.select(col("_i").as("_ib"), col("_ni").as("n_b")), Seq("_ib"))
    (pairs, nBaskets)
  }

  def basketPairs(
      df: DataFrame,
      basket: Column,
      item: Column,
      minSupport: Int,
      maxBasketSize: Int = 10000,
      scale: Int = 6): DataFrame = {
    val (pairs, nBaskets) = basketPairCounts(df, basket, item, minSupport, maxBasketSize)
    pairs
      .crossJoin(broadcast(nBaskets))
      .select(col("_ia").as("item_a"), col("_ib").as("item_b"),
        col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab").cast("double") / col("_nb"), scale).as("support"),
        round(col("n_ab").cast("double") / col("n_a"), scale).as("conf_a_b"),
        round(col("n_ab").cast("double") / col("n_b"), scale).as("conf_b_a"),
        round((col("n_ab").cast("double") * col("_nb")) /
          (col("n_a").cast("double") * col("n_b")), scale).as("lift"))
  }

  /** Association RULES off the [[basketPairs]] counts — one row per
    * DIRECTED rule `antecedent ⇒ consequent` with the full quality
    * card: support, confidence, lift, leverage
    * (`supp_ab − supp_a·supp_b` — the additive excess), conviction
    * (`(1−supp_c)/(1−conf)` — how much MORE often the rule would have
    * to fail under independence; NULL at conf = 1, its infinity), and
    * Jaccard (`n_ab/(n_a+n_b−n_ab)` — symmetric overlap). basketPairs
    * answers "which pairs co-occur beyond chance"; this ranks the
    * DIRECTIONS you'd act on (stock B when A sells ≠ stock A when B
    * sells unless the margins happen to agree).
    *
    * Same scale shape as basketPairs (Apriori min-support pruning
    * BEFORE the within-basket self-join, canonical pair orientation,
    * one basket-total broadcast); the direction union doubles only the
    * FINAL bounded rule frame, never the row-level work. All ratios are
    * pinned IEEE off exact integer counts.
    */
  def associationRules(
      df: DataFrame,
      basket: Column,
      item: Column,
      minSupport: Int,
      maxBasketSize: Int = 10000,
      scale: Int = 6): DataFrame = {
    // the exact-count core runs ONCE (tracked-persisted): the direction
    // union below reads the cached pair frame twice instead of mining the
    // quadratic self-join twice, and the basket total is the same 1-row
    // frame the pairs face uses — not a from-scratch recompute
    val (pairsRaw, nBaskets) = basketPairCounts(df, basket, item, minSupport, maxBasketSize)
    val pairs = graft.Caches.track(
      pairsRaw.select(col("_ia").as("item_a"), col("_ib").as("item_b"),
        col("n_ab"), col("n_a"), col("n_b")))
    val directed = pairs.select(
        col("item_a").as("antecedent"), col("item_b").as("consequent"),
        col("n_ab"), col("n_a").as("n_ante"), col("n_b").as("n_cons"))
      .union(pairs.select(
        col("item_b").as("antecedent"), col("item_a").as("consequent"),
        col("n_ab"), col("n_b").as("n_ante"), col("n_a").as("n_cons")))
    val nb = col("_nb").cast("double")
    val conf = col("n_ab").cast("double") / col("n_ante")
    val suppC = col("n_cons").cast("double") / nb
    directed.crossJoin(broadcast(nBaskets))
      .select(col("antecedent"), col("consequent"),
        col("n_ab"), col("n_ante"), col("n_cons"),
        round(col("n_ab").cast("double") / nb, scale).as("support"),
        round(conf, scale).as("confidence"),
        round((col("n_ab").cast("double") * col("_nb")) /
          (col("n_ante").cast("double") * col("n_cons")), scale).as("lift"),
        round(col("n_ab").cast("double") / nb -
          (col("n_ante").cast("double") / nb) * suppC, scale).as("leverage"),
        round(when(conf < 1.0, (lit(1.0) - suppC) / (lit(1.0) - conf)), scale)
          .as("conviction"),
        round(col("n_ab").cast("double") /
          (col("n_ante") + col("n_cons") - col("n_ab")).cast("double"), scale)
          .as("jaccard"))
  }
}
