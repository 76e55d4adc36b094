package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-entity scoring signals over an event stream: exponential time-decay
  * activity scores, last-touch attribution, and trailing-window anomaly
  * flags. No reference analog (the reference's AGGREGATE is a row counter;
  * see SURVEY §1.3) — these are the events-analytics companions a
  * recency-weighted ranking / alerting layer needs on top of the window
  * aggregates.
  *
  * Numeric policy (house rule, see graft.queries.Registry's header):
  * every hash-gated output here is an EXACT INTEGER. Decay weights are powers of two
  * (exact in binary and in int arithmetic), the anomaly test is a
  * cross-multiplied integer inequality (no sqrt, no division), and
  * attribution emits ids + microsecond gaps. Floating formulations would
  * be addition-order- and libm-dependent across engines; these hash-match
  * DuckDB bit for bit. */
object EventSignals {

  /** Per-user exponentially-decayed activity score with a half-life of
    * `halfLifeDays`, evaluated at `refEpochUs` (microseconds since epoch).
    *
    * Division-free integer form: each event contributes
    * `cents * 2^(horizonDays - ageDays)` where `cents = round(value*100)`
    * (the source carries <=2 decimal places) and
    * `ageDays = floor((ref - ts)/1d) / halfLifeDays` half-life units —
    * so the true score is `score_num / (100 * 2^horizonDays)`. Events
    * older than the horizon (or after `ref`) contribute 0 — a truncated
    * decay window, which is what bounds the weight to a long. Callers
    * divide once at the end; the gate hashes the exact numerator.
    *
    * Scale shape: ONE user-keyed partial-aggregated shuffle — the weight
    * is a per-row scan expression (no window, no sort), so map-side
    * combine collapses each user's events before the wire. Overflow
    * headroom: per-event term <= cents_max * 2^horizon; with horizon=30
    * and 2-decimal values <= ~10^6 that is ~10^12, leaving ~10^6 events
    * per user inside a long — raise to DECIMAL(38,0) accumulation via
    * `sumDecimal = true` for corpora beyond that. */
  def decayScore(
      events: DataFrame,
      refEpochUs: Long,
      halfLifeDays: Int = 1,
      horizonDays: Int = 30,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      sumDecimal: Boolean = false): DataFrame = {
    require(halfLifeDays >= 1, s"halfLifeDays must be >= 1: $halfLifeDays")
    require(horizonDays >= 0 && horizonDays <= 62,
      s"horizonDays must fit a long shift: $horizonDays")
    val ageDays = floor((lit(refEpochUs) - unix_micros(col(tsCol))) /
      lit(86400000000L * halfLifeDays)).cast("long")
    val cents = round(col(valueCol) * 100).cast("long")
    // shiftleft is a codegen'd int op (call_function because the Scala
    // shim only takes a literal shift); out-of-horizon (and future) events
    // weight 0 via the when guard, keeping the shift argument in [0, 62].
    val term = when(ageDays.between(0, horizonDays),
      cents * call_function("shiftleft", lit(1L),
        (lit(horizonDays) - ageDays).cast("int")))
      .otherwise(lit(0L))
    val scoreAgg =
      if (sumDecimal) sum(term.cast("decimal(38,0)")).as("score_num")
      else sum(term).cast("long").as("score_num")
    events.groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"),
        scoreAgg,
        max(unix_micros(col(tsCol))).as("last_ts_us"))
  }

  /** Last-touch attribution: each `convType` event is attributed to the
    * USER'S MOST RECENT PRECEDING `touchType` event (same-instant touches
    * order before the conversion by event id, so they count). Conversions
    * with no preceding touch keep a null `touch_id` — they are reported,
    * not dropped, so attribution coverage is auditable.
    *
    * Scale shape: one user-keyed shuffle + sort carries BOTH the
    * carry-forward columns (`last(_, ignoreNulls)` over unbounded
    * preceding) — the same single-Exchange-single-Sort plan as the
    * q_user_features window stack. Per-user history length never
    * materializes anywhere (no collect_list); the known per-user hot-key
    * funnel caveat applies as with every per-user window (Skew.dropHotKeys
    * is the guard). */
  def attributeLastTouch(
      events: DataFrame,
      convType: String = "purchase",
      touchType: String = "click",
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      idCol: String = "event_id",
      valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isTouch = col(typeCol) === lit(touchType)
    val touchId = last(when(isTouch, col(idCol)), ignoreNulls = true).over(w)
    val touchTs = last(when(isTouch, unix_micros(col(tsCol))), ignoreNulls = true)
      .over(w)
    events
      .withColumn("touch_id", touchId)
      .withColumn("__touch_ts_us", touchTs)
      .filter(col(typeCol) === lit(convType))
      .select(col(idCol).as("conv_id"), col(userCol),
        unix_micros(col(tsCol)).as("conv_ts_us"),
        col("touch_id"),
        (unix_micros(col(tsCol)) - col("__touch_ts_us")).as("gap_us"),
        col(valueCol))
  }

  /** Multi-touch LINEAR attribution — [[attributeLastTouch]]'s
    * fair-share sibling: each `convType` event's value splits EQUALLY
    * across ALL the user's `touchType` events within `within` before it
    * (sub-day units only — epoch-micros arithmetic, the Intervals rule).
    * The split is EXACT INTEGER cents: every touch gets
    * `cents div n_touches` and the remainder goes to the MOST RECENT
    * touch (deterministic, sums reconstruct the original exactly — a
    * double split would neither hash nor audit). Conversions with no
    * touch in the window are reported with a null touch (coverage stays
    * auditable, the last-touch convention).
    *
    * Scale shape: one user-keyed interval join (conversions × their
    * window's touches — per-user pair space bounded by touches-per-window,
    * the same shape the streaming intervalJoin buffers), plus one
    * conversion-keyed count window to learn n_touches. Touch rank comes
    * from the SAME window sort. */
  def attributeLinear(
      events: DataFrame,
      within: String = "24 hours",
      convType: String = "purchase",
      touchType: String = "click",
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type",
      idCol: String = "event_id",
      valueCol: String = "value"): DataFrame = {
    val withinUs = graft.ops.Intervals.subDayMicros(within)
    val conv = events.filter(col(typeCol) === lit(convType))
      .select(col(userCol).as("__u"), col(idCol).as("conv_id"),
        unix_micros(col(tsCol)).as("conv_ts_us"),
        round(col(valueCol) * 100).cast("long").as("__cents"))
    val touch = events.filter(col(typeCol) === lit(touchType))
      .select(col(userCol).as("__u"), col(idCol).as("touch_id"),
        unix_micros(col(tsCol)).as("touch_ts_us"))
    // band join INNER first; unmatched conversions re-enter via anti-join
    // so "no touch in the window" is a reported null row, never a lost one
    val matched = conv.join(touch, Seq("__u"))
      .filter(col("touch_ts_us") <= col("conv_ts_us") &&
        col("touch_ts_us") >= col("conv_ts_us") - lit(withinUs))
    val w = Window.partitionBy(col("conv_id"))
    val wOrd = Window.partitionBy(col("conv_id"))
      .orderBy(col("touch_ts_us").desc, col("touch_id").desc)
    val shares = matched
      .withColumn("n_touches", count(lit(1)).over(w))
      .withColumn("__rk", row_number().over(wOrd))
      // exact integer split: base share + the remainder on the most
      // recent touch; Σ shares == cents by construction
      .withColumn("cents_share",
        expr("__cents div n_touches") +
          when(col("__rk") === 1, pmod(col("__cents"), col("n_touches")))
            .otherwise(0L))
      .select(col("conv_id"), col("__u").as(userCol), col("conv_ts_us"),
        col("touch_id"), col("n_touches"), col("cents_share"))
    val unmatched = conv
      .join(matched.select("conv_id").distinct(), Seq("conv_id"), "left_anti")
      .select(col("conv_id"), col("__u").as(userCol), col("conv_ts_us"),
        lit(null).cast("long").as("touch_id"), lit(0L).as("n_touches"),
        lit(null).cast("long").as("cents_share"))
    shares.unionByName(unmatched)
  }

  /** Two-variant experiment readout with an EXACT-ARITHMETIC significance
    * flag: users split by a deterministic assignment (`variantOf`, default
    * `user_id % 2`), a user "converts" when they have >= 1 `convType`
    * event, and the 2×2 chi-square test (1 dof) is evaluated as a
    * cross-multiplied integer inequality — `10⁶·N·(ad−bc)² >
    * 3841459·n₀·n₁·c·(N−c)` with 3.841459 the α=0.05 critical value —
    * through DECIMAL(38,0), so no float touches the gate (DuckDB runs the
    * same products in HUGEINT). Exact to N ≈ 3·10⁹ users (N⁴/16 < 10³⁸);
    * past that the products saturate the decimal — document-level bound,
    * far beyond any single experiment.
    *
    * Output: one row per variant (variant, n_users, n_conv) with the
    * shared `significant` flag. Scale shape: one user-keyed
    * partial-aggregated shuffle (per-user conversion flag), then a
    * 2-row variant aggregate joined to a 1-row broadcast total — the
    * events never move twice. */
  def abLift(
      events: DataFrame,
      convType: String = "purchase",
      variants: Int = 2,
      userCol: String = "user_id",
      typeCol: String = "event_type"): DataFrame = {
    require(variants == 2, "chi-square 2x2 readout is defined for 2 variants")
    val perUser = events.groupBy(col(userCol))
      .agg(max(when(col(typeCol) === lit(convType), 1L).otherwise(0L))
        .as("conv"))
      .withColumn("variant", pmod(col(userCol), lit(variants.toLong)))
    val byVariant = perUser.groupBy("variant")
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).cast("long").as("n_conv"))
    // 2x2 table from the two variant rows, via a pivot-free self-agg.
    val tbl = byVariant.agg(
      sum(when(col("variant") === 0, col("n_users"))).cast("long").as("n0"),
      sum(when(col("variant") === 0, col("n_conv"))).cast("long").as("c0"),
      sum(when(col("variant") === 1, col("n_users"))).cast("long").as("n1"),
      sum(when(col("variant") === 1, col("n_conv"))).cast("long").as("c1"))
    def d(c: Column) = c.cast("decimal(38,0)")
    val n = col("n0") + col("n1")
    val conv = col("c0") + col("c1")
    // ad - bc = c0*(n1-c1) - c1*(n0-c0)
    val delta = d(col("c0")) * d(col("n1") - col("c1")) -
      d(col("c1")) * d(col("n0") - col("c0"))
    val lhs = d(lit(1000000L)) * d(n) * delta * delta
    val rhs = d(lit(3841459L)) * d(col("n0")) * d(col("n1")) *
      d(conv) * d(n - conv)
    val flagged = tbl.withColumn("significant",
      // a degenerate margin (all/none converted, or an empty variant)
      // has zero chi-square by convention: rhs = 0 and lhs = 0 too, and
      // 0 > 0 is false — no special case needed, but keep null-safety
      // for the truly-empty-input frame
      coalesce(lhs > rhs, lit(false)))
    byVariant.crossJoin(broadcast(flagged.select(col("significant"))))
  }

  /** Sample-ratio-mismatch (SRM) check — the A/B HYGIENE gate that must
    * pass before [[abLift]]/[[cupedLift]] readouts mean anything: under a
    * 50/50 split the unit counts themselves are binomial, and a χ² on
    * (n₀, n₁) vs equal expected catches broken bucketing, bot filtering
    * applied to one arm, or redirect loss — the most common silent
    * experiment-invalidator. χ² = (n₀−n₁)²/(n₀+n₁) (1 dof), flagged at
    * α = 0.05 via the [[abLift]] cross-multiplied INTEGER inequality
    * 10⁶·d² > 3841459·n — no float in the decision.
    *
    * Scale shape: one user-keyed distinct collapse + a 2-row variant agg
    * + one 1-row readout. */
  def srmCheck(
      events: DataFrame,
      userCol: String = "user_id",
      variants: Int = 2): DataFrame = {
    require(variants == 2, "the 1-dof SRM readout is defined for 2 variants")
    def d(c: Column) = c.cast("decimal(38,0)")
    val perVariant = events.filter(col(userCol).isNotNull)
      .select(col(userCol).as("__u")).distinct()
      .withColumn("__v", pmod(col("__u"), lit(2L)))
      .groupBy("__v").agg(count(lit(1)).cast("long").as("__n"))
    val tbl = perVariant.agg(
      coalesce(sum(when(col("__v") === 0, col("__n"))), lit(0L))
        .cast("long").as("n0"),
      coalesce(sum(when(col("__v") === 1, col("__n"))), lit(0L))
        .cast("long").as("n1"))
    val diff = col("n0") - col("n1")
    val n = col("n0") + col("n1")
    tbl.select(col("n0"), col("n1"), diff.as("d"),
      when(n > 0, (diff * diff).cast("double") / n.cast("double"))
        .otherwise(lit(null).cast("double")).as("chi2"),
      (d(lit(1000000L)) * d(diff) * d(diff) >
        d(lit(3841459L)) * d(n)).as("srm"))
  }

  /** DIRECT STANDARDIZATION of the variant conversion rates — the
    * Simpson's-paradox guard beside [[srmCheck]]: when the variant mix
    * differs across strata (acquisition channels, here each user's
    * FIRST-TOUCH event type), raw rates confound the treatment with the
    * mix; the adjusted rate re-weights each variant's per-stratum rates
    * by the POOLED stratum shares — adj(v) = Σ_s (N_s/N)·(c_vs/n_vs) —
    * so both variants are read against the same population composition
    * (the epidemiology-standard directly-standardized rate).
    *
    * Engine-portable arithmetic: all counts exact integers; each
    * stratum term is the fixed two-division product
    * (N_s/N)·(c_vs/n_vs) quantized to round(term·10¹²) — an integer —
    * and the per-variant adjusted rate is the ORDER-FREE integer sum of
    * those terms (`adj_rate_q`, in 10⁻¹² units). A stratum with no
    * users of a variant contributes 0 by construction (no cell row —
    * the conservative convention, documented).
    *
    * Scale shape: one user-keyed partial agg (conv flag + min_by
    * first-touch), one (variant, stratum) agg, a |strata|-row pooled
    * join + 1-row total broadcast — nothing data-sized past the first
    * shuffle. */
  def standardizedLift(
      events: DataFrame,
      convType: String = "purchase",
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      tieCol: String = "event_id",
      variants: Int = 2): DataFrame = {
    require(variants >= 2, s"variants must be >= 2: $variants")
    val perUser = events.filter(col(userCol).isNotNull)
      .groupBy(col(userCol).as("__u"))
      .agg(max(when(col(typeCol) === lit(convType), 1L).otherwise(0L))
          .as("__conv"),
        min_by(col(typeCol), struct(col(tsCol), col(tieCol))).as("__stratum"))
      .withColumn("__v", pmod(col("__u"), lit(variants.toLong)))
    val cell = perUser.groupBy("__v", "__stratum")
      .agg(count(lit(1)).cast("long").as("__n"),
        sum(col("__conv")).cast("long").as("__c"))
    val strat = cell.groupBy("__stratum")
      .agg(sum(col("__n")).cast("long").as("__ns"))
    val tot = strat.agg(sum(col("__ns")).cast("long").as("__nt"))
    val term = col("__ns").cast("double") / col("__nt").cast("double") *
      (col("__c").cast("double") / col("__n").cast("double"))
    val terms = cell.join(strat, Seq("__stratum"))
      .crossJoin(broadcast(tot))
      .select(col("__v"), col("__n"), col("__c"),
        round(term * lit(1000000000000.0)).cast("long").as("__tq"))
    terms.groupBy(col("__v").as("variant"))
      .agg(sum(col("__n")).cast("long").as("n_users"),
        sum(col("__c")).cast("long").as("n_conv"),
        sum(col("__tq")).cast("long").as("adj_rate_q"))
  }

  /** RANK-CALIBRATION bins + gap table for a score against a binary
    * outcome — the reliability-diagram readout for the model-based
    * quality filters ([[graft.operators.Classifier]]): transform the
    * score to its empirical CDF (the two-phase global rank / N — the
    * monotone probability forecast any raw margin implies), cut into
    * `bins` equal-rank bins, and per bin report observed positive rate
    * vs mean forecast and their gap — the per-bin terms of ECE
    * (expected calibration error = Σ (n_b/N)·gap_b, one weighted sum
    * away for the consumer). A well-calibrated-by-rank scorer has
    * observed rates increasing ~linearly across bins; a flat profile
    * means the score carries no signal for the outcome.
    *
    * Engine-portable: ranks are the two-phase integer row numbers
    * (ties broken by id), bin = ⌊(rnk−1)·bins/N⌋+1 in pure integer
    * arithmetic, per-bin sums exact; the three doubles (obs_rate,
    * conf_mean, gap) are fixed-order divisions of exact integers.
    *
    * Scale shape: the global rank rides
    * [[graft.ops.RunningCount.withRunningCount]] (no single-partition
    * window); everything after is a `bins`-row aggregation. */
  def calibrationBins(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      bins: Int = 10,
      idCol: String = "doc_id"): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val base = scored.select(col(idCol).as("__id"),
      col(scoreCol).as("__s"), col(labelCol).cast("long").as("__y"))
    val ranked = graft.ops.RunningCount
      .withRunningCount(base, Seq(col("__s"), col("__id")), "__rnk")
    val tot = ranked.agg(count(lit(1)).cast("long").as("__nt"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("bin",
        expr(s"CAST((__rnk - 1) * $bins DIV __nt AS BIGINT) + 1"))
      .groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__y")).cast("long").as("n_pos"),
        sum(col("__rnk")).cast("long").as("sum_rnk"),
        max(col("__nt")).as("__nt"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("obs_rate"),
        (col("sum_rnk").cast("double") / col("__nt").cast("double") /
          col("n").cast("double")).as("conf_mean"),
        abs(col("n_pos").cast("double") / col("n").cast("double") -
          col("sum_rnk").cast("double") / col("__nt").cast("double") /
            col("n").cast("double")).as("gap"))
  }

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM 2013) — the
    * industry-standard upgrade of [[abLift]]: each user's POST-period
    * activity count is adjusted by their PRE-period count via
    * θ = cov(X,Y)/var(X), removing the between-user variance the
    * pre-period already explains and shrinking the experiment's
    * confidence interval by 1 − ρ² without touching the treatment
    * effect (E[X] is identical across variants by randomization).
    *
    * Engine-portable arithmetic: the pre/post split is the INTEGER
    * epoch-microsecond midpoint (2·us < lo + hi — no calendar types, no
    * timezone), per-user X/Y are event COUNTS (integers), so all global
    * and per-variant moment sums are exact DECIMAL(38,0); θ, the
    * adjusted means, and the ρ² variance-reduction factor are fixed-order
    * double expressions over the exact components. A zero-variance
    * pre-period (den = 0, an exact decimal test both engines agree on)
    * nulls the adjusted readouts instead of ANSI-throwing.
    *
    * Scale shape: ONE user-keyed partial agg collapses events to per-user
    * (x, y); the global moments are a 1-row agg broadcast onto the
    * variants-sized frame — nothing data-sized past the first shuffle. */
  def cupedLift(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      variants: Int = 2): DataFrame = {
    require(variants >= 2, s"variants must be >= 2: $variants")
    def dec(c: Column) = c.cast("decimal(38,0)")
    def d18(c: Column) = c.cast("decimal(18,0)")
    val base = events.filter(col(tsCol).isNotNull && col(userCol).isNotNull)
      .select(col(userCol).as("__u"), unix_micros(col(tsCol)).as("__us"))
    val sp = base.agg(min(col("__us")).as("__lo"), max(col("__us")).as("__hi"))
    val isPre = col("__us") * 2 < col("__lo") + col("__hi")
    val perUser = base.crossJoin(broadcast(sp))
      .groupBy("__u")
      .agg(sum(when(isPre, 1L).otherwise(0L)).cast("long").as("__x"),
        sum(when(isPre, 0L).otherwise(1L)).cast("long").as("__y"))
    val g = perUser.agg(count(lit(1)).cast("long").as("n"),
      sum(d18(col("__x"))).cast("decimal(38,0)").as("sx"),
      sum(d18(col("__y"))).cast("decimal(38,0)").as("sy"),
      sum(d18(col("__x")) * d18(col("__x"))).cast("decimal(38,0)").as("sxx"),
      sum(d18(col("__x")) * d18(col("__y"))).cast("decimal(38,0)").as("sxy"),
      sum(d18(col("__y")) * d18(col("__y"))).cast("decimal(38,0)").as("syy"))
    val byVariant = perUser
      .withColumn("variant", pmod(col("__u"), lit(variants.toLong)))
      .groupBy("variant")
      .agg(count(lit(1)).cast("long").as("n_u"),
        sum(d18(col("__x"))).cast("decimal(38,0)").as("sx_v"),
        sum(d18(col("__y"))).cast("decimal(38,0)").as("sy_v"))
    val nd = col("n").cast("double")
    val covNum = nd * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val varXden = dec(col("n")) * col("sxx") - col("sx") * col("sx")
    val varYden = dec(col("n")) * col("syy") - col("sy") * col("sy")
    val varXd = nd * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val varYd = nd * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val theta = covNum / varXd
    val meanX = col("sx_v").cast("double") / col("n_u").cast("double")
    val meanY = col("sy_v").cast("double") / col("n_u").cast("double")
    val adj = meanY - theta *
      (meanX - col("sx").cast("double") / nd)
    byVariant.crossJoin(broadcast(g))
      .select(col("variant"), col("n_u"), col("sx_v"), col("sy_v"),
        meanX.as("mean_x"), meanY.as("mean_y"),
        when(varXden =!= 0L, theta).otherwise(lit(null).cast("double"))
          .as("theta"),
        when(varXden =!= 0L, adj).otherwise(lit(null).cast("double"))
          .as("adj_mean"),
        when(varXden =!= 0L && varYden =!= 0L,
          (covNum * covNum) / (varXd * varYd))
          .otherwise(lit(null).cast("double")).as("rho2"))
  }

  /** Densify per-(`keyCol`, hour) counts onto the FULL calendar spine
    * between the corpus's first and last hour: quiet hours appear with
    * n = 0 instead of being absent — the calendar-semantics companion of
    * [[anomalyBuckets]] (whose trailing window deliberately skips quiet
    * hours) and the shape every downstream time-series model expects.
    *
    * Scale shape: the data-sized work is the same ONE keyed partial-agg
    * shuffle down to (key, hour) counts; the spine is `sequence()` over a
    * broadcast 1-row global bounds frame × the distinct key table (both
    * tiny aggregates of the bucket table, NOT of raw events), and the
    * fill join is spine-sized — O(keys × hours), data-size-independent. */
  def resampleHourly(
      events: DataFrame,
      keyCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val buckets = events
      .groupBy(col(keyCol),
        unix_micros(date_trunc("hour", col(tsCol))).as("bucket_us"))
      .agg(count(lit(1)).as("n"))
    val bounds = buckets.agg(min(col("bucket_us")).as("lo"),
      max(col("bucket_us")).as("hi"))
    val keys = buckets.select(col(keyCol)).distinct()
    val spine = keys.crossJoin(broadcast(bounds))
      .select(col(keyCol),
        explode(sequence(col("lo"), col("hi"), lit(3600000000L)))
          .as("bucket_us"))
    spine.join(buckets, Seq(keyCol, "bucket_us"), "left")
      .select(col(keyCol), col("bucket_us"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Rolling `window`-day DISTINCT active users per day — the DAU/WAU
    * metric. A distinct count over a sliding window is not
    * window-aggregatable on any engine; the scalable shape is: collapse
    * events to DISTINCT (user, day) rows (one keyed shuffle — the only
    * data-sized step), EXPLODE each into the `window` spine days it
    * contributes to (a ×window row expansion of the already-collapsed
    * user-day table), and count per spine day — every stage
    * partial-aggregates, nothing holds per-day user sets in memory.
    * Days with no active users in their window appear with 0 via the
    * dense calendar spine; spine days beyond the data's last day are not
    * reported. Day = floor(epoch/86400) UTC. */
  def rollingActiveUsers(
      events: DataFrame,
      window: Int = 7,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val userDays = events
      .select(col(userCol).as("u"),
        floor(unix_micros(col(tsCol)) / lit(86400000000L)).cast("long")
          .as("day"))
      .distinct()
    val bounds = userDays.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val contrib = userDays
      .select(col("u"),
        explode(sequence(col("day"), col("day") + lit(window - 1).cast("long")))
          .as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("n_active"))
    bounds.select(explode(sequence(col("lo"), col("hi"))).as("day"))
      .join(contrib, Seq("day"), "left")
      .select(col("day"), coalesce(col("n_active"), lit(0L)).as("n_active"))
  }

  /** User growth curve: per day, the count of users whose FIRST-ever event
    * falls on that day (`n_new`) and the cumulative unique-user total
    * (`cum_users`) — the exact form of the "distinct users over time"
    * curve, which naive COUNT(DISTINCT) OVER cannot express and HLL only
    * estimates. Only days on which some user first appears are emitted
    * (join [[resampleHourly]]-style spines upstream for calendar
    * semantics).
    *
    * Scale shape: ONE user-keyed partial-agg shuffle (min event day per
    * user), collapse to a DAY histogram (days-sized), then the two-phase
    * distributed prefix sum over day order — no data-sized window, no
    * driver state. Day = floor(epoch/1d) UTC. */
  def userGrowth(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val firstDay = events
      .groupBy(col(userCol))
      .agg(min(floor(unix_micros(col(tsCol)) / lit(86400000000L)).cast("long"))
        .as("day"))
    val perDay = firstDay.groupBy("day").agg(count(lit(1)).as("n_new"))
    graft.ops.RunningCount.withRunningAgg(
      perDay, col("n_new"), graft.ops.RunningCount.Kind.Sum,
      Seq(col("day")), "cum_users")
      .select(col("day"), col("n_new"), col("cum_users").cast("long").as("cum_users"))
  }

  /** Trailing-window anomaly flags on per-(`keyCol`, hour) event counts:
    * a bucket is anomalous when its count deviates from the mean of the
    * previous `window` OBSERVED buckets by more than `sigmas` sample
    * standard deviations.
    *
    * The test is the cross-multiplied INTEGER inequality
    * `(w*n - s)^2 * (w-1) > sigmas^2 * w * (w*ss - s^2)` — algebraically
    * `(n - mean)^2 > sigmas^2 * var` with `var = (ss - s^2/w)/(w-1)` —
    * so there is no sqrt, no division, and no float anywhere: the flag
    * hash-matches any engine doing the same integer arithmetic. Warm-up
    * buckets (< `window` preceding observations) are emitted with
    * `is_anomaly = false` and their `w_prev` count, so callers can mask
    * them. "Previous observed buckets", not calendar hours: an
    * all-quiet hour produces no bucket and does not dilute the window
    * (document-level choice; densify with a calendar spine upstream if
    * calendar semantics are wanted).
    *
    * Scale shape: the event-sized work is ONE keyed partial-aggregated
    * shuffle down to (key, hour) counts; the window then runs over
    * BUCKET rows — O(hours) per key, pre-shrunk by the aggregation, so
    * the per-key sort is trivially small at any corpus size (the window
    * never sees raw events). Counts, sums and sums-of-squares stay in
    * longs: hourly counts up to ~10^6 keep `w*ss` under 10^15 for w=24. */
  def anomalyBuckets(
      events: DataFrame,
      window: Int = 24,
      sigmas: Int = 2,
      keyCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    require(sigmas >= 1, s"sigmas must be >= 1: $sigmas")
    val buckets = events
      .groupBy(col(keyCol),
        unix_micros(date_trunc("hour", col(tsCol))).as("bucket_us"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket_us"))
      .rowsBetween(-window, -1)
    val s = sum(col("n")).over(w)
    val ss = sum(col("n") * col("n")).over(w)
    val wPrev = count(col("n")).over(w)
    val wl = lit(window.toLong)
    val dev = wl * col("n") - col("s_prev")
    buckets
      .withColumn("s_prev", s)
      .withColumn("ss_prev", ss)
      .withColumn("w_prev", wPrev)
      .withColumn("is_anomaly",
        col("w_prev") === wl &&
          dev * dev * lit(window - 1L) >
            lit(sigmas.toLong * sigmas) * wl *
              (wl * col("ss_prev") - col("s_prev") * col("s_prev")))
      .select(col(keyCol), col("bucket_us"), col("n"),
        coalesce(col("s_prev"), lit(0L)).as("s_prev"),
        coalesce(col("ss_prev"), lit(0L)).as("ss_prev"),
        col("w_prev"), col("is_anomaly"))
  }

  /** Two-sided CUSUM change-point scores on per-(`keyCol`, hour) event
    * counts — the sequential drift detector that catches a SUSTAINED
    * level shift (a source going quiet, a scraper ramping up) that
    * [[anomalyBuckets]]' single-bucket z-test structurally cannot: each
    * bucket's deviation from `ref` accumulates, decaying only when the
    * signal returns inside the `slack` band.
    *
    * The textbook recursion `S_t = max(0, S_{t-1} + (n_t - ref - slack))`
    * is not a window aggregate, but its closed form is: with
    * `P_t = Σ_{i<=t} (n_i - ref - slack)`, `S_t = P_t - min(0, min_{i<=t}
    * P_i)` (the clamp at zero is a running minimum of the prefix sums —
    * provable by induction on t). Both the prefix sum and the running min
    * are plain cumulative window aggregates over LONGs, so the whole
    * detector is exact integer arithmetic: no recursion, no float, and
    * bit-identical in any engine. The downward side mirrors with
    * `ref - slack - n_t`. `is_alarm` fires when either side reaches
    * `threshold`.
    *
    * `ref` (the in-control per-bucket mean) and `slack` (the half-width
    * of the indifference band, classically k = δ/2 for a shift of size δ)
    * come from the caller — typically last month's [[anomalyBuckets]]-style
    * baseline — keeping the operator a pure function of its inputs.
    *
    * Scale shape: identical to [[anomalyBuckets]] — one keyed
    * partial-aggregated shuffle collapses events to (key, hour) rows;
    * both cumulative windows run over those pre-shrunk bucket rows in ONE
    * sort (same partition/order spec), so raw events never enter a window
    * and per-key state is O(hours). */
  def cusum(
      events: DataFrame,
      ref: Long,
      threshold: Long,
      slack: Long = 0L,
      keyCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(slack >= 0, s"slack must be >= 0: $slack")
    require(threshold >= 1, s"threshold must be >= 1: $threshold")
    val buckets = events
      .groupBy(col(keyCol),
        unix_micros(date_trunc("hour", col(tsCol))).as("bucket_us"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets
      .withColumn("__p_hi", sum(col("n") - lit(ref + slack)).over(w))
      .withColumn("__p_lo", sum(lit(ref - slack) - col("n")).over(w))
      .withColumn("cusum_hi",
        col("__p_hi") - least(lit(0L), min(col("__p_hi")).over(w)))
      .withColumn("cusum_lo",
        col("__p_lo") - least(lit(0L), min(col("__p_lo")).over(w)))
      .withColumn("is_alarm",
        col("cusum_hi") >= threshold || col("cusum_lo") >= threshold)
      .select(col(keyCol), col("bucket_us"), col("n"),
        col("cusum_hi"), col("cusum_lo"), col("is_alarm"))
  }

  /** OHLC time-bucket downsampling: per (key, hour) — open/close by
    * min_by/max_by on the (ts, tie) order, high/low by plain min/max,
    * volume as exact integer cents (the source carries ≤2 decimals; a
    * float sum's order-dependent accumulation could never cross the
    * bit-exact gate), and the bar's event count. The metrics-downsampling
    * primitive: 10⁹ raw points per series become 24 bars/day.
    *
    * Scale shape: ONE partial-aggregable keyed shuffle — min_by/max_by
    * reduce map-side to one candidate per (partition × bucket), so the
    * exchange carries bars, not events. No windows, no per-key sort
    * (contrast: the arg-min-via-row_number formulation shuffles every
    * raw event). */
  def ohlcBars(
      events: DataFrame,
      keyCol: String = "event_type",
      tsCol: String = "ts",
      valueCol: String = "value",
      tieCol: String = "event_id"): DataFrame = {
    val ord = struct(col(tsCol), col(tieCol))
    events
      .groupBy(col(keyCol),
        unix_micros(date_trunc("hour", col(tsCol))).as("bucket_us"))
      .agg(
        min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        sum(round(col(valueCol) * lit(100)).cast("long")).as("volume_cents"),
        count(lit(1)).as("n_events"))
  }

  /** Per-key activity TREND: the least-squares slope of (events per day)
    * over (day) for each key, as an EXACT integer fraction —
    * slope = slope_num / slope_den with
    *   slope_num = n·Σxy − Σx·Σy,  slope_den = n·Σx² − (Σx)²
    * over the key's (day, daily count) points. Integer sums of integer
    * inputs are associative and engine-exact, so the fraction crosses a
    * bit-exact gate where `regr_slope`'s streaming-covariance float
    * accumulation (order-dependent partial sums) never could. A key seen
    * on a single day reports slope_den = 0 — "no trend defined", left to
    * the caller rather than smuggled into a fake 0 slope.
    *
    * Days are centered on the GLOBAL min day (one broadcast scalar) so
    * the products stay small: with x < 10⁵ days of history and daily
    * counts < 10⁹, n·Σxy < 10⁵·10⁵·10⁵·10⁹ overflows — centering keeps
    * x in corpus-lifetime range (~10³-10⁴) where every term fits 2^63
    * with orders of magnitude to spare.
    *
    * Scale shape: two partial-agg shuffles — (key, day) then (key) — both
    * map-side combinable; the min-day scalar is a broadcast one-row
    * cross join. No windows, no per-key sort. */
  def activityTrend(
      events: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val day = floor(unix_micros(col(tsCol)) / lit(86400000000L)).cast("long")
    val daily = events
      .groupBy(col(keyCol), day.as("__day"))
      .agg(count(lit(1)).as("__y"))
    // global min day from the RAW scan (ts column only — pruned), not from
    // `daily`: an agg over `daily` would re-run the (key, day) shuffle for
    // the scalar unless exchange reuse happens to fire
    val minDay = events.agg(min(day).as("__d0"))
    daily
      .crossJoin(broadcast(minDay))
      .select(col(keyCol), (col("__day") - col("__d0")).as("__x"), col("__y"))
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sx2"))
      .select(col(keyCol), col("n_days"),
        (col("n_days") * col("__sxy") - col("__sx") * col("__sy"))
          .as("slope_num"),
        (col("n_days") * col("__sx2") - col("__sx") * col("__sx"))
          .as("slope_den"))
  }
}
