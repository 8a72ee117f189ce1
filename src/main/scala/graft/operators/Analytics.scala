package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series / snapshot analytics operators: windowed EWMA smoothing,
  * calendar gap-fill with forward-fill, z-score anomaly flagging, SCD
  * type-2 history materialization, and snapshot diffing.
  *
  * All are composed from narrow transforms + per-key windows (one
  * key-partitioned exchange each; no self-joins on the corpus), so they
  * hold at 100 TB: the only wide stage is the hash-partition by entity
  * key, and per-key state is bounded (W trailing rows for EWMA, one
  * running value for forward-fill).
  *
  * Reference analogue: the reference's stream combinators stop at
  * fold/group_by (amadeus-core/src/pipe.rs); these are the standard
  * event-analytics rollups a warehouse user would expect on top.
  */
object Analytics {

  /** Round to the 1e-12 grid (house convention: makes double math
    * engine-replayable — DuckDB and Spark may sum in different orders). */
  private def grid(c: Column): Column = floor(c * lit(1e12) + lit(0.5)) / lit(1e12)

  /** Per-key Greenwald–Khanna quantiles — the SCALE twin of the exact
    * per-group `percentile(...)` shapes (t09/c14): exact group
    * percentiles buffer every group's value column inside one aggregation
    * buffer (at 100 TB a hot group is a per-group SORT that cannot
    * spill); this form keeps O((1/ε)·log(εN)) tuples per group and
    * answers every quantile within ±εN RANK error at any partition count
    * (the sk28-proven merge bound, now keyed — gate sk29 asserts the
    * bound PER GROUP against exact ranks).
    *
    * Plan shape: one hash-partitioned ObjectHashAggregate keyed on
    * `keyCols` with map-side partial GK summaries — group count never
    * limits parallelism, group SIZE never limits memory. Returned values
    * are members of each group's stream (GK answers, not interpolations).
    *
    * @return keyCols ++ `quantiles` array<double> (qs order; groups
    *         whose values are ALL null/NaN are absent from the result)
    */
  def gkQuantilesByKey(df: DataFrame, keyCols: Seq[String], valCol: String,
      qs: Seq[Double], eps: Double = 0.01): DataFrame = {
    require(keyCols.nonEmpty, "gkQuantilesByKey needs at least one key column")
    require(qs.nonEmpty, "gkQuantilesByKey needs at least one quantile")
    import df.sparkSession.implicits._
    val agg = new graft.aggregators.SketchAggregators.ApproxQuantiles[Double](
      eps, qs, identity)
    val fn = udaf(agg)
    // null/NaN values are dropped BEFORE aggregation (a primitive-Double
    // UDAF would otherwise see null as 0.0 — a silent wrong answer);
    // groups whose values are ALL null/NaN are absent from the result,
    // like a groupBy over an empty frame
    df.filter(col(valCol).isNotNull && !isnan(col(valCol).cast("double")))
      .groupBy(keyCols.map(col): _*)
      .agg(fn(col(valCol).cast("double")).as("quantiles"))
  }

  /** Auto-regime per-group quantiles (the d25/t19 dispatcher discipline:
    * the engine picks, the caller doesn't). One bounded aggregate
    * measures the LARGEST group; at or below `exactCeiling` rows the
    * exact interpolating `percentile` wins (its per-group buffer fits a
    * task comfortably — the measured regime at every sandbox scale),
    * above it a single group's buffer would dominate task memory, so the
    * GK sketch takes over with the ±εN rank guarantee.
    *
    * Note the regimes' answers differ by DESIGN: exact percentiles
    * interpolate between neighbors, GK returns an actual stream member
    * within ±εN rank. Callers needing bit-stable output across scales
    * should call one of the regimes directly.
    *
    * The default ceiling mirrors [[graft.operators.LanguageModel.perplexityBucketsAuto]]:
    * ~50M doubles (400 MB of raw values, less after agg-buffer boxing)
    * is where one group's exact buffer stops being comfortable. */
  def groupQuantilesAuto(df: DataFrame, keyCols: Seq[String], valCol: String,
      qs: Seq[Double], eps: Double = 0.01,
      exactCeiling: Long = 50000000L): DataFrame = {
    require(keyCols.nonEmpty && qs.nonEmpty, "need keys and quantiles")
    // the SAME null/NaN pre-filter for the CENSUS and BOTH regimes: the
    // ceiling decision keys off exactly the row set a regime will
    // process (an unfiltered census could only err conservatively toward
    // GK, but it also measured rows neither regime sees), the flip never
    // adds/drops groups, and a NaN (which Spark sorts greatest) can't
    // poison a percentile. Column API (not a SQL splice) so
    // backtick-needing column names behave identically in both regimes.
    // Census cost: like q21Auto's, the dispatch pays one extra bounded
    // aggregation scan (O(groups) result rows) before the real one —
    // the price of the engine picking the regime.
    val filtered =
      df.filter(col(valCol).isNotNull && !isnan(col(valCol).cast("double")))
    if (maxGroupSize(filtered, keyCols) <= exactCeiling)
      filtered.groupBy(keyCols.map(col): _*)
        .agg(percentile(col(valCol).cast("double"),
          lit(qs.toArray)).as("quantiles"))
    else
      gkQuantilesByKey(filtered, keyCols, valCol, qs, eps)
  }

  /** Size of the LARGEST group — the one-aggregate census every
    * auto-dispatcher in the family keys off (d25 block census, t19's
    * class ceiling, the quantile regimes). O(groups) result rows after
    * map-side combine; null-safe on an empty frame. */
  private[operators] def maxGroupSize(df: DataFrame,
      keyCols: Seq[String]): Long = {
    val row = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** Exponentially weighted moving average over a bounded trailing window
    * of `win` rows per key: ewma_n = Σ_{j=0..m-1} (1-α)^j·x_{n-j} / Σ (1-α)^j
    * with m = min(win, rows so far). The bounded window (vs the infinite
    * recursive form) keeps the weights in well-conditioned double range for
    * arbitrarily long series AND makes per-row cost O(win) regardless of
    * history length — the form you can actually run on an unbounded stream.
    *
    * One key-partitioned exchange; the collect_list window buffer is
    * `win` doubles per row, codegen-friendly higher-order aggregate.
    *
    * @param quantized snap each weighted term to the 1e-6 grid and sum as
    *   BIGINT micro-units — integer addition is order-independent, so the
    *   result is bit-replayable by any engine regardless of summation
    *   order. Default natural
    *   double math (differs from quantized by < 2e-6 per row).
    *
    * Null values: collect_list skips them, so a null shrinks the window
    * (the average runs over the observed values) rather than nulling the
    * row — same convention as SQL avg.
    */
  def ewmaWindowed(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
      valueCol: String, alpha: Double, win: Int = 20,
      quantized: Boolean = false): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    require(win >= 1, s"win must be >= 1: $win")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*).rowsBetween(-(win - 1), 0)
    val vals = collect_list(col(valueCol)).over(w)
    df.withColumn("ewma", ewmaFromVals(vals, alpha, quantized))
  }

  /** The EWMA formula over an oldest→newest value array (the shared core
    * of [[ewmaWindowed]] and [[ewmaLast]] — one expression, so the two
    * forms cannot drift): weight (1-α)^(n-i) for element i (1-based),
    * denominator (1-(1-α)^n)/α. */
  private def ewmaFromVals(vals: Column, alpha: Double,
      quantized: Boolean): Column = {
    val q = lit(1.0 - alpha)
    val n = size(vals)
    val den = (lit(1.0) - pow(q, n.cast("double"))) / lit(alpha)
    if (quantized) {
      val numMicro = aggregate(sequence(lit(1), n), lit(0L),
        (acc, i) => acc + floor(element_at(vals, i) *
          pow(q, (n - i).cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
      round(numMicro / lit(1e6) / den, 4)
    } else {
      val num = aggregate(sequence(lit(1), n), lit(0.0).cast("double"),
        (acc, i) => acc + element_at(vals, i) * pow(q, (n - i).cast("double")))
      grid(num / den)
    }
  }

  /** [[ewmaWindowed]] reduced to the LAST row per key — the "current
    * smoothed value per entity" query shape (c03). Computing the full
    * per-row EWMA and keeping one row wastes an O(win) window aggregate
    * on every event (measured: 2.3× c03's runtime at sf0.1); this form
    * ranks rows once per key, keeps only the trailing `win` rows, and
    * runs the identical formula once per key over that bounded set —
    * same single key-partitioned exchange, the per-event work drops to
    * a row_number comparison, and the per-key aggregate state is ≤ win
    * rows at any corpus size.
    *
    * Result-identical to
    * `ewmaWindowed(...)` + `count().over(key)` + keep-last-row
    * (AnalyticsSpec pins the equality): the trailing `win` rows re-sort
    * oldest→newest via `sort_array` over the (orderCols..., value)
    * struct, nulls among the values are skipped exactly like the window
    * form's `collect_list`, and `n_events` counts ALL the key's rows.
    * `orderCols` must be a per-key total order (the same determinism
    * [[ewmaWindowed]] already requires of its window sort).
    *
    * @return one row per key: (keyCols*, n_events, ewma)
    */
  def ewmaLast(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
      valueCol: String, alpha: Double, win: Int = 20,
      quantized: Boolean = false): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    require(win >= 1, s"win must be >= 1: $win")
    val keys = keyCols.map(col)
    val wDesc = Window.partitionBy(keys: _*)
      .orderBy(orderCols.map(col(_).desc): _*)
    val wAll = Window.partitionBy(keys: _*)
    val ranked = df
      .withColumn("__rk", row_number().over(wDesc))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__rk") <= win)
    // trailing rows back in window order (oldest→newest); the (orderCols,
    // value) struct sorts by the order prefix — a per-key total order, so
    // the value field never influences placement
    val ordStruct = struct(orderCols.map(col) :+ col(valueCol).as("__v"): _*)
    val vals = filter(
      transform(sort_array(col("__wrows")), s => s.getField("__v")),
      v => v.isNotNull)
    ranked.groupBy(keys: _*)
      .agg(first(col("__n")).as("n_events"),
        collect_list(ordStruct).as("__wrows"))
      .select(keys :+ col("n_events") :+
        ewmaFromVals(vals, alpha, quantized).as("ewma"): _*)
  }

  /** Per-key calendar gap-fill at day granularity: build the full day grid
    * from each key's first to last observation, left-join the observed
    * daily aggregate, and forward-fill missing days with the last observed
    * value. `observed` marks real vs filled rows.
    *
    * The grid is generated per key with `sequence` (narrow); the only
    * exchanges are the daily pre-aggregate and the per-key order for the
    * forward-fill window — both keyed on the entity, both
    * group-cardinality-sized, never event-sized.
    */
  def gapFillDaily(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    // the sum keeps the caller's value type: pass an integer unit column
    // (e.g. cents) when the result must be bit-replayable cross-engine.
    // null timestamps are dropped explicitly — a null day-group would
    // otherwise vanish silently when the grid sequence hits null bounds
    val daily = df.filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol), date_trunc("day", col(tsCol)).as("day"))
      .agg(sum(col(valueCol)).as("day_value"))
    val span = daily.groupBy(col(keyCol))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val gridDf = span.select(col(keyCol),
      explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    gridDf.join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"),
        last(col("day_value"), ignoreNulls = true).over(w).as("filled_value"),
        col("day_value").isNotNull.as("observed"))
  }

  /** Per-group z-score anomaly flagging: |x - μ_g| > z·σ_g (population σ).
    * Group stats come from ONE map-side-combined aggregate; the stats
    * table is group-cardinality-sized and broadcast back — the corpus
    * itself never shuffles. Degenerate groups (σ=0) flag nothing.
    */
  def zscoreAnomalies(df: DataFrame, groupCol: String, valueCol: String,
      z: Double = 3.0): DataFrame = {
    val stats = df.groupBy(col(groupCol)).agg(
      avg(col(valueCol)).as("mu"),
      stddev_pop(col(valueCol)).as("sigma"))
    // null metrics score 0 (never anomalous) rather than propagating a
    // null flag that every downstream census would silently skip
    df.join(broadcast(stats), groupCol)
      .withColumn("zscore",
        coalesce(when(col("sigma") > 0,
          grid((col(valueCol) - col("mu")) / col("sigma"))), lit(0.0)))
      .withColumn("is_anomaly", abs(col("zscore")) > lit(z))
  }

  /** SCD type-2 history: every change-log row becomes a version with
    * [valid_from, valid_to) bounds; the latest version per key has
    * valid_to = NULL and is_current = true. ONE key-partitioned window
    * (lead), no join — the warehouse dimension-history materialization.
    * Ties on the sequence columns are broken by their full ordering; pass
    * a unique tiebreaker (e.g. the changelog offset) as the last seqCol.
    */
  def scd2(log: DataFrame, keyCols: Seq[String], seqCols: Seq[String]): DataFrame = {
    require(seqCols.nonEmpty, "scd2 needs at least one sequence column")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(seqCols.map(col): _*)
    log
      .withColumn("valid_from", col(seqCols.head))
      .withColumn("valid_to", lead(col(seqCols.head), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Robust per-group scaling: scaled = (x − median) / IQR — the
    * outlier-insensitive alternative to z-scoring for heavy-tailed
    * metrics (a single 10⁶× outlier shifts mean/σ but not median/IQR).
    * Exact interpolating percentiles in ONE group aggregate (three
    * quantiles fused), stats broadcast back; σ-degenerate (IQR=0)
    * groups scale to 0. The corpus itself never shuffles.
    */
  def robustScale(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val stats = df.groupBy(col(groupCol)).agg(
      expr(s"percentile($valueCol, 0.5)").as("med"),
      (expr(s"percentile($valueCol, 0.75)") -
        expr(s"percentile($valueCol, 0.25)")).as("iqr"))
    df.join(broadcast(stats), groupCol)
      .withColumn("scaled",
        when(col("iqr") > 0,
          floor((col(valueCol) - col("med")) / col("iqr") * lit(1e12) +
            lit(0.5)) / lit(1e12))
          .otherwise(lit(0.0)))
  }

  /** Per-key rolling time-window aggregates: at every event, the count
    * and sum over the trailing `windowUs` microseconds (inclusive of the
    * current row and its timestamp peers — RANGE frame semantics, not
    * ROWS). One key-partitioned exchange; state per key is the frame
    * Spark slides over the sorted run. Integer value columns keep the
    * sums engine-exact. This is the load/velocity feature ("events and
    * spend in the last hour") RANGE frames exist for — a ROWS frame is
    * wrong whenever event density varies.
    */
  def rollingWindow(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, windowUs: Long): DataFrame = {
    require(windowUs >= 1, s"windowUs=$windowUs must be >= 1")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-(windowUs - 1), 0)
    df.withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_sum", sum(col(valueCol)).over(w))
  }

  /** Ordered conversion funnel (ClickHouse-windowFunnel shape): per key,
    * the stages must occur in order, all within `horizonUs` of the first
    * stage's first occurrence. Greedy-earliest matching: t₁ = first
    * stage-1 event; tᵢ = first stage-i event at or after tᵢ₋₁ and within
    * the horizon. Returns (key, depth, t_1..t_n) with depth = deepest
    * stage reached.
    *
    * Shape: ONE key-partitioned shuffle. Stage-relevant events are
    * filtered BEFORE the exchange, collected per key, array_sort'ed by
    * (time, stage) and folded left-to-right with an n-slot state struct
    * — coalesce keeps the FIRST qualifying time per stage, which is
    * exactly the greedy chain (ClickHouse computes this with the same
    * sorted per-key scan). Per-key memory is that key's stage-relevant
    * events — the sessionize state-machine envelope. Same-timestamp
    * stage_{i−1}/stage_i events resolve in stage order, matching the
    * tᵢ ≥ tᵢ₋₁ inclusive semantics.
    *
    * Stage predicates must be DISJOINT per event (an event matching two
    * stages registers only the earliest one here).
    */
  def windowFunnel(df: DataFrame, keyCols: Seq[String], tsCol: String,
      stages: Seq[Column], horizonUs: Long): DataFrame = {
    require(stages.size >= 2, "windowFunnel needs at least 2 stages")
    require(horizonUs >= 1, s"horizonUs=$horizonUs must be >= 1")
    val keys = keyCols.map(col)
    val ts = unix_micros(col(tsCol))
    val stageIdx = stages.zipWithIndex.foldRight(lit(-1): Column) {
      case ((p, i), rest) => when(p, lit(i)).otherwise(rest)
    }
    val evs = df
      .select(keys :+ ts.as("us") :+ stageIdx.as("stg"): _*)
      .filter(col("stg") >= 0)
      .groupBy(keys: _*)
      .agg(array_sort(collect_list(struct(col("us"), col("stg")))).as("evs"))
    val init = struct(stages.indices.map(i =>
      lit(null).cast("long").as(s"t_${i + 1}")): _*)
    val folded = aggregate(col("evs"), init, (st, e) => {
      val slots = stages.indices.map { i =>
        val cand =
          if (i == 0) when(e.getField("stg") === 0, e.getField("us"))
          else when(e.getField("stg") === i &&
            st.getField(s"t_$i").isNotNull &&
            e.getField("us") >= st.getField(s"t_$i") &&
            e.getField("us") <= st.getField("t_1") + lit(horizonUs),
            e.getField("us"))
        coalesce(st.getField(s"t_${i + 1}"), cand).as(s"t_${i + 1}")
      }
      struct(slots: _*)
    })
    // depth counts consecutively reached stages (a gap caps it there)
    val gated = stages.indices.tail.foldLeft(lit(1): Column) { (d, i) =>
      when(col(s"t_${i + 1}").isNotNull && d === i, lit(i + 1)).otherwise(d)
    }
    evs.withColumn("__f", folded)
      .select(keys ++ stages.indices.map(i =>
        col(s"__f.t_${i + 1}").as(s"t_${i + 1}")): _*)
      .filter(col("t_1").isNotNull)
      .withColumn("depth", gated)
  }

  /** Diff two snapshots of a keyed table: each key is classified as
    * `added` (new only), `removed` (old only), `changed` (both, any
    * compare column differs — null-safe), or `unchanged`. One full outer
    * join on the key (shuffle or broadcast — Catalyst/AQE picks); the
    * compare is a narrow null-safe predicate over the paired columns.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "snapshotDiff needs compare columns")
    // explicit presence markers: a legitimately-NULL compare column must
    // not make a present row look absent
    val o = compareCols.foldLeft(oldDf.withColumn("_in_old", lit(true)))(
      (d, c) => d.withColumnRenamed(c, s"old_$c"))
    val n = compareCols.foldLeft(newDf.withColumn("_in_new", lit(true)))(
      (d, c) => d.withColumnRenamed(c, s"new_$c"))
    val joined = o.join(n, keyCols, "full_outer")
    val inOld = col("_in_old").isNotNull
    val inNew = col("_in_new").isNotNull
    val anyDiff = compareCols.map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    joined.withColumn("diff_status",
      when(!inOld, lit("added"))
        .when(!inNew, lit("removed"))
        .when(anyDiff, lit("changed"))
        .otherwise(lit("unchanged")))
      .drop("_in_old", "_in_new")
  }

  /** Seasonal-naive forecast backtest: predict each period's value as
    * the value one season earlier (`ŷ(d) = y(d − seasonDays)`) and score
    * the prediction over every period where both sides exist — the
    * baseline every fancier forecaster must beat, and the cheap
    * "is today anomalous vs last week" monitor. Integer `cents` keep
    * the error sums exact; MAE/bias are single divisions at the end.
    *
    * One keyed daily aggregate + one self-join on `(key, day − season)`
    * — group-cardinality-sized frames only. Periods with zero activity
    * are absent rows (not zeros): the backtest scores observed-vs-
    * observed, callers wanting dense grids compose [[gapFillDaily]]
    * first.
    *
    * The season shift is CALENDAR-day arithmetic on a DATE
    * (`date_add`), not a day-time INTERVAL on the truncated timestamp:
    * a fixed-86400s interval shifted across a DST transition lands at
    * 01:00/23:00, the equi-join misses, and those periods would be
    * silently unscored in any DST session timezone. */
  def seasonalNaiveBacktest(df: DataFrame, keyCol: String, tsCol: String,
      centsCol: String, seasonDays: Int = 7): DataFrame = {
    require(seasonDays >= 1, s"seasonDays=$seasonDays must be >= 1")
    val daily = df.groupBy(col(keyCol).as("k"),
        col(tsCol).cast("date").as("day"))
      .agg(sum(col(centsCol)).as("y"))
    val lagged = daily.select(col("k"),
      date_add(col("day"), seasonDays).as("day"),
      col("y").as("yhat"))
    daily.join(lagged, Seq("k", "day"))
      .groupBy(col("k").as(keyCol))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("y") - col("yhat"))).as("abs_err_cents"),
        sum(col("y") - col("yhat")).as("bias_cents"),
        round(sum(abs(col("y") - col("yhat"))).cast("double") /
          count(lit(1)), 4).as("mae_cents"))
  }

  /** Multi-touch ATTRIBUTION join: for every conversion, the touchpoints
    * of the same user inside the lookback window, annotated with
    * everything the standard models need — `n_touches`, `is_first`,
    * `is_last` (ties broken by `(ts, id)`, so first-touch / last-touch /
    * linear are all deterministic aggregations over this one frame).
    *
    * Conversions with NO touch in the window carry one row with a null
    * channel and `n_touches = 0` — surfaced, not dropped, so "direct"
    * revenue is never silently lost.
    *
    * 100 TB plan: both sides are column-pruned projections of the event
    * log; the join and the per-conversion windows are all keyed (user,
    * then conversion id) — two keyed shuffles, no global sort, fan-out
    * bounded by touches-per-user-per-window.
    */
  def touchAttribution(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, touchPred: Column, convPred: Column, channel: Column,
      valueCol: String, lookbackUs: Long): DataFrame = {
    require(lookbackUs > 0, s"lookbackUs=$lookbackUs must be positive")
    val t = df.filter(touchPred).select(col(userCol).as("u"),
      col(tsCol).as("t_ts"), col(idCol).as("t_id"), channel.as("channel"))
    val c = df.filter(convPred).select(col(userCol).as("u"),
      col(tsCol).as("c_ts"), col(idCol).as("conv_id"), col(valueCol).as("value"))
    val j = c.join(t,
      c("u") === t("u") &&
        unix_micros(col("t_ts")) < unix_micros(col("c_ts")) &&
        unix_micros(col("t_ts")) >= unix_micros(col("c_ts")) - lit(lookbackUs),
      "left_outer")
    val wAsc = Window.partitionBy(col("conv_id"))
      .orderBy(col("t_ts").asc, col("t_id").asc)
    val wDesc = Window.partitionBy(col("conv_id"))
      .orderBy(col("t_ts").desc, col("t_id").desc)
    j.select(col("conv_id"), col("c_ts"), col("value"), col("channel"),
        col("t_ts"), col("t_id"))
      .withColumn("n_touches",
        count(col("t_id")).over(Window.partitionBy(col("conv_id"))))
      .withColumn("is_first",
        col("t_id").isNotNull && row_number().over(wAsc) === 1)
      .withColumn("is_last",
        col("t_id").isNotNull && row_number().over(wDesc) === 1)
  }
}
