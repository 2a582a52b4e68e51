"""Time-series regularization: calendar gap-fill + last-observation-carried-forward.

The reference serves regular daily series per region (its daily mart is
a dense region × day grid only because the upstream download is dense —
`dashboards/app.py` line-plots assume no holes). A general engine needs
the densification to be an operator: given sparse per-key daily
observations, produce one row per (key, calendar day) between that
key's first and last observation, carrying the last value forward over
the holes (LOCF — the standard fill for state-like metrics).

Spark-first formulation, no joins:

1. per-key bounds: one aggregate → (key, min_day, max_day);
2. calendar spine: ``sequence(min_day, max_day, interval 1 day)`` +
   ``explode`` — generated JVM-side, rows never leave the executor that
   owns the key;
3. union spine (null measure) with the observations and collapse per
   (key, day) with ``max`` — an observed value beats the spine null;
4. LOCF: ``last(value, ignorenulls=True)`` over (key) ordered by day.

Cost at scale: one groupBy for bounds (tiny output), one groupBy on
(key, day), one window shuffle on key. The spine explode multiplies
rows only where holes exist — dense input passes through ~unchanged.
A naive per-key driver loop or a crossJoin against a global calendar
(every key × every day, then filter) would be the anti-patterns; the
spine here is generated per key, already bounded to the key's own span.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import _quantize_col


def daily_series(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Collapse an event stream to one row per (key, day): sum of value.

    The usual first step before densification; kept separate so callers
    can plug any per-day aggregate.
    """
    return (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.date_trunc("day", F.col(ts_col)).alias("day"),
        )
        .agg(F.sum(value_col).alias("value"))
    )


def ema(
    daily: DataFrame,
    alpha: float = 0.3,
    key_col: str = "key",
    day_col: str = "day",
    value_col: str = "value",
) -> DataFrame:
    """Per-key exponential moving average (adjust=False recurrence).

    EMA is a linear recurrence (y_t = α·x_t + (1−α)·y_{t−1}) — the one
    shape window frames genuinely cannot express, so this is the
    documented Pandas-UDF island: ``applyInPandas`` groups by key,
    Arrow ships each group once, and the recurrence runs vectorized in
    pandas (``ewm``). Cost: one shuffle on the key — identical to a
    window — plus the Python/Arrow hop; state per task is one group.

    Verified against the closed form
    ``y_t = (1−α)^t · (α·Σ_{i=1..t} x_i(1−α)^{−i} + x_0)``
    (the SQL-oracle twin), numerically safe for daily series lengths.
    """
    import pandas as pd  # noqa: F401  (executor-side import)

    out_schema = ", ".join(
        [
            f"{key_col} {daily.schema[key_col].dataType.simpleString()}",
            f"{day_col} {daily.schema[day_col].dataType.simpleString()}",
            f"{value_col} double",
            "ema double",
        ]
    )

    def _ema(pdf):
        pdf = pdf.sort_values(day_col)
        pdf["ema"] = pdf[value_col].ewm(alpha=alpha, adjust=False).mean()
        return pdf[[key_col, day_col, value_col, "ema"]]

    return daily.groupBy(key_col).applyInPandas(_ema, out_schema)


def gapfill_locf(daily: DataFrame) -> DataFrame:
    """Densify a (key, day, value) frame and forward-fill the holes.

    Returns (key, day, value_filled, was_filled): one row per calendar
    day in each key's [min_day, max_day] span. ``value_filled`` is the
    last observed value at or before that day (never null — day one is
    always observed, being the key's min). ``was_filled`` marks spine
    rows that had no observation.
    """
    bounds = daily.groupBy("key").agg(
        F.min("day").alias("_mn"), F.max("day").alias("_mx")
    )
    spine = bounds.select(
        "key",
        F.explode(
            F.sequence(F.col("_mn"), F.col("_mx"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
        F.lit(None).cast("double").alias("value"),
    )
    dense = (
        daily.select("key", "day", "value")
        .unionByName(spine)
        .groupBy("key", "day")
        .agg(F.max("value").alias("value"))
    )
    w = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        "key",
        "day",
        F.last("value", ignorenulls=True).over(w).alias("value_filled"),
        F.col("value").isNull().alias("was_filled"),
    )


def rolling_zscore(
    daily: DataFrame,
    days: int = 7,
    min_points: int = 3,
    z_thresh: float = 2.5,
    key_col: str = "key",
    day_col: str = "day",
    value_col: str = "value",
) -> DataFrame:
    """Trailing-window anomaly flags on a per-key daily series.

    A day is anomalous when its value sits more than `z_thresh` sample
    standard deviations from the mean of the PRECEDING `days`-day
    window (the current day is excluded — an outlier must not shrink
    its own z-score). One window shuffle keyed on the series key; the
    RANGE frame is over epoch seconds so calendar gaps shorten the
    window rather than silently widening it, and windows with fewer
    than `min_points` observations or zero variance never flag.

    Feed it integer-valued dailies (e.g. event counts) when an exact
    cross-engine oracle matters: the frame members are then exact and
    mean/stddev drift lives in the last ulp, removed by the final
    float32 cast on the score.
    """
    sec = F.col(day_col).cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy(sec)
        .rangeBetween(-days * 86400, -1)
    )
    mean = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    n = F.count(value_col).over(w)
    z = (F.col(value_col) - mean) / sd
    return (
        daily.withColumn("_n", n)
        .withColumn("_sd", sd)
        .withColumn("zscore", z)
        .filter(
            (F.col("_n") >= min_points)
            & (F.col("_sd") > 0)
            & (F.abs(F.col("zscore")) > z_thresh)
        )
        .select(
            key_col,
            day_col,
            value_col,
            F.col("zscore").cast("float").alias("zscore"),
        )
        .orderBy(key_col, day_col)
    )


def grouped_trend(
    df: DataFrame,
    key_cols: list[str],
    x_col: str,
    y_col: str,
    min_points: int = 2,
) -> DataFrame:
    """Per-key OLS trend line (slope, intercept, r²) in ONE aggregate.

    The "is this region warming / is this metric drifting" primitive:
    closed-form simple regression from the five sufficient statistics
    (n, Σx, Σy, Σxy, Σx²[, Σy²]) — all computed in a single hash
    aggregate with map-side partials, so the shuffle carries one
    6-number row per key at any input size. No window, no sort, no
    per-key iteration: this is the distributed formulation of what a
    pandas groupby-apply(np.polyfit) would do with a Python task per
    key.

    Degenerate keys (fewer than min_points rows, or zero x-variance)
    are dropped rather than emitting NULL/NaN slopes.

    Float contract: sums accumulate in float64; the closed forms
    subtract near-equal products (n·Σx² − Σx·Σx cancels), which
    AMPLIFIES the order-dependent last ulp of the sums — so outputs are
    ROUNDed (slope/intercept 4 dp, r² 6 dp) before the float32 cast,
    and callers should center x near the data to keep the cancellation
    shallow (see q_grouped_trend).
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    agg = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    n = F.col("n").cast("double")
    det = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / det
    intercept = (F.col("_sy") - slope * F.col("_sx")) / n
    # r² = (n·Σxy − Σx·Σy)² / ((n·Σx² − Σx²) · (n·Σy² − Σy²))
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den_y = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    r2 = F.when(den_y > 0, num * num / (det * den_y)).otherwise(F.lit(None))
    return (
        agg.filter((F.col("n") >= min_points) & (det > 0))
        .select(
            *key_cols,
            "n",
            F.round(slope, 4).cast("float").alias("slope"),
            F.round(intercept, 4).cast("float").alias("intercept"),
            F.round(r2, 6).cast("float").alias("r2"),
        )
        .orderBy(*key_cols)
    )


def diurnal_anomaly(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Hour-of-day climatology + anomaly per observation.

    The climate-analysis pattern the reference's marts exist to feed
    (ERA5 normals/anomalies, here at diurnal grain so one month of data
    is enough to define the normal): (1) one aggregate computes each
    (key, hour-of-day)'s mean — the "normal"; (2) the normals table
    (key × 24 rows, broadcast-sized by construction) joins back onto
    the observations map-side; anomaly = value − normal. Two scans of
    nothing: the fact is read once, aggregated, and re-joined — the
    second "scan" is the original frame, so Spark reuses the same
    exchange under AQE when the plan allows.

    Float contract: the normal is an order-dependent double mean →
    normal and anomaly cast to float32 at the end on both engines.
    """
    hod = F.hour(F.col(ts_col))
    normals = (
        df.groupBy(F.col(key_col), hod.alias("_hod"))
        .agg(F.avg(F.col(value_col)).alias("_normal"))
    )
    return (
        df.withColumn("_hod", hod)
        .join(F.broadcast(normals), [key_col, "_hod"])
        .select(
            key_col,
            ts_col,
            value_col,
            F.col("_normal").cast("float").alias("normal"),
            (F.col(value_col) - F.col("_normal")).cast("float").alias("anomaly"),
        )
    )


def seasonal_envelope(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    percentiles: tuple[float, float, float] = (0.1, 0.5, 0.9),
) -> DataFrame:
    """Per (key, hour-of-day) percentile bands — the seasonality envelope.

    The companion to ``diurnal_anomaly``: instead of one normal per
    slot, the p10/p50/p90 band an alerting system draws "expected
    range" from. One hash aggregate with exact interpolated
    percentiles (`percentile`, not the sketch — the slot cardinality
    is keys×24, so exactness is affordable at any input size: partial
    state is per-slot value lists only when the optimizer can't do
    better, and the output is slot-sized).
    """
    lo, mid, hi = percentiles
    hod = F.hour(F.col(ts_col))
    # NaN measurements are excluded like NULL (engine percentile
    # semantics diverge on NaN; oracle carries NOT isnan)
    df = df.filter(~F.isnan(F.col(value_col).cast("double")))
    return (
        df.groupBy(F.col(key_col), hod.alias("hour_of_day"))
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.expr(f"percentile({value_col}, {lo})").alias("_lo"),
            F.expr(f"percentile({value_col}, {mid})").alias("_mid"),
            F.expr(f"percentile({value_col}, {hi})").alias("_hi"),
        )
        .select(
            key_col,
            "hour_of_day",
            "n_obs",
            F.col("_lo").cast("float").alias("p_lo"),
            F.col("_mid").cast("float").alias("p_mid"),
            F.col("_hi").cast("float").alias("p_hi"),
        )
        .orderBy(key_col, "hour_of_day")
    )


def _dense_daily_counts(
    events: DataFrame, key_col: str, ts_col: str
) -> DataFrame:
    """(key, day, n) with EVERY calendar day in each key's span.

    Zero-event days matter to rate statistics: a quiet day IS a count
    of 0, and leaving it out of the daily aggregate would silently
    shift lag alignments (seasonal backtest) and bias the mean
    (CUSUM). Same per-key spine pattern as gapfill_locf — bounds
    aggregate + sequence/explode, no cross join against a global
    calendar.
    """
    daily = events.groupBy(
        F.col(key_col).alias("key"),
        F.date_trunc("day", F.col(ts_col)).alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    spine = (
        daily.groupBy("key")
        .agg(F.min("day").alias("_d0"), F.max("day").alias("_d1"))
        .select(
            "key",
            F.explode(
                F.sequence("_d0", "_d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    return spine.join(daily, ["key", "day"], "left").select(
        "key", "day", F.coalesce("n", F.lit(0)).alias("n")
    )


def cusum_changepoint(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key CUSUM changepoint over daily event counts.

    Classic mean-shift detection (Page 1954): for each key, take the
    daily count series n_t, compute the cumulative sum of deviations
    from the key's own mean S_t = Σ_{i≤t}(n_i − μ), and report the day
    where |S_t| peaks — the most likely single changepoint — with the
    peak drift as the change magnitude. A series with a level shift at
    day c makes |S| a tent peaking at c; a stable series keeps |S|
    near 0 (the drift magnitude doubles as a "is there a change at
    all" score callers can threshold).

    Engine-portable by construction: counts are integers, μ is ONE
    division of two exact integers, and the running sum folds in day
    order on both engines — every float op is an identical IEEE
    sequence, so the SQL oracle hash-matches bit-for-bit (no rounding
    dance needed beyond the terminal float32 cast).

    Scale: one (key, day) hash aggregate (map-side partial), one
    broadcast-sized per-key mean, one window cumsum partitioned by key
    — day count per key is calendar-bounded, so the window sort is
    tiny regardless of event volume.

    The series is DENSIFIED first (_dense_daily_counts): a zero-event
    day is a count of 0, and dropping it would bias μ upward and skew
    the drift toward quiet stretches.
    """
    daily = _dense_daily_counts(events, key_col, ts_col)
    stats = daily.groupBy("key").agg(
        F.sum("n").alias("_tot"), F.count(F.lit(1)).alias("n_days")
    )
    w_cum = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = (
        daily.join(stats, "key")
        .withColumn("_mu", F.col("_tot").cast("double") / F.col("n_days"))
        .withColumn(
            "cusum", F.sum(F.col("n") - F.col("_mu")).over(w_cum)
        )
    )
    w_rank = Window.partitionBy("key").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("day")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w_rank))
        .filter(F.col("_rn") == 1)
        .select(
            "key",
            F.col("day").cast("timestamp").alias("changepoint_day"),
            F.col("n_days").cast("long").alias("n_days"),
            F.abs(F.col("cusum")).cast("float").alias("max_drift"),
        )
        .orderBy("key")
    )


def seasonal_naive_backtest(
    events: DataFrame,
    season_lag: int = 7,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Backtest two zero-parameter forecasters on daily counts.

    The forecasting-pipeline smoke test every metrics stack needs
    BEFORE reaching for models: per key, score (a) the naive forecast
    ŷ_t = y_{t−1} and (b) the seasonal-naive ŷ_t = y_{t−season_lag}
    by mean absolute error over the days where both lags exist, plus
    the seasonal improvement ratio. A seasonal series (weekday
    patterns) makes MAE_seasonal ≪ MAE_naive; white noise ties them.

    All errors are |integer − integer|; the MAEs are one division of
    exact integer sums — bit-identical across engines before the
    terminal float32 cast. One aggregate + one per-key window (lags
    share a single (key, day-order) sort) + one aggregate.

    The series is DENSIFIED first (_dense_daily_counts): row-offset
    lags over a present-days-only series would silently drift off
    weekly alignment after a single zero-event day — the classic
    seasonal-backtest bug.
    """
    daily = _dense_daily_counts(events, key_col, ts_col)
    w = Window.partitionBy("key").orderBy("day")
    lagged = daily.select(
        "key",
        "n",
        F.lag("n", 1).over(w).alias("_l1"),
        F.lag("n", season_lag).over(w).alias("_ls"),
    ).filter(F.col("_l1").isNotNull() & F.col("_ls").isNotNull())
    return (
        lagged.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_days_scored"),
            F.sum(F.abs(F.col("n") - F.col("_l1"))).alias("_ae1"),
            F.sum(F.abs(F.col("n") - F.col("_ls"))).alias("_aes"),
        )
        .select(
            "key",
            "n_days_scored",
            (F.col("_ae1").cast("double") / F.col("n_days_scored"))
            .cast("float")
            .alias("mae_naive"),
            (F.col("_aes").cast("double") / F.col("n_days_scored"))
            .cast("float")
            .alias("mae_seasonal"),
            # exact-integer ratio: seasonal error share of naive error
            (F.col("_aes").cast("double") / F.col("_ae1"))
            .cast("float")
            .alias("seasonal_error_ratio"),
        )
        .orderBy("key")
    )


def holt_forecast(
    daily: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 7,
    key_col: str = "key",
    day_col: str = "day",
    value_col: str = "value",
) -> DataFrame:
    """Per-key Holt double exponential smoothing (level + trend) and an
    ``horizon``-step linear forecast: one row per (key, h) with
    ``forecast_day = last_day + h`` and ``yhat = level + h·trend``.

    The recurrence (l_t = α·y_t + (1−α)(l+b); b_t = β(l_t − l) +
    (1−β)b, initialized l₀ = y₁, b₀ = y₂ − y₁, folded from the second
    observation) is sequential like :func:`ema`'s — but where ema
    documents the pandas-island route, this one stays JVM-side: the
    per-key series is collected into a day-sorted array (series
    length = days per key, the same bounded-series assumption
    ``gapfill_locf`` makes) and the recurrence runs as ONE
    ``F.aggregate`` fold with a (level, trend) struct accumulator —
    no Python, no Arrow hop, whole-stage-codegen'd. Cost: one shuffle
    on the key.

    Both engines run the identical IEEE op sequence (the fold is
    order-pinned by construction — sequential recurrences have no
    fold-order freedom), so the oracle replays it with a recursive
    CTE carrying (l, b). That guarantee covers the FOLD, not the
    inputs: if the per-day values arrive from an order-free DOUBLE
    aggregate (``daily_series``'s F.sum), the caller must quantize
    them before the fold (the registered query rounds to 6 dp on both
    engines) — the recurrence amplifies a last-ulp input difference
    through every step. Single-observation keys forecast flat
    (trend 0).
    """
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1, got {horizon}")
    a, b_ = float(alpha), float(beta)
    ser = daily.groupBy(F.col(key_col).alias("key")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(day_col).alias("d"),
                    F.col(value_col).cast("double").alias("v"),
                )
            )
        ).alias("_s")
    )
    ys = F.col("_s").getField("v")
    init = F.struct(
        F.element_at(ys, 1).alias("l"),
        F.when(
            F.size(ys) >= 2, F.element_at(ys, 2) - F.element_at(ys, 1)
        ).otherwise(F.lit(0.0)).alias("b"),
    )

    def _step(acc, y):
        l_new = F.lit(a) * y + F.lit(1.0 - a) * (acc["l"] + acc["b"])
        return F.struct(
            l_new.alias("l"),
            (F.lit(b_) * (l_new - acc["l"]) + F.lit(1.0 - b_) * acc["b"])
            .alias("b"),
        )

    fitted = F.aggregate(F.slice(ys, 2, F.size(ys)), init, _step)
    return (
        ser.select(
            "key",
            F.element_at(F.col("_s").getField("d"), -1).alias("_last"),
            fitted.alias("_f"),
        )
        .select(
            "key",
            "_last",
            "_f",
            F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("h"),
        )
        .select(
            "key",
            "h",
            F.timestamp_add("DAY", F.col("h"), F.col("_last")).alias(
                "forecast_day"
            ),
            F.round(
                F.col("_f").getField("l")
                + F.col("h") * F.col("_f").getField("b"),
                6,
            ).alias("yhat"),
        )
    )


def holt_winters_forecast(
    daily: DataFrame,
    period: int = 7,
    alpha: float = 0.5,
    beta: float = 0.3,
    gamma: float = 0.3,
    horizon: int = 7,
    key_col: str = "key",
    day_col: str = "day",
    value_col: str = "value",
) -> DataFrame:
    """Per-key additive Holt-Winters (level + trend + seasonality of
    ``period`` m) and an ``horizon``-step forecast: one row per
    (key, h) with ``forecast_day = last_day + h`` and
    ``yhat = l + h·b + s[season slot of n+h]`` — the weekly-cycle
    upgrade of :func:`holt_forecast` (event streams have day-of-week
    structure a trend-only model aliases into the level).

    Deterministic init (every convention pinned so the oracle replays
    it): l₀ = mean(y₁..y_m), b₀ = (mean(y_{m+1}..y_{2m}) − l₀)/m when
    a second full season exists else 0, s_i = y_i − l₀ for the first
    season. Fold from t = m+1 (Winters 1960, additive form):

        l_t = α(y_t − s_{t−m}) + (1−α)(l + b)
        b_t = β(l_t − l) + (1−β)b
        s_t = γ(y_t − l_t) + (1−γ)s_{t−m}

    JVM-side like holt_forecast: the per-key series is a day-sorted
    array and the recurrence is ONE ``F.aggregate`` fold whose
    accumulator carries (l, b, s[period]); the season update is an
    indexed ``transform`` over the m-slot array — O(m) per step,
    whole-stage-codegen'd, no Python. Keys with fewer than ``period``
    observations are EXCLUDED (no full season to fit; mirrored by the
    oracle's HAVING). The init means fold left-to-right from the
    first element (list_reduce semantics) so both engines run the
    identical IEEE op sequence; same input-quantization caveat as
    holt_forecast.
    """
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1, got {horizon}")
    a, be, g = float(alpha), float(beta), float(gamma)
    m = int(period)
    ser = (
        daily.groupBy(F.col(key_col).alias("key"))
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(day_col).alias("d"),
                        F.col(value_col).cast("double").alias("v"),
                    )
                )
            ).alias("_s")
        )
        .filter(F.size("_s") >= m)
    )
    ys = F.col("_s").getField("v")
    n = F.size(ys)

    def _mean_first(arr):
        # left fold FROM THE FIRST ELEMENT (list_reduce semantics) so
        # the oracle's list_reduce replays the exact IEEE sequence
        return F.aggregate(
            F.slice(arr, 2, m - 1),
            F.element_at(arr, 1),
            lambda acc, y: acc + y,
        ) / F.lit(float(m))

    l0 = _mean_first(F.slice(ys, 1, m))
    b0 = F.when(
        n >= 2 * m,
        (_mean_first(F.slice(ys, m + 1, m)) - l0) / F.lit(float(m)),
    ).otherwise(F.lit(0.0))
    s0 = F.transform(F.slice(ys, 1, m), lambda x: x - l0)
    init = F.struct(l0.alias("l"), b0.alias("b"), s0.alias("s"))

    # observations m+1..n tagged with their 0-based season slot
    tail = F.transform(
        F.slice(ys, m + 1, n),
        lambda y, i: F.struct(y.alias("y"), (i % m).alias("slot")),
    )

    def _step(acc, st):
        y, slot = st["y"], st["slot"]
        s_prev = F.element_at(acc["s"], slot + F.lit(1))
        l_new = (
            F.lit(a) * (y - s_prev)
            + F.lit(1.0 - a) * (acc["l"] + acc["b"])
        )
        b_new = (
            F.lit(be) * (l_new - acc["l"]) + F.lit(1.0 - be) * acc["b"]
        )
        s_new = F.transform(
            acc["s"],
            lambda x, i: F.when(
                i == slot, F.lit(g) * (y - l_new) + F.lit(1.0 - g) * x
            ).otherwise(x),
        )
        return F.struct(l_new.alias("l"), b_new.alias("b"), s_new.alias("s"))

    fitted = F.aggregate(tail, init, _step)
    return (
        ser.select(
            "key",
            F.element_at(F.col("_s").getField("d"), -1).alias("_last"),
            n.alias("_n"),
            fitted.alias("_f"),
        )
        .select(
            "key",
            "_last",
            "_n",
            "_f",
            F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("h"),
        )
        .select(
            "key",
            F.col("h").cast("int").alias("h"),
            F.timestamp_add("DAY", F.col("h"), F.col("_last")).alias(
                "forecast_day"
            ),
            F.round(
                F.col("_f").getField("l")
                + F.col("h").cast("double") * F.col("_f").getField("b")
                + F.element_at(
                    F.col("_f").getField("s"),
                    ((F.col("_n") + F.col("h") - 1) % m + 1).cast("int"),
                ),
                6,
            ).alias("yhat"),
        )
    )


def _micros(c: F.Column) -> F.Column:
    """``c`` quantized to LONG micros, half away from zero:
    signum(c)·floor(|c|·1e6 + 0.5) — the grid every exact-sum kernel
    below (and its DuckDB twin) accumulates on."""
    return (
        F.signum(c) * F.floor(F.abs(c) * F.lit(1_000_000.0) + F.lit(0.5))
    ).cast("long")


def _pearson_by_lag(pairs: DataFrame, out_col: str) -> DataFrame:
    """Per-(key, lag) Pearson correlation of LONG-micro ``(_x, _y)``
    pairs, ``(key, lag, n_pairs, <out_col>)``, under the exact-sum
    determinism contract in :func:`autocorrelation`'s docstring."""
    dx = F.col("_x").cast("decimal(18,0)")
    dy = F.col("_y").cast("decimal(18,0)")
    sums = pairs.groupBy("key", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum((dx * dy).cast("decimal(36,0)")).alias("_sxy"),
        F.sum((dx * dx).cast("decimal(36,0)")).alias("_sxx"),
        F.sum((dy * dy).cast("decimal(36,0)")).alias("_syy"),
    )
    n = F.col("n_pairs").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return sums.select(
        "key",
        "lag",
        "n_pairs",
        F.when(
            (varx > 0) & (vary > 0),
            _quantize_col(
                (n * sxy - sx * sy) / F.sqrt(varx) / F.sqrt(vary), 6
            ),
        ).alias(out_col),
    )


def autocorrelation(
    daily: DataFrame,
    max_lag: int = 14,
    key_col: str = "key",
    day_col: str = "day",
    value_col: str = "value",
) -> DataFrame:
    """Per-key autocorrelation function: ``(key, lag, n_pairs, acf)``
    for every lag 1..``max_lag``.

    The seasonality detector that PRECEDES picking a period for
    :func:`seasonal_decompose` / :func:`holt_winters_forecast`: peaks
    in the ACF at lag m are the evidence for period-m structure (Box &
    Jenkins 1970 §2). The pairwise variant: ``acf(lag)`` is the
    Pearson correlation of the (x_t, x_{t+lag}) pairs over the
    positions where both exist, per key.

    Scale shape: ONE per-key window sort computing ``lead(x, L)`` for
    every lag 1..max_lag as columns in a single pass (Spark collapses
    same-window functions into one Window operator), then a bounded
    posexplode feeding a partially-aggregated (key, lag) groupBy — the
    exploded rows combine MAP-SIDE, so the only shuffles are the one
    per-key sort (corpus-sized) and |keys| × max_lag aggregated
    groups. The previous form self-equi-joined a corpus × max_lag
    explode on (key, idx+lag), shuffling ~|rows| × max_lag through
    the join (measured 1.05B thin rows at the 43.8M × 24 probe); the
    lead-column form keeps the shuffle corpus-sized. No per-lag
    passes, no collect; output is |keys| × max_lag rows.

    Input contract: (key, day) should be unique per row (the daily
    series form — every registered caller pre-aggregates per day).
    Duplicate (key, day) rows are ordered by the tiebreak
    ``(day, value)`` so the lag pairing stays deterministic on
    arbitrary inputs; the Pearson sums are order-free either way.

    Determinism contract: values quantize to LONG micros (half-away),
    and all five correlation sums (Σx, Σy, Σxy, Σx², Σy²) are EXACT
    integer sums — products are computed in DECIMAL(36,0) on Spark /
    HUGEINT on DuckDB, both exact, both order-free. The Pearson
    formula then evaluates in a fixed double op sequence from those
    exactly-representable integers (decimal→double and hugeint→double
    are both correctly rounded), so the only float divergence surface
    is zero; result rounded 6 dp half-away. Zero-variance keys emit
    NULL acf. Bound: |value| micros must stay under 1e18 (DECIMAL(18)
    per factor) — 12 orders of magnitude above the ERA5/events range.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    # NULL observations are excluded BEFORE indexing (position indices
    # run over observed values): a NULL can neither pair nor sum, and
    # leaving it in would make n_pairs disagree with the sums — and
    # the engines disagree on NULL sort order (Spark first, DuckDB
    # last), so no NULL may reach a rank window anywhere in this file.
    base = (
        daily.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.col(day_col).alias("day"),
            _micros(F.col(value_col).cast("double")).alias("_v"),
        )
    )
    # one sort per key; all max_lag leads evaluate in that single
    # window pass. Tiebreak on _v keeps duplicate-(key, day) inputs
    # deterministic (registered callers pre-aggregate, so no ties on
    # the oracle-checked paths).
    wlead = Window.partitionBy("key").orderBy("day", "_v")
    wide = base.select(
        "key",
        F.col("_v").alias("_x"),
        *[
            F.lead("_v", L).over(wlead).alias(f"_y{L}")
            for L in range(1, int(max_lag) + 1)
        ],
    )
    # posexplode is a narrow generate: the (key, lag) aggregate below
    # partially combines in the same stage, so the exploded rows never
    # shuffle — pos is 0-based, lag = pos + 1.
    pairs = (
        wide.select(
            "key",
            "_x",
            F.posexplode(
                F.array(
                    *[F.col(f"_y{L}") for L in range(1, int(max_lag) + 1)]
                )
            ).alias("_pos", "_y"),
        )
        .filter(F.col("_y").isNotNull())
        .select(
            "key",
            (F.col("_pos") + F.lit(1)).cast("int").alias("lag"),
            "_x",
            "_y",
        )
    )
    return _pearson_by_lag(pairs, "acf")


def cross_correlation(
    daily: DataFrame,
    max_lag: int = 7,
    key_col: str = "key",
    day_col: str = "day",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-key cross-correlation function: ``(key, lag, n_pairs,
    ccf)`` for every lag −``max_lag``..+``max_lag``.

    The lead/lag detector between TWO aligned series (Box & Jenkins
    1970 §11 — "prewhitened" CCF is the classic transfer-function
    identification tool): ``ccf(L)`` is the Pearson correlation of the
    (x_t, y_{t+L}) pairs over positions where both exist, per key. A
    peak at positive L means x LEADS y by L steps (x predicts y); at
    negative L, y leads x. In a pipeline: does event volume lead
    revenue, does temperature lead evapotranspiration, does crawl-rate
    lead dedup pressure.

    Scale shape: identical to :func:`autocorrelation`'s round-11 form
    — ONE per-key window sort evaluating lead(y, L) / lag(y, −L) for
    all 2·max_lag+1 lags as columns in a single pass, then a bounded
    posexplode feeding a map-side partially-aggregated (key, lag)
    groupBy. Shuffles: the one per-key sort (corpus-sized) + |keys| ×
    (2·max_lag+1) aggregated rows. No self-join, no per-lag passes.

    Input contract: complete-case days — rows where EITHER value is
    NULL are dropped BEFORE indexing (a half-observed day can neither
    pair in any direction nor contribute to the sums, and engines
    disagree on NULL sort order). (key, day) should be unique (the
    daily-series form); duplicates are ordered by the deterministic
    tiebreak (day, x, y).

    Determinism contract: :func:`autocorrelation`'s — both series
    quantize to LONG micros and the Pearson tail is the same exact-sum
    kernel; zero-variance slices emit NULL ccf.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag < 1: {max_lag}")
    m = int(max_lag)

    base = (
        daily.filter(
            F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("key"),
            F.col(day_col).alias("day"),
            _micros(F.col(x_col).cast("double")).alias("_x"),
            _micros(F.col(y_col).cast("double")).alias("_y"),
        )
    )
    wlead = Window.partitionBy("key").orderBy("day", "_x", "_y")
    lag_cols = []
    for L in range(-m, m + 1):
        if L >= 0:
            lag_cols.append(F.lead("_y", L).over(wlead).alias(f"_l{L + m}"))
        else:
            lag_cols.append(F.lag("_y", -L).over(wlead).alias(f"_l{L + m}"))
    wide = base.select("key", "_x", *lag_cols)
    pairs = (
        wide.select(
            "key",
            "_x",
            F.posexplode(
                F.array(*[F.col(f"_l{i}") for i in range(2 * m + 1)])
            ).alias("_pos", "_yv"),
        )
        .filter(F.col("_yv").isNotNull())
        .select(
            "key",
            (F.col("_pos") - F.lit(m)).cast("int").alias("lag"),
            "_x",
            F.col("_yv").alias("_y"),
        )
    )
    return _pearson_by_lag(pairs, "ccf")


def mad_outliers(
    daily: DataFrame,
    k_num: int = 7,
    k_den: int = 2,
    key_col: str = "key",
    day_col: str = "day",
    value_col: str = "value",
) -> DataFrame:
    """Robust per-key outlier detection: flag rows where
    ``|x − median| > (k_num/k_den) · MAD`` (median absolute
    deviation), the standard robust alternative to z-scores — one
    broken sensor day cannot drag the threshold the way it drags a
    mean/stddev (Hampel 1974; Leys et al. 2013 recommend k=3 on the
    1.4826-scaled MAD ≈ 4.45 raw; the default 7/2=3.5 raw is the
    conservative classic). Returns the flagged rows:
    ``(key, day, value, score)`` with score = |x − median| / MAD
    (NULL when MAD = 0 — the degenerate case where any deviation at
    all is infinitely surprising and still flagged).

    EXACT integer arithmetic end to end: values quantize to LONG
    micros; the median is selection, not interpolation — sorted
    1-indexed positions lo=(n+1)//2 and hi=(n+2)//2, ``median2`` =
    v[lo]+v[hi] (twice the median, still integer for even n);
    deviations ``dev2 = |2v − median2|`` (= 2|x−med|); ``mad4`` =
    dev2[lo]+dev2[hi] (= 4·MAD); and the flag is the pure-integer
    comparison ``2·k_den·dev2 > k_num·mad4``. Ranks among EQUAL
    values are tie-arbitrary but the selected VALUES are not, so both
    engines agree without any ordering contract. The only float op is
    the reported score, one division rounded 6 dp.

    Scale shape: two window passes (value rank, deviation rank) + two
    key-sized aggregates + two joins — all keyed on ``key``; per-key
    state is two LONGs. Skewed keys cost their row count in a sort,
    never a pair blowup.
    """
    if k_num < 0 or k_den <= 0:
        raise ValueError(f"invalid threshold {k_num}/{k_den}")
    # NULL observations excluded: they carry no deviation, and a NULL
    # entering the median rank window would split the engines (Spark
    # sorts NULLs first, DuckDB last — caught live by the --nulls
    # adversarial corpus, where an all-NULL day shifted the selection)
    base = (
        daily.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.col(day_col).alias("day"),
            F.col(value_col).cast("double").alias("value"),
        )
        .withColumn("_v", _micros(F.col("value")))
        .localCheckpoint(eager=False)
    )

    def _median2(df: DataFrame, col: str, out: str) -> DataFrame:
        """Per-key 2×median of ``col`` by exact selection."""
        wv = Window.partitionBy("key").orderBy(F.col(col))
        wc = Window.partitionBy("key")
        ranked = df.select(
            "key",
            F.col(col).alias("_m"),
            F.row_number().over(wv).cast("long").alias("_rn"),
            F.count(F.lit(1)).over(wc).cast("long").alias("_n"),
        )
        lo = F.expr("(_n + 1) div 2")
        hi = F.expr("(_n + 2) div 2")
        return (
            ranked.filter((F.col("_rn") == lo) | (F.col("_rn") == hi))
            .groupBy("key")
            .agg(
                F.sum(
                    F.col("_m")
                    # odd n: lo == hi selects ONE row — count it twice
                    * F.when(lo == hi, F.lit(2)).otherwise(F.lit(1))
                ).alias(out)
            )
        )

    med = _median2(base, "_v", "_med2")
    with_dev = base.join(med, "key").withColumn(
        "_dev2", F.abs(F.lit(2) * F.col("_v") - F.col("_med2"))
    ).localCheckpoint(eager=False)
    mad = _median2(with_dev, "_dev2", "_mad4")
    return (
        with_dev.join(mad, "key")
        .filter(
            F.lit(2 * k_den) * F.col("_dev2") > F.lit(k_num) * F.col("_mad4")
        )
        .select(
            "key",
            "day",
            "value",
            F.when(
                F.col("_mad4") > 0,
                _quantize_col(
                    F.lit(2.0) * F.col("_dev2").cast("double")
                    / F.col("_mad4").cast("double"),
                    6,
                ),
            ).alias("score"),
        )
    )


def seasonal_decompose(
    daily: DataFrame,
    period: int = 7,
    key_col: str = "key",
    day_col: str = "day",
    value_col: str = "value",
) -> DataFrame:
    """Classical additive seasonal decomposition per key:
    ``(key, day, value, trend, seasonal, residual)``.

    The diagnosis companion to :func:`holt_winters_forecast` — before
    fitting a seasonal model you LOOK at the decomposition (how much
    of the signal is weekly cycle vs drift vs noise). Textbook
    classical method (odd ``period`` m):

    - ``trend``  = centered m-row moving average (NULL at the first/
      last m//2 rows of each key, where the window is incomplete);
    - ``seasonal`` = per-(key, season-slot) mean of the detrended
      interior, centered so the m slot effects sum to ~0;
    - ``residual`` = value − trend − seasonal (NULL where trend is).

    The season slot is pure integer math on epoch days
    ((epoch_secs div 86400) mod m — engine-identical, no calendar
    functions), so slots align with real weekdays for m = 7. Assumes a
    gap-free daily grid (run :func:`gapfill_locf` first; a hole shifts
    the rows-frame, not the slot).

    Determinism contract: the trend is NOT a DOUBLE window-avg — Spark
    updates moving frames incrementally (add/subtract) while DuckDB
    recomputes, and the two IEEE paths disagree in the last ulp, which
    flips micro quantization on half boundaries (observed live). So
    values are quantized to LONG micros first and the trend is an
    EXACT LONG window sum divided once; detrended values quantize to
    LONG micros (half-away) before the order-free per-slot groupBy
    sum; the slot-centering sum runs in a slot-ORDERED full frame
    (frame-order folds are engine-exact); every emitted float is
    rounded 6 dp, and residual is computed FROM the rounded
    trend/seasonal so it inherits their determinism.
    """
    if period < 3 or period % 2 == 0:
        raise ValueError(
            f"period must be odd and >= 3 (classical centered MA), "
            f"got {period}"
        )
    m = int(period)
    half = m // 2
    # season slot = pmod(day-number, m): pmod is NON-NEGATIVE for
    # pre-1970 days too (plain % follows the dividend's sign), and the
    # SQL twin mirrors it with the ((x % m) + m) % m idiom — the two
    # only agree by luck on post-1970 data otherwise. The day-number
    # division is exact (date_trunc'd days are multiples of 86400), so
    # truncating vs floor div cannot diverge.
    slot = F.pmod(
        F.expr(f"cast({day_col} as long) div 86400"), F.lit(m)
    ).cast("int")
    base = daily.select(
        F.col(key_col).alias("key"),
        F.col(day_col).alias("day"),
        F.col(value_col).cast("double").alias("value"),
        slot.alias("_slot"),
    ).withColumn("_vmic", _micros(F.col("value")))
    with_trend = base.select(
        "key",
        "day",
        "value",
        "_slot",
        F.when(
            F.count("_vmic").over(
                Window.partitionBy("key").orderBy("day")
                .rowsBetween(-half, half)
            )
            == m,
            F.sum("_vmic").over(
                Window.partitionBy("key").orderBy("day")
                .rowsBetween(-half, half)
            ).cast("double")
            / F.lit(float(m) * 1_000_000.0),
        ).alias("_trend"),
    )
    detr = F.col("value") - F.col("_trend")
    dmic = F.when(F.col("_trend").isNotNull(), _micros(detr))
    # Pin the trended frame for its TWO consumers (slot aggregate +
    # final join) with a SERIALIZED localCheckpoint: DEFAULT checkpoint
    # blocks are MEMORY_AND_DISK *deserialized*, and when a data-sized
    # block spills to disk, every re-read tries to re-cache the
    # partition as deserialized Java row objects
    # (BlockManager.maybeCacheDiskValuesInMemory) — measured OOM at
    # 43.8M rows x 8g heap (SCALE.md seasonal_10y_hourly). Serialized
    # bytes cache with incremental accounting and stream from disk.
    # (PySpark's MEMORY_AND_DISK constant is the SERIALIZED level —
    # deserialized is the _DESER variant, matching Dataset.persist()'s
    # JVM-side naming.) Checkpoint-style rather than persist() because
    # CacheManager holds a STRONG reference to persisted plans — a
    # plain .persist() here leaked its blocks for the session lifetime
    # of every caller (nothing ever unpersists a returned lazy frame);
    # checkpoint blocks free via the ContextCleaner once the RDD is
    # GC'd driver-side. Recompute would even be CORRECT here
    # (trend/dmic are exact LONG-micro arithmetic, bit-stable across
    # executions) — the pin is a 2x-cost optimization, so it must
    # never be the OOM or the leak.
    wt = with_trend.withColumn("_dmic", dmic).localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    s_raw = (
        wt.filter(F.col("_dmic").isNotNull())
        .groupBy("key", "_slot")
        .agg(
            F.sum("_dmic").alias("_l"),
            F.count(F.lit(1)).alias("_c"),
        )
        .select(
            "key",
            "_slot",
            (
                F.col("_l").cast("double")
                / (F.col("_c").cast("double") * F.lit(1_000_000.0))
            ).alias("_sraw"),
        )
    )
    ws = (
        Window.partitionBy("key")
        .orderBy("_slot")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # half-away quantize via the explicit op sequence, NOT engine
    # round(): centered seasonal effects land on decimal ties (micro-
    # grid inputs), where Spark's BigDecimal round and DuckDB's binary
    # round disagree — observed live on this operator
    seasonal = s_raw.select(
        "key",
        "_slot",
        _quantize_col(
            F.col("_sraw")
            - F.sum("_sraw").over(ws) / F.count("_sraw").over(ws),
            6,
        ).alias("seasonal"),
    )
    trend_q = _quantize_col(F.col("_trend"), 6)
    return (
        wt.join(seasonal, ["key", "_slot"], "left")
        .select(
            "key",
            "day",
            "value",
            trend_q.alias("trend"),
            "seasonal",
            F.when(
                F.col("_trend").isNotNull(),
                _quantize_col(
                    F.col("value") - trend_q - F.col("seasonal"), 6
                ),
            ).alias("residual"),
        )
    )
