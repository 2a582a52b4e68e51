"""Gap-fill + LOCF semantics on hand-built sparse series."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from big_data_in_agriculture_spark.operators import timeseries


def _daily(spark, rows):
    return spark.createDataFrame(rows, ["key", "day", "value"])


def test_gapfill_fills_holes_and_carries_forward(spark):
    d = lambda n: dt.datetime(2024, 1, n)
    daily = _daily(spark, [(7, d(1), 10.0), (7, d(4), 40.0), (9, d(2), 5.0)])
    out = {(r["key"], r["day"].day): (r["value_filled"], r["was_filled"])
           for r in timeseries.gapfill_locf(daily).collect()}
    assert out == {
        (7, 1): (10.0, False),
        (7, 2): (10.0, True),   # hole → carried forward
        (7, 3): (10.0, True),
        (7, 4): (40.0, False),  # new observation replaces carry
        (9, 2): (5.0, False),   # single-day key: no spine growth
    }


def test_gapfill_dense_input_passthrough(spark):
    d = lambda n: dt.datetime(2024, 2, n)
    daily = _daily(spark, [(1, d(1), 1.0), (1, d(2), 2.0)])
    rows = timeseries.gapfill_locf(daily).collect()
    assert len(rows) == 2 and all(not r["was_filled"] for r in rows)


def test_daily_series_sums_per_day(spark):
    t = dt.datetime(2024, 3, 1, 10, 0)
    ev = spark.createDataFrame(
        [(1, t, 2.0), (1, t + dt.timedelta(hours=3), 3.0),
         (1, t + dt.timedelta(days=1), 7.0)],
        ["user_id", "ts", "value"],
    )
    out = {r["day"].day: r["value"] for r in
           timeseries.daily_series(ev, "user_id", "ts", "value").collect()}
    assert out == {1: 5.0, 2: 7.0}


def test_ema_matches_pandas_ewm(spark):
    import numpy as np
    import pandas as pd

    d = lambda n: dt.datetime(2024, 1, n)
    rows = [(1, d(i + 1), float(v)) for i, v in enumerate([10, 20, 5, 40, 15])]
    rows += [(2, d(i + 1), float(v)) for i, v in enumerate([3, 3, 3])]
    daily = _daily(spark, rows)
    got = (timeseries.ema(daily, alpha=0.3)
           .toPandas().sort_values(["key", "day"]).reset_index(drop=True))
    for k, grp in got.groupby("key"):
        expected = grp["value"].ewm(alpha=0.3, adjust=False).mean()
        assert np.allclose(grp["ema"].to_numpy(), expected.to_numpy())
    # constant series: EMA is the constant
    assert (got[got["key"] == 2]["ema"] == 3.0).all()


class TestGroupedTrend:
    def test_exact_line_recovered(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            grouped_trend,
        )

        # y = 2x + 1 exactly for key 'a'; y constant for key 'b'
        rows = [("a", float(x), 2.0 * x + 1.0) for x in range(10)]
        rows += [("b", float(x), 5.0) for x in range(10)]
        df = spark.createDataFrame(rows, ["k", "x", "y"])
        out = {r["k"]: r for r in grouped_trend(df, ["k"], "x", "y").collect()}
        assert out["a"]["slope"] == 2.0
        assert out["a"]["intercept"] == 1.0
        assert out["a"]["r2"] == 1.0
        assert out["b"]["slope"] == 0.0
        # zero y-variance: r² undefined → NULL, not NaN
        assert out["b"]["r2"] is None

    def test_degenerate_keys_dropped(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            grouped_trend,
        )

        df = spark.createDataFrame(
            [("one_point", 1.0, 2.0),
             ("no_x_var", 3.0, 1.0), ("no_x_var", 3.0, 9.0)],
            ["k", "x", "y"],
        )
        assert grouped_trend(df, ["k"], "x", "y").count() == 0

    def test_single_shuffle_plan(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            grouped_trend,
        )

        df = spark.createDataFrame(
            [("a", float(x), float(x)) for x in range(4)], ["k", "x", "y"]
        )
        plan = (
            grouped_trend(df, ["k"], "x", "y")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # one hash-partitioned exchange for the agg + the final sort's
        # range exchange; no window, no join
        assert "Window" not in plan
        assert "Join" not in plan


class TestDiurnalAnomaly:
    def test_normals_and_anomalies(self, spark):
        import datetime as dt

        from big_data_in_agriculture_spark.operators.timeseries import (
            diurnal_anomaly,
        )

        d = dt.datetime
        rows = [
            ("t", d(2024, 1, 1, 8), 10.0),
            ("t", d(2024, 1, 2, 8), 14.0),   # 8h normal = 12
            ("t", d(2024, 1, 1, 20), 5.0),   # 20h normal = 5
        ]
        df = spark.createDataFrame(rows, ["k", "ts", "value"])
        out = {
            (r["k"], r["ts"]): (r["normal"], r["anomaly"])
            for r in diurnal_anomaly(df, "k").collect()
        }
        assert out[("t", d(2024, 1, 1, 8))] == (12.0, -2.0)
        assert out[("t", d(2024, 1, 2, 8))] == (12.0, 2.0)
        assert out[("t", d(2024, 1, 1, 20))] == (5.0, 0.0)

    def test_normals_join_is_broadcast(self, spark):
        import datetime as dt

        from big_data_in_agriculture_spark.operators.timeseries import (
            diurnal_anomaly,
        )

        df = spark.createDataFrame(
            [("t", dt.datetime(2024, 1, 1, 8), 1.0)], ["k", "ts", "value"]
        )
        plan = (
            diurnal_anomaly(df, "k")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan


class TestSeasonalEnvelope:
    def test_band_values_and_ordering(self, spark):
        import datetime as dt

        from big_data_in_agriculture_spark.operators.timeseries import (
            seasonal_envelope,
        )

        rows = [
            ("t", dt.datetime(2024, 1, d, 8), float(v))
            for d, v in enumerate([10, 20, 30, 40, 50], start=1)
        ]
        df = spark.createDataFrame(rows, ["k", "ts", "value"])
        out = seasonal_envelope(df, "k").collect()
        assert len(out) == 1
        r = out[0]
        assert r["hour_of_day"] == 8 and r["n_obs"] == 5
        # interpolated percentiles over [10..50]
        assert abs(r["p_lo"] - 14.0) < 1e-5
        assert r["p_mid"] == 30.0
        assert abs(r["p_hi"] - 46.0) < 1e-5
        assert r["p_lo"] <= r["p_mid"] <= r["p_hi"]


class TestCusumChangepoint:
    def _events(self, spark, counts_by_day, key="click"):
        import datetime as dt

        rows = []
        eid = 0
        for d, n in enumerate(counts_by_day):
            for _ in range(n):
                rows.append(
                    (eid, dt.datetime(2024, 3, 1) + dt.timedelta(days=d, minutes=eid % 60), 1, key, 1.0, "{}")
                )
                eid += 1
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )

    def test_level_shift_found_at_the_shift(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            cusum_changepoint,
        )

        # 6 days at 2/day then 6 days at 10/day: |CUSUM| peaks on the
        # last low day (the classic tent apex right before the shift)
        ev = self._events(spark, [2] * 6 + [10] * 6)
        out = cusum_changepoint(ev).collect()
        assert len(out) == 1
        r = out[0]
        assert str(r["changepoint_day"])[:10] == "2024-03-06"  # day idx 5
        assert r["n_days"] == 12
        # drift = 6 days × (mean 6 − level 2) = 24
        assert abs(r["max_drift"] - 24.0) < 1e-6

    def test_stable_series_has_small_drift(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            cusum_changepoint,
        )

        ev = self._events(spark, [5] * 10)
        r = cusum_changepoint(ev).collect()[0]
        assert r["max_drift"] < 1e-9  # constant series: zero drift


class TestSeasonalNaiveBacktest:
    def test_weekly_periodic_series_scores_zero_seasonal_error(self, spark):
        import datetime as dt

        from big_data_in_agriculture_spark.operators.timeseries import (
            seasonal_naive_backtest,
        )

        # exact weekly pattern repeated 3x: seasonal-naive is perfect,
        # 1-day naive is not
        pattern = [1, 5, 2, 8, 3, 9, 4]
        rows = []
        eid = 0
        for d in range(21):
            for _ in range(pattern[d % 7]):
                rows.append(
                    (eid, dt.datetime(2024, 5, 1) + dt.timedelta(days=d), 1, "click", 1.0, "{}")
                )
                eid += 1
        ev = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        r = seasonal_naive_backtest(ev, season_lag=7).collect()[0]
        assert r["n_days_scored"] == 14  # days 8..21 have both lags
        assert r["mae_seasonal"] == 0.0
        assert r["mae_naive"] > 0
        assert r["seasonal_error_ratio"] == 0.0


def test_backtest_survives_zero_event_days(spark):
    """A missing (zero-event) day must NOT shift the seasonal lag off
    weekly alignment: with densification the weekly pattern still
    scores zero seasonal error (the hole day is a true 0 on every
    cycle)."""
    import datetime as dt

    from big_data_in_agriculture_spark.operators.timeseries import (
        seasonal_naive_backtest,
    )

    # weekly pattern with day index 2 of each week having ZERO events
    pattern = [1, 5, 0, 8, 3, 9, 4]
    rows, eid = [], 0
    for d in range(21):
        for _ in range(pattern[d % 7]):
            rows.append(
                (eid, dt.datetime(2024, 5, 1) + dt.timedelta(days=d), 1,
                 "click", 1.0, "{}")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    r = seasonal_naive_backtest(ev, season_lag=7).collect()[0]
    assert r["n_days_scored"] == 14
    assert r["mae_seasonal"] == 0.0  # would be > 0 without densification
    assert r["mae_naive"] > 0


def test_cusum_mean_includes_zero_days(spark):
    """μ must average over the calendar span, not only event days: 5
    events on day 0 and 5 on day 4 with a 3-day hole → μ = 2/day, not
    5/day, and the drift reflects the quiet stretch."""
    import datetime as dt

    from big_data_in_agriculture_spark.operators.timeseries import (
        cusum_changepoint,
    )

    rows = []
    eid = 0
    for d in (0, 4):
        for _ in range(5):
            rows.append(
                (eid, dt.datetime(2024, 6, 1) + dt.timedelta(days=d), 1,
                 "click", 1.0, "{}")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    r = cusum_changepoint(ev).collect()[0]
    assert r["n_days"] == 5  # calendar span, holes included
    # S: day0 +3, day1 +1, day2 -1, day3 -3, day4 0 → peak |S| = 3
    assert abs(r["max_drift"] - 3.0) < 1e-6


class TestHoltForecast:
    def _daily(self, spark, rows):
        return spark.createDataFrame(
            [(k, dt.datetime(2024, 1, d), float(v)) for k, d, v in rows],
            ["key", "day", "value"],
        )

    def test_matches_hand_rolled_recurrence(self, spark):
        alpha, beta = 0.5, 0.3
        vals = [10.0, 12.0, 15.0, 14.0, 18.0]
        daily = self._daily(
            spark, [("a", i + 1, v) for i, v in enumerate(vals)]
        )
        out = {r["h"]: r["yhat"] for r in
               timeseries.holt_forecast(
                   daily, alpha=alpha, beta=beta, horizon=3).collect()}
        l, b = vals[0], vals[1] - vals[0]
        for y in vals[1:]:
            l_new = alpha * y + (1 - alpha) * (l + b)
            b = beta * (l_new - l) + (1 - beta) * b
            l = l_new
        for h in (1, 2, 3):
            assert abs(out[h] - round(l + h * b, 6)) < 1e-9

    def test_linear_series_forecasts_linearly(self, spark):
        # a perfectly linear series is a fixpoint of Holt: the
        # forecast continues the line exactly
        daily = self._daily(
            spark, [("a", d, 100.0 + 5.0 * d) for d in range(1, 11)]
        )
        out = {r["h"]: r["yhat"] for r in
               timeseries.holt_forecast(daily, horizon=4).collect()}
        last = 100.0 + 5.0 * 10
        for h in (1, 2, 3, 4):
            assert abs(out[h] - (last + 5.0 * h)) < 1e-6

    def test_single_observation_forecasts_flat(self, spark):
        daily = self._daily(spark, [("a", 1, 42.0)])
        out = timeseries.holt_forecast(daily, horizon=2).collect()
        assert [r["yhat"] for r in sorted(out, key=lambda r: r["h"])] \
            == [42.0, 42.0]

    def test_forecast_days_extend_last_day(self, spark):
        daily = self._daily(spark, [("a", 1, 1.0), ("a", 5, 2.0)])
        out = {r["h"]: r["forecast_day"] for r in
               timeseries.holt_forecast(daily, horizon=2).collect()}
        assert out[1] == dt.datetime(2024, 1, 6)
        assert out[2] == dt.datetime(2024, 1, 7)

    def test_keys_independent(self, spark):
        daily = self._daily(
            spark,
            [("a", d, 10.0 * d) for d in range(1, 6)]
            + [("b", d, 1000.0) for d in range(1, 6)],
        )
        out = timeseries.holt_forecast(daily, horizon=1).collect()
        got = {r["key"]: r["yhat"] for r in out}
        assert abs(got["a"] - 60.0) < 1e-6   # linear continuation
        assert abs(got["b"] - 1000.0) < 1e-6  # flat series stays flat

    def test_invalid_horizon_raises(self, spark):
        import pytest as _pt

        daily = self._daily(spark, [("a", 1, 1.0)])
        with _pt.raises(ValueError):
            timeseries.holt_forecast(daily, horizon=0)


class TestHoltWinters:
    def test_matches_reference_recurrence(self, spark):
        import datetime as dt

        from big_data_in_agriculture_spark.operators.timeseries import (
            holt_winters_forecast,
        )

        base = dt.datetime(2024, 1, 1)
        vals = [10.0 + (i % 7) + 0.1 * i for i in range(21)]
        df = spark.createDataFrame(
            [("k", base + dt.timedelta(days=i), v) for i, v in enumerate(vals)],
            ["key", "day", "value"],
        )
        got = {
            r["h"]: r["yhat"]
            for r in holt_winters_forecast(df, period=7, horizon=3).collect()
        }
        # pure-python replay of the pinned recurrence
        m, a, b_, g = 7, 0.5, 0.3, 0.3
        l0 = vals[0]
        for y in vals[1:7]:
            l0 += y
        l0 /= 7.0
        m2 = vals[7]
        for y in vals[8:14]:
            m2 += y
        m2 /= 7.0
        b0 = (m2 - l0) / 7.0
        s = [y - l0 for y in vals[:7]]
        l, b = l0, b0
        for t in range(7, 21):
            slot = t % m
            ln = a * (vals[t] - s[slot]) + (1 - a) * (l + b)
            bn = b_ * (ln - l) + (1 - b_) * b
            s[slot] = g * (vals[t] - ln) + (1 - g) * s[slot]
            l, b = ln, bn
        for h in (1, 2, 3):
            assert got[h] == round(l + h * b + s[(21 + h - 1) % m], 6), h

    def test_short_series_excluded(self, spark):
        import datetime as dt

        from big_data_in_agriculture_spark.operators.timeseries import (
            holt_winters_forecast,
        )

        base = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [("short", base + dt.timedelta(days=i), 1.0) for i in range(5)]
            + [("full", base + dt.timedelta(days=i), 2.0) for i in range(7)],
            ["key", "day", "value"],
        )
        out = holt_winters_forecast(df, period=7, horizon=2)
        assert {r["key"] for r in out.collect()} == {"full"}

    def test_exactly_one_season_flat(self, spark):
        import datetime as dt

        from big_data_in_agriculture_spark.operators.timeseries import (
            holt_winters_forecast,
        )

        base = dt.datetime(2024, 1, 1)
        vals = [3.0, 5.0, 4.0, 6.0, 2.0, 7.0, 8.0]
        df = spark.createDataFrame(
            [("k", base + dt.timedelta(days=i), v) for i, v in enumerate(vals)],
            ["key", "day", "value"],
        )
        got = {
            r["h"]: r["yhat"]
            for r in holt_winters_forecast(df, period=7, horizon=7).collect()
        }
        l0 = sum(vals) / 7.0  # exact here (small ints)
        # no trend season: forecast = l0 + seasonal of the matching slot
        for h in range(1, 8):
            assert abs(got[h] - (vals[(7 + h - 1) % 7])) < 1e-9

    def test_invalid_params_raise(self, spark):
        import pytest as _pytest

        from big_data_in_agriculture_spark.operators.timeseries import (
            holt_winters_forecast,
        )

        df = spark.createDataFrame([], "key string, day timestamp, value double")
        with _pytest.raises(ValueError):
            holt_winters_forecast(df, period=1)
        with _pytest.raises(ValueError):
            holt_winters_forecast(df, horizon=0)


class TestSeasonalDecompose:
    def _mk(self, spark, vals):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [("k", base + dt.timedelta(days=i), v) for i, v in enumerate(vals)],
            ["key", "day", "value"],
        )

    def test_pure_seasonal_signal_recovered(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            seasonal_decompose,
        )

        # a zero-mean weekly pattern repeated 4x: trend = 0-mean level,
        # seasonal = the pattern, residual ~ 0 in the interior
        pat = [3.0, -1.0, 2.0, -2.0, 1.0, -3.0, 0.0]
        df = self._mk(spark, pat * 4)
        rows = sorted(
            seasonal_decompose(df, period=7).collect(),
            key=lambda r: r["day"],
        )
        # edges: first/last 3 rows have no trend or residual
        for r in rows[:3] + rows[-3:]:
            assert r["trend"] is None and r["residual"] is None
        for r in rows[3:-3]:
            assert abs(r["trend"] - 0.0) < 1e-9
            assert abs(r["residual"]) < 1e-9
        # seasonal repeats with the pattern (slot-aligned to the value)
        by_day = {i: r for i, r in enumerate(rows)}
        for i in range(7, 21):
            assert by_day[i]["seasonal"] == by_day[i - 7]["seasonal"]
            assert abs(by_day[i]["seasonal"] - (pat * 4)[i]) < 1e-9

    def test_linear_trend_recovered(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            seasonal_decompose,
        )

        # pure line: trend == value in the interior, seasonal ~ 0
        df = self._mk(spark, [float(i) for i in range(21)])
        rows = sorted(
            seasonal_decompose(df, period=7).collect(),
            key=lambda r: r["day"],
        )
        for i, r in enumerate(rows[3:-3], start=3):
            assert abs(r["trend"] - i) < 1e-9
            assert abs(r["residual"]) < 1e-6
        assert all(abs(r["seasonal"]) < 1e-9 for r in rows)

    def test_even_period_raises(self, spark):
        import pytest as _pytest

        from big_data_in_agriculture_spark.operators.timeseries import (
            seasonal_decompose,
        )

        df = self._mk(spark, [1.0] * 10)
        with _pytest.raises(ValueError):
            seasonal_decompose(df, period=6)


class TestAutocorrelation:
    def _mk(self, spark, vals, key="k"):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [(key, base + dt.timedelta(days=i), v)
             for i, v in enumerate(vals)],
            ["key", "day", "value"],
        )

    def test_exact_period_has_unit_acf_at_lag_period(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            autocorrelation,
        )

        pat = [3.0, -1.0, 2.0, -2.0, 1.0, -3.0, 0.0]
        df = self._mk(spark, pat * 6)
        out = {
            r["lag"]: (r["n_pairs"], r["acf"])
            for r in autocorrelation(df, max_lag=8).collect()
        }
        # x_{t+7} == x_t exactly -> Pearson of the pairs is exactly 1
        assert out[7] == (35, 1.0)
        # n_pairs bookkeeping: n - lag
        assert out[1][0] == 41
        assert out[8][0] == 34

    def test_matches_reference_pearson(self, spark):
        import math

        from big_data_in_agriculture_spark.operators.timeseries import (
            autocorrelation,
        )

        vals = [
            math.sin(2 * math.pi * i / 7) + 0.1 * ((i * 37) % 11 - 5) / 5
            for i in range(60)
        ]
        df = self._mk(spark, vals)
        out = {r["lag"]: r["acf"]
               for r in autocorrelation(df, max_lag=7).collect()}

        def ref(lag):
            q = [math.floor(abs(v) * 1e6 + 0.5) * (1 if v >= 0 else -1)
                 for v in vals]
            x, y = q[:-lag], q[lag:]
            n = float(len(x))
            sx, sy = float(sum(x)), float(sum(y))
            sxy = float(sum(a * b for a, b in zip(x, y)))
            sxx = float(sum(a * a for a in x))
            syy = float(sum(b * b for b in y))
            r = (n * sxy - sx * sy) / math.sqrt(n * sxx - sx * sx) \
                / math.sqrt(n * syy - sy * sy)
            return math.floor(abs(r) * 1e6 + 0.5) / 1e6 * (
                1 if r >= 0 else -1)

        for lag in (1, 3, 7):
            assert out[lag] == ref(lag), lag

    def test_constant_series_is_null(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            autocorrelation,
        )

        df = self._mk(spark, [5.0] * 10)
        out = autocorrelation(df, max_lag=3).collect()
        assert len(out) == 3
        assert all(r["acf"] is None for r in out)

    def test_lag_beyond_series_absent(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            autocorrelation,
        )

        df = self._mk(spark, [1.0, 2.0, 3.0])
        out = {r["lag"] for r in autocorrelation(df, max_lag=10).collect()}
        assert out == {1, 2}

    def test_invalid_max_lag_raises(self, spark):
        import pytest as _pytest

        from big_data_in_agriculture_spark.operators.timeseries import (
            autocorrelation,
        )

        df = self._mk(spark, [1.0])
        with _pytest.raises(ValueError):
            autocorrelation(df, max_lag=0)

    def test_keys_independent(self, spark):
        import datetime as dt

        from big_data_in_agriculture_spark.operators.timeseries import (
            autocorrelation,
        )

        base = dt.datetime(2024, 1, 1)
        rows = [("a", base + dt.timedelta(days=i), float(i % 2))
                for i in range(10)]
        rows += [("b", base + dt.timedelta(days=i), float(i))
                 for i in range(10)]
        df = spark.createDataFrame(rows, ["key", "day", "value"])
        out = {(r["key"], r["lag"]): r["acf"]
               for r in autocorrelation(df, max_lag=2).collect()}
        # alternating series: perfect negative at lag 1, perfect
        # positive at lag 2; linear ramp: near-1 at both
        assert out[("a", 1)] == -1.0
        assert out[("a", 2)] == 1.0
        assert out[("b", 1)] > 0.9


class TestMadOutliers:
    def _mk(self, spark, vals, key="k"):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [(key, base + dt.timedelta(days=i), v)
             for i, v in enumerate(vals)],
            ["key", "day", "value"],
        )

    def test_planted_outliers_flagged_with_exact_scores(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            mad_outliers,
        )

        vals = [float(10 + (i % 5)) for i in range(20)] + [999.0, -500.0]
        df = self._mk(spark, vals)
        out = sorted(
            (r["value"], r["score"]) for r in mad_outliers(df).collect()
        )
        # median = 12, MAD = 1 -> scores are exact integer ratios
        assert out == [(-500.0, 512.0), (999.0, 987.0)]

    def test_inliers_not_flagged(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            mad_outliers,
        )

        vals = [float(10 + (i % 5)) for i in range(20)]
        assert mad_outliers(self._mk(spark, vals)).count() == 0

    def test_even_n_median_interpolates(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            mad_outliers,
        )

        # n=4: median = 2.5, deviations {1.5, 0.5, 0.5, 97.5},
        # MAD = (0.5 + 1.5)/2 = 1.0 -> only 100 crosses 3.5 * MAD
        out = mad_outliers(self._mk(spark, [1.0, 2.0, 3.0, 100.0])).collect()
        assert [(r["value"], r["score"]) for r in out] == [(100.0, 97.5)]

    def test_zero_mad_flags_any_deviation_with_null_score(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            mad_outliers,
        )

        out = mad_outliers(self._mk(spark, [5.0] * 9 + [6.0])).collect()
        assert [(r["value"], r["score"]) for r in out] == [(6.0, None)]

    def test_outlier_cannot_drag_threshold(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            mad_outliers,
        )

        # the property that breaks mean/stddev gating: a huge outlier
        # inflates a stddev threshold enough to hide a smaller one;
        # median/MAD ignore magnitude, so BOTH are flagged
        vals = [10.0, 11.0, 12.0, 13.0, 14.0] * 4 + [1e6, 200.0]
        out = sorted(r["value"] for r in mad_outliers(self._mk(spark, vals)).collect())
        assert out == [200.0, 1e6]

    def test_invalid_threshold_raises(self, spark):
        import pytest as _pytest

        from big_data_in_agriculture_spark.operators.timeseries import (
            mad_outliers,
        )

        df = self._mk(spark, [1.0])
        with _pytest.raises(ValueError):
            mad_outliers(df, k_den=0)


# ---------------------------------------------------------------------------
# cross_correlation (round 11)
# ---------------------------------------------------------------------------


class TestCrossCorrelation:
    def _mk(self, spark, xs, ys, key="k"):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [(key, base + dt.timedelta(days=i), float(x), float(y))
             for i, (x, y) in enumerate(zip(xs, ys))],
            ["key", "day", "x", "y"],
        )

    def test_shifted_copy_peaks_at_shift_lag(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            cross_correlation,
        )

        xs = [3.0, -1.0, 2.0, -2.0, 1.0, -3.0, 0.5, 4.0] * 5
        # y_t = x_{t-2}  =>  x leads y by 2: corr(x_t, y_{t+2}) == 1
        ys = [0.0, 0.0] + xs[:-2]
        out = {
            r["lag"]: (r["n_pairs"], r["ccf"])
            for r in cross_correlation(
                self._mk(spark, xs, ys), max_lag=3
            ).collect()
        }
        assert out[2][1] == 1.0
        assert out[2][0] == 38  # n - 2 pairs
        # no other lag is a perfect copy
        for lag, (_, c) in out.items():
            if lag != 2:
                assert c is None or c < 1.0

    def test_zero_lag_self_is_one_and_symmetry(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            cross_correlation,
        )

        xs = [1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0]
        out = {
            r["lag"]: r["ccf"]
            for r in cross_correlation(
                self._mk(spark, xs, xs), max_lag=2
            ).collect()
        }
        # ccf(x, x) at lag 0 is exactly 1
        assert out[0] == 1.0
        # ccf of a series with itself is symmetric in the lag
        assert out[1] == out[-1]
        assert out[2] == out[-2]

    def test_matches_acf_on_identical_series(self, spark):
        from big_data_in_agriculture_spark.operators.timeseries import (
            autocorrelation,
            cross_correlation,
        )

        import math

        xs = [math.sin(i / 3.0) * 5 + (i % 4) for i in range(40)]
        df = self._mk(spark, xs, xs)
        ccf = {
            r["lag"]: (r["n_pairs"], r["ccf"])
            for r in cross_correlation(df, max_lag=4).collect()
        }
        acf = {
            r["lag"]: (r["n_pairs"], r["acf"])
            for r in autocorrelation(
                df.select("key", "day", F.col("x").alias("value")),
                max_lag=4,
            ).collect()
        }
        for lag in (1, 2, 3, 4):
            assert ccf[lag] == acf[lag]

    def test_null_rows_dropped_complete_case(self, spark):
        import datetime as dt

        from big_data_in_agriculture_spark.operators.timeseries import (
            cross_correlation,
        )

        base = dt.datetime(2024, 1, 1)
        rows = [
            ("k", base + dt.timedelta(days=i), x, y)
            for i, (x, y) in enumerate(
                [(1.0, 2.0), (None, 3.0), (2.0, None), (3.0, 1.0),
                 (4.0, 5.0), (5.0, 2.0)]
            )
        ]
        df = spark.createDataFrame(rows, ["key", "day", "x", "y"])
        out = {
            r["lag"]: r["n_pairs"]
            for r in cross_correlation(df, max_lag=1).collect()
        }
        # 4 complete-case days -> 3 adjacent pairs each direction
        assert out[1] == 3
        assert out[-1] == 3

    def test_invalid_max_lag_raises(self, spark):
        import pytest as _pytest

        from big_data_in_agriculture_spark.operators.timeseries import (
            cross_correlation,
        )

        df = self._mk(spark, [1.0], [1.0])
        with _pytest.raises(ValueError, match="max_lag"):
            cross_correlation(df, max_lag=0)
