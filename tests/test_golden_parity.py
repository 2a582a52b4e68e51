"""Golden-output parity against the reference's committed marts.

The reference repo commits real pipeline outputs (SURVEY.md §5):
raw CDS downloads for 6 (region, month) pairs, hourly marts for
4 regions × 12 months of 2022, and one daily mart (Jan 2022,
4 regions × 7 days — the flow's ``limit_days=7`` default). BOTH
pipeline stages are checked on real bytes: raw→hourly through the
pure-Python HDF5 reader (sources/hdf5.py — no xarray needed), and
hourly→daily by running OUR daily_rollup over THEIR hourly mart and
comparing to THEIR daily mart row-by-row.

Reference generation: pandas float32 groupby (``aggregate_daily.py:
27-44``); ours aggregates in float64 and casts once — equal within
float32 resolution (SURVEY.md §4.3 rounded-precision contract).
"""

from __future__ import annotations

import datetime as dt
import glob

import pytest

from big_data_in_agriculture_spark.operators.daily import daily_rollup

HOURLY_GLOB = "/root/reference/data/marts/hourly/*/*/month=01.parquet"
DAILY_GOLDEN = "/root/reference/data/marts/daily/year=2022/month=01.parquet"

MEASURES = [
    "t2m_mean", "t2m_min", "t2m_max", "d2m_mean", "tp_sum",
    "swvl1_mean", "swvl2_mean", "wind_speed_10m_mean",
]


@pytest.fixture(scope="module")
def golden_files():
    files = sorted(glob.glob(HOURLY_GLOB))
    if not files:
        pytest.skip("reference marts not present")
    return files


def _read_hourly(spark, files):
    # the reference wrote pandas timestamp[ns]; same nanos handling as
    # the harness events reader (__spark_entry__._t)
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(*files)
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def test_daily_rollup_reproduces_reference_daily_mart(spark, golden_files):
    hourly = _read_hourly(spark, golden_files)
    # the committed daily mart covers the first 7 days of Jan 2022
    hourly = hourly.filter(
        (hourly.ts >= dt.datetime(2022, 1, 1)) & (hourly.ts < dt.datetime(2022, 1, 8))
    )
    ours = daily_rollup(hourly, cast="float").toPandas()
    golden = spark.read.parquet(DAILY_GOLDEN).select(
        "region", "day", *MEASURES
    ).toPandas()

    assert len(ours) == len(golden) == 28
    ours_idx = ours.set_index(["region", "day"]).sort_index()
    gold_idx = golden.set_index(["region", "day"]).sort_index()
    assert list(ours_idx.index) == list(gold_idx.index)
    for col in MEASURES:
        a, b = ours_idx[col], gold_idx[col]
        # float32 storage on both sides; arithmetic float64 (ours) vs
        # float32 pandas (theirs) → equal within ~1e-5 relative.
        assert ((a - b).abs() <= (b.abs() * 1e-4 + 1e-4)).all(), (
            f"{col} mismatch:\n{(a - b).abs().max()}"
        )


def test_hourly_mart_shape_matches_reference(spark, golden_files):
    hourly = _read_hourly(spark, golden_files)
    # 4 regions × 744 hours of January
    assert hourly.count() == 2976
    assert {r["region"] for r in hourly.select("region").distinct().collect()} == {
        "bashkortostan", "belarus", "krasnodar", "moscow_oblast"
    }
    # the mart schema carries the full measure set incl. derived wind
    for col in ["ts", "t2m", "d2m", "tp", "u10", "v10", "swvl1", "swvl2", "wind_speed_10m"]:
        assert col in hourly.columns


def test_serve_layer_parity_on_reference_daily_mart(spark):
    """The serving ops reproduce pandas ground truth on the committed
    daily mart — the same frame the reference's dashboard serves
    (dashboards/app.py:35-61: membership filter, pivot, KPI scalars).
    """
    import pandas as pd

    from big_data_in_agriculture_spark.operators import serve

    try:
        golden = pd.read_parquet(DAILY_GOLDEN)
    except Exception:
        pytest.skip("reference marts not present")

    sdf = spark.createDataFrame(golden)
    regions = ["bashkortostan", "krasnodar"]

    start, end = "2022-01-01", "2022-01-07"
    filtered = serve.filter_daily(sdf, regions, start, end).toPandas()
    exp = golden[golden["region"].isin(regions)]
    assert len(filtered) == len(exp) == 14

    piv = serve.pivot_metric(
        serve.filter_daily(sdf, regions, start, end),
        metric="t2m_mean", series_values=regions,
    ).toPandas().set_index("day").sort_index()
    exp_piv = exp.pivot_table(index="day", columns="region",
                              values="t2m_mean").sort_index()
    for r in regions:
        assert (abs(piv[r].astype(float).to_numpy()
                    - exp_piv[r].astype(float).to_numpy()) < 1e-5).all()

    k = serve.kpis(sdf).collect()[0]
    assert k["n_rows"] == 28 and k["n_region"] == 4
    assert str(k["min_day"])[:10] == "2022-01-01"
    assert str(k["max_day"])[:10] == "2022-01-07"


# ---------------------------------------------------------------------------
# Raw → hourly on REAL bytes: the pure-Python HDF5 reader (sources/
# hdf5.py) decodes the reference's committed CDS download and the
# Spark pipeline must reproduce the committed hourly mart.
# ---------------------------------------------------------------------------

RAW_ROOT = "/root/reference/data/raw/era5-land"
RAW_NC = RAW_ROOT + "/region=bashkortostan/year=2022/month=02.nc"
RAW_VARS = ["t2m", "d2m", "tp", "u10", "v10", "swvl1", "swvl2"]
MART_VARS = RAW_VARS + ["wind_speed_10m"]


def test_raw_netcdf_to_hourly_reproduces_reference_mart(spark):
    """Full S6 proof over EVERY committed raw file (4 regions × Feb as
    plain HDF5, 2 regions × Jan as CDS ZIP): ZIP sniff → pure-Python
    HDF5 decode → melt → spatial mean (skipna — krasnodar's bbox is
    24% sea-NaN) → unit conversion, vs the reference's committed
    hourly marts (cdsapi + xarray + pandas, aggregate_hourly.py:48-93).
    The Jan marts cover the full month while the committed Jan raw
    covers 7 days, so comparison joins on (region, ts) and requires
    every decoded hour to match. Equality within float32 resolution:
    the reference means in float32, we mean in float64 and cast once.
    """
    import os

    import numpy as np

    from big_data_in_agriculture_spark.operators.hourly import (
        spatial_mean_hourly,
    )
    from big_data_in_agriculture_spark.sources.netcdf import read_raw_grid

    if not os.path.exists(RAW_NC):
        pytest.skip("reference raw bytes not present")

    grid = read_raw_grid(spark, RAW_ROOT, variables=RAW_VARS)
    ours = spatial_mean_hourly(grid, variables=RAW_VARS, cast="float").toPandas()
    assert len(ours) == 4 * 24 + 2 * 168  # 4 Feb days + 2×7 Jan days

    golden_files = sorted(
        glob.glob("/root/reference/data/marts/hourly/*/year=2022/month=0[12].parquet")
    )
    golden = _read_hourly(spark, golden_files).toPandas()
    # mart files carry no region column per-row? they do (reference
    # inserts it); join on (region, ts) — Jan marts are supersets.
    merged = ours.merge(golden, on=["region", "ts"], suffixes=("_me", "_ref"))
    assert len(merged) == len(ours)  # every decoded hour has a twin
    for var in MART_VARS:
        a = merged[f"{var}_me"].to_numpy(dtype=np.float64)
        b = merged[f"{var}_ref"].to_numpy(dtype=np.float64)
        # a handful of float32 ulps at the PRE-conversion magnitude:
        # temperatures accumulate float32 error at Kelvin scale (~273)
        # before the −273.15 shift makes the Celsius value small.
        origin = 300.0 if var in ("t2m", "d2m") else 1.0
        scale = np.abs(b) + origin
        assert np.all(np.abs(a - b) <= 8 * np.finfo(np.float32).eps * scale), var


def test_pure_hdf5_reader_decodes_real_cds_file():
    """Structural checks on the committed CDS bytes: coords, CF time,
    chunk+shuffle+deflate data, GRIB attributes, DIMENSION_LIST."""
    import os

    import numpy as np

    from big_data_in_agriculture_spark.sources.hdf5 import Hdf5File
    from big_data_in_agriculture_spark.sources.netcdf import (
        sniff_netcdf_bytes,
    )

    if not os.path.exists(RAW_NC):
        pytest.skip("reference raw bytes not present")
    f = Hdf5File(sniff_netcdf_bytes(open(RAW_NC, "rb").read()))

    assert set(RAW_VARS) <= set(f.datasets)
    vt = f.read("valid_time")
    assert vt[0] == 1643673600  # 2022-02-01T00:00:00Z
    assert np.all(np.diff(vt) == 3600)  # hourly steps
    lat, lon = f.read("latitude"), f.read("longitude")
    assert lat.shape == (51,) and lon.shape == (69,)
    assert lat[0] == 56.6 and lon[0] == 53.1  # bbox from config/regions.yaml
    t2m = f.read("t2m")
    assert t2m.shape == (24, 51, 69) and t2m.dtype == np.float32
    assert 230.0 < np.nanmean(t2m) < 290.0  # Kelvin, February, Urals
    assert f.datasets["t2m"].attrs["units"] == "K"
    assert f.dim_names("t2m") == ["valid_time", "latitude", "longitude"]


def test_cli_reproduces_reference_pipeline_on_real_bytes(spark, tmp_path):
    """The reference's full batch flow, through OUR CLI, on REAL CDS
    bytes: `aggregate-hourly` over the committed raw tree (ZIP sniff +
    pure-Python HDF5 decode + spatial mean + conversions + partitioned
    mart write), then `aggregate-daily` over the result — outputs
    checked against the committed hourly mart rows (float32 ulps) and
    the daily rollup's own grain invariants."""
    import os

    import numpy as np

    from big_data_in_agriculture_spark import cli

    if not os.path.exists(RAW_NC):
        pytest.skip("reference raw bytes not present")

    hourly_out = str(tmp_path / "hourly")
    daily_out = str(tmp_path / "daily")
    assert cli.main(
        [
            "aggregate-hourly",
            "--raw-root", RAW_ROOT,
            "--out", hourly_out,
            "--regions", "bashkortostan,krasnodar",
            "--variables", ",".join(RAW_VARS),
        ],
        spark=spark,
    ) in (0, None)
    ours = spark.read.parquet(hourly_out).toPandas()
    assert sorted(ours["region"].unique()) == ["bashkortostan", "krasnodar"]
    assert len(ours) == 24 + 24 + 168  # bash Feb + kras Feb + kras Jan(zip)

    golden_files = [
        "/root/reference/data/marts/hourly/region=bashkortostan/year=2022/month=02.parquet",
        "/root/reference/data/marts/hourly/region=krasnodar/year=2022/month=01.parquet",
        "/root/reference/data/marts/hourly/region=krasnodar/year=2022/month=02.parquet",
    ]
    golden = _read_hourly(spark, golden_files).toPandas()
    merged = ours.merge(golden, on=["region", "ts"], suffixes=("_me", "_ref"))
    assert len(merged) == len(ours)
    for var in MART_VARS:
        a = merged[f"{var}_me"].to_numpy(dtype=np.float64)
        b = merged[f"{var}_ref"].to_numpy(dtype=np.float64)
        origin = 300.0 if var in ("t2m", "d2m") else 1.0
        assert np.all(
            np.abs(a - b) <= 8 * np.finfo(np.float32).eps * (np.abs(b) + origin)
        ), var

    # chain into the daily mart over the CLI-produced hourly
    assert cli.main(
        ["aggregate-daily", "--hourly", hourly_out, "--out", daily_out],
        spark=spark,
    ) in (0, None)
    daily = spark.read.parquet(daily_out).toPandas()
    # 1 bash day + 1 kras Feb day + 7 kras Jan days
    assert len(daily) == 1 + 1 + 7
    assert {"t2m_mean", "t2m_min", "t2m_max", "tp_sum"} <= set(daily.columns)
