"""Seeded ERA5-style NetCDF inputs for the ``era5_etl_serve`` workload.

Writes one HDF5/NetCDF4 file per (region, month) under the raw layout
``region=<r>/year=<y>/month=<mm>.nc`` that ``sources.netcdf.read_raw_grid``
scans, using the repo's own test writer (``tests/_hdf5_writer.py``):
hourly steps, a 12×16 grid, seven float32 variables, a fixed sea mask of
NaN cells per region, and shuffle+deflate chunks.  No attributes are
written, so the reader's default ``seconds since 1970-01-01`` time unit
applies.

The generator keeps the exact per-cell arrays, so it can also return
the true hourly and daily marts the pipeline must reproduce.
"""

from __future__ import annotations

import calendar
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

REGIONS = ["altai", "kuban", "ural", "volga"]
YEAR = 2023
MONTHS = [1, 2]
NLAT, NLON = 12, 16
CHUNK = (24, 6, 8)
SEA_FRACTION = 0.15
VARIABLES = ["t2m", "d2m", "tp", "u10", "v10", "swvl1", "swvl2"]
DAILY_SPECS = {
    "t2m": ["mean", "min", "max"],
    "d2m": ["mean"],
    "tp": ["sum"],
    "swvl1": ["mean"],
    "swvl2": ["mean"],
    "wind_speed_10m": ["mean"],
}


def _month_fields(rng: np.random.Generator, nt: int, sea: np.ndarray) -> dict[str, np.ndarray]:
    """Seven (time, lat, lon) float32 fields with a diurnal cycle and noise."""
    shape = (nt, NLAT, NLON)
    hour = (np.arange(nt) % 24)[:, None, None]
    diurnal = np.sin(2 * np.pi * (hour - 9) / 24.0)
    lat_grad = np.linspace(2.0, -2.0, NLAT)[None, :, None]
    base = rng.uniform(265.0, 295.0)
    t2m = base + lat_grad + 6.0 * diurnal + rng.normal(0, 1.5, shape)
    fields = {
        "t2m": t2m,
        "d2m": t2m - rng.uniform(2.0, 8.0) - rng.gamma(2.0, 0.8, shape),
        "tp": np.maximum(rng.normal(0, 4e-4, shape), 0.0),
        "u10": rng.normal(rng.uniform(-3, 3), 2.5, shape),
        "v10": rng.normal(rng.uniform(-3, 3), 2.5, shape),
        "swvl1": np.clip(rng.normal(0.3, 0.05, shape), 0.0, 0.6),
        "swvl2": np.clip(rng.normal(0.32, 0.04, shape), 0.0, 0.6),
    }
    out = {}
    for name, arr in fields.items():
        arr = arr.astype(np.float32)
        arr[:, sea] = np.nan
        out[name] = arr
    return out


def _hourly_truth(region: str, times: np.ndarray, fields: dict[str, np.ndarray]) -> pd.DataFrame:
    """What ``spatial_mean_hourly(cast="float")`` must produce for one file."""
    m = {v: np.nanmean(fields[v].astype(np.float64), axis=(1, 2)) for v in VARIABLES}
    frame = pd.DataFrame(
        {
            "region": region,
            "ts": pd.to_datetime(times, unit="s"),
            "t2m": m["t2m"] - 273.15,
            "d2m": m["d2m"] - 273.15,
            "tp": m["tp"] * 1000.0,
            "u10": m["u10"],
            "v10": m["v10"],
            "swvl1": m["swvl1"],
            "swvl2": m["swvl2"],
            "wind_speed_10m": np.sqrt(m["u10"] * m["u10"] + m["v10"] * m["v10"]),
        }
    )
    for c in frame.columns[2:]:
        frame[c] = frame[c].astype(np.float32)
    return frame


def daily_truth(hourly: pd.DataFrame) -> pd.DataFrame:
    """What ``daily_rollup`` over the hourly mart must produce."""
    h = hourly.assign(day=hourly["ts"].dt.normalize())
    aggs = {
        f"{col}_{fn}": (col, {"mean": "mean", "min": "min", "max": "max", "sum": "sum"}[fn])
        for col, fns in DAILY_SPECS.items()
        for fn in fns
    }
    h = h.astype({c: np.float64 for c in DAILY_SPECS})
    out = h.groupby(["region", "day"], as_index=False).agg(**aggs)
    for c in aggs:
        out[c] = out[c].astype(np.float32)
    return out.sort_values(["region", "day"]).reset_index(drop=True)


def _write_file(root: str, seed: int, r_idx: int, month: int, write_hdf5) -> tuple[pd.DataFrame, int, int]:
    region = REGIONS[r_idx]
    sea = np.random.default_rng([seed, r_idx]).random((NLAT, NLON)) < SEA_FRACTION
    sea[0, 0] = False  # every region keeps land cells
    days = calendar.monthrange(YEAR, month)[1]
    start = int(pd.Timestamp(YEAR, month, 1).timestamp())
    times = start + 3600 * np.arange(days * 24, dtype=np.int64)
    fields = _month_fields(np.random.default_rng([seed, r_idx, month]), len(times), sea)
    blob = write_hdf5(
        {
            "valid_time": times,
            "latitude": 50.0 + 4 * r_idx + np.arange(NLAT) * -0.25,
            "longitude": 40.0 + np.arange(NLON) * 0.25,
            **fields,
        },
        chunk_dims={v: CHUNK for v in VARIABLES},
        deflate_level=1,
        shuffle=True,
    )
    d = os.path.join(root, f"region={region}", f"year={YEAR}")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"month={month:02d}.nc"), "wb") as fh:
        fh.write(blob)
    return _hourly_truth(region, times, fields), len(times) * NLAT * NLON, len(blob)


def generate(root: str, seed: int, repo_root: str, threads: int) -> tuple[pd.DataFrame, int, int]:
    """Write the raw layout under ``root`` with ``threads`` writer threads.

    Each file draws from its own ``(seed, region, month)`` stream, so the
    output does not depend on the thread count.  Returns (true hourly
    mart, decoded grid rows, raw bytes written).
    """
    sys.path.insert(0, os.path.join(repo_root, "tests"))
    from _hdf5_writer import write_hdf5  # noqa: PLC0415

    jobs = [(r, m) for r in range(len(REGIONS)) for m in MONTHS]
    with ThreadPoolExecutor(threads) as pool:
        parts = list(pool.map(lambda rm: _write_file(root, seed, *rm, write_hdf5), jobs))
    truth = pd.concat([p[0] for p in parts], ignore_index=True)
    rows = sum(p[1] for p in parts)
    nbytes = sum(p[2] for p in parts)
    return truth.sort_values(["region", "ts"]).reset_index(drop=True), rows, nbytes
