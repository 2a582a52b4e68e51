"""Hourly mart: spatial mean over the grid + unit conversion (A1, C1–C3).

Reference semantics (``dask_jobs/aggregate_hourly.py:48-93``): per
``(region, ts)`` take the *unweighted*, *null-skipping* arithmetic mean
of every variable over all (latitude, longitude) cells, then convert
units, then sort by ts. The mean is deliberately NOT cos-latitude
weighted — parity first (SURVEY.md §7.4).

Scale notes:
* ``groupBy(region, ts).avg`` is a hash aggregate with map-side partial
  aggregation — the shuffle carries one partial row per (region, ts)
  per input partition, never raw grid cells.
* Input files are hive-partitioned by region/year/month, so a run for
  one (region, month) prunes to exactly one partition directory.
* ``avg`` ignores NULLs (sea-mask cells), matching xarray
  ``skipna=True``; an all-NULL (region, ts, var) group yields NULL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.convert import convert_units
from ..schemas import RAW_VARIABLES


def normalize_time_axis(df: DataFrame) -> DataFrame:
    """Rename the time axis to ``ts`` (C7, ``aggregate_hourly.py:81-86``).

    ``valid_time`` wins over ``time``; error if neither exists — same
    contract as the reference.
    """
    if "ts" in df.columns:
        return df
    for cand in ("valid_time", "time"):
        if cand in df.columns:
            return df.withColumnRenamed(cand, "ts")
    raise ValueError("no time axis found: expected one of ts/valid_time/time")


def _spatial_mean(
    grid: DataFrame,
    variables: list[str] | None,
    cast: str | None,
    mean: Callable[[str], Column],
) -> DataFrame:
    """The hourly-mart body shared by both spatial means: ``mean(v)``
    is the per-variable aggregate over one (region, ts) group."""
    grid = normalize_time_axis(grid)
    wanted = variables if variables is not None else RAW_VARIABLES
    present = [v for v in wanted if v in grid.columns]
    if not present:
        raise ValueError(f"none of the requested variables {wanted} present in input")

    hourly = grid.groupBy("region", "ts").agg(*[mean(v).alias(v) for v in present])
    # Conversion AFTER the mean — reference order (aggregate_hourly.py:71→91).
    hourly = convert_units(hourly)
    if cast:
        for c in hourly.columns:
            if c not in ("region", "ts"):
                hourly = hourly.withColumn(c, F.col(c).cast(cast))
    # Reference sorts each month file by ts (O1, aggregate_hourly.py:89).
    # Global orderBy would force a range shuffle; within-partition sort
    # preserves the per-file contract without one (the partitioned mart
    # writer in sources/marts.py owns the final per-file ordering).
    return hourly.sortWithinPartitions("region", "ts")


def spatial_mean_hourly(
    grid: DataFrame,
    variables: list[str] | None = None,
    cast: str | None = "float",
) -> DataFrame:
    """Collapse a long-form grid to the hourly mart.

    ``grid``: one row per (region, ts, latitude, longitude) with one
    column per variable (see ``schemas.RAW_GRID_SCHEMA``).

    Variable selection is presence-gated like the reference's
    ``vars_present`` probe (S7, ``aggregate_hourly.py:63-67``): only the
    intersection of requested and existing columns is aggregated; an
    empty intersection is an error.

    All arithmetic (mean + unit conversion) runs in float64; ``cast``
    applies ONCE to the final measure columns, matching the reference
    mart's float32 storage without intermediate precision loss. Pass
    ``cast=None`` for oracle-checked paths that compare doubles.
    """
    return _spatial_mean(grid, variables, cast, F.avg)


def spatial_mean_weighted(
    grid: DataFrame,
    variables: list[str] | None = None,
    lat_col: str = "latitude",
    cast: str | None = "float",
) -> DataFrame:
    """Area-weighted spatial mean: cos(latitude) cell weights.

    The reference averages grid cells unweighted (its regions are small
    enough that the ~2% cos-lat spread inside a bbox is below its
    float32 noise floor) — but on continental bboxes a regular lat/lon
    grid over-weights high latitudes, where cells are physically
    smaller. The standard fix weights each cell by cos(lat). Same
    single-shuffle aggregate: sum(w·x)/sum(w per non-null x) per
    variable, conversions after the mean, identical null semantics
    (a variable's NULL cells drop from BOTH numerator and denominator).
    """
    w = F.cos(F.radians(F.col(lat_col)))

    def mean(v: str) -> Column:
        num = F.sum(F.when(F.col(v).isNotNull(), w * F.col(v)))
        den = F.sum(F.when(F.col(v).isNotNull(), w))
        return num / den

    return _spatial_mean(grid, variables, cast, mean)
