"""NetCDF ingest: binaryFile scan + Arrow-batched decode (S4–S7, C7, C8, UF2).

Reference semantics (``dask_jobs/aggregate_hourly.py:32-93,107-118``):
per (region, year, month) file — possibly a ZIP wrapping ``data_0.nc``
(S5) — decode the grid, keep the requested variables that exist (S7),
rename the time axis ``valid_time``/``time`` → ``ts`` (C7), melt to
long-form rows tagged with the region (C8).

Spark-first shape:
* ``spark.read.format("binaryFile")`` over the hive layout
  ``region=<r>/year=<y>/month=<mm>.nc|.zip`` — each file is one row
  ``(path, modificationTime, length, content)``; partition-path
  pruning applies to the directory components (S4's path probing is a
  ``pathGlobFilter``).
* decode runs in ``mapInPandas``: one Python island per file, Arrow
  batches out. The 3-D grid never crosses the JVM boundary un-melted.
* the decoder itself is injectable. The default tries xarray /
  h5netcdf and raises a clearly-marked NotImplementedError when the
  container lacks them — the Spark plumbing (schema, partitioning,
  batch shape, ZIP sniff) is real and tested with a deterministic
  fake decoder.

Scale notes: one task per file is the reference's own ceiling (D1);
the decoded file leaves the island in row-chunks of ``_CHUNK_ROWS``
(the generator protocol below), so no single Arrow batch carries a
huge file — the decoded frame itself is still held whole per task.
"""

from __future__ import annotations

import io
import re
import zipfile
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import RAW_VARIABLES

#: Long-form decoded grid rows produced by the ingest.
DECODED_SCHEMA = T.StructType(
    [
        T.StructField("region", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
    ]
    + [T.StructField(v, T.DoubleType(), True) for v in RAW_VARIABLES]
)

#: Rows per Arrow batch the decode island yields for one file.
_CHUNK_ROWS = 200_000

_PATH_RE = re.compile(r"region=([^/]+)/year=(\d+)/month=(\d+)")


def parse_partition_path(path: str) -> tuple[str, int, int]:
    """region/year/month from a hive-style raw path (S4).

    Raises ValueError on a path outside the layout — the ingest glob
    should never hand us one.
    """
    m = _PATH_RE.search(path)
    if not m:
        raise ValueError(f"path {path!r} does not match region=/year=/month= layout")
    return m.group(1), int(m.group(2)), int(m.group(3))


def sniff_netcdf_bytes(content: bytes) -> bytes:
    """S5: if ``content`` is a ZIP, extract the FIRST ``*.nc`` member.

    Mirrors ``aggregate_hourly.py:32-45``: error when a ZIP holds no
    ``.nc``; non-ZIP bytes pass through untouched (the reference sniffs
    with ``zipfile.is_zipfile`` — HDF5 magic ``\\x89HDF`` is not a ZIP).
    """
    buf = io.BytesIO(content)
    if not zipfile.is_zipfile(buf):
        return content
    with zipfile.ZipFile(buf) as zf:
        members = [n for n in zf.namelist() if n.endswith(".nc")]
        if not members:
            raise ValueError("ZIP archive contains no .nc member")
        return zf.read(members[0])


def default_decoder(nc_bytes: bytes, variables: list[str]) -> pd.DataFrame:
    """Decode NetCDF4/HDF5 bytes to a long-form frame (S6/S7/C7/A2).

    Primary path: the dependency-free pure-Python HDF5 reader
    (``sources/hdf5.py``) — proven against the reference's committed
    raw ERA5 bytes (tests/test_golden_parity.py reproduces the
    committed hourly mart raw→hourly). Files using HDF5 constructs
    outside its documented subset fall back to xarray when installed;
    without xarray the original error surfaces with both stories.
    """
    from .hdf5 import Hdf5FormatError, era5_frame  # noqa: PLC0415

    try:
        return era5_frame(nc_bytes, variables)
    except Hdf5FormatError as primary_err:
        try:
            import xarray as xr  # noqa: PLC0415
        except ImportError:
            raise NotImplementedError(
                f"pure-Python HDF5 decode failed ({primary_err}) and the "
                "xarray fallback is not installed in this environment. "
                "Pass decoder=... to read_raw_grid, or install xarray + "
                "h5netcdf/netCDF4 for files outside the pure reader's "
                "documented subset."
            ) from primary_err

    ds = xr.open_dataset(io.BytesIO(nc_bytes))
    present = [v for v in variables if v in ds.data_vars]
    if not present:
        raise ValueError(f"no requested variable of {variables} present")
    frame = ds[present].to_dataframe().reset_index()
    # C7 time-axis rename, case-insensitive lat/lon match like the ref.
    for cand in ("valid_time", "time"):
        if cand in frame.columns:
            frame = frame.rename(columns={cand: "ts"})
            break
    ren = {}
    for c in frame.columns:
        if c.lower() in ("lat", "latitude"):
            ren[c] = "latitude"
        if c.lower() in ("lon", "longitude"):
            ren[c] = "longitude"
    return frame.rename(columns=ren)


def read_raw_grid(
    spark: SparkSession,
    root: str,
    variables: list[str] | None = None,
    path_glob: str = "*.{nc,zip}",
    decoder: Callable[[bytes, list[str]], pd.DataFrame] | None = None,
) -> DataFrame:
    """Scan a raw ERA5 layout into long-form grid rows.

    One input row per file (binaryFile), one decode per file inside
    ``mapInPandas``, output chunked to bound memory. Missing partitions
    simply yield no files (S4 tolerance). Output columns follow
    ``DECODED_SCHEMA`` intersected with what each file actually holds —
    absent variables arrive as NULL columns (P2 presence contract is
    then applied downstream on NULL-ness, since a static schema is
    required for the scan).
    """
    wanted = variables if variables is not None else RAW_VARIABLES
    decode = decoder or default_decoder
    out_cols = [f.name for f in DECODED_SCHEMA.fields]

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", path_glob)
        .option("recursiveFileLookup", "true")
        .load(root)
        .select("path", "content")
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                region, _, _ = parse_partition_path(path)
                frame = decode(sniff_netcdf_bytes(bytes(content)), list(wanted))
                frame = frame.copy()
                frame.insert(0, "region", region)  # C8 literal injection
                for col in out_cols:
                    if col not in frame.columns:
                        frame[col] = None
                frame = frame[out_cols]
                for start in range(0, len(frame), _CHUNK_ROWS):
                    yield frame.iloc[start : start + _CHUNK_ROWS]

    return files.mapInPandas(_decode, schema=DECODED_SCHEMA)
