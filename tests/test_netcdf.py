"""NetCDF ingest plumbing: ZIP sniff, path parsing, mapInPandas pipeline.

Most cases decode through a deterministic fake so the layout logic —
the binaryFile scan, partition tagging, Arrow batching, schema — is
checked on its own; the fake produces a constant grid whose spatial
mean is hand-checkable end-to-end through spatial_mean_hourly. One
case writes a real ERA5-shaped HDF5 file (tests/_hdf5_writer.py) and
runs it through the default pure-Python decoder.
"""

from __future__ import annotations

import datetime as dt
import io
import zipfile

import pandas as pd
import pytest

from big_data_in_agriculture_spark.operators.hourly import spatial_mean_hourly
from big_data_in_agriculture_spark.sources import netcdf

NC_MAGIC = b"\x89HDF\r\n\x1a\nfake-netcdf-body"


def _make_fake_decoder():
    # Defined NESTED so cloudpickle serializes it by value — a top-level
    # function of this (unimportable-on-executors) test module would be
    # pickled by reference and fail with ModuleNotFoundError.
    def _fake_decoder(nc_bytes: bytes, variables: list[str]) -> pd.DataFrame:
        import datetime as dt  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        # 2 timestamps x 2x2 grid; t2m constant 280K, u10/v10 fixed 3/4
        assert nc_bytes.startswith(b"\x89HDF"), "decoder must receive unwrapped bytes"
        rows = []
        for h in (0, 1):
            for lat in (50.0, 50.1):
                for lon in (30.0, 30.1):
                    rows.append(
                        {"valid_time": dt.datetime(2022, 1, 1, h), "latitude": lat,
                         "longitude": lon, "t2m": 280.0, "u10": 3.0, "v10": 4.0}
                    )
        return pd.DataFrame(rows).rename(columns={"valid_time": "ts"})

    return _fake_decoder


def _layout(tmp_path, as_zip=False):
    d = tmp_path / "raw" / "region=testreg" / "year=2022"
    d.mkdir(parents=True)
    if as_zip:
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("data_0.nc", NC_MAGIC)
        (d / "month=01.zip").write_bytes(buf.getvalue())
    else:
        (d / "month=01.nc").write_bytes(NC_MAGIC)
    return str(tmp_path / "raw")


def test_sniff_passthrough_and_zip_extract():
    assert netcdf.sniff_netcdf_bytes(NC_MAGIC) == NC_MAGIC
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("inner/data_0.nc", NC_MAGIC)
    assert netcdf.sniff_netcdf_bytes(buf.getvalue()) == NC_MAGIC


def test_sniff_zip_without_nc_raises():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("readme.txt", b"nope")
    with pytest.raises(ValueError, match="no .nc member"):
        netcdf.sniff_netcdf_bytes(buf.getvalue())


def test_parse_partition_path():
    r, y, m = netcdf.parse_partition_path(
        "file:/data/raw/era5-land/region=bashkortostan/year=2022/month=02.nc"
    )
    assert (r, y, m) == ("bashkortostan", 2022, 2)
    with pytest.raises(ValueError):
        netcdf.parse_partition_path("/some/flat/file.nc")


@pytest.mark.parametrize("as_zip", [False, True])
def test_ingest_pipeline_with_fake_decoder(spark, tmp_path, as_zip):
    root = _layout(tmp_path, as_zip=as_zip)
    grid = netcdf.read_raw_grid(
        spark, root, variables=["t2m", "u10", "v10"], decoder=_make_fake_decoder()
    )
    rows = grid.collect()
    assert len(rows) == 8  # 2 ts x 4 cells
    assert all(r["region"] == "testreg" for r in rows)
    # absent variables surface as NULL columns under the static schema
    assert all(r["swvl1"] is None for r in rows)

    # end-to-end: ingest → hourly mart semantics
    hourly = spatial_mean_hourly(grid, ["t2m", "u10", "v10"], cast=None).collect()
    assert len(hourly) == 2
    assert hourly[0]["t2m"] == pytest.approx(280.0 - 273.15)
    assert hourly[0]["wind_speed_10m"] == pytest.approx(5.0)


def test_default_decoder_raises_without_libs():
    with pytest.raises(NotImplementedError, match="xarray"):
        netcdf.default_decoder(NC_MAGIC, ["t2m"])


class TestRawLayout:
    """read_raw_grid over a multi-region, multi-month hive layout."""

    def _multi_layout(self, tmp_path):
        for region in ("alpha", "beta"):
            for month in (1, 2):
                d = tmp_path / "raw" / f"region={region}" / "year=2022"
                d.mkdir(parents=True, exist_ok=True)
                (d / f"month={month:02d}.nc").write_bytes(NC_MAGIC)
        return str(tmp_path / "raw")

    def _read(self, spark, root, **kw):
        return netcdf.read_raw_grid(spark, root, decoder=_make_fake_decoder(), **kw)

    def test_reads_all_partitions(self, spark, tmp_path):
        df = self._read(spark, self._multi_layout(tmp_path))
        # 4 files x 8 grid rows
        assert df.count() == 32
        assert set(r["region"] for r in df.select("region").distinct().collect()) == {
            "alpha", "beta"
        }
        # unit conversion contract: raw Kelvin arrives undisturbed
        assert df.agg({"t2m": "max"}).first()[0] == 280.0

    def test_subtree_root_prunes_to_one_file(self, spark, tmp_path):
        root = self._multi_layout(tmp_path)
        df = self._read(
            spark, f"{root}/region=alpha/year=2022", path_glob="month=02.*"
        )
        assert df.rdd.getNumPartitions() == 1
        assert df.count() == 8
        assert df.select("region").distinct().first()[0] == "alpha"

    def test_unmatched_glob_yields_no_rows(self, spark, tmp_path):
        df = self._read(spark, self._multi_layout(tmp_path), path_glob="month=03.*")
        assert df.count() == 0

    def test_feeds_hourly_pipeline(self, spark, tmp_path):
        mart = spatial_mean_hourly(self._read(spark, self._multi_layout(tmp_path)))
        row = mart.filter("region = 'alpha'").orderBy("ts").first()
        # constant 280K grid → mean exactly 280K → 6.85°C; wind 3-4-5
        assert abs(row["t2m"] - 6.85) < 1e-6
        assert abs(row["wind_speed_10m"] - 5.0) < 1e-6


def test_synthetic_era5_zip_through_default_decoder(spark, tmp_path):
    """One ERA5-shaped file (valid_time/latitude/longitude, t2m with a
    NaN sea mask in shuffle+deflate chunks) wrapped as ``month=01.zip``
    runs through the default decoder and the hourly mean, and matches
    numpy's skipna mean."""
    import numpy as np

    from _hdf5_writer import write_hdf5

    nt, nlat, nlon = 6, 5, 7
    rng = np.random.default_rng(3)
    t2m = rng.uniform(260.0, 300.0, (nt, nlat, nlon)).astype(np.float32)
    sea = rng.random((nlat, nlon)) < 0.3
    sea[0, 0] = False
    t2m[:, sea] = np.nan
    start = int(dt.datetime(2023, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    blob = write_hdf5(
        {
            "valid_time": start + 3600 * np.arange(nt, dtype=np.int64),
            "latitude": 55.0 - 0.25 * np.arange(nlat),
            "longitude": 40.0 + 0.25 * np.arange(nlon),
            "t2m": t2m,
        },
        chunk_dims={"t2m": (2, 3, 4)},
        deflate_level=4,
        shuffle=True,
    )
    d = tmp_path / "raw" / "region=synth" / "year=2023"
    d.mkdir(parents=True)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("data_0.nc", blob)
    (d / "month=01.zip").write_bytes(buf.getvalue())

    grid = netcdf.read_raw_grid(spark, str(tmp_path / "raw"), variables=["t2m"])
    assert grid.count() == nt * nlat * nlon
    assert grid.filter("t2m IS NULL").count() == nt * int(sea.sum())

    rows = (
        spatial_mean_hourly(grid, ["t2m"], cast=None)
        .selectExpr("region", "unix_timestamp(ts) AS epoch", "t2m")
        .orderBy("epoch")
        .collect()
    )
    want = np.nanmean(t2m.astype(np.float64), axis=(1, 2)) - 273.15
    assert [r["region"] for r in rows] == ["synth"] * nt
    assert [r["epoch"] for r in rows] == [start + 3600 * h for h in range(nt)]
    assert [r["t2m"] for r in rows] == pytest.approx(list(want), rel=1e-12)
