"""The benchmark workloads and the pass loop they share.

A workload prepares its inputs once (untimed) and then runs numbered
passes.  Each pass is a list of timed calls into the package; a call's
output is checked after its timed window closes.  Pass 0 is the cold
pass of a fresh session; later passes are warm.  A workload's first
``warmup`` passes are not measured as warm passes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pandas as pd

from harness import Tracer, dir_bytes, pinned, tree_cpu_s

#: analytics_mix: the part of bench.py's HEADLINE set that keeps one or two
#: queries per operator family (relational joins and aggregates, windowed
#: sessions, text statistics, the Arrow kernel of LSH), so that one run
#: fits its time budget.
MIX = ["tpch_q3", "tpch_q18", "sessionize", "text_stats", "knn_lsh"]
#: iterative_graph: many small jobs and pins per query.
GRAPH = [
    "core_numbers_trade", "lpa_communities", "pagerank_trade",
    "sssp_trade", "kmeans_clusters", "semantic_dedup",
]
#: analytics_mix also runs one graph query, so that the graph operators and
#: their per-iteration pins are measured on a workload that BENCHMARK.json
#: lists (see README.md for why iterative_graph is not listed there).
MIX_GRAPH = ["pagerank_trade"]
STREAM = "stream_daily_rollup"
SERVE_KINDS = ["distinct", "filter", "pivot", "kpis"]

#: Fixed tables for the query workloads: ``scripts/fuzzdata.py`` at this
#: seed and scale (sf0.01-sized: 60k lineitem, 10k events, 500 documents,
#: 500 embeddings).  ``oracle_hashes.json`` holds the DuckDB oracle's
#: result hash of every benched query on exactly these tables.
DATA_SEED, DATA_SCALE = 42, 1.0
HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_FILE = os.path.join(HERE, "oracle_hashes.json")


class Run:
    """One benchmark process: session, tracer, and what its calls did."""

    def __init__(self, spark, root: str, work: str, seed: int, traced: bool, threads: int):
        self.spark = spark
        self.root = root
        self.work = work
        self.seed = seed
        self.threads = threads
        self.tracer = Tracer(spark, run_id=f"seed{seed}", enabled=traced)
        self.attempted = 0
        self.failed = 0
        self.pass_index = 0
        self.calls: list[dict] = []  # {pass, name, layer, group, s, cpu}
        self.pin_peak = 0
        self.serve_lookups = self.serve_hits = 0
        self.extra: dict[str, list[float]] = {}

    def call(self, name: str, layer: str, fn, check=None):
        """Run ``fn`` in one timed window, then ``check`` its result.

        Returns the result, or None when ``fn`` raised.  An exception or a
        failed check counts once against the run.
        """
        group = f"p{self.pass_index}/{name}#{len(self.calls)}"
        self.attempted += 1
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, layer, group):
                out = fn(group)
        except Exception:
            self.failed += 1
            print(f"call {name} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        t1 = time.perf_counter()
        self.calls.append(
            {"pass": self.pass_index, "name": name, "layer": layer, "group": group,
             "s": t1 - t0, "cpu": tree_cpu_s() - cpu0}
        )
        if self.tracer.enabled:
            self.pin_peak = max(self.pin_peak, pinned(self.spark)[0])
        if check is not None:
            try:
                ok = check(out)
            except Exception:
                print(f"check {name} raised:\n{traceback.format_exc()}", file=sys.stderr)
                ok = False
            if not ok:
                self.failed += 1
                print(f"check {name} failed in pass {self.pass_index}", file=sys.stderr)
        return out

    def note(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)

    def pass_seconds(self, k: int, clock: str = "s") -> float:
        """Wall (``"s"``) or CPU (``"cpu"``) seconds of pass ``k``'s calls."""
        return sum(c[clock] for c in self.calls if c["pass"] == k)


# ---------------------------------------------------------------------------
# analytics_mix: registered queries over fixed generated tables
# ---------------------------------------------------------------------------


def make_tables(out: str, root: str) -> None:
    """``scripts/fuzzdata.py`` tables plus planted near-duplicate documents.

    fuzzdata's documents are independent random word strings, so the
    near-duplicate queries would find nothing; every 20th document gets a
    copy with its middle word replaced, as the sf* test tables plant.
    """
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    sys.path.insert(0, os.path.join(root, "scripts"))
    import fuzzdata  # noqa: PLC0415

    fuzzdata.generate(out, DATA_SEED, DATA_SCALE)
    path = os.path.join(out, "documents.parquet")
    docs = pq.read_table(path).to_pandas()
    copies = docs[docs["doc_id"] % 20 == 0].copy()
    words = copies["text"].str.split(" ")
    copies["text"] = [" ".join(w[: len(w) // 2] + ["planted"] + w[len(w) // 2 + 1 :]) for w in words]
    copies["n_chars"] = copies["text"].str.len()
    copies["doc_id"] += 100_000
    both = pd.concat([docs, copies], ignore_index=True)
    pq.write_table(pa.Table.from_pandas(both, schema=pq.read_schema(path), preserve_index=False), path)


def ensure_tables(cache: str, root: str, expected: dict[str, str]) -> str:
    """Generate the fixed query tables once per checkout and verify them."""
    import hashlib  # noqa: PLC0415

    out = os.path.join(cache, f"tables-{DATA_SEED}-{DATA_SCALE}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp-{os.getpid()}"
        make_tables(tmp, root)
        os.replace(tmp, out)
    for name, digest in expected.items():
        with open(os.path.join(out, f"{name}.parquet"), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise RuntimeError(
                    f"generated {name}.parquet differs from the tables the "
                    "stored oracle hashes were computed on"
                )
    return out


class QueryMix:
    """Registered ``queries()`` callables, seeded order per pass, one session.

    Nothing is reclaimed between queries or passes: pins a query leaves
    behind stay until the ContextCleaner drops them, as in a long-lived
    session.
    """

    def __init__(self, names: list[str], stream: bool, warmup: int):
        self.names = names + ([STREAM] if stream else [])
        self.warmup = warmup

    def prepare(self, run: Run, cache: str) -> None:
        sys.path.insert(0, os.path.join(run.root, "scripts"))
        import __spark_entry__  # noqa: PLC0415
        from selfcheck import canon  # noqa: PLC0415

        self.canon = canon
        self.queries = __spark_entry__.queries()
        with open(ORACLE_FILE) as fh:
            stored = json.load(fh)
        self.expected = stored["queries"]
        self.data = ensure_tables(cache, run.root, stored["tables"])

    def run_pass(self, run: Run) -> None:
        rng = np.random.default_rng([run.seed, run.pass_index])
        for name in rng.permutation(self.names):
            self._one(run, str(name))

    def _check(self, name: str):
        want = self.expected[name]

        def check(pdf: pd.DataFrame) -> bool:
            n, cols, digest = self.canon(pdf)
            return [n, cols, digest] == want

        return check

    def _one(self, run: Run, name: str) -> None:
        spark, tracer = run.spark, run.tracer
        prep = self._stream_prep(run) if name == STREAM else None

        def go(group: str) -> pd.DataFrame:
            with tracer.span("entry", "entry", f"{group}/entry"):
                df = (
                    self._stream_build(run, prep)
                    if prep
                    else self.queries[name](spark, self.data)
                )
            if tracer.enabled:
                with tracer.span("plan", "plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("exec", "exec", f"{group}/exec"):
                return df.toPandas()

        run.call(name, "job", go, self._check(name))

    # The availableNow stream is driven here rather than through its
    # queries() callable so that the benchmark holds the StreamingQuery
    # and can read its recentProgress.  The read-back mirrors the
    # callable's output columns, so the same oracle hash applies.
    def _stream_prep(self, run: Run) -> str:
        base = os.path.join(run.work, f"stream-{run.pass_index}")
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(f"{base}/landing")
        shutil.copy(f"{self.data}/events.parquet", f"{base}/landing/batch-000.parquet")
        return base

    def _stream_build(self, run: Run, base: str):
        from pyspark.sql import functions as F  # noqa: PLC0415

        from big_data_in_agriculture_spark.streaming.events import (  # noqa: PLC0415
            start_daily_rollup_to_parquet,
        )

        q = start_daily_rollup_to_parquet(
            run.spark, f"{base}/landing", f"{base}/sink", f"{base}/chk", available_now=True
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError("availableNow stream did not finish in 120 s")
        if run.tracer.enabled:
            progress = q.recentProgress
            run.note("stream.batches", len(progress))
            run.note("stream.batch_ms", sum(p.batchDuration for p in progress))
            run.note("stream.rows", sum(p.numInputRows for p in progress))
        return run.spark.read.parquet(f"{base}/sink").select(
            "event_type",
            F.col("day").cast("timestamp").alias("day"),
            "n_events",
            F.col("value_mean").cast("float").alias("value_mean"),
            "value_min",
            "value_max",
            F.col("value_sum").cast("float").alias("value_sum"),
        )


# ---------------------------------------------------------------------------
# era5_etl_serve: the paper's own pipeline plus a dashboard session
# ---------------------------------------------------------------------------

FLOAT_TOL = {"rtol": 1e-5, "atol": 1e-4}
N_INTERACTIONS = 3


def _close(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> bool:
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    for c in want.columns:
        if c in keys:
            if not (got[c].astype(str) == want[c].astype(str)).all():
                return False
        elif not np.allclose(got[c].astype(np.float64), want[c].astype(np.float64), **FLOAT_TOL):
            return False
    return True


class Era5EtlServe:
    """raw NetCDF → hourly mart → daily mart → monthly upserts → dashboard."""

    #: pass 1 still used about a quarter more CPU than pass 2
    warmup = 2

    def prepare(self, run: Run, cache: str) -> None:
        import era5data  # noqa: PLC0415

        self.era5 = era5data
        self.raw = os.path.join(run.work, "raw")
        truth, self.grid_rows, raw_bytes = era5data.generate(self.raw, run.seed, run.root, run.threads)
        self.sizes = {"grid_rows": self.grid_rows, "raw_bytes": raw_bytes}
        self.daily = era5data.daily_truth(truth)
        self.daily["day"] = self.daily["day"].dt.strftime("%Y-%m-%d")
        self.hourly_root = os.path.join(run.work, "mart_hourly")
        self.daily_root = os.path.join(run.work, "mart_daily")
        self.warehouse = os.path.join(run.work, "warehouse_daily")

    def run_pass(self, run: Run) -> None:
        from pyspark.sql import functions as F  # noqa: PLC0415

        from big_data_in_agriculture_spark.operators import daily, hourly  # noqa: PLC0415
        from big_data_in_agriculture_spark.sources import marts, netcdf, upsert  # noqa: PLC0415

        spark = run.spark
        for d in (self.hourly_root, self.daily_root, self.warehouse):
            shutil.rmtree(d, ignore_errors=True)
        # Spark is lazy, so the decode and the hourly / daily aggregations
        # run inside the two mart writes; the traced run also times them on
        # their own (``probes``).
        run.call(
            "hourly_mart", "sources.marts",
            lambda g: marts.write_hourly_mart(
                hourly.spatial_mean_hourly(netcdf.read_raw_grid(spark, self.raw)), self.hourly_root
            ),
        )
        run.call(
            "daily_mart", "sources.marts",
            lambda g: marts.write_daily_mart(
                daily.daily_rollup(marts.read_mart(spark, self.hourly_root).drop("year", "month")),
                self.daily_root,
            ),
        )
        # Byte counts are taken between the timed calls, on every pass.
        marts_files = marts_bytes = 0
        for r in (self.hourly_root, self.daily_root):
            f, b = dir_bytes(r)
            marts_files, marts_bytes = marts_files + f, marts_bytes + b
        run.note("marts.files", marts_files)
        run.note("marts.bytes", marts_bytes)
        upsert_bytes = 0
        for month in self.era5.MONTHS:
            months = [m for m in (month - 1, month) if m in self.era5.MONTHS]
            run.call(
                "upsert_parquet", "sources.upsert",
                lambda g, ms=months: upsert.upsert_parquet(
                    spark,
                    marts.read_mart(spark, self.daily_root)
                    .filter(F.col("month").isin(ms))
                    .drop("year", "month"),
                    self.warehouse,
                    upsert.DAILY_KEY,
                ),
            )
            # every upsert rewrites the whole table
            upsert_bytes += dir_bytes(self.warehouse)[1]
        final = sum(dir_bytes(r)[1] for r in (self.hourly_root, self.daily_root, self.warehouse))
        run.note("upsert.bytes", upsert_bytes)
        run.note("write_amp", (marts_bytes + upsert_bytes) / final)
        self._check_warehouse(run)
        self._dashboard(run)

    def _check_warehouse(self, run: Run) -> None:
        run.attempted += 1
        run.spark.sparkContext.setJobGroup("check", "output check")
        try:
            got = run.spark.read.parquet(self.warehouse).toPandas()
            got["day"] = pd.to_datetime(got["day"]).dt.strftime("%Y-%m-%d")
            ok = _close(got, self.daily, ["region", "day"])
        except Exception:
            print(f"warehouse check raised:\n{traceback.format_exc()}", file=sys.stderr)
            ok = False
        if not ok:
            run.failed += 1
            print(f"warehouse check failed in pass {run.pass_index}", file=sys.stderr)

    def _dashboard(self, run: Run) -> None:
        """A seeded dashboard session against the warehouse table."""
        from pyspark.sql import functions as F  # noqa: PLC0415

        from big_data_in_agriculture_spark.operators import serve  # noqa: PLC0415

        spark, truth = run.spark, self.daily
        regions_all = sorted(self.era5.REGIONS)
        days = sorted(truth["day"].unique())
        metrics = [c for c in truth.columns if c not in ("region", "day")]
        rng = np.random.default_rng([run.seed, run.pass_index, 7])
        cache = serve.QueryCache(ttl_seconds=600.0)
        table = spark.read.parquet(self.warehouse)

        def collect(df) -> pd.DataFrame:
            if run.tracer.enabled:
                with run.tracer.span("plan", "plan"):
                    df._jdf.queryExecution().executedPlan()
            return df.toPandas()

        def regions() -> list[str]:
            missed = []

            def compute():
                missed.append(True)
                return run.call(
                    "distinct", "serve",
                    lambda g: list(collect(serve.distinct_keys(table, "region"))["region"]),
                    lambda got: got == regions_all,
                )

            found = cache.get("regions", compute)
            run.serve_lookups += 1
            run.serve_hits += not missed
            return found or regions_all

        for _ in range(N_INTERACTIONS):
            picked = sorted(rng.choice(regions(), size=2, replace=False).tolist())
            i = int(rng.integers(0, len(days) - 10))
            start, end = days[i], days[i + 9]
            metric = str(rng.choice(metrics))
            window = truth[(truth["day"] >= start) & (truth["day"] <= end)]

            def as_days(pdf: pd.DataFrame, col: str = "day") -> pd.DataFrame:
                return pdf.assign(**{col: pd.to_datetime(pdf[col]).dt.strftime("%Y-%m-%d")})

            run.call(
                "filter", "serve",
                lambda g: as_days(collect(serve.filter_daily(table, picked, start, end))),
                lambda got, w=window[window["region"].isin(picked)]: _close(got, w, ["region", "day"]),
            )
            want_piv = window.pivot(index="day", columns="region", values=metric).reset_index()
            run.call(
                "pivot", "serve",
                lambda g: as_days(collect(serve.pivot_metric(
                    table.filter(F.col("day").between(start, end)), metric,
                    time_col="day", series_col="region", series_values=regions_all,
                ))),
                lambda got, w=want_piv: _close(got, w, ["day"]),
            )
            run.call(
                "kpis", "serve",
                lambda g: collect(serve.kpis(table, series_col="region", time_col="day")),
                lambda got: (
                    got["n_rows"].tolist() == [len(truth)]
                    and got["n_region"].tolist() == [len(regions_all)]
                    and str(got["min_day"][0]) == days[0]
                    and str(got["max_day"][0]) == days[-1]
                ),
            )

    def probes(self, run: Run) -> None:
        """Time the decode and each aggregation on its own (traced run only).

        The pass's mart writes run all three in one Spark job chain.  Here
        each is forced through a noop sink: the decode over the raw scan,
        then ``spatial_mean_hourly`` over the decoded grid and
        ``daily_rollup`` over the hourly mart, each input held in memory.
        """
        from big_data_in_agriculture_spark.operators import daily, hourly  # noqa: PLC0415
        from big_data_in_agriculture_spark.sources import marts, netcdf  # noqa: PLC0415

        spark = run.spark

        def timed(key: str, name: str, layer: str, df) -> None:
            t0 = time.perf_counter()
            with run.tracer.span(name, layer, f"probe/{name}"):
                df.write.format("noop").mode("overwrite").save()
            run.note(key, time.perf_counter() - t0)

        timed("decode_s", "decode", "sources.netcdf", netcdf.read_raw_grid(spark, self.raw))
        spark.sparkContext.setJobGroup("probe/load", "probe inputs")
        grid = netcdf.read_raw_grid(spark, self.raw).persist()
        grid.count()
        timed("hourly_s", "spatial_mean_hourly", "operators.hourly", hourly.spatial_mean_hourly(grid))
        grid.unpersist(blocking=True)
        spark.sparkContext.setJobGroup("probe/load", "probe inputs")
        h = marts.read_mart(spark, self.hourly_root).drop("year", "month").persist()
        h.count()
        timed("daily_s", "daily_rollup", "operators.daily", daily.daily_rollup(h))
        h.unpersist(blocking=True)


WORKLOADS = {
    # A second unmeasured pass left the spread of analytics_mix's warm-pass
    # CPU seconds unchanged over ten seeds, so it gets only the cold pass.
    "analytics_mix": lambda: QueryMix(MIX + MIX_GRAPH, stream=True, warmup=1),
    "iterative_graph": lambda: QueryMix(GRAPH, stream=False, warmup=2),
    "era5_etl_serve": Era5EtlServe,
}
