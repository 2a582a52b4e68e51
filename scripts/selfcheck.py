"""Shared harness for every oracle sweep and bench script, and the
local replica of the driver's correctness gate.

As a script it runs every ``queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same sf tables, then compares
row count, sorted column names, and an order-insensitive value hash
(rows rendered to canonical strings, sorted, sha256'd) — the same
shape of check the driver records in CORRECTNESS_r{N}.json. Queries
without an ``oracle_sql()`` twin but with a ``bounded_oracle()`` spec
(the HLL sketch queries, whose estimates legitimately differ across
engines) get a numeric-tolerance check instead: exact counts must
match, sketch estimates must sit within the published error bound,
percentiles inside a rank window — reported as PASS(bound)/FAIL(bound).

As a module it is the one home of what ``bench.py``, ``microbench.py``,
``registry_verify.py``, ``vanilla_check.py``, ``dump_plan.py``,
``gen_plans.py`` and ``tests/test_registry.py`` share: the session
(``session``), pin reclaim (``reclaim``), bench warmup (``warmup``),
the DuckDB views (``duck``) and the per-query two-engine check
(``two_engine``, driven over the registry by ``sweep``).

Usage: python scripts/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import glob
import hashlib
import os
import sys
import time
import traceback
from collections import Counter

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

#: One parquet file per table in every sf dir the driver generates.
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        parts = []
        for v in tup:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                parts.append("NULL")
            elif isinstance(v, float):
                parts.append(repr(v))
            elif hasattr(v, "tolist"):  # numpy scalar/array
                parts.append(repr(v.tolist()))
            else:
                parts.append(repr(v))
        rows.append("|".join(parts))
    rows.sort()
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(rows), cols, digest


def check_bounded(sdf: pd.DataFrame, odf: pd.DataFrame, spec: dict) -> list[str]:
    """Apply a ``bounded_oracle()`` spec; return failure descriptions."""
    errs: list[str] = []
    merged = sdf.merge(odf, on=spec["keys"], how="outer", indicator=True)
    if (merged["_merge"] != "both").any():
        missing = merged.loc[merged["_merge"] != "both", spec["keys"]]
        return [f"key mismatch: {missing.to_dict('records')}"]
    for scol, ocol in spec.get("exact", []):
        bad = merged[merged[scol] != merged[ocol]]
        if len(bad):
            errs.append(f"{scol} != {ocol} on {len(bad)} rows")
    for scol, ocol, tol in spec.get("rel", []):
        rel = (merged[scol] - merged[ocol]).abs() / merged[ocol].clip(lower=1)
        bad = merged[rel > tol]
        if len(bad):
            errs.append(
                f"{scol} off {ocol} by >{tol:.0%} on {len(bad)} rows "
                f"(worst {rel.max():.1%})"
            )
    for acol, windows in spec.get("array_between", []):
        for i, (lo, hi) in enumerate(windows):
            vals = merged[acol].map(lambda a: a[i])
            bad = merged[(vals < merged[lo]) | (vals > merged[hi])]
            if len(bad):
                errs.append(f"{acol}[{i}] outside [{lo},{hi}] on {len(bad)} rows")
    return errs


def reclaim(spark) -> None:
    """Drop blocks left behind by the previous query's pins.

    Operators pin reused/iterative frames with localCheckpoint or
    persist; those blocks are freed only when the ContextCleaner sees
    their RDDs garbage-collected on the driver. A 200+-query sweep in
    ONE session otherwise accumulates every query's pinned blocks —
    measured: the full sf0.1 sweep OOM'd mid-run once the round-10
    rotation moved the iterative graph queries (a dozen eager
    checkpoints each) ahead of the heavy LLM queries. One Python GC +
    one JVM GC per query lets the cleaner reclaim everything a real
    long-lived cluster session would reclaim on its own cadence. The
    benches need it too: r10's `knn_pq` row read 34.2 s purely from
    accumulated pins (fresh-session re-measure: 4.7 s)."""
    import gc

    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def session(app: str, sf_dir: str):
    """The harness SparkSession: ``get_spark``'s own master
    (``local[$SPARK_GRAFT_CPUS or *]``), a 6g driver heap, ERROR logs,
    and shuffle partitions sized to the data in ``sf_dir``.

    6g heap: in local mode the driver JVM IS the engine and shares one
    heap across every task thread; Spark's 1g default dies in
    spill-read buffers on the heavier queries at sf0.1 (measured:
    edit_linkage OOM in a fresh 1g session), and a 50-query bench
    session in 1g degrades over time from heap churn (r12: session
    tail 20-60% slower). A real cluster gives each executor core GBs.

    Partitions: ~8 MB of compressed parquet (~64 MB in-memory) per
    reduce task — the rule a 100 TB deployment applies, which at bench
    scale stops paying launch overhead for reduce tasks with ~1 MB of
    input. The floor of 8 keeps small inputs parallel; AQE still
    coalesces below it when a stage is smaller than that.
    """
    from big_data_in_agriculture_spark.session import get_spark

    parquet = glob.glob(os.path.join(sf_dir, "*.parquet"))
    total_bytes = sum(os.path.getsize(f) for f in parquet)
    spark = get_spark(
        app,
        shuffle_partitions=int(max(8, min(2048, total_bytes // (8 << 20)))),
        extra_conf={"spark.driver.memory": "6g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warmup(spark, sf_dir: str) -> None:
    """Pay one-time JVM and Python-worker startup outside any timing.

    Four steps, each measured as billed to the first query that needs
    it otherwise: (1) executors + codegen on a small scan; (2) the
    Python UDF workers (~1.5 s to the first Arrow-kernel query —
    minhash, LSH); (3) the ARRAY-returning Arrow path + generate
    (posexplode) + a local checkpoint, each loading its own JVM
    classes (~2 s to the first minhash-shaped query); (4) a 200-doc
    corpus through the inverted-index pair expansion, whose
    interpreted array-combinator codegen (transform/slice/flatten over
    collected structs) JITs on first execution (2-4x on the first
    doc-shaped query). Steady-state per-query cost is what
    extrapolates to a long-lived cluster session.
    """
    import __spark_entry__ as entry
    from pyspark.sql.functions import (
        col, concat_ws, lit, pandas_udf, posexplode, sequence, transform,
    )

    from big_data_in_agriculture_spark.operators.llm import jaccard_pairs

    entry.queries()["tpch_q1"](spark, sf_dir).count()

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).select(_warm(col("id"))).count()

    @pandas_udf("array<long>")
    def _warm_arr(s: pd.Series) -> pd.Series:
        return pd.Series([[int(x), int(x) + 1] for x in s])

    (
        spark.range(1000)
        .select(posexplode(_warm_arr(col("id"))))
        .localCheckpoint(eager=False)
        .count()
    )
    tiny = spark.range(200).select(
        col("id").alias("doc_id"),
        concat_ws(
            " ",
            transform(
                sequence(lit(0), lit(20)),
                lambda i: ((col("id") % 50) * 31 + i).cast("string"),
            ),
        ).alias("text"),
    )
    jaccard_pairs(tiny, threshold=0.5).count()


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per driver table in ``sf_dir``."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def two_engine(con, sdf: pd.DataFrame, oracle) -> tuple[dict, str | None]:
    """Check one query's Spark result against its DuckDB twin.

    ``oracle`` is the query's ``oracle_sql()`` text, its
    ``bounded_oracle()`` spec, or None (rows-only). Returns the
    query's ``REGISTRY_VERIFY.json`` record and a description of the
    failure, or None when the check passes.
    """
    sn, scols, shash = canon(sdf)
    if oracle is None:
        record = {"kind": "rows-only", "spark_rows": sn, "spark_hash": shash}
        return record, None
    bounded = isinstance(oracle, dict)
    what = "bound check" if bounded else "oracle"
    try:
        odf = con.execute(oracle["sql"] if bounded else oracle).fetchdf()
        errs = check_bounded(sdf, odf, oracle) if bounded else []
    except Exception as exc:  # noqa: BLE001 — recorded, sweep continues
        err = f"{what} raised: {exc}"
        return {"kind": "error", "err": err}, err
    if bounded:
        record = {
            "kind": "bounded",
            "spark_rows": sn,
            "spark_hash": shash,
            "bounded_pass": not errs,
            "errs": errs,
        }
        return record, "; ".join(errs) or None
    on, ocols, ohash = canon(odf)
    record = {
        "kind": "oracle",
        "spark_rows": sn,
        "oracle_rows": on,
        "spark_hash": shash,
        "oracle_hash": ohash,
        "hash_match": (sn, scols, shash) == (on, ocols, ohash),
    }
    if scols != ocols:
        return record, f"columns spark={scols} oracle={ocols}"
    if sn != on:
        return record, f"rows spark={sn} oracle={on}"
    if shash != ohash:
        problem = f"hash mismatch ({sn} rows)"
        try:  # show the first differing rows
            s = sdf[scols].sort_values(scols).reset_index(drop=True)
            o = odf[ocols].sort_values(ocols).reset_index(drop=True)
            bad = ((s != o) & ~(s.isna() & o.isna())).any(axis=1)
            problem += f"\n{s[bad].head(3)}\n{o[bad].head(3)}"
        except (TypeError, ValueError):  # unsortable (array) columns
            pass
        return record, problem
    return record, None


def sweep(spark, sf_dir: str, only=(), before=reclaim):
    """Run each registry query (all, or those named in ``only``) on
    Spark, check it with ``two_engine``, print one status line, and
    yield ``(name, record, problem)``. ``before(spark)`` runs ahead of
    every query; by default it reclaims the previous query's pins."""
    import __spark_entry__ as entry

    con = duck(sf_dir)
    oracles = {**entry.oracle_sql(), **entry.bounded_oracle()}
    for name, query in entry.queries().items():
        if only and name not in only:
            continue
        before(spark)
        t0 = time.time()
        try:
            sdf = query(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 — recorded, sweep continues
            traceback.print_exc()
            record = {"kind": "error", "err": f"spark raised: {exc}"}
            problem = record["err"]
        else:
            record, problem = two_engine(con, sdf, oracles.get(name))
        kind = record["kind"]
        if problem:
            tag = "FAIL(bound)" if kind == "bounded" else "FAIL"
            detail = problem
        else:
            tag = {"oracle": "PASS", "bounded": "PASS(bound)"}.get(kind, kind)
            detail = (
                f"{record['spark_rows']} rows {record['spark_hash']}  "
                f"({time.time() - t0:.1f}s)"
            )
        print(f"{tag}  {name}: {detail}", flush=True)
        yield name, record, problem


def gate(spark, sf_dir: str, only=(), before=reclaim, label: str = "") -> int:
    """``sweep`` with a pass/fail tally; returns the exit status."""
    tally = Counter(
        "fail" if problem else record["kind"]
        for _, record, problem in sweep(spark, sf_dir, only, before)
    )
    bound = f", {tally['bounded']} bound" if tally["bounded"] else ""
    print(
        f"\n{tally['oracle']} pass, {tally['fail']} fail, "
        f"{tally['rows-only']} rows-only{bound}{label}"
    )
    return 1 if tally["fail"] else 0


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    return gate(session("selfcheck", sf_dir), sf_dir, set(sys.argv[2:]))


if __name__ == "__main__":
    sys.exit(main())
