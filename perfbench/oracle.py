"""Compute ``oracle_hashes.json``: the expected result of every benched query.

Generates the fixed query tables (``workloads.make_tables``), runs each benched query's ``oracle_sql()`` twin
on DuckDB, and stores the ``scripts/selfcheck.canon`` hash of the result
together with the sha256 of every generated table.  Run it from the repo
root whenever a benched query, its oracle, or the generator changes:

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]

import duckdb  # noqa: E402
from selfcheck import canon  # noqa: E402

import __spark_entry__  # noqa: E402
from workloads import (  # noqa: E402
    DATA_SCALE, DATA_SEED, GRAPH, MIX, ORACLE_FILE, STREAM, make_tables,
)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    oracles = __spark_entry__.oracle_sql()
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        make_tables(tmp, ROOT)
        tables = {}
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(tmp, f"{t}.parquet")
            with open(path, "rb") as fh:
                tables[t] = hashlib.sha256(fh.read()).hexdigest()
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        queries = {}
        for name in MIX + GRAPH + [STREAM]:
            n, cols, digest = canon(con.execute(oracles[name]).fetchdf())
            queries[name] = [n, cols, digest]
            print(f"{name}: {n} rows {digest}")
    with open(ORACLE_FILE, "w") as fh:
        json.dump(
            {"data_seed": DATA_SEED, "data_scale": DATA_SCALE, "tables": tables, "queries": queries},
            fh, indent=1, sort_keys=True,
        )
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
