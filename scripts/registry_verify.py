"""Snapshot two-engine hashes for EVERY registry query.

For each ``queries()`` entry the artifact records, side by side, the
Spark result hash and the DuckDB oracle hash (same canonicalization as
the driver gate: row count, sorted column names, order-insensitive
value hash). Queries with a ``bounded_oracle()`` spec instead record
the Spark hash plus the bound-check outcome; a genuinely oracle-free
query would record the Spark hash and row count alone, labeled as
such. The committed ``REGISTRY_VERIFY.json`` lets an external auditor
(a) see that two independently computed hashes agree for every
oracle-backed query — not just the driver's 50-slot prefix — and (b)
re-run this script against the same sf dir and diff the file.

Usage:
  python scripts/registry_verify.py [sf_dir]            # full rebuild
  python scripts/registry_verify.py [sf_dir] q1 q2 ...  # update named
                                                        # entries in place

Incremental mode refuses to merge across different sf dirs — the
artifact is one coherent snapshot at one scale (default sf0.01, the
driver's correctness scale).
"""

from __future__ import annotations

import json
import os
import sys

from selfcheck import REPO, session, sweep


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1 and not sys.argv[1].startswith("-")
        else "/root/testdata/sf0.01"
    )
    only = set(sys.argv[2:])
    out_path = os.path.join(REPO, "REGISTRY_VERIFY.json")

    import __spark_entry__ as entry

    qs = entry.queries()
    prior: dict[str, dict] = {}
    if only:
        if not os.path.exists(out_path):
            print("incremental mode needs an existing REGISTRY_VERIFY.json")
            return 2
        with open(out_path) as f:
            payload = json.load(f)
        if payload.get("sf_dir") != sf_dir:
            print(
                f"refusing to merge: artifact is at {payload.get('sf_dir')}, "
                f"run is at {sf_dir}"
            )
            return 2
        prior = payload["queries"]
        unknown = only - set(qs)
        if unknown:
            print(f"unknown queries: {sorted(unknown)}")
            return 2

    out: dict[str, dict] = dict(prior)
    ok = True
    for name, record, problem in sweep(
        session("registry-verify", sf_dir), sf_dir, only
    ):
        out[name] = record
        ok = ok and problem is None

    if not only:
        for name in set(out) - set(qs):
            del out[name]

    payload = {"sf_dir": sf_dir, "queries": out}
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    kinds = {}
    for row in out.values():
        kinds[row["kind"]] = kinds.get(row["kind"], 0) + 1
    print(
        f"{'OK' if ok else 'MISMATCH'}: wrote REGISTRY_VERIFY.json "
        f"({len(out)} queries: {kinds})"
    )
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
