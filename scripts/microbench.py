"""Focused per-query micro-bench: same methodology as bench.py (noop
sink, min of N runs, per-query reclaim, the harness session and
warmup from selfcheck.py) but only for the named queries — the
isolation tool behind OPTIMIZATION_r12.md's before/after rows.

Usage: python scripts/microbench.py [--runs N] query [query ...]
"""

import json
import os
import sys
import time

from selfcheck import reclaim, session, warmup


def main() -> int:
    args = sys.argv[1:]
    runs = 3
    if args and args[0] == "--runs":
        runs = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = session("microbench", sf_dir)
    warmup(spark, sf_dir)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out: dict[str, list[float]] = {}
    for name in args:
        ts = []
        for _ in range(runs):
            # reclaim per RUN, not just per query: each run's lazy
            # localCheckpoints pin fresh blocks; without a reclaim the
            # later runs of a pin-heavy query measure storage-eviction
            # pressure, not the query (observed 2.9 -> 17.6 s spikes).
            reclaim(spark)
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(round(time.perf_counter() - t0, 3))
        out[name] = ts
        print(f"{name}: min={min(ts)} runs={ts}", file=sys.stderr, flush=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
