"""Dump .explain("formatted") for named queries to <outdir>/<query>_<tag>.txt.

Usage: python scripts/dump_plan.py <outdir> <tag> query [query ...]
"""

import os
import sys

from selfcheck import session


def main() -> int:
    outdir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = session("plans", sf_dir)

    import __spark_entry__ as entrymod
    from big_data_in_agriculture_spark.plans.explain import formatted_plan

    qs = entrymod.queries()
    for name in names:
        plan = formatted_plan(qs[name](spark, sf_dir))
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(
            f"{name}: {path} ({plan.count('Exchange')} Exchange, "
            f"{plan.count('SortMergeJoin')} SMJ, "
            f"{plan.count('BroadcastHashJoin')} BHJ)",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
