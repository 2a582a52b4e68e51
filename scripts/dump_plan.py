"""Dump .explain("formatted") for named queries to <outdir>/<query>_<tag>.txt.

Usage: python scripts/dump_plan.py <outdir> <tag> query [query ...]

Expression ids (``#123``), plan ids (``plan_id=7``, ``[id=#7]``),
checkpointed RDD ids (``MapPartitionsRDD[90]``) and lambda variable
suffixes (``x_41``) come from process-wide counters, so they shift
whenever anything else is built first, and queries that stage files
in ``tempfile.mkdtemp`` directories (``bm25idx-57uf2wsh``) get a new
random suffix per run. They are written as ``#N``, ``plan_id=N``,
``[id=N]``, ``RDD[N]``, ``x_N`` and ``bm25idx-TMP``: dump the same queries
with the same tag from two checkouts into two directories, and
``diff -r`` of the directories shows only real plan changes.
"""

import os
import re
import sys
import tempfile

from selfcheck import session

_IDS = (
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[id=#?\d+\]"), "[id=N]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/([\w.]+-)[a-z0-9_]{8}/"),
     tempfile.gettempdir() + r"/\1TMP/"),
)


def normalize(plan: str) -> str:
    """``plan`` with every counter-assigned id replaced by a fixed token."""
    for pat, rep in _IDS:
        plan = pat.sub(rep, plan)
    return plan


def main() -> int:
    outdir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = session("plans", sf_dir)

    import __spark_entry__ as entrymod
    from big_data_in_agriculture_spark.plans.explain import formatted_plan

    qs = entrymod.queries()
    for name in names:
        plan = normalize(formatted_plan(qs[name](spark, sf_dir)))
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
