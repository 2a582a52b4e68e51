"""Adversarial replica of the DRIVER's environment, not ours.

The driver does not call ``session.get_spark`` — it hands every
``queries()`` entry a vanilla SparkSession built with its own defaults.
This sweep rebuilds that worst case on purpose:

* a bare ``SparkSession.builder`` session — none of session.py's confs;
* an adversarial non-UTC session timezone (America/New_York), reset
  before EVERY query, so any query that forgets to self-pin UTC
  before calendar math on TimestampType — or relies on a
  predecessor's pin — fails loudly here instead of in CORRECTNESS_r{N};
* no pre-set nanos conf — the events reader must set it at runtime.

Usage: python scripts/vanilla_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

from selfcheck import gate, reclaim

TZ = "America/New_York"


def _reset(spark) -> None:
    reclaim(spark)
    spark.conf.set("spark.sql.session.timeZone", TZ)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("vanilla-check")
        .config("spark.sql.session.timeZone", TZ)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    return gate(
        spark, sf_dir, set(sys.argv[2:]), _reset, f"  [vanilla TZ={TZ}]"
    )


if __name__ == "__main__":
    sys.exit(main())
