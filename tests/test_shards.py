"""Shard export: deterministic token-balanced assignment, one directory
per shard, idempotent re-export, manifest consistency, pruned reads."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from big_data_in_agriculture_spark.sources import shards as SH


def _docs(spark, n=40, toks=25):
    rows = [
        (i, " ".join(f"w{i}t{j}" for j in range(toks)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_assignment_balanced_and_deterministic(spark):
    docs = _docs(spark)  # 40 docs x 25 tokens = 1000 tokens
    a1 = {r["doc_id"]: r["shard"] for r in SH.assign_shards(docs, 100).collect()}
    a2 = {
        r["doc_id"]: r["shard"]
        for r in SH.assign_shards(docs.repartition(7), 100).collect()
    }
    assert a1 == a2  # partitioning-independent
    assert set(a1.values()) == set(range(10))  # 1000/100 = 10 shards
    sizes = {}
    for doc, s in a1.items():
        sizes[s] = sizes.get(s, 0) + 25
    # docs stay whole in their starting shard: each shard within one doc
    # of the 100-token target
    assert all(abs(v - 100) <= 25 for v in sizes.values())


def test_export_roundtrip_and_manifest(spark, tmp_path):
    out = str(tmp_path / "shards")
    docs = _docs(spark)
    manifest = SH.export_training_shards(docs, out, tokens_per_shard=100)
    rows = manifest.collect()
    assert sum(r["n_docs"] for r in rows) == 40
    assert sum(r["n_tokens"] for r in rows) == 1000
    assert all(r["first_id"] <= r["last_id"] for r in rows)
    # shards are contiguous id ranges (prefix-sum assignment)
    ordered = sorted(rows, key=lambda r: r["shard"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["last_id"] < b["first_id"]

    back = spark.read.parquet(f"{out}/data")
    assert back.count() == 40
    assert {f.name for f in back.schema.fields} >= {"doc_id", "text", "shard"}
    # one parquet file per shard directory (repartition-by-shard write)
    for d in glob.glob(f"{out}/data/shard=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1

    stored = spark.read.parquet(f"{out}/manifest")
    assert stored.count() == len(rows)


def test_reexport_idempotent(spark, tmp_path):
    out = str(tmp_path / "shards")
    docs = _docs(spark)
    m1 = SH.export_training_shards(docs, out, tokens_per_shard=100).collect()
    m2 = SH.export_training_shards(docs, out, tokens_per_shard=100).collect()
    assert sorted(map(tuple, m1)) == sorted(map(tuple, m2))
    assert spark.read.parquet(f"{out}/data").count() == 40


def test_read_shard_prunes(spark, tmp_path):
    out = str(tmp_path / "shards")
    SH.export_training_shards(_docs(spark), out, tokens_per_shard=100)
    one = SH.read_shard(spark, out, 3)
    assert one.count() == 4  # 100 tokens / 25 per doc
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(shard" in plan or "shard#" in plan


def test_export_leaves_overwrite_mode_as_it_was(spark, tmp_path):
    # the export sets dynamic partition overwrite only for its own write:
    # an unset key comes back unset, a set key comes back with its value
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        SH.export_training_shards(_docs(spark), str(tmp_path / "a"), 100)
        assert spark.conf.get(key, None) is None
        spark.conf.set(key, "static")
        SH.export_training_shards(_docs(spark), str(tmp_path / "b"), 100)
        assert spark.conf.get(key, None) == "static"
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
