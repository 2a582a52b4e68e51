"""Capstone integration: the full training-data path across operators.

documents → Gopher structural + repetition gates → keep-best dedup →
BPE train + encode → RAG chunking → token-balanced shard export →
readback. One test, real sf0.001 data, every hand-off checked for
count/token conservation — the "a user can run the whole pipeline"
evidence, not just per-operator units.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_in_agriculture_spark.operators import llm
from big_data_in_agriculture_spark.sources import shards as SH

SF_DIR = "/root/testdata/sf0.001"


def test_full_corpus_pipeline(spark, tmp_path):
    import __spark_entry__ as em

    docs = em._t(spark, SF_DIR, "documents")
    n_in = docs.count()

    # 1. quality gates: structural rules AND repetition rules
    ok_struct = llm.gopher_filter(docs, min_words=30).filter("keep = 1")
    ok_rep = llm.repetition_filter(docs).filter("keep = 1")
    gated = (
        docs.join(ok_struct.select("doc_id"), "doc_id")
        .join(ok_rep.select("doc_id"), "doc_id")
    )
    n_gated = gated.count()
    assert 0 < n_gated <= n_in

    # 2. content dedup with the keep-best survivor policy.
    # localCheckpoint = the materialization boundary a real pipeline
    # puts here (write curated corpus to storage); without it every
    # downstream action re-evaluates the gate+dedup chain
    curated = llm.dedup_keep_best(gated).localCheckpoint()
    n_curated = curated.count()
    assert 0 < n_curated <= n_gated

    # 3. tokenizer: train merges on the curated corpus, encode with them
    merges = llm.bpe_train(curated, n_merges=6)
    assert len(merges) == 6
    encoded = llm.bpe_encode(curated, merges)
    assert encoded.filter("n_bpe_tokens <= 0").count() == 0

    # 4. RAG chunking on the curated text
    chunks = llm.chunk_documents(curated, chunk_tokens=24, overlap=8).localCheckpoint()
    chunk_tok_total = chunks.agg(F.sum("n_chunk_tokens")).first()[0]
    assert chunks.count() >= n_curated  # every doc yields >= 1 chunk

    # 5. shard export over the chunks (synthetic numeric chunk key)
    packed = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("doc_id"),
        F.col("chunk_text").alias("text"),
    )
    out = str(tmp_path / "shards")
    manifest = SH.export_training_shards(packed, out, tokens_per_shard=500)
    mrows = manifest.collect()

    # token conservation: manifest totals equal the chunk token mass
    assert sum(r["n_tokens"] for r in mrows) == chunk_tok_total
    assert sum(r["n_docs"] for r in mrows) == packed.count()

    # 6. readback: per-shard files agree with the manifest
    back = spark.read.parquet(f"{out}/data")
    per_shard = {
        r["shard"]: r["n"]
        for r in back.groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    assert per_shard == {r["shard"]: r["n_docs"] for r in mrows}
