"""Training-shard export: the curate→pack→ship end of the pipeline.

A tokenizer/training job wants the corpus as N token-balanced shard
files it can stream independently. This sink assigns every document a
shard deterministically — the two-level distributed prefix sum from
``llm.pack_chunks`` cuts the id-ordered corpus at ``tokens_per_shard``
boundaries, so shard membership is a pure function of the document set
(append-stable ordering, no RNG, identical across reruns and
partitionings) — then writes one parquet directory per shard plus a
manifest.

Scale notes:
* the prefix sum shuffles only the (id, n_tokens) projection — text
  never moves until the final write;
* the writer repartitions by ``shard`` so each task writes exactly one
  shard directory (no small-files explosion; shard count = corpus
  tokens / tokens_per_shard, the natural task granularity);
* dynamic partition overwrite makes re-exports idempotent — a rerun
  replaces exactly the shards it recomputes;
* the manifest (per-shard doc/token counts and id range) is the
  artifact a training scheduler consumes to plan epochs without
  touching the data files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators._util import session_conf
from ..operators.llm import pack_chunks


def assign_shards(
    docs: DataFrame,
    tokens_per_shard: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """docs + a deterministic ``shard`` column (long, 0-based).

    A document belongs to the shard its global token offset starts in;
    documents straddling a boundary stay whole in their starting shard,
    so shard token counts vary by at most one document from the target.
    """
    # NULL text has no tokens: nothing to shard (oracle: IS NOT NULL)
    docs = docs.filter(F.col(text_col).isNotNull())
    offsets = pack_chunks(
        docs, chunk_len=tokens_per_shard, text_col=text_col, id_col=id_col
    ).select(id_col, "n_tokens", F.col("first_chunk").alias("shard"))
    return docs.join(offsets, id_col)


def export_training_shards(
    docs: DataFrame,
    out_dir: str,
    tokens_per_shard: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Write ``<out_dir>/data/shard=N/`` parquet + ``<out_dir>/manifest``.

    Returns the manifest DataFrame (shard, n_docs, n_tokens, first_id,
    last_id) — also persisted as parquet beside the data.
    """
    sharded = assign_shards(docs, tokens_per_shard, text_col, id_col)

    with session_conf(
        docs.sparkSession, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        (
            sharded.repartition(F.col("shard"))
            .sortWithinPartitions("shard", id_col)
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(f"{out_dir}/data")
        )

    manifest = (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min(id_col).alias("first_id"),
            F.max(id_col).alias("last_id"),
        )
        .orderBy("shard")
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/manifest")
    return manifest


def read_shard(spark: SparkSession, out_dir: str, shard: int) -> DataFrame:
    """One shard's documents — partition pruning keeps I/O to that
    directory (the training-loader access pattern)."""
    return spark.read.parquet(f"{out_dir}/data").filter(F.col("shard") == shard)
