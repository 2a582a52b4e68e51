"""Registry-order and gate-visibility regression tests.

The external driver's correctness gate checks a PREFIX of ``queries()``
(50 entries). Two invariants protect it:

1. The first 50 names are PINNED (round-10 rotation of the round-9
   gate set) — an accidental insertion before index 50 would silently
   eject an operator from external verification.
2. The 46 queries the round-3/5/6/7/8/9/10/11 reorderings displaced out
   of the prefix keep full oracle parity here in pytest, so a
   regression in them cannot hide behind the driver's prefix
   truncation. Their two-engine hashes, like every query's, are also
   recorded in the committed REGISTRY_VERIFY.json
   (scripts/registry_verify.py) for external visibility.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

_spec = importlib.util.spec_from_file_location(
    "_selfcheck", os.path.join(REPO, "scripts", "selfcheck.py")
)
selfcheck = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(selfcheck)

#: The driver-gate prefix as of round 11. Rounds 3-4 pinned the
#: CORRECTNESS_r03 keys; rounds 5, 6 and 7 each DELIBERATELY rotated
#: five slots so never-externally-verified queries gain CORRECTNESS
#: rows (r5: kmeans_clusters, semantic_dedup, classifier_quality,
#: pack_firstfit, bpe_train; r6: cdc_apply, scd2_history,
#: interval_join, hybrid_search, incremental_rollup; r7: bm25_search,
#: cms_frequencies, line_dedup, bpe_encode, retention_cohorts;
#: r8: pagerank_trade, nb_language, knn_sq, edit_linkage,
#: lm_backoff_ppl; r9: dbscan_embed, quantile_sketch,
#: dense_ids_orders, holt_forecast, bfs_trade_hops; r10: ppr_trade,
#: kcore_trade, sssp_trade, hw_forecast, clustering_coeff; r11:
#: core_numbers_trade, lpa_communities, acf_events, mad_events,
#: seasonal_decomp — every
#: displaced query leaves a same-family prefix sibling and keeps
#: two-engine parity below). Do not edit
#: without re-deciding gate visibility; append new queries AFTER
#: index 50 instead.
DRIVER_PREFIX_50 = [
    "era5_hourly_spatial_mean",
    "pagerank_trade",
    "era5_daily_rollup",
    "nb_language",
    "era5_serve_filter_daily",
    "era5_pivot",
    "era5_kpis",
    "era5_verification",
    "bpe_train",
    "era5_convert_units",
    "tpch_q1",
    "tpch_q3",
    "cdc_apply",
    "bm25_search",
    "join_semi",
    "seasonal_decomp",
    "scd2_history",
    "interval_join",
    "knn_sq",
    "semantic_dedup",
    "sessionize",
    "set_intersect",
    "classifier_quality",
    "rollup_acctbal",
    "top10_orders",
    "quantile_sketch",
    "incremental_rollup",
    "dedup_exact_docs",
    "pii_scan",
    "pack_firstfit",
    "corpus_profile",
    "edit_linkage",
    "dense_ids_orders",
    "lm_backoff_ppl",
    "mad_events",
    "retention_cohorts",
    "multimodal_meta",
    "minhash_neardup",
    "acf_events",
    "core_numbers_trade",
    "lpa_communities",
    "leakage_split",
    "gopher_pipeline",
    "sssp_trade",
    "textrank_keywords",
    "bloom_dedup",
    "stream_daily_rollup",
    "hw_forecast",
    "clustering_coeff",
    "asof_attribution",
]

#: Displaced from the prefix by the round-3/5/6/7/8 reorderings (round 6
#: twice: five never-externally-verified conversions early, then the
#: three new round-6 ops — bloom_dedup / pii_scan / leakage_split —
#: swapped in for same-family siblings text_stats / pack_chunks /
#: crosscorpus_dedup, so genuinely NEW code gets the external gate);
#: oracle-verified below so they keep an in-repo check despite driver
#: invisibility.
DISPLACED = [
    "text_stats",
    "pack_chunks",
    "crosscorpus_dedup",
    "tpch_q4",
    "join_broadcast",
    "window_running_total",
    "dup_cluster_histogram",
    "knn_ivf",
    "era5_distinct_regions",
    "join_anti",
    "window_lag",
    "set_except",
    "readability",
    "era5_filter_hourly",
    "era5_water_balance",
    "window_rolling_7d",
    "tpch_q6",
    "cube_orders",
    "union_all_segments",
    "doc_fingerprints",
    "multimodal_features",
    "tpch_q5",
    "dedup_exact_groups",
    "containment_pairs",
    "knn_bruteforce",
    "embedding_norms",
    "era5_weighted_mean",
    "era5_chain",
    "window_topn",
    "jaccard_pairs",
    "simhash",
    # round-9 rotation: displaced by dbscan_embed / quantile_sketch /
    # dense_ids_orders / holt_forecast / bfs_trade_hops — each leaves a
    # same-family sibling in the prefix (dbscan_embed, dedup_exact_docs
    # + minhash_neardup, bpe_train, knn_sq)
    "kmeans_clusters",
    "cms_frequencies",
    "line_dedup",
    "bpe_encode",
    "knn_lsh",
    # round-10 rotation: displaced by ppr_trade / kcore_trade /
    # sssp_trade / hw_forecast / clustering_coeff — each leaves a
    # same-family sibling in the prefix (bm25_search for retrieval,
    # dedup_exact_docs + minhash_neardup for dedup, pack_firstfit for
    # shard export, stream_daily_rollup for streaming)
    "hybrid_search",
    "substring_dedup",
    "epoch_shuffle",
    "sliding_window_rollup",
    "trending_items",
    # round-11 rotation: displaced by core_numbers_trade /
    # lpa_communities / acf_events / mad_events / seasonal_decomp —
    # each leaves a same-family sibling in the prefix (pagerank_trade
    # for ppr, core_numbers_trade subsumes kcore, sssp_trade for bfs,
    # hw_forecast for holt, lpa_communities + semantic_dedup/knn_sq
    # for dbscan)
    "ppr_trade",
    "kcore_trade",
    "bfs_trade_hops",
    "holt_forecast",
    "dbscan_embed",
]


#: Doc-drift pins: README.md and COVERAGE.md cite these exact numbers
#: ("176 of 178 registered queries hash-match ... the remaining 2").
#: Registering a query or converting a rows-only op MUST update the
#: docs and these constants together.
REGISTERED_QUERIES = 217
ROWS_ONLY = 2


def test_driver_prefix_is_pinned():
    names = list(entrymod.queries())
    assert names[:50] == DRIVER_PREFIX_50


def test_registry_counts_match_docs():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    bounded = entrymod.bounded_oracle()
    assert len(qs) == REGISTERED_QUERIES
    missing = sorted(set(qs) - set(oracles))
    assert len(missing) == ROWS_ONLY, missing
    # every oracle key corresponds to a registered query
    assert not set(oracles) - set(qs)
    # the two oracle views partition the registry ...
    assert not set(oracles) & set(bounded)
    assert set(oracles) | set(bounded) == set(qs)
    # ... and both follow its (driver) order
    assert list(oracles) == [n for n in qs if n in oracles]
    assert list(bounded) == [n for n in qs if n in bounded]


def test_displaced_queries_stay_registered_with_oracles():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    for name in DISPLACED:
        assert name in qs, name
        assert name in oracles, name


@pytest.fixture(scope="module")
def _duck():
    if not os.path.isdir(SF_DIR):
        pytest.skip("driver testdata not present")
    return selfcheck.duck(SF_DIR)


@pytest.mark.parametrize("name", DISPLACED)
def test_displaced_query_oracle_parity(spark, _duck, name):
    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    record, problem = selfcheck.two_engine(
        _duck, sdf, entrymod.oracle_sql()[name]
    )
    assert problem is None, (record, problem)


def test_bounded_oracle_covers_exactly_the_rows_only_set():
    """Every rows-only query (no oracle_sql twin) must carry a
    bounded_oracle numeric check instead — no query is unchecked."""
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    bounded = entrymod.bounded_oracle()
    assert set(bounded) == set(qs) - set(oracles)
    for name, spec in bounded.items():
        assert spec["keys"], name
        assert spec.get("exact") or spec.get("rel"), name


def test_registry_verify_covers_every_query():
    """The committed REGISTRY_VERIFY.json (scripts/registry_verify.py)
    must carry a two-engine row for EVERY registry key — the artifact
    that makes queries outside the driver's 50-slot prefix externally
    diffable — and every row must be green. Registering a query
    without regenerating the snapshot fails here."""
    with open(os.path.join(REPO, "REGISTRY_VERIFY.json")) as f:
        payload = json.load(f)
    rows = payload["queries"]
    qs = entrymod.queries()
    assert set(rows) == set(qs)
    for name, row in rows.items():
        assert row["kind"] in ("oracle", "bounded"), (name, row)
        if row["kind"] == "oracle":
            assert row["hash_match"], name
        else:
            assert row["bounded_pass"], name


def test_t_schema_cache_skips_inference_and_reinfers_rewrites(
    spark, tmp_path
):
    # _t caches a parquet file's inferred schema on (size, mtime_ns,
    # nanosAsLong): a repeat read of an unchanged file runs no
    # inference job, a rewritten file is inferred again, and the DATE
    # drift guard still applies to a cached schema
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    path = tmp_path / "things.parquet"
    day = dt.date(2024, 3, 1)
    pq.write_table(pa.table({"k": [1, 2], "d": [day, day]}), path)
    tracker = spark.sparkContext.statusTracker()

    def read():
        before = len(tracker.getJobIdsForGroup())
        df = entrymod._t(spark, str(tmp_path), "things")
        return df, len(tracker.getJobIdsForGroup()) - before

    first, jobs_first = read()
    again, jobs_again = read()
    assert (jobs_first, jobs_again) == (1, 0)
    assert again.schema == first.schema
    assert isinstance(again.schema["d"].dataType, TimestampType)
    assert sorted(r["k"] for r in again.collect()) == [1, 2]

    pq.write_table(
        pa.table({"k": [3], "d": [day], "v": ["x"]}), path
    )
    rewritten, jobs = read()
    assert jobs == 1 and rewritten.columns == ["k", "d", "v"]
    assert [tuple(r)[::2] for r in rewritten.collect()] == [(3, "x")]
