"""Physical-plan audits: the plan shape, not just the answer, is the spec.

Each assertion encodes a property that would matter at 100 TB:
filters reaching the parquet scan, column pruning, dims broadcast,
candidate generation via equi-joins (never cartesian).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_in_agriculture_spark.plans import explain

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def em():
    import __spark_entry__ as entrymod

    return entrymod


def test_q1_pushes_filter_and_prunes_columns(spark, em):
    df = em.q_tpch_q1(spark, SF)
    plan = explain.formatted_plan(df)
    # predicate reaches the scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the 16-column lineitem scan reads only the 7 used
    readschema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in readschema and "l_partkey" not in readschema
    assert "l_quantity" in readschema


def test_q6_pushes_every_predicate(spark, em):
    df = em.q_tpch_q6(spark, SF)
    got = explain.pushed_filters(df)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in got, f"{frag} not pushed: {got}"


def test_q5_broadcasts_dims_no_cartesian(spark, em):
    df = em.q_tpch_q5(spark, SF)
    explain.assert_broadcast_join(df)
    explain.assert_no_cartesian(df)


def test_q3_broadcasts_filtered_customer(spark, em):
    df = em.q_tpch_q3(spark, SF)
    explain.assert_broadcast_join(df)
    explain.assert_no_cartesian(df)


def test_jaccard_no_cartesian(spark, em):
    df = em.q_jaccard_pairs(spark, SF)
    explain.assert_no_cartesian(df)


def test_minhash_no_cartesian(spark, em):
    df = em.q_minhash_neardup(spark, SF)
    explain.assert_no_cartesian(df)


def test_knn_lsh_no_cartesian(spark, em):
    # the DATA-side candidate join must be an equi-join on (table,
    # bucket) — the whole point is avoiding the brute-force product at
    # scale. Bucketing itself is map-only (hyperplanes ship as one
    # nested literal), so NO product of any kind may appear anywhere.
    import re

    plan = explain.formatted_plan(em.q_knn_lsh(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one data-data join, and it is an equi-join
    joins = re.findall(
        r"^\(\d+\) (SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
        plan,
        re.M,
    )
    assert len(joins) == 1, plan


def test_knn_bruteforce_is_intentional_broadcast_product(spark, em):
    # the exact baseline IS a broadcast nested-loop (tiny query set ×
    # corpus) — document the shape so a regression to a shuffled
    # cartesian (no broadcast) gets caught
    plan = explain.formatted_plan(em.q_knn_bruteforce(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize("query", ["knn_rp", "knn_pq", "knn_ivfpq", "knn_sq"])
def test_screened_knn_joins_back_by_broadcast(spark, em, query):
    # the shared screen -> exact re-rank tail fetches the survivors'
    # vectors back by id through broadcast-hinted hash joins; a
    # shuffled join or a product there would move the whole corpus.
    # Size-based auto-broadcast is off, so only the hints can make a
    # BroadcastHashJoin (every input is tiny at sf0.001).
    import re

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = explain.formatted_plan(getattr(em, f"q_{query}")(spark, SF))
    finally:
        spark.conf.set(key, old)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    bhj = re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)
    assert len(bhj) >= 2, plan


def test_window_single_shuffle_reuse(spark, em):
    # running_total + row_number share one (partition, order) spec —
    # the plan must contain exactly one Window shuffle for orders
    plan = explain.formatted_plan(em.q_window_running_total(spark, SF))
    n_exchanges = sum(
        1 for ln in plan.splitlines() if ln.strip().endswith("Exchange")
    )
    n_windows = sum(1 for ln in plan.splitlines() if ln.strip().endswith("Window"))
    assert n_exchanges == 1 and n_windows == 1, plan


def test_q8_broadcasts_dims_no_cartesian(spark, em):
    df = em.q_tpch_q8(spark, SF)
    explain.assert_broadcast_join(df)
    explain.assert_no_cartesian(df)


def test_q9_pushes_name_filter(spark, em):
    # the part name-pattern filter must reach the part scan
    plan = explain.formatted_plan(em.q_tpch_q9(spark, SF))
    assert "CartesianProduct" not in plan
    assert "StringContains(p_name,red)" in plan, plan


def test_q11_single_scalar_broadcast_product(spark, em):
    # the HAVING threshold is a 1-row broadcast nested loop — exactly
    # one, and never a shuffled cartesian
    import re

    plan = explain.formatted_plan(em.q_tpch_q11(spark, SF))
    assert "CartesianProduct" not in plan
    n_bnlj = len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M))
    assert n_bnlj == 1, plan


def test_q17_single_window_shuffle(spark, em):
    # the correlated-avg rewrite costs one window shuffle, not a
    # re-scan self-join of lineitem
    import re

    plan = explain.formatted_plan(em.q_tpch_q17(spark, SF))
    n_windows = sum(1 for ln in plan.splitlines() if ln.strip().endswith("Window"))
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_windows == 1 and n_scans == 2, plan  # lineitem + part, once each


def test_q2_q20_window_not_rescan(spark, em):
    # correlated subqueries run as ONE window over the bridge — lineitem
    # is scanned exactly once in each plan
    for q in (em.q_tpch_q2, em.q_tpch_q20):
        plan = explain.formatted_plan(q(spark, SF))
        lineitem_scans = [ln for ln in plan.splitlines()
                          if "Location" in ln and "lineitem.parquet" in ln]
        assert len(lineitem_scans) == 1, plan
        assert "CartesianProduct" not in plan


def test_q16_anti_join_before_distinct(spark, em):
    plan = explain.formatted_plan(em.q_tpch_q16(spark, SF))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_contamination_broadcasts_eval_no_cartesian(spark, em):
    # The train corpus must never shuffle: the eval shingle index and
    # the eval id anti-join side both broadcast.
    df = em.q_contamination(spark, SF)
    plan = explain.formatted_plan(df)
    explain.assert_no_cartesian(df)
    assert "BroadcastHashJoin" in plan
    # no sort-merge join anywhere: every join keys on a broadcast side
    assert "SortMergeJoin" not in plan


def test_tfidf_broadcasts_ndocs_scalar(spark, em):
    # the N-docs scalar must arrive as a 1-row broadcast product
    # (exactly one BNLJ — same intentional shape as Q11's scalar);
    # the (doc, token) df join must stay a hash equi-join
    import re

    df = em.q_tfidf_top_terms(spark, SF)
    plan = explain.formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)) == 1
    assert "BroadcastHashJoin" in plan  # the df-by-token equi-join
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_scan_side_filter(spark, em):
    # the whole operator must compile to a Filter over the scan —
    # no exchange, no join, no aggregate before the output sort
    df = em.q_stratified_sample(spark, SF)
    plan = explain.formatted_plan(df)
    for node in ("SortMergeJoin", "BroadcastHashJoin", "HashAggregate"):
        assert node not in plan


def test_check_constraints_single_scan(spark, em):
    # N constraints, ONE pass: exactly one parquet scan node (the
    # formatted plan names each node once in the tree and once in the
    # detail section — count the numbered detail headers)
    import re

    df = em.q_check_constraints(spark, SF)
    plan = explain.formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "Join" not in plan


def test_line_dedup_broadcasts_frequent_lines(spark, em):
    # the corpus-filtering anti-join must be broadcast (the frequent-
    # line set is tiny by construction) — a sort-merge anti-join would
    # shuffle the whole exploded corpus a second time
    df = em.q_line_dedup(spark, SF)
    plan = explain.formatted_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    explain.assert_no_cartesian(df)


def test_pack_chunks_no_full_data_global_window(spark, em):
    # the prefix sum must be two-level: the only single-partition
    # exchange feeds the bucket-totals cumsum (bucket-count-sized
    # aggregate output), never the raw (id, n_tokens) rows
    import re

    df = em.q_pack_chunks(spark, SF)
    plan = explain.formatted_plan(df)
    singles = re.findall(r"Arguments: SinglePartition", plan)
    assert len(singles) <= 1
    # the per-doc window partitions by bucket (parallel), so a
    # hash-partitioned exchange must exist alongside
    assert "Arguments: hashpartitioning" in plan


def test_mixture_sample_is_scan_side_filter(spark, em):
    # after the driver-side rate derivation, the corpus pass is a pure
    # filter — same shape contract as stratified_sample
    df = em.q_mixture_sample(spark, SF)
    plan = explain.formatted_plan(df)
    for node in ("SortMergeJoin", "BroadcastHashJoin", "HashAggregate"):
        assert node not in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark, em):
    # a selective dim-side predicate must seed a runtime bloom filter
    # applied on the fact side before its shuffle (the 100 TB
    # semi-join-reduction path). Default-on conf, but application is
    # gated on a 10 GB fact scan — lower the gate to audit the shape.
    from pyspark.sql import functions as F

    old_thresh = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        import __spark_entry__ as e

        orders = e._t(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = e._t(spark, SF, "lineitem")
        j = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thresh,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)


def test_rank_suite_single_window_operator(spark, em):
    # five ranking functions, one window spec: exactly one Window node
    # and one hash exchange — adding a function to a shared spec must
    # not add a shuffle or a sort
    import re

    df = em.q_window_ranks(spark, SF)
    plan = explain.formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1


def test_semantic_dedup_no_cartesian(spark, em):
    """SemDeDup's pair generation must stay confined to cluster-keyed
    equi-joins — a cartesian here is the n^2 plan that dies at scale."""
    plan = explain.formatted_plan(em.q_semantic_dedup(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_firstfit_single_exchange_into_grouped_pandas(spark, em):
    """Per-bucket FFD: exactly one hash exchange (the md5 doc-bucket)
    feeds FlatMapGroupsInPandas; a second data exchange would mean the
    sequential walk stopped being bucket-local."""
    plan = explain.formatted_plan(em.q_pack_firstfit(spark, SF))
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("+- Exchange") == 1
    assert "CartesianProduct" not in plan


def test_bpe_encode_map_only(spark, em):
    """Encoding is a closure-shipped merge table applied in one
    ArrowEvalPython projection — zero exchanges at any corpus size."""
    df = em.queries()["bpe_encode"](spark, SF)
    plan = explain.formatted_plan(df)
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan


def test_pii_scan_map_only(spark, em):
    """PII scan+mask is one codegen'd projection over the scan — zero
    exchanges at any corpus size (the whole point of a per-doc gate)."""
    plan = explain.formatted_plan(em.q_pii_scan(spark, SF))
    assert "Exchange" not in plan
    # '*' node prefix == inside WholeStageCodegen in formatted mode
    assert "* Project" in plan


def test_bloom_dedup_broadcast_words_no_cartesian(spark, em):
    """The filter side collapses to <= ceil(m/63) bitmap words and
    comes back broadcast; the probe side never joins history rows."""
    df = em.q_bloom_dedup(spark, SF)
    plan = explain.formatted_plan(df)
    explain.assert_broadcast_join(df)
    explain.assert_no_cartesian(df)
    # both aggregates (bit_or build, bool_and probe) partial-aggregate
    # map-side: partial markers appear in the plan detail
    assert "partial_bit_or" in plan and "partial_min" in plan


def test_leakage_split_no_cartesian(spark, em):
    explain.assert_no_cartesian(em.q_leakage_split(spark, SF))
