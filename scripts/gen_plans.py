"""Regenerate PLANS.md from the live engine (plan-shape evidence)."""
import os

from selfcheck import REPO, session

SF = "/root/testdata/sf0.01"

PICKS = [
    ("tpch_q5", "Star join: every dim broadcasts; at sf0.01 even orders fits under the 64 MB broadcast threshold, so no data-data shuffle appears at all — past the threshold the orders⋈lineitem join becomes sort-merge with AQE skew-split armed. Filters reach PushedFilters; scans prune to referenced columns."),
    ("minhash_neardup", "Near-dup: signatures AND band buckets are map-only Arrow kernels (ArrowEvalPython nodes, no exchange; portable md5 hashing inside the kernels, bit-identical to the DuckDB oracle); the only shuffles are the band-bucket aggregate and the candidate-verify joins — no cartesian anywhere."),
    ("knn_lsh", "ANN: bucketing is a map-only ArrowEvalPython projection (one BLAS matmul per batch, no exchange); candidates come from a single (tbl, bucket) equi-join; exact cosine re-rank only on candidates."),
    ("pack_chunks", "Distributed prefix sum: the single-partition exchange carries only bucket totals (1024 rows); the per-doc cumsum windows are hash-partitioned by bucket and run in parallel."),
    ("window_ranks", "Five ranking functions, one Window operator, one exchange: shared (partition, order) specs are free."),
    ("key_skew", "Totals re-aggregate the per-key counts and return via a broadcast 1-row cross join; the input is scanned once."),
    ("substring_dedup", "Exact substring dedup: gram digests are map-only, ONE count aggregate finds hot k-grams, a semi-join + per-doc collect gathers flagged positions, and span-union/token filtering are per-row array folds — no token-level shuffle anywhere."),
    ("point_in_bbox", "Spatial containment as a lat-banded equi-join with a residual 4-way predicate — the raw containment join would plan a BroadcastNestedLoopJoin. No forced broadcast hint: small config box tables auto-broadcast under the threshold, a large geo grid takes the shuffled path (AQE decides per run)."),
    ("dsir_scores", "DSIR importance scoring: the bucket model (a `buckets`-row aggregate) comes back as a BroadcastHashJoin against the exploded grams — scoring stays map-side + one per-doc partial-aggregated sum; corpus size never inflates the model."),
    ("incremental_rollup", "Materialized-view maintenance: exactly the delta aggregate + the state merge aggregate — no third aggregate over raw history exists in the plan, which is the no-rescan guarantee."),
    ("semantic_dedup", "SemDeDup (the round-5 gate promotion): after the driver-side Lloyd loop (each iteration one assign+partial-agg scan, shuffle = k x (dim+1) rows/partition — not visible in this final plan), the dedup itself is ONE self-join keyed on cluster id plus a per-pair cosine filter; candidate pairs are confined to clusters, so the quadratic term is (n/k)^2 per cluster, never n^2 global."),
    ("pack_firstfit", "First-fit-decreasing packing: ONE hash exchange on the md5 doc-bucket, then the per-bucket sequential FFD walk runs inside FlatMapGroupsInPandas (Arrow-batched, O(open bins) state per bucket) — no global sort, no driver loop, bucket count scales with the cluster."),
    ("bpe_encode", "BPE encode: the trained merge table rides the UDF closure (vocab-sized, broadcast-scale); encoding is a single map-only ArrowEvalPython projection over the corpus scan — zero exchanges at any corpus size."),
    ("bloom_dedup", "Bloom membership (round-6 op): the history side collapses to <= ceil(m/63) bitmap words via one partial-aggregated bit_or exchange and comes back as a BroadcastHashJoin against the probe's k exploded positions; history is never rescanned, and the probe-side aggregate (bool_and compiles to min) is partial-aggregated too."),
    ("pii_scan", "PII scan+mask (round-6 op): four regexp_counts plus the masking chain in ONE WholeStageCodegen projection over the scan — zero exchanges at any corpus size."),
    ("domain_cap_sample", "Per-domain cap (round-7 op): canonicalization + registered-domain extraction are codegen'd string expressions in the scan projection; ONE Window operator — Catalyst's rank-limit pushdown plants a partial WindowGroupLimit BELOW the exchange, so a hot domain ships at most cap rows per map partition (a hand-salted two-level top-N measured a dead tie at 10M rows/30%-hot and was rejected; the WindowGroupLimit-below-exchange shape is pinned by tests/test_web.py)."),
    ("knn_rp", "Random-projection ANN (round-7 op): the JL sign matrix is a nested literal inside ONE map-side projection (no exchange to build it); the projected-space screen emits THIN (id, id, proj_sim) rows into the top-C window (WindowGroupLimit sorts them map-side — hauling the full vectors through that sort measured 1.6x slower than brute force), and the exact 64-wide cosine runs only on the Q x C survivors after broadcast joins fetch their vectors back by id. Casts and norms are hoisted below every join: the per-pair work is one dot."),
    ("knn_pq", "Product-quantization ANN (round-7 op): encode is a map-only projection (argmin per subspace against nested codebook literals - zero exchanges, 64 floats to 8 small ints per row); the query side carries a per-row LUT so the ADC screen is 8 array lookups per pair over THIN rows; exact cosine only on the Q x C survivors after id join-back."),
    ("knn_ivfpq", "IVF-PQ composed index (round-7 op; round-8: kmeans-trained cells + RESIDUAL codes): residuals v - c(cell) materialize once behind a localCheckpoint barrier (CollapseProject would otherwise inline the coarse argmin into all 128 encode distances per row — measured ~10%), encoding is a map-only projection over that checkpoint; the probe join scores only the probed cells' members via 8 LUT lookups per pair on thin rows, with the per-(query, cell) residual LUT computed below the explode; exact cosine after id join-back on Q x C survivors."),
    ("edit_linkage", "Edit-distance join (round-8 op; round-10 prefilter): PassJoin pigeonhole blocking — the left side explodes k+1 positional segments, the right side a constant set of shifted substrings, candidates come from ONE equi-join on (length, segment-idx, segment), and exact levenshtein verifies each candidate pair; no BroadcastNestedLoopJoin, no cartesian, recall provably exact. Round 10 added a 61-bucket char-class mask prefilter riding the candidate join: shared-PREFIX corpora degenerate one segment bucket into all-pairs (measured 225M candidates / 508 s at sf0.1), and bit_count(mask_a XOR mask_b) <= 2k — provably recall-safe, since one edit flips at most two mask bits — kills the flood in-stage before the distinct shuffle and the levenshtein DP (508 s -> 134 s, identical output)."),
    ("knn_sq", "Scalar-quantization ANN (round-8 op): encode is a map-only projection (zip_with against min/inv constant arrays, 4 bytes -> 1 byte per component); the asymmetric-distance screen reconstructs candidates inline and emits THIN rows into the top-C WindowGroupLimit; exact cosine only on Q x C survivors after id join-back. The screen's arithmetic is brute-class (SCALE.md knn_sq_300k) — SQ8's wins are scan payload and the one-pass, exactly-derivable model."),
    ("nb_language", "Naive Bayes classify (round-8 op): the class table expands via a bounded BroadcastNestedLoopJoin (|classes| rows — the one deliberate non-equi join), the token-model join is a plain shuffled equi-join AQE may broadcast (never forced: vocabulary grows with the corpus), the per-(doc, class) sum is partial-aggregated LONG micros, and the argmax is one WindowGroupLimit-eligible rank filter."),
    ("dense_ids_orders", "Dense-id assignment (round-8 op): RangePartitioning exchange on the tie-broken sort key, row_number windows partitioned by _pid (parallel — NO single-partition window anywhere in the plan), partition counts prefix-summed over P rows and broadcast back; global id = local rank + offset."),
    ("quantile_sketch", "Histogram quantile sketch (round-8 op): two shard builds are one hash aggregate each over <=bins groups (map-side partial combine), the merge re-aggregates <=2*bins rows, and the quantile readout windows over <=bins rows — nothing downstream of the scans exceeds the bin count at any corpus size."),
    ("tpch_q15", "Global-max with ties (round-9 rewrite): the per-supplier aggregate feeds a 1-row max aggregate broadcast back as an equality join — NO WindowExec anywhere in the plan (the old rank-over-empty-partition funneled the whole aggregate through one task); the supplier aggregate reads one localCheckpoint materialization so the max branch and the join branch cannot observe different float-fold orders."),
    ("clustering_coeff", "Clustering coefficient (round-9 op; round-10 rework): triangle enumeration is DEGREE-ORDERED compact-forward — edges orient low-(degree,id) -> high endpoint, bounding wedge candidates by arboricity instead of Sigma deg^2 (a hub's edges all point INTO it: zero wedges; SCALE.md clustering_5m_hub) — and the tris frame is PINNED before the 3-way corner union, so the plan below scans one checkpointed RDD three times instead of executing the wedge join three times (the round-9 verdict finding: the old tree carried three identical join subtrees). A max_wedges breaker (one 1-row exact aggregate) refuses degenerate graphs with a cost model."),
    ("pagerank_trade", """PageRank (round-8 op): per round ONE edge equi-join + ONE node-keyed sum + a 1-row dangling broadcast; ranks are LONG 1e-12 mass units (order-free sums, bit-exact on both engines). How many iterations does a 100 TB user need? The built-in residual diagnostic (`pagerank(..., residual_out=[])` — adds one node-keyed join + 1-row aggregate per round against tables the iteration already materialized; OFF in the oracle path) answers with data. Measured on the 5M-edge / 500k-node / 40%-dangling probe graph (d=85):

| iter | sum abs(rank_t - rank_t-1), 1e-12 mass units | fraction of total mass |
|---|---|---|
| 1 | 132,752,661,188 | 0.132753 |
| 2 | 21,740,108,300 | 0.021740 |
| 3 | 3,615,305,159 | 0.003615 |
| 4 | 603,038,829 | 0.000603 |
| 5 | 100,060,652 | 0.000100 |
| 6 | 16,701,668 | 0.000017 |
| 7 | 2,914,189 | 0.000003 |
| 8 | 994,865 | 0.000001 |
| 10 | 453,288 | <0.000001 |

Geometric decay at ~the damping factor: pick iterations by the rank granularity that matters (head-of-distribution ordering is stable by ~5; 1e-6-of-mass precision by ~8) — stop paying rounds past it."""),
    ("core_numbers_trade", "Full coreness decomposition (round-10 op, h-index fixpoint): per round ONE edge equi-join feeding ONE node-keyed window sort + aggregate — all shuffles on the node key, state one LONG per node, each round pinned (pin_iter) so the final plan reads the last round's checkpoint, never a 24-round lineage. Hubs cost their degree linearly in a window partition; nothing quadratic exists at any degree distribution."),
    ("hw_forecast", "Additive Holt-Winters (round-9 op): ONE key-shuffle into collect_list, then the entire (l, b, s[7]) recurrence plus the 7-step forecast is a single codegen'd projection over the per-key array — no Python, no second exchange, series length bounds per-key memory (SCALE.md holt_10y_hourly: 88k-observation keys fold in-task)."),
]

def main() -> None:
    import __spark_entry__ as e
    from big_data_in_agriculture_spark.plans import explain

    spark = session("plans", SF)
    qs = e.queries()
    out = ["# PLANS — formatted physical plans of representative queries",
           "",
           "Generated from the live engine at sf0.01 (`python scripts/gen_plans.py`,",
           "plans identical in shape at any SF — only statistics change).",
           "Each plan is the evidence for a scale claim in SCALE.md.",
           ""]
    for name, note in PICKS:
        plan = explain.formatted_plan(qs[name](spark, SF))
        # keep the tree part, trim the verbose detail section to first 40 lines
        lines = plan.splitlines()
        cut = next((i for i, l in enumerate(lines) if l.startswith("(1)")), len(lines))
        tree = "\n".join(lines[:cut]).rstrip()
        out += [f"## {name}", "", note, "", "```", tree, "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md", len("\n".join(out)), "chars")


if __name__ == "__main__":
    main()
