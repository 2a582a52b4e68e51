"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed as the driver would run it (its `queries()`
callable), fully materialized via a count-collect so the measured time
includes scan + shuffle + result, not just plan construction. A warmup
query runs first so JVM/codegen startup isn't billed to the first
headline entry.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts")
)

from selfcheck import reclaim, session, warmup  # noqa: E402

#: Settled representative set (keep stable across rounds so BENCH_r{N}
#: files compare): relational (Q1 scan-agg, Q3/Q10 joins, Q18 having),
#: ERA5 pipeline (spatial mean, full chain), event analytics
#: (sessionize, top-N window, as-of), LLM ops (exact dedup, text stats,
#: exact near-dup, MinHash-LSH, ANN brute + LSH).
HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q10",
    "tpch_q18",
    "era5_hourly_spatial_mean",
    "era5_chain",
    "sessionize",
    "window_topn",
    "asof_attribution",
    "dedup_exact_docs",
    "text_stats",
    "jaccard_pairs",
    "minhash_neardup",
    "knn_bruteforce",
    "knn_lsh",
]


#: 1-min load above which pre-existing host contention makes the
#: numbers unusable (round-7's committed BENCH was ~1.9x inflated by a
#: background load spike; untouched queries "regressed" uniformly).
LOAD_WARN_THRESHOLD = 4.0


def _cpu_snap() -> tuple[int, int]:
    """(idle+iowait jiffies, total jiffies) from the aggregate /proc/stat row."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[3] + vals[4], sum(vals)


def _external_busy_cores(sample_sec: float = 0.5) -> float:
    """Cores busy system-wide during a window where the bench is idle.

    The r11 headline ran at 1-min loadavg 4.8-5.7 and shipped a 0.843
    geomean "regression" on untouched code; loadavg cannot gate
    per-query because the bench's own 32-core bursts keep it elevated
    for minutes after each query. Instead, sample /proc/stat while this
    process sleeps: the bench contributes ~0 busy cores in that window,
    so whatever is busy is external contention (plus a small idle-JVM
    residue).
    """
    i0, t0 = _cpu_snap()
    time.sleep(sample_sec)
    i1, t1 = _cpu_snap()
    dt = t1 - t0
    if dt <= 0:
        return 0.0
    return (1.0 - (i1 - i0) / dt) * (os.cpu_count() or 1)


#: External busy cores above which a query's timed runs would be
#: contended. The idle Spark JVM + OS background reads ~0.2-0.8 cores
#: on this host; 4 busy cores of genuinely external work inflates
#: sub-second queries by the 25-30% the r10/r11 drift showed.
BUSY_CORES_THRESHOLD = 4.0


def _wait_for_quiet_query(max_wait_sec: float = 90.0) -> tuple[float, float]:
    """Per-query gate (round 12, verdict item #1): before each query's
    timed runs, wait (bounded) until external CPU use is quiet.

    Returns (busy_cores_at_go, waited_sec) for the per-query stamp.
    """
    waited = 0.0
    busy = _external_busy_cores()
    while busy > BUSY_CORES_THRESHOLD and waited < max_wait_sec:
        time.sleep(5.0)
        waited += 5.5
        busy = _external_busy_cores()
    return busy, waited


def _cpu_calibration() -> dict:
    """Fixed-work CPU speed stamp (r12): md5 over 64 MB single-thread,
    and the same work split over 8 processes.

    The r12 session measured the HOST ITSELF drifting 15-30% slower
    between morning and evening runs with external busy-cores ≤ 2.2 —
    hypervisor-level slowdown (steal/thermal) that no /proc/stat gate
    can catch because the guest looks idle. A deterministic workload
    timed next to the bench lets a cross-round comparison normalize:
    if calib_1t_sec moved 15%, a uniform 15% drift on untouched
    queries is the machine, not the code. Runs OUTSIDE every timed
    window (~1 s total).
    """
    import hashlib
    import multiprocessing as mp

    block = b"\xa5" * (1 << 20)

    def one(n: int) -> None:
        h = hashlib.md5()
        for _ in range(n):
            h.update(block)

    t0 = time.perf_counter()
    one(128)
    t1 = time.perf_counter()
    try:
        with mp.Pool(8) as pool:
            pool.map(_calib_worker, [1] * 8)  # warm the pool
            t2 = time.perf_counter()
            pool.map(_calib_worker, [128] * 8)
            t3 = time.perf_counter()
        par = round(t3 - t2, 3)
    except Exception:
        par = -1.0
    return {"calib_1t_sec": round(t1 - t0, 3), "calib_8p_sec": par}


def _calib_worker(n: int) -> None:
    import hashlib

    block = b"\xa5" * (1 << 20)
    h = hashlib.md5()
    for _ in range(n):
        h.update(block)


def _host_load() -> dict:
    """Host-contention stamp: loadavg + uptime, recorded INTO the JSON
    so a polluted run is diagnosable after the fact instead of reading
    as a code regression."""
    la1, la5, la15 = os.getloadavg()
    try:
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
    except OSError:
        uptime = -1.0
    return {
        "loadavg_1m": round(la1, 2),
        "loadavg_5m": round(la5, 2),
        "loadavg_15m": round(la15, 2),
        "uptime_sec": round(uptime, 1),
    }


def _wait_for_quiet_host(max_wait_sec: float, poll_sec: float = 20.0) -> dict:
    """Sleep-retry until the 1-min load drops under the threshold.

    Round 8 stamped the load but committed a run whose own stamp read
    4.36 > 4.0 — the gate fired and the polluted artifact shipped
    anyway, leaving the cross-round series without a usable anchor.
    The gate now ACTS: wait (bounded) for the contention to decay;
    only if the budget runs out does the bench proceed, with
    ``quiet: false`` stamped so the round's artifact self-identifies
    as non-comparable instead of reading as a code regression.
    """
    waited = 0.0
    load = _host_load()
    while load["loadavg_1m"] > LOAD_WARN_THRESHOLD and waited < max_wait_sec:
        print(
            f"load gate: 1-min load {load['loadavg_1m']} > "
            f"{LOAD_WARN_THRESHOLD}; sleeping {poll_sec:.0f}s "
            f"({waited:.0f}/{max_wait_sec:.0f}s waited)",
            file=sys.stderr,
        )
        time.sleep(poll_sec)
        waited += poll_sec
        load = _host_load()
    quiet = load["loadavg_1m"] <= LOAD_WARN_THRESHOLD
    if not quiet:
        print(
            f"WARNING: still contended after {waited:.0f}s "
            f"(1-min load {load['loadavg_1m']}); proceeding with "
            "quiet=false stamped — do NOT read regressions from this run.",
            file=sys.stderr,
        )
    return {
        "threshold": LOAD_WARN_THRESHOLD,
        "waited_sec": round(waited, 1),
        "quiet": quiet,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    load_gate = _wait_for_quiet_host(
        max_wait_sec=float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT", "600"))
    )
    load_before = _host_load()
    cpu_calib = _cpu_calibration()

    spark = session("bench", sf_dir)
    cpus = spark.sparkContext.defaultParallelism

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    warmup(spark, sf_dir)

    # Best of 3 executions per query: single-shot timings at this SF
    # carry ±20% scheduler/GC noise that would read as cross-round
    # regressions; the min is the standard steady-state estimator
    # (each run still builds the full plan and materializes every
    # output column — nothing is cached between runs).
    runs_per_query = 3
    # Per-query contention stamps (round 11): the r10 headline drift
    # (+25-30% on 0.3-0.6 s queries) was unattributable after the fact
    # because load was stamped only before/after the whole run. Stamp
    # the 1-min load at each query so a polluted row self-identifies.
    stamps: dict[str, float] = {}
    # Per-query quiet gate (round 12): external busy cores measured
    # while the bench sleeps — loadavg cannot gate per-query because the
    # bench's own bursts keep it elevated (r11 stamped 4.8-5.7 during
    # the headline section and shipped an environmental 0.843 geomean).
    busy_stamps: dict[str, float] = {}
    gate_waits: dict[str, float] = {}

    def quiet(name: str) -> None:
        """Reclaim the previous query's pins and wait out external load,
        both outside any timed window; stamp the load for ``name``."""
        reclaim(spark)
        busy, waited = _wait_for_quiet_query()
        stamps[name] = round(os.getloadavg()[0], 2)
        busy_stamps[name] = round(busy, 2)
        if waited:
            gate_waits[name] = round(waited, 1)

    def best_of_runs(name: str) -> float:
        quiet(name)
        best = float("inf")
        for _ in range(runs_per_query):
            t0 = time.perf_counter()
            # noop sink: consumes EVERY output column, so nothing
            # prunes. (count() would let Catalyst drop unreferenced
            # projections and even whole window operators — several
            # queries would measure a bare parquet scan.)
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    timings = {name: best_of_runs(name) for name in HEADLINE}

    # Extended tier (separate section — HEADLINE keys stay stable for
    # cross-round comparison): streaming and heavy-text operators,
    # plus (round 6) the five queries the round-5 rotation promoted
    # into the correctness prefix, and the three round-6 pipeline ops
    # (bloom / PII / leakage-safe split), and the round-7 web/RP ops,
    # so they gain a bench series.
    extended: dict[str, float] = {}
    for name in (
        "substring_dedup",
        "textrank_keywords",
        "kmeans_clusters",
        "semantic_dedup",
        "classifier_quality",
        "pack_firstfit",
        "bpe_train",
        "bloom_dedup",
        "pii_scan",
        "leakage_split",
        # round 7: web-crawl curation + random-projection ANN
        "url_canonical",
        "domain_cap_sample",
        "knn_rp",
        "knn_pq",
        "knn_ivfpq",
        # round 8: stupid-backoff trigram LM quality scoring, PageRank,
        # scalar-quantization ANN
        "lm_backoff_ppl",
        "pagerank_trade",
        "knn_sq",
        # round 9: the rotation-promoted queries gain a bench series
        "dbscan_embed",
        "holt_forecast",
        "dense_ids_orders",
        "quantile_sketch",
        "bfs_trade_hops",
        # round 10: ditto for this round's rotation
        "ppr_trade",
        "kcore_trade",
        "sssp_trade",
        "hw_forecast",
        "clustering_coeff",
        # round 11: the rotation-promoted queries gain a bench series
        "core_numbers_trade",
        "lpa_communities",
        "acf_events",
        "mad_events",
        "seasonal_decomp",
    ):
        if name in qs:
            extended[name] = best_of_runs(name)
    quiet("stream_daily_rollup")
    extended["stream_daily_rollup"] = round(
        min(_time_stream(spark, sf_dir), _time_stream(spark, sf_dir)), 3
    )

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "extended": extended,
                "extended_total": round(sum(extended.values()), 3),
                "sf": sf,
                "cpus": cpus,
                # Host-contention stamps (round 8): load_before is read
                # BEFORE warmup (pre-existing contention), load_after
                # right after the last timed query (bench's own load +
                # anything that arrived mid-run).
                "load_before": load_before,
                "load_after": _host_load(),
                # r12: deterministic CPU-speed stamps (before warmup /
                # after the last timed query) — the guest-invisible
                # host drift detector; see _cpu_calibration.
                "cpu_calib_before": cpu_calib,
                "cpu_calib_after": _cpu_calibration(),
                # load_gate (round 9): the threshold now ACTS — the
                # bench sleep-retries until quiet (bounded) and stamps
                # the outcome; quiet=false marks the artifact
                # non-comparable.
                "load_gate": load_gate,
                # Methodology is pinned since r3 (runs_per_query 1→2 and
                # warmups 1→4 changed there); r9 moved runs 2→3 for a
                # tighter min — min over more runs can only shrink, so
                # tiny r8→r9 "speedups" under ~5% are estimator effect.
                # Per-query 1-min loadavg read right before each
                # query's first run (round 11) — a contended row
                # self-identifies instead of reading as a regression.
                "load_per_query": stamps,
                # Round 12: per-query quiet gate — external busy cores
                # sampled from /proc/stat during a bench-idle window
                # right before each query's timed runs (threshold 4.0;
                # bounded wait, waited seconds recorded when nonzero).
                "busy_cores_per_query": busy_stamps,
                "gate_waits_per_query": gate_waits,
                "busy_cores_threshold": BUSY_CORES_THRESHOLD,
                "methodology": {
                    "runs_per_query": runs_per_query,
                    "estimator": "min",
                    "warmups": 4,
                    "sink": "noop",
                    "reclaim_between_queries": True,
                    "note": "r2->r3 changed estimator+warmups; r8->r9 "
                    "runs 2->3; r10->r11 added per-query block reclaim "
                    "(clearCache+GC) — r10 knn_pq/knn_ivfpq rows were "
                    "polluted by accumulated pinned blocks (34.2 s vs "
                    "4.7 s fresh-session) and are NON-COMPARABLE; "
                    "compare r3 onward, r9 min is tighter, anchor "
                    "knn_pq/knn_ivfpq from r11; r11->r12 added a "
                    "per-query quiet gate (wait outside timed windows "
                    "until external /proc/stat busy cores < 4) — the "
                    "r11 headline ran contended (loadavg 4.8-5.7 over "
                    "the 4.0 gate) and is non-comparable for the 9 "
                    "'regressed' untouched queries, and sized the "
                    "bench driver heap 1g->6g (the selfcheck/"
                    "registry_verify discipline) after a quiet re-run "
                    "showed the session TAIL degrading under 1 GiB "
                    "heap churn",
                },
            }
        )
    )
    return 0


def _time_stream(spark, sf_dir: str) -> float:
    """Time the availableNow streaming daily rollup end-to-end.

    Mirrors the `stream_daily_rollup` queries() entry's semantics but
    runs the actual StreamingQuery to a memory sink (the queries()
    form returns the batch-equivalent frame for oracle comparison).
    """
    import tempfile
    import time as _time

    from big_data_in_agriculture_spark.streaming import events as sev

    t0 = _time.perf_counter()
    with tempfile.TemporaryDirectory() as td:
        # file stream source needs a directory; glob-filter to the
        # events table inside the sf dir
        stream = sev.read_events_stream(
            spark, sf_dir, path_glob="events.parquet"
        )
        agg = sev.daily_event_rollup(stream)
        q = (
            agg.writeStream.format("memory")
            .queryName("bench_stream_daily")
            .outputMode("complete")
            .option("checkpointLocation", f"{td}/chk")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return _time.perf_counter() - t0


if __name__ == "__main__":
    sys.exit(main())
