"""Scale probes: run key operator shapes at 10-100x bench volume.

Synthetic in-memory inputs (spark.range — no files, no testdata
mutation) sized to stress the shapes that matter at cluster scale:
shuffle payloads, window sorts, candidate-pair generation. Prints one
timing line per probe, then the result rows of a probe whose output is
at most 5 rows (its checksum aggregate); SCALE.md records the
narrative.

Usage: python scripts/scale_probe.py [probe ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def probe_q1_agg(spark, rows=60_000_000):
    """TPC-H Q1 shape at 100x sf0.1: wide scan -> 2-key hash agg."""
    df = spark.range(rows).select(
        (F.col("id") % 3).alias("flag"),
        (F.col("id") % 2).alias("status"),
        (F.col("id") % 50 + 1).cast("double").alias("qty"),
        ((F.col("id") % 10000) / 100.0).alias("price"),
        ((F.col("id") % 11) / 100.0).alias("disc"),
    )
    return (
        df.groupBy("flag", "status")
        .agg(
            F.sum("qty"), F.sum("price"),
            F.sum(F.col("price") * (1 - F.col("disc"))),
            F.avg("qty"), F.count(F.lit(1)),
        )
    )


def probe_window(spark, rows=20_000_000, keys=200_000):
    """Running-total window: shuffle + sort 20M rows over 200k keys."""
    df = spark.range(rows).select(
        (F.col("id") % keys).alias("k"),
        F.col("id").alias("seq"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = df.select("k", F.sum("v").over(w).alias("rt"))
    # aggregate over the window output so column pruning can't skip it
    return out.filter(F.col("rt") >= 0)


def probe_sessionize(spark, rows=10_000_000, users=100_000):
    """Gap sessionization at 10M events / 100k users."""
    from big_data_in_agriculture_spark.operators.relational import sessionize

    df = spark.range(rows).select(
        F.col("id").alias("event_id"),
        (F.col("id") % users).alias("user_id"),
        F.timestamp_micros(
            (F.col("id") * 7_919_000 % (86_400_000_000 * 30)).cast("long")
        ).alias("ts"),
    )
    return sessionize(df, gap_minutes=30)


def probe_jaccard(spark, docs=50_000):
    """Near-dup pair generation at 10x the bench corpus (synthetic
    40-token docs over a 5k-word vocabulary; every consecutive pair of
    doc ids shares a 20-token prefix -> guaranteed near-dup mass)."""
    from big_data_in_agriculture_spark.operators.llm import jaccard_pairs

    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(
            F.lit("w"),
            (
                F.xxhash64(
                    F.when(i < 20, F.floor(F.col("id") / 2)).otherwise(F.col("id")), i
                )
                % 5000
            ).cast("string"),
        ),
    )
    df = spark.range(docs).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )
    return jaccard_pairs(df, threshold=0.2, k=3, df_cap=200)


def probe_minhash(spark, docs=50_000):
    from big_data_in_agriculture_spark.operators.llm import minhash_neardup_pairs

    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(
            F.lit("w"),
            (
                F.xxhash64(
                    F.when(i < 20, F.floor(F.col("id") / 2)).otherwise(F.col("id")), i
                )
                % 5000
            ).cast("string"),
        ),
    )
    df = spark.range(docs).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )
    return minhash_neardup_pairs(df, threshold=0.2, num_perm=64, bands=16)


def _minhash_corpus(spark, docs):
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(
            F.lit("w"),
            (
                F.xxhash64(
                    F.when(i < 20, F.floor(F.col("id") / 2)).otherwise(F.col("id")), i
                )
                % 5000
            ).cast("string"),
        ),
    )
    return spark.range(docs).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )


def probe_minhash_500k_portable(spark, docs=500_000):
    """The portable-hash tax, measured: md5-derived shingle/bucket
    hashing (oracle-replayable in DuckDB) vs the xxhash64 fast path on
    the identical 500k-doc corpus — see probe_minhash_500k_fast."""
    from big_data_in_agriculture_spark.operators.llm import minhash_neardup_pairs

    return minhash_neardup_pairs(
        _minhash_corpus(spark, docs), threshold=0.2, num_perm=64, bands=16,
        portable=True,
    )


def probe_minhash_500k_fast(spark, docs=500_000):
    from big_data_in_agriculture_spark.operators.llm import minhash_neardup_pairs

    return minhash_neardup_pairs(
        _minhash_corpus(spark, docs), threshold=0.2, num_perm=64, bands=16,
        portable=False,
    )


def probe_text_stats_1m(spark, docs=1_000_000):
    """Steady-state text_stats throughput (round-6 regression triage).

    BENCH_r05 showed text_stats +20%/46 ms vs r4 and round 5 had
    touched functions/text.py — but the touched expression
    (repetition_ratio's NULL branch) is NOT in text_stats' plan
    (text_stats = n_chars/n_tokens/n_distinct/punct/quality only), so
    the delta could never have been that change. This probe pins the
    steady per-row cost at 20× the bench corpus so future deltas have
    a noise-free reference: pure map-side column math, zero shuffles.
    """
    from big_data_in_agriculture_spark.operators.llm import text_stats

    words = F.transform(
        F.sequence(F.lit(0), F.pmod(F.xxhash64("id"), F.lit(30)) + 10),
        lambda i: F.concat(
            F.lit("tok"), (F.xxhash64(F.col("id"), i) % 2000).cast("string")
        ),
    )
    df = spark.range(docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(words, " ").alias("text"),
    )
    # terminal agg consumes every stat column — a bare .count() would
    # let Catalyst prune the expressions and measure nothing
    return text_stats(df).agg(
        F.sum("n_chars_calc"), F.sum("n_tokens"),
        F.sum("n_distinct_tokens"), F.sum("n_punct"), F.sum("quality")
    )


def probe_epoch_shuffle(spark, rows=10_000_000):
    """Recompute-both-consumers epoch_shuffle (the round-6 default):
    two pruned single-column scans — histogram then rank — instead of
    materializing a full keyed copy of the corpus per epoch."""
    from big_data_in_agriculture_spark.operators.llm import epoch_shuffle

    df = spark.range(rows).select(F.col("id").alias("doc_id"))
    # terminal agg consumes pos so the rank window can't be pruned
    return epoch_shuffle(df, seed=3).agg(F.sum("pos"), F.max("pos"))


def probe_epoch_shuffle_ckpt(spark, rows=10_000_000):
    """Contrast row: the pre-round-6 localCheckpoint(eager=True) form —
    pays a full write+read of the keyed table to executor storage."""
    from big_data_in_agriculture_spark.operators.llm import epoch_shuffle

    df = spark.range(rows).select(F.col("id").alias("doc_id"))
    return epoch_shuffle(df, seed=3, checkpoint=True).agg(
        F.sum("pos"), F.max("pos"))


def _dupheavy_corpus(spark, docs, exact_copies, near_copies):
    """Benign base corpus + one exact-duplicate family of
    ``exact_copies`` members + one near-dup family of ``near_copies``
    members (same boilerplate, one distinguishing token each) — the
    duplicate-cluster shape real web corpora have."""
    base = _minhash_corpus(spark, docs)
    boiler = "all rights reserved terms of service privacy policy contact us site map"
    exact = spark.range(exact_copies).select(
        (F.col("id") + docs).alias("doc_id"), F.lit(boiler).alias("text")
    )
    near = spark.range(near_copies).select(
        (F.col("id") + docs + exact_copies).alias("doc_id"),
        F.concat(F.lit(boiler + " ref"), F.col("id").cast("string")).alias("text"),
    )
    return base.unionByName(exact).unionByName(near)


def probe_minhash_dupheavy_100k(spark, docs=100_000):
    """The duplicate-cluster axis: 100k docs with a 10k-copy exact
    family and a 1k-member near-dup family. Uncollapsed LSH would put
    all 10k copies in the same bucket in EVERY band (width² ≈ 5×10⁷
    in-bucket pairs per band, one 10k-element collect_list per task);
    collapse_exact runs LSH on representatives only and emits linear
    star edges, with max_bucket_width capping the residual 1k-member
    near-exact family. Bounded time here = the round-6 scale fix."""
    from big_data_in_agriculture_spark.operators.llm import minhash_neardup_pairs

    return minhash_neardup_pairs(
        _dupheavy_corpus(spark, docs, 10_000, 1_000),
        threshold=0.2, num_perm=64, bands=16,
        portable=False, collapse_exact=True, max_bucket_width=64,
    )


def probe_minhash_dupheavy_uncollapsed(spark, docs=50_000):
    """Contrast row: the SAME shape without the collapse, at a family
    size small enough to finish (2k copies → 2k²/2 × 16 bands ≈ 3×10⁷
    in-bucket pair structs before distinct). Extrapolate width² from
    here: 10k copies is 25× this family's pair volume, 100k is 2500×."""
    from big_data_in_agriculture_spark.operators.llm import minhash_neardup_pairs

    return minhash_neardup_pairs(
        _dupheavy_corpus(spark, docs, 2_000, 0),
        threshold=0.2, num_perm=64, bands=16, portable=False,
    )


def probe_asof(spark, left=10_000_000, right=1_000_000, keys=50_000):
    from big_data_in_agriculture_spark.operators.relational import asof_join

    l = spark.range(left).select(
        F.col("id").alias("event_id"),
        (F.col("id") % keys).alias("k"),
        F.timestamp_micros((F.col("id") * 1_000_003).cast("long")).alias("ts"),
    )
    r = spark.range(right).select(
        (F.col("id") % keys).alias("k"),
        F.timestamp_micros((F.col("id") * 9_999_991).cast("long")).alias("rts"),
        F.col("id").cast("double").alias("val"),
    )
    return asof_join(l, r, "k", "ts", "rts", ["rts", "val"]).filter(
        F.col("val").isNotNull() | F.col("val").isNull()
    )


def probe_bloom_10m(spark, docs=10_000_000):
    """Bloom screening at 10M keys: history (1/3 of the corpus) folds
    into a 1M-bit bitmap — the build agg emits <= ceil(m/63) ≈ 16k
    rows NO MATTER the history size (the whole point: membership vs
    history without carrying history) — and the probe is k=7 exploded
    rows/key joined broadcast against those words. One shuffle each
    side, both bounded; zero history rescan."""
    from big_data_in_agriculture_spark.functions import text as TX
    from big_data_in_agriculture_spark.operators.profile import (
        bloom_build,
        bloom_probe,
    )

    m_bits, k = 1_008_000, 7
    keys = spark.range(docs).select(
        F.col("id").alias("doc_id"),
        F.sha2(F.concat(F.lit("doc"), F.col("id").cast("string")), 256).alias("fp"),
    )
    words = bloom_build(keys.filter(F.col("doc_id") % 3 == 0), "fp", m_bits, k)
    out = bloom_probe(keys, words, "fp", "doc_id", m_bits, k)
    # terminal agg consumes maybe_dup — a bare .count() would let
    # Catalyst prune the bit math and eliminate the provably-unique
    # left join entirely
    return out.agg(
        F.sum(F.col("maybe_dup").cast("long")).alias("n_dup"),
        F.count(F.lit(1)).alias("n"),
    )


def probe_pii_1m(spark, docs=1_000_000):
    """PII scan throughput at 20x the bench corpus, SIX classes since
    round 7 (emails/ipv4/phones/digit_runs + Luhn cards + mod-97
    IBANs): six count passes + the checksum-interleaved masking chain,
    map-only, zero shuffles — the regex+fold cost per row IS the whole
    cost, so this row pins it. Every 7th doc carries a contact block,
    every 11th a Luhn-valid card + valid IBAN (the checksum folds must
    run, not just the empty-candidate fast path), and the final agg
    consumes ALL count columns (Catalyst would prune unconsumed ones
    and the probe would measure a 4-class scan)."""
    from big_data_in_agriculture_spark.operators.llm import pii_scan

    words = F.transform(
        F.sequence(F.lit(0), F.pmod(F.xxhash64("id"), F.lit(30)) + 10),
        lambda i: F.concat(
            F.lit("tok"), (F.xxhash64(F.col("id"), i) % 2000).cast("string")
        ),
    )
    base = F.array_join(words, " ")
    with_contact = F.concat(
        base,
        F.lit(" contact user"), F.col("id").cast("string"),
        F.lit("@example.com ip 10.0.0."),
        (F.col("id") % 256).cast("string"),
        F.lit(" tel 555-123-4567 acct 123456789"),
    )
    with_bank = F.concat(
        base,
        F.lit(" card 4111 1111 1111 1111 iban GB82WEST12345698765432 ref 9"),
    )
    df = spark.range(docs).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 7 == 0, with_contact)
        .when(F.col("id") % 11 == 0, with_bank)
        .otherwise(base)
        .alias("text"),
    )
    out = pii_scan(df)
    return out.agg(
        F.sum("n_emails"), F.sum("n_ipv4"), F.sum("n_phones"),
        F.sum("n_digit_runs"), F.sum("n_cards"), F.sum("n_ibans"),
        F.sum(F.length("masked")),
    )


def probe_components_2m(spark, nodes=1_000_000):
    """Connected components at ~2M directed edges / 1M nodes: 10-node
    chains (diameter 9 — the worst realistic near-dup family shape;
    real clusters are near-cliques with diameter 2-3, so this over-
    stresses the iteration count). Guards the round-6 materialization
    fix: edges localCheckpoint once, so each of the ~10 label rounds
    re-reads a materialized pair list instead of re-running the pair
    GENERATOR per round — and one action per round, not two."""
    from big_data_in_agriculture_spark.operators.llm import (
        neardup_components,
    )

    base = spark.range(nodes).select(
        (F.col("id") - F.col("id") % 10).alias("head"), F.col("id").alias("n")
    )
    pairs = base.filter(F.col("n") % 10 != 0).select(
        (F.col("n") - 1).alias("id_a"), F.col("n").alias("id_b")
    )
    out = neardup_components(pairs)
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("component_id").alias("n_comp"),
        F.sum("component_id").alias("chk"),
    )


def probe_cms_20m(spark, rows=20_000_000):
    """Count-Min build+probe at 20M occurrences over a 100k-key vocab:
    the build explodes depth cells per occurrence into ONE hash
    aggregate bounded at depth*width output rows regardless of input
    size — the sketch, not the corpus, is the working set (the
    per-occurrence md5 is the dominant cost, partial aggs collapse
    everything else map-side)."""
    from big_data_in_agriculture_spark.operators.profile import (
        cms_build,
        cms_estimate,
    )

    keys = spark.range(rows).select(
        F.concat(
            F.lit("k"), F.pmod(F.xxhash64("id"), F.lit(100_000)).cast("string")
        ).alias("k")
    )
    sk = cms_build(keys, "k", depth=4, width=65536)
    q = spark.range(64).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k")
    )
    out = cms_estimate(q, sk, "k", depth=4, width=65536)
    return out.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cms_estimate").alias("mass")
    )


PROBES = {
    "q1_agg_60m": probe_q1_agg,
    "window_20m": probe_window,
    "sessionize_10m": probe_sessionize,
    "jaccard_50k": probe_jaccard,
    "minhash_50k": probe_minhash,
    "minhash_500k_portable": probe_minhash_500k_portable,
    "minhash_500k_fast": probe_minhash_500k_fast,
    "minhash_dupheavy_100k": probe_minhash_dupheavy_100k,
    "minhash_dupheavy_uncollapsed_50k": probe_minhash_dupheavy_uncollapsed,
    "text_stats_1m": probe_text_stats_1m,
    "epoch_shuffle_10m": probe_epoch_shuffle,
    "epoch_shuffle_10m_ckpt": probe_epoch_shuffle_ckpt,
    "asof_10m": probe_asof,
    "bloom_10m": probe_bloom_10m,
    "pii_1m": probe_pii_1m,
    "components_2m": probe_components_2m,
    "cms_20m": probe_cms_20m,
}


def _run(df):
    """Run a probe's frame with ONE action: ``(n_rows, rows)``. A frame
    whose optimized plan bounds its output at 5 rows or fewer (the
    1-row checksum aggregates) is collected, so its values can be
    compared across commits; any other frame is counted (rows None)."""
    bound = df._jdf.queryExecution().optimizedPlan().maxRows()
    if bound.isDefined() and bound.get() <= 5:
        rows = df.collect()
        return len(rows), rows
    return df.count(), None


def main() -> int:
    args = sys.argv[1:]
    # --steady: run each probe twice and report the second (steady-
    # state) time. The first execution of an expression-heavy pipeline
    # pays one-time JVM JIT/codegen (measured up to 4x on the minhash
    # probe) that a long-lived cluster session never re-pays — the
    # steady number is the one that extrapolates to 100 TB.
    steady = "--steady" in args
    only = {a for a in args if not a.startswith("--")}
    from big_data_in_agriculture_spark.session import get_spark

    # r12: honor $SPARK_GRAFT_CPUS (default 32) so the same probe can
    # be run at two core counts for a c8-vs-c32 scaling row — the sf0.1
    # bench cannot demonstrate parallel speedup (every query there is
    # scheduler-overhead-bound; 8 cores beat 32 across the board), so
    # the scaling story lives here, at probe volume.
    import os

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "scale-probe", master=f"local[{cpus}]", shuffle_partitions=64,
        # probe volumes (20-60M-row windows/sorts) need real heap;
        # the bench/driver sessions keep their own defaults
        extra_conf={"spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name, fn in PROBES.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        n, rows = _run(fn(spark))
        cold = time.perf_counter() - t0
        if steady:
            t0 = time.perf_counter()
            n, rows = _run(fn(spark))
            warm = time.perf_counter() - t0
            print(
                f"{name}: {warm:.1f}s steady / {cold:.1f}s cold "
                f"({n} rows out)",
                flush=True,
            )
        else:
            print(f"{name}: {cold:.1f}s ({n} rows out)", flush=True)
        for row in rows or ():
            print(f"  {tuple(row)}", flush=True)
    return 0




def probe_skew_join(spark, rows=20_000_000, keys=100_000):
    """Hot-key join: 30% of the fact rows hit ONE key, broadcast
    disabled so the join is a real shuffle (a broadcastable small side
    is skew-immune already — AQE would just broadcast it). Compares the
    explicit salted join against plain sort-merge + AQE skew-split."""
    from big_data_in_agriculture_spark.operators.relational import salted_join

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    big = spark.range(rows).select(
        F.when(F.col("id") % 10 < 3, F.lit(7)).otherwise(F.col("id") % keys).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(keys).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("w"))
    return salted_join(big, small, "k", salts=32)


def probe_skew_join_plain(spark, rows=20_000_000, keys=100_000):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    big = spark.range(rows).select(
        F.when(F.col("id") % 10 < 3, F.lit(7)).otherwise(F.col("id") % keys).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(keys).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("w"))
    return big.join(small, "k")


PROBES["skew_salted_20m"] = probe_skew_join
PROBES["skew_plain_20m"] = probe_skew_join_plain


def _range_join_inputs(spark, points, intervals, keys):
    p = spark.range(points).select(
        (F.col("id") % keys).alias("k"),
        F.col("id").alias("pid"),
        (F.col("id") * 37 % 10_000_000).alias("p"),
    )
    i = spark.range(intervals).select(
        (F.col("id") % keys).alias("k"),
        F.col("id").alias("iid"),
        (F.col("id") * 97 % 10_000_000).alias("lo"),
        (F.col("id") * 97 % 10_000_000 + 5_000).alias("hi"),
    )
    return p, i


def probe_range_join_binned(spark, points=2_000_000, intervals=200_000, keys=10):
    """Interval containment via bin bucketing: stays an equi-join on
    (k, bin), cost linear in rows + matches regardless of per-key
    density (the regime that kills the naive plan — few hot keys)."""
    from big_data_in_agriculture_spark.operators.relational import binned_range_join

    p, i = _range_join_inputs(spark, points, intervals, keys)
    return binned_range_join(p, i, ["k"], "p", "lo", "hi", bin_width=5_000)


def probe_range_join_naive(spark, points=2_000_000, intervals=200_000, keys=10):
    """Same join as a raw inequality predicate: the equi part is only
    the key, so each same-key group nested-loops over the range
    condition — points/key × intervals/key comparisons. At 10 hot keys
    that is 200k × 20k × 10 = 4e11 candidate pairs; the binned probe
    touches ~matches only. Dense keys are exactly where real interval data lands
    (one busy user/sensor/day)."""
    p, i = _range_join_inputs(spark, points, intervals, keys)
    return p.join(
        i,
        (p["k"] == i["k"]) & (p["p"] >= i["lo"]) & (p["p"] <= i["hi"]),
    ).drop(i["k"])


PROBES["range_binned_2m"] = probe_range_join_binned
PROBES["range_naive_2m"] = probe_range_join_naive




def probe_contamination(spark, train=1_000_000, evals=200):
    """Contamination gate at 1M train docs x 200 eval docs: the train
    side must broadcast-join the eval shingle index, never shuffle."""
    from big_data_in_agriculture_spark.operators.llm import contamination

    words = F.transform(
        F.sequence(F.lit(0), F.lit(29)),
        lambda i: F.concat(
            F.lit("w"), (F.xxhash64(F.col("id"), i) % 50_000).cast("string")
        ),
    )
    docs = spark.range(train).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )
    ev = docs.filter(F.col("doc_id") % (train // evals) == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    return contamination(docs, ev, min_common=3)


def probe_cdc(spark, rows=20_000_000, keys=1_000_000):
    """CDC collapse at 20M changes / 1M keys: one window shuffle."""
    from big_data_in_agriculture_spark.operators.cdc import cdc_apply

    log = spark.range(rows).select(
        (F.col("id") % keys).alias("k"),
        F.timestamp_micros((F.col("id") * 1_000_003).cast("long")).alias("ts"),
        F.col("id").alias("seq"),
        F.when(F.col("id") % 17 == 0, "D").otherwise("U").alias("op"),
        (F.col("id") % 1000).cast("double").alias("payload"),
    )
    return cdc_apply(log, "k", "ts", "seq", "op")


def probe_cumulative_users(spark, rows=20_000_000, users=1_000_000):
    """Growth curve at 20M events / 1M users: the count-distinct-free
    formulation's cost is two aggregates, not a giant window state."""
    from big_data_in_agriculture_spark.operators.analytics import (
        cumulative_unique_users,
    )

    ev = spark.range(rows).select(
        (F.col("id") % 5).cast("string").alias("event_type"),
        (F.col("id") % users).alias("user_id"),
        F.timestamp_micros(
            (F.lit(1_700_000_000_000_000) + F.col("id") * 4_000_000).cast("long")
        ).alias("ts"),
    )
    return cumulative_unique_users(ev)


PROBES["contamination_1m"] = probe_contamination
PROBES["cdc_20m"] = probe_cdc
PROBES["cumulative_users_20m"] = probe_cumulative_users



def probe_line_dedup(spark, docs=200_000, lines_per_doc=12):
    """Line-level dedup at 200k multi-line docs (~2.4M lines).

    10% of lines draw from a tiny boilerplate pool (hot keys); the rest
    are unique per (doc, pos). Stresses both shuffles: the
    count_distinct aggregate on the line and the per-doc reassembly.
    """
    from big_data_in_agriculture_spark.operators.llm import line_dedup

    doc = spark.range(docs)
    mk_line = (
        F.when(
            (F.col("pos") % 10) == 0,
            F.concat(F.lit("boiler-"), (F.col("pos") % 7).cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("uniq-"), F.col("doc_id").cast("string"),
                F.lit("-"), F.col("pos").cast("string"),
            )
        )
    )
    docs_df = (
        doc.select(
            F.col("id").alias("doc_id"),
            F.explode(F.sequence(F.lit(0), F.lit(lines_per_doc - 1))).alias("pos"),
        )
        .select("doc_id", mk_line.alias("line"))
        .groupBy("doc_id")
        .agg(F.concat_ws("\n", F.collect_list("line")).alias("text"))
    )
    return line_dedup(docs_df, min_docs=2)


def probe_pack_chunks(spark, docs=50_000_000):
    """Two-level prefix sum over 50M docs — the no-global-window path."""
    from big_data_in_agriculture_spark.operators.llm import pack_chunks

    # pack_chunks only touches (id, n_tokens); feed a 1-token text and
    # override n via a synthetic column path: build tiny texts of
    # varying token counts arithmetically
    docs_df = spark.range(docs).select(
        F.col("id").alias("doc_id"),
        # 1-8 single-char tokens; array_repeat+concat_ws stays JVM-side
        F.concat_ws(" ", F.array_repeat(F.lit("w"), (F.col("id") % 8 + 1).cast("int"))).alias("text"),
    )
    return pack_chunks(docs_df, chunk_len=512, n_buckets=1024)


PROBES["line_dedup_200k"] = probe_line_dedup
PROBES["pack_chunks_50m"] = probe_pack_chunks


def probe_classifier(spark, docs=50_000, dim=256, iters=3):
    """Classifier training at 10x the bench corpus: 3 Lloyd-style
    iterations (scan + partial-agg gradient shuffle each) + a map-only
    scoring pass. Cost/iteration is the number that must stay flat
    per-row at 100 TB."""
    from big_data_in_agriculture_spark.operators.llm import (
        classifier_score, classifier_train,
    )

    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(
            F.lit("w"), ((F.col("id") * 41 + i * 7) % 5000).cast("string")
        ),
    )
    docs_df = spark.range(docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", words).alias("text"),
        (F.col("id") % 2).cast("int").alias("y"),
    )
    w, b = classifier_train(
        docs_df, F.col("y"), dim=dim, iters=iters, lr=1.0
    )
    return classifier_score(docs_df, w, b, dim=dim)


def probe_repetition(spark, docs=100_000):
    """Gopher repetition gate at 20x the bench corpus: staged per-row
    array math only — zero shuffles, pure scan parallelism."""
    from big_data_in_agriculture_spark.operators.llm import repetition_filter

    words = F.transform(
        F.sequence(F.lit(0), F.lit(49)),
        lambda i: F.concat(
            F.lit("w"), ((F.col("id") * 13 + i * i) % 2000).cast("string")
        ),
    )
    docs_df = spark.range(docs).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text")
    )
    return repetition_filter(docs_df)


PROBES["classifier_50k"] = probe_classifier
PROBES["repetition_100k"] = probe_repetition

def probe_substring_dedup(spark, docs=100_000):
    """Exact substring dedup at 20x the bench corpus. 10% of docs embed
    a shared 12-token boilerplate passage; work = map-only gram digests
    + one count agg + per-doc span folds."""
    from big_data_in_agriculture_spark.operators.llm import substring_dedup

    words = F.transform(
        F.sequence(F.lit(0), F.lit(49)),
        lambda i: F.when(
            (F.col("id") % 10 == 0) & (i >= 10) & (i < 22),
            F.concat(F.lit("boiler"), i.cast("string")),
        ).otherwise(
            F.concat(F.lit("w"), F.xxhash64(F.col("id"), i).cast("string"))
        ),
    )
    df = spark.range(docs).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )
    return substring_dedup(df, k=8)


def probe_bm25(spark, docs=1_000_000):
    """BM25 at 200x the bench corpus: two scans, map-side tf math,
    TakeOrdered top-k — no index, no wide shuffle."""
    from big_data_in_agriculture_spark.operators.llm import bm25_search

    words = F.transform(
        F.sequence(F.lit(0), F.lit(29)),
        lambda i: F.concat(
            F.lit("w"), ((F.col("id") * 31 + i * 7) % 1000).cast("string")
        ),
    )
    df = spark.range(docs).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )
    return bm25_search(df, "w1 w2 w3", top_k=10)


def probe_sliding(spark, rows=20_000_000, keys=5):
    """Sliding windows at ~140x the bench events: 4x row replication
    into (window, key) partials — shuffle carries partial rows only."""
    from big_data_in_agriculture_spark.streaming.events import sliding_rollup

    df = spark.range(rows).select(
        F.timestamp_micros(
            (F.lit(1_700_000_000_000_000) + F.col("id") * 1_000_000)
        ).alias("ts"),
        F.concat(F.lit("k"), (F.col("id") % keys).cast("string")).alias(
            "event_type"
        ),
        (F.col("id") % 100).cast("double").alias("value"),
    )
    return sliding_rollup(df, "1 day", "6 hours")


def probe_textrank(spark, docs=200_000):
    """TextRank at 40x the bench corpus: 3 edge-table-sized join+agg
    iterations after a single corpus scan."""
    from big_data_in_agriculture_spark.operators.llm import textrank_keywords

    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(
            F.lit("w"), ((F.col("id") * 17 + i * 13) % 3000).cast("string")
        ),
    )
    df = spark.range(docs).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )
    return textrank_keywords(df, top_k=20, min_count=3)


PROBES["substring_dedup_100k"] = probe_substring_dedup
PROBES["bm25_1m"] = probe_bm25
PROBES["sliding_20m"] = probe_sliding
PROBES["textrank_200k"] = probe_textrank





def _synth_embeddings(spark, vecs, dim):
    return spark.range(vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: ((F.col("id") * 37 + j * 11) % 1000 / 500.0 - 1.0),
        ).alias("embedding"),
    )


def probe_kmeans(spark, vecs=100_000, dim=64, quantize=6):
    """k-means at 20x the bench embedding table (100k x dim 64,
    5 Lloyd iterations): per iteration one assign-and-partial-agg scan
    whose shuffle carries k x (dim+1) rows per partition. `quantize`
    rounds centroid updates driver-side (k x dim Python floats per
    iteration) — the bit-replay knob must cost ~nothing; run
    kmeans_100k vs kmeans_100k_noq to confirm."""
    from big_data_in_agriculture_spark.operators.similarity import (
        kmeans_assign, kmeans_fit,
    )

    emb = _synth_embeddings(spark, vecs, dim)
    cents = kmeans_fit(
        emb, k=8, max_iter=5, tol=0.0, quantize=quantize
    )
    return kmeans_assign(emb, cents).groupBy("cluster").count()


def probe_kmeans_noq(spark, vecs=100_000, dim=64):
    return probe_kmeans(spark, vecs, dim, quantize=None)


def probe_classifier_500k(spark, docs=500_000, dim=64, iters=8, quantize=6):
    """Classifier training at 100x the bench corpus with the oracle's
    exact hyperparameters (dim 64, 8 steps). The quantize knob rounds
    dim+1 Python floats per step on the driver — compare against
    classifier_500k_noq for the (expected ~zero) overhead."""
    from big_data_in_agriculture_spark.operators.llm import (
        classifier_score, classifier_train,
    )

    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(
            F.lit("w"), ((F.col("id") * 41 + i * 7) % 5000).cast("string")
        ),
    )
    docs_df = spark.range(docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", words).alias("text"),
        (F.col("id") % 2).cast("int").alias("y"),
    )
    w, b = classifier_train(
        docs_df, F.col("y"), dim=dim, iters=iters, lr=1.0,
        quantize=quantize,
    )
    return classifier_score(docs_df, w, b, dim=dim)


def probe_classifier_500k_noq(spark, docs=500_000, dim=64, iters=8):
    return probe_classifier_500k(spark, docs, dim, iters, quantize=None)


PROBES["kmeans_100k"] = probe_kmeans
PROBES["kmeans_100k_noq"] = probe_kmeans_noq
PROBES["classifier_500k"] = probe_classifier_500k
PROBES["classifier_500k_noq"] = probe_classifier_500k_noq


def probe_sessionize_hotuser(spark, rows=10_000_000, users=100_000):
    """Gap sessionization with ONE user holding 20% of all events —
    the hot-key window shape (one 2M-row partition sorted in a single
    task) that the --skew adversarial corpus checks for correctness
    and this probe checks for bounded time. Contrast with
    sessionize_10m (uniform keys): the delta IS the skew tax, since a
    per-user window cannot be split without changing semantics —
    at a worse ratio the answer is pre-aggregating sessions in
    event-time chunks, not a different window."""
    from big_data_in_agriculture_spark.operators.relational import sessionize

    df = spark.range(rows).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 5 == 0, F.lit(0))
        .otherwise(F.col("id") % users)
        .alias("user_id"),
        F.timestamp_micros(
            (F.col("id") * 7_919_000 % (86_400_000_000 * 30)).cast("long")
        ).alias("ts"),
    )
    return sessionize(df, gap_minutes=30)


PROBES["sessionize_hotuser_10m"] = probe_sessionize_hotuser


def probe_classifier_longdoc(spark, docs=10_000, toks=2_000, iters=3):
    """Logistic-regression training on LONG documents — 10k docs of
    2k tokens each (20M exploded gradient rows per iteration). Guards
    the round-6 ExtractGenerator fix: the residual projection must sit
    BELOW the gradient explode, or per-doc cost goes O(n_tokens²)
    (recomputed margin fold + full-width row copies per token) — the
    shape that OOM'd the 1 GB selfcheck heap on 20k-token docs."""
    from big_data_in_agriculture_spark.operators.llm import classifier_train

    word = F.transform(
        F.sequence(F.lit(0), F.lit(toks - 1)),
        lambda i: F.concat(F.lit("w"), ((F.col("id") * 31 + i) % 5000)),
    )
    df = spark.range(docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(word, " ").alias("text"),
    )
    w, b = classifier_train(
        df, (F.col("doc_id") % 2 == 0), dim=64, iters=iters, quantize=6
    )
    # return a frame so the shared runner can count() it; the train
    # itself (above) is the measured work
    return spark.range(1).select(F.lit(float(b)).alias("bias"))


PROBES["classifier_longdoc_10k"] = probe_classifier_longdoc




def probe_rfm_10m(spark, customers=10_000_000):
    """rfm_segments at 10M customers — the operator that used to run
    three GLOBAL single-partition ntile windows (the repo's last
    unbounded-frame global window; a hard ceiling at this scale).
    The round-7 _range_ntile decomposition keeps every step
    partitioned: range exchange + per-partition rank + a P-row prefix
    sum. One synthetic order per customer isolates the scoring from
    the fact-table aggregate."""
    from big_data_in_agriculture_spark.operators.relational import (
        rfm_segments,
    )

    orders = spark.range(customers).select(
        F.col("id").alias("o_custkey"),
        F.to_timestamp(
            F.concat(
                F.lit("1998-"),
                F.lpad(((F.col("id") % 12) + 1).cast("string"), 2, "0"),
                F.lit("-"),
                F.lpad(((F.col("id") % 28) + 1).cast("string"), 2, "0"),
            )
        ).alias("o_orderdate"),
        ((F.col("id") % 9973).cast("double") + 0.5).alias("o_totalprice"),
    )
    out = rfm_segments(orders)
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("r_score") + F.col("f_score") + F.col("m_score")).alias(
            "chk"
        ),
        F.countDistinct("m_score").alias("tiles"),
    )


PROBES["rfm_10m"] = probe_rfm_10m


def probe_neardup_gate_history(spark, history_batches=4, batch_docs=250_000):
    """Streaming MinHash admission gate: per-batch cost as history
    grows. Feeds equal-size batches of all-novel docs through
    admit_batch_neardup directly (same code path the foreachBatch
    stream drives) and prints each batch's wall time while the
    admitted history grows 0 -> (batches-1)*batch_docs docs.

    The claim under test: per-batch work is batch-sized (signatures,
    map-only) plus ONE equi-join of the batch's band keys against the
    sink's (band, bucket, id) index — a pruned three-column read that
    grows with history but stays I/O-thin, never re-reading document
    bodies. Flat-ish batch times = the gate holds at crawl scale;
    the printed series IS the measurement (the returned row carries
    the final sink size as the probe checksum)."""
    import shutil
    import tempfile
    import time as _time

    from big_data_in_agriculture_spark.streaming import corpus as SC

    sink = tempfile.mkdtemp(prefix="gate_probe_")
    shutil.rmtree(sink)
    try:
        for b in range(history_batches):
            batch = spark.range(batch_docs).select(
                (F.col("id") + b * batch_docs).alias("doc_id"),
                F.concat_ws(
                    " ",
                    *[
                        (
                            (F.col("id") + b * batch_docs) * 31
                            + F.lit(i * 7919)
                        ).cast("string")
                        for i in range(12)
                    ],
                ).alias("text"),
            )
            t0 = _time.perf_counter()
            SC.admit_batch_neardup(batch, sink)
            print(
                f"  gate batch {b}: {_time.perf_counter() - t0:.1f}s "
                f"(history {b * batch_docs} docs)",
                flush=True,
            )
        return spark.read.parquet(f"{sink}/docs").agg(
            F.count(F.lit(1)).alias("n_admitted")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(sink, ignore_errors=True)


PROBES["neardup_gate_history_1m"] = probe_neardup_gate_history


def _probe_urls(spark, n):
    """Skewed synthetic crawl: registered domain hot.example.com holds
    30% of pages; the rest spread over ~100k long-tail domains."""
    d = F.col("id")
    return spark.range(n).select(
        d.alias("doc_id"),
        F.when(
            d % 10 < 3,
            F.concat(
                F.lit("https://WWW.Hot.Example.COM:443/p/"),
                d.cast("string"),
                F.lit("?utm_source=feed&b=2&a=1"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://site"),
                (d % 100_000).cast("string"),
                F.lit(".example.org/x/"),
                d.cast("string"),
                F.lit("#frag"),
            )
        )
        .alias("url"),
    )


def probe_domain_cap(spark, n=10_000_000, cap=100):
    """domain_cap at 10M pages with a 3M-page hot domain (the
    CommonCrawl shape). The operator is ONE declarative window;
    Catalyst's rank-limit pushdown inserts a partial WindowGroupLimit
    below the exchange, so each map partition ships at most cap rows
    per domain — the post-shuffle window sees <= P*cap rows for the
    hot domain, never its 3M pages. Canonicalization itself is
    map-only string work. Contrast: probe_domain_cap_salted."""
    from big_data_in_agriculture_spark.operators.web import domain_cap

    out = domain_cap(_probe_urls(spark, n), cap=cap)
    return out.agg(
        F.count(F.lit(1)).alias("kept"),
        F.countDistinct("domain").alias("domains"),
        F.sum("domain_rank").alias("chk"),
    )


def probe_domain_cap_salted(spark, n=10_000_000, cap=100, salts=32):
    """The REJECTED hand-salted two-level form, kept as the measured
    contrast (it is not a code path): a (domain, salt) local top-cap
    pass, then the global per-domain window over <= salts*cap
    survivors. Same results by containment; measured across three
    sessions at 10M/3M-hot: 7.8/6.2/7.1 s vs the single window's
    5.9/7.3/7.1 s — indistinguishable, because the salt pass pays one
    extra exchange+sort for a map-side bound WindowGroupLimit already
    provides. If a Spark version ever drops the pushdown
    (tests/test_web.py pins it), this is the fallback."""
    from pyspark.sql import Window

    from big_data_in_agriculture_spark.operators.web import with_url_keys

    keyed = with_url_keys(_probe_urls(spark, n)).withColumn(
        "_prio", F.md5(F.col("canon_url"))
    )
    salt = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long") % salts
    )
    local = Window.partitionBy("domain", "_salt").orderBy("_prio", "doc_id")
    survivors = (
        keyed.withColumn("_salt", salt)
        .withColumn("_lrank", F.row_number().over(local))
        .filter(F.col("_lrank") <= cap)
        .drop("_lrank", "_salt")
    )
    w = Window.partitionBy("domain").orderBy("_prio", "doc_id")
    out = (
        survivors.withColumn("domain_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("domain_rank") <= cap)
    )
    return out.agg(
        F.count(F.lit(1)).alias("kept"),
        F.countDistinct("domain").alias("domains"),
        F.sum("domain_rank").alias("chk"),
    )


PROBES["domain_cap_10m"] = probe_domain_cap
PROBES["domain_cap_10m_salted"] = probe_domain_cap_salted


def probe_knn_rp(spark, n=300_000, queries=200):
    """knn_rp at 300k corpus vectors / 200 queries (60x the bench
    corpus, 20x its query count). The projection costs out_dim*dim
    mults per CORPUS row once; the screen costs Q*out_dim per row vs
    brute's Q*dim — so RP amortizes only when Q exceeds roughly
    out_dim*dim/(dim-out_dim) ~ 64 queries at 64->32. An earlier
    Q=10 run measured RP 2.7x SLOWER than brute (8.1 s vs 3.0 s) for
    exactly this reason: below the break-even the projection IS the
    cost — recorded so nobody "optimizes" a small-Q path with it.
    Contrast: probe_knn_brute at the same (n, Q)."""
    from big_data_in_agriculture_spark.operators.similarity import knn_rp

    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: F.sin(F.col("id") * (j + 1) * 0.7919),
        ).alias("embedding"),
    )
    q = emb.filter(F.col("vec_id") < queries)
    out = knn_rp(emb, q, dim=64, k=3, out_dim=32, n_candidates=50)
    return out.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cosine_sim").alias("chk")
    )


def probe_knn_brute(spark, n=300_000, queries=200):
    from big_data_in_agriculture_spark.operators.similarity import (
        knn_bruteforce,
    )

    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: F.sin(F.col("id") * (j + 1) * 0.7919),
        ).alias("embedding"),
    )
    q = emb.filter(F.col("vec_id") < queries)
    out = knn_bruteforce(emb, q, k=3)
    return out.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cosine_sim").alias("chk")
    )


PROBES["knn_rp_300k"] = probe_knn_rp
PROBES["knn_brute_300k"] = probe_knn_brute


_PQ_PROBE_BOOKS = {}


def _pq_probe_emb(spark, n):
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: F.sin(F.col("id") * (j + 1) * 0.7919),
        ).alias("embedding"),
    ).localCheckpoint(eager=True)
    return emb


def probe_pq_train(spark, n=300_000):
    """Codebook training alone: 8 subspaces x 2 quantized-kmeans
    iterations = ~24 corpus-slice scans. The one-time (or per-refresh)
    model cost; at crawl scale you train on a SAMPLE, never the full
    corpus, so this is bounded by sample size, not corpus size. The
    books are cached for probe_knn_pq (the production shape)."""
    from big_data_in_agriculture_spark.operators.similarity import pq_train

    emb = _pq_probe_emb(spark, n)
    books = pq_train(emb, dim=64, n_subspaces=8, n_codes=16, max_iter=2)
    _PQ_PROBE_BOOKS[n] = books
    return spark.range(1).select(
        F.lit(sum(len(b) for b in books)).alias("n_centroids")
    )


def probe_knn_pq(spark, n=300_000, queries=200):
    """knn_pq SEARCH at the knn_rp/knn_brute probe geometry (300k
    corpus x 200 queries = 60M screened pairs), pre-trained codebooks
    (run probe_pq_train first; falls back to inline training). The ADC
    screen costs 8 array lookups + a fold per pair against 8-byte
    codes, vs 32 mults (RP) or 64 (brute) — and the 60M-pair stage
    reads only (id, codes) rows, the smallest possible scan."""
    from big_data_in_agriculture_spark.operators.similarity import knn_pq

    emb = _pq_probe_emb(spark, n)
    q = emb.filter(F.col("vec_id") < queries)
    out = knn_pq(emb, q, dim=64, k=3, n_candidates=50,
                 codebooks=_PQ_PROBE_BOOKS.get(n))
    return out.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cosine_sim").alias("chk")
    )


_IVFPQ_PROBE_MODEL: dict[int, tuple] = {}


def probe_ivfpq_train(spark, n=300_000):
    """IVF-PQ model training alone (round 8): coarse kmeans (16 cells,
    2 quantized iterations) + residual construction + 8 residual-slice
    codebook fits. One-time / per-refresh cost, sample-bounded at
    crawl scale like pq_train; the (centroids, books) pair is cached
    for probe_knn_ivfpq (the production shape)."""
    from big_data_in_agriculture_spark.operators.similarity import ivfpq_train

    emb = _pq_probe_emb(spark, n)
    cents, books = ivfpq_train(emb, dim=64, n_centroids=16, coarse_iters=2)
    _IVFPQ_PROBE_MODEL[n] = (cents, books)
    return spark.range(1).select(
        F.lit(len(cents) + sum(len(b) for b in books)).alias("n_centroids")
    )


def probe_knn_ivfpq(spark, n=300_000, queries=200):
    """knn_ivfpq SEARCH at the shared 300k x 200 ANN probe geometry,
    pre-trained model (run probe_ivfpq_train first; falls back to
    inline training). Unlike knn_pq's full 60M-pair ADC sweep, the
    coarse cells prune the scored set to the probed cells' members
    (~n_probe/n_centroids of the corpus = ~25% at 4/16) BEFORE any
    per-pair work — the composed index's whole point — and the codes
    the survivors read are 8 bytes. The per-(query, cell) residual LUT
    adds n_probe x 128 folds per QUERY (not per pair), noise at any
    corpus size."""
    from big_data_in_agriculture_spark.operators.similarity import knn_ivfpq

    emb = _pq_probe_emb(spark, n)
    q = emb.filter(F.col("vec_id") < queries)
    cents, books = _IVFPQ_PROBE_MODEL.get(n, (None, None))
    out = knn_ivfpq(emb, q, dim=64, k=3, n_candidates=50,
                    centroids=cents, codebooks=books)
    return out.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cosine_sim").alias("chk")
    )


def probe_lm_1m(spark, docs=1_000_000):
    """Stupid-backoff LM (round 8) at 20x the bench corpus: train the
    three count tables on 80% of 1M ~20-token docs and score ALL of
    them. The shuffles are the gram-count groupBys (bounded by
    distinct grams — the synthetic vocab keeps them honest-sized, as
    a dedup'd web corpus's token distribution does) and the five
    backoff joins; everything else is map-only let-bound gram
    construction. The final agg consumes every output column."""
    from big_data_in_agriculture_spark.operators.llm import lm_stupid_backoff

    words = F.transform(
        F.sequence(F.lit(0), F.pmod(F.xxhash64("id"), F.lit(30)) + 10),
        lambda i: F.concat(
            F.lit("tok"), (F.xxhash64(F.col("id"), i) % 2000).cast("string")
        ),
    )
    df = spark.range(docs).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )
    out = lm_stupid_backoff(df, train=df.filter(F.col("doc_id") % 5 != 0))
    return out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_scored").alias("n_positions"),
        F.sum("logprob_micro").alias("chk"),
        F.sum("ppl").alias("ppl_chk"),
    )


PROBES["pq_train_300k"] = probe_pq_train
PROBES["knn_pq_300k"] = probe_knn_pq
PROBES["ivfpq_train_300k"] = probe_ivfpq_train
PROBES["knn_ivfpq_300k"] = probe_knn_ivfpq
PROBES["lm_1m"] = probe_lm_1m



def probe_pagerank_5m(spark, edges=5_000_000, src_nodes=300_000,
                      all_nodes=500_000):
    """PageRank (round 8) on a 5M-edge directed graph with a 40%
    dangling tail: sources draw from [0, 300k) but destinations from
    [0, 500k), so 200k nodes have no out-edges and the per-round
    dangling aggregate carries real mass. 4 rounds x (one edge-sized
    equi-join + one node-keyed agg + one 1-row dangling broadcast) —
    the cost that extrapolates linearly in edges per round."""
    from big_data_in_agriculture_spark.operators.graph import pagerank

    e = spark.range(edges).select(
        F.pmod(F.xxhash64("id"), F.lit(src_nodes)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(all_nodes)).alias("dst"),
    )
    out = pagerank(e, iterations=4)
    return out.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("rank_e12").alias("mass_chk"),
    )


def probe_sq_train_300k(spark, n=300_000):
    """SQ8 bound training alone: ONE aggregation pass producing 128
    partially-combined scalars — the cheapest model in the ANN family
    (no iterations, no sample needed; contrast pq_train_300k's ~24
    corpus-slice scans)."""
    from big_data_in_agriculture_spark.operators.similarity import sq_train

    emb = _pq_probe_emb(spark, n)
    bounds = sq_train(emb, dim=64)
    _SQ_PROBE_BOUNDS[n] = bounds
    return spark.range(1).select(F.lit(len(bounds)).alias("dims"))


_SQ_PROBE_BOUNDS: dict = {}


def probe_knn_sq_300k(spark, n=300_000, queries=200):
    """knn_sq SEARCH at the shared 300k x 200 ANN geometry,
    pre-trained bounds (run probe_sq_train_300k first; falls back to
    inline training). HONEST shape: the ADC screen reconstructs all
    64 dims per pair, so the 60M-pair sweep costs brute-force-class
    ARITHMETIC — SQ8's win is the 4x smaller scan payload (1-byte
    codes) and the model's zero training cost, not per-pair math.
    When per-pair math matters, compose with a pruner (IVF cells) or
    use PQ's 8-lookup LUT instead."""
    from big_data_in_agriculture_spark.operators.similarity import knn_sq

    emb = _pq_probe_emb(spark, n)
    q = emb.filter(F.col("vec_id") < queries)
    out = knn_sq(emb, q, dim=64, k=3, n_candidates=50,
                 bounds=_SQ_PROBE_BOUNDS.get(n))
    return out.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cosine_sim").alias("chk")
    )


def probe_nb_1m(spark, docs=1_000_000):
    """Naive Bayes (round 8) at 20x the bench corpus: train on 80% of
    1M ~20-token docs over a 5-class label, classify ALL of them. One
    (cls, token) groupBy trains the model; scoring explodes ~20M
    tokens x 5 classes through one left join + one (doc, cls) agg +
    the argmax window — all partial-aggregated, nothing collected."""
    from big_data_in_agriculture_spark.operators.llm import (
        nb_classify,
        nb_train,
    )

    words = F.transform(
        F.sequence(F.lit(0), F.pmod(F.xxhash64("id"), F.lit(30)) + 10),
        lambda i: F.concat(
            F.lit("tok"), (F.xxhash64(F.col("id"), i) % 2000).cast("string")
        ),
    )
    df = spark.range(docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(words, " ").alias("text"),
        F.concat(
            F.lit("c"), F.pmod(F.xxhash64("id", F.lit(9)), F.lit(5))
        ).alias("lang"),
    )
    tm, cm = nb_train(df.filter(F.col("doc_id") % 5 != 0))
    out = nb_classify(df, tm, cm)
    return out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("logprob_micro").alias("chk"),
        F.sum("n_tokens").alias("n_tok"),
    )


PROBES["pagerank_5m"] = probe_pagerank_5m
PROBES["sq_train_300k"] = probe_sq_train_300k
PROBES["knn_sq_300k"] = probe_knn_sq_300k
PROBES["nb_1m"] = probe_nb_1m


def probe_bfs_5m(spark, edges=5_000_000, nodes=1_000_000):
    """BFS (round 8) on a 5M-edge random digraph over 1M nodes from a
    single source. A sparse uniform random graph reaches almost every
    node within ~log(n)/log(avg_deg) hops, so the probe exercises the
    frontier's growth-then-collapse shape: early rounds tiny, middle
    rounds corpus-sized, tail rounds empty out — the pattern whose
    per-round cost tracks FRONTIER out-edges, not graph size."""
    from big_data_in_agriculture_spark.operators.graph import bfs_levels

    e = spark.range(edges).select(
        F.pmod(F.xxhash64("id"), F.lit(nodes)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(nodes)).alias("dst"),
    )
    srcs = spark.range(1).select(F.lit(0).cast("long").alias("node"))
    out = bfs_levels(e, srcs, max_depth=15)
    return out.agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.max("level").alias("max_level"),
        F.sum("level").alias("chk"),
    )


PROBES["bfs_5m"] = probe_bfs_5m


def probe_dbscan_200k(spark, n=200_000):
    """DBSCAN (round 8) at 200k points: 100 blobs planted in a
    [0,100)^2 field of uniform noise. The claim under test is the
    blocking's cost shape — pair volume tracks LOCAL density (points
    per eps-cell), so the 3x3 cell join emits blob pairs + sparse
    noise pairs, never the brute-force n^2 grid.

    TWO honest negative findings from larger geometries, kept for
    round 9: (1) at ~160 points per eps-cell (2M points, blobs packed
    into 0.05-wide boxes) the ~1,400 candidates per point OOM'd a
    default-heap aggregation — per-cell density is the knob that
    bounds DBSCAN's cost, and pathological density wants a smaller
    eps or a pre-aggregated grid, not a bigger executor; (2) at 1M
    points with 2k-point blobs (~6/cell) the core-core component pass
    ran ~22 minutes and then died with a JVM 'BigInteger would
    overflow supported range' raised from a round's localCheckpoint
    (llm.py:723) — the pointer-jump loop was still iterating far past
    its expected O(log diameter) round count on this topology, which
    needs a dedicated investigation (likely fix: collapse each blob's
    dense core to a representative via the grid cell BEFORE the
    component pass, the collapse_exact move from minhash)."""
    from big_data_in_agriculture_spark.operators.similarity import dbscan_2d

    blob = F.pmod(F.xxhash64("id"), F.lit(100)).cast("double")
    ux = F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_000_000)) / 1e6
    uy = F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1_000_000)) / 1e6
    dense = F.col("id") % 10 < 2  # 20% in blobs, 80% scattered
    pts = spark.range(n).select(
        F.col("id"),
        F.when(dense, blob + ux * 0.25).otherwise(ux * 100.0).alias("x"),
        F.when(dense, blob + uy * 0.25).otherwise(uy * 100.0).alias("y"),
    )
    out = dbscan_2d(pts, eps=0.01, min_pts=5)
    return out.groupBy("role").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("cluster_id").alias("n_clusters"),
    )


def probe_holt_100k(spark, keys=100_000, days=60):
    """Holt forecast (round 8) at 100k keys x 60-day series (6M
    observations): the JVM-side fold's cost is one key shuffle + one
    collect_list + a 60-step codegen'd fold per key — contrast the
    pandas-island route, which pays the Arrow hop per group."""
    from big_data_in_agriculture_spark.operators.timeseries import (
        holt_forecast,
    )

    daily = spark.range(keys * days).select(
        (F.col("id") % keys).alias("key"),
        F.timestamp_add(
            "DAY", (F.col("id") / keys).cast("int"),
            F.lit("2024-01-01").cast("timestamp"),
        ).alias("day"),
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("value"),
    )
    out = holt_forecast(daily, horizon=7)
    return out.agg(
        F.count(F.lit(1)).alias("rows"), F.sum("yhat").alias("chk")
    )


PROBES["dbscan_200k"] = probe_dbscan_200k
PROBES["holt_100k"] = probe_holt_100k


def probe_dbscan_1m(spark, n=1_000_000):
    """The round-8 KILLER geometry #2, re-probed after the round-9
    cell collapse: 1M points, 100 blobs of 2k points each (20% blob
    mass). Round 8's component pass ran on ~20M core-core POINT edges
    and died after ~22 min; the collapse runs it on distinct CELL-pair
    edges instead (one node per occupied ε/√2 cell), which shrinks the
    graph by the per-cell occupancy factor."""
    from big_data_in_agriculture_spark.operators.similarity import dbscan_2d

    blob = F.pmod(F.xxhash64("id"), F.lit(100)).cast("double")
    ux = F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_000_000)) / 1e6
    uy = F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1_000_000)) / 1e6
    dense = F.col("id") % 10 < 2
    pts = spark.range(n).select(
        F.col("id"),
        F.when(dense, blob + ux * 0.25).otherwise(ux * 100.0).alias("x"),
        F.when(dense, blob + uy * 0.25).otherwise(uy * 100.0).alias("y"),
    )
    out = dbscan_2d(pts, eps=0.01, min_pts=5)
    return out.groupBy("role").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("cluster_id").alias("n_clusters"),
    )


def probe_dbscan_2m_packed(spark, n=2_000_000):
    """The round-8 KILLER geometry #1, re-probed after round 9: 2M
    points with 4k-point blobs packed into 0.05-wide boxes (~160 per
    ε-cell on the old grid; ~80 per ε/√2 cell now). Round 8 OOM'd
    materializing ~1,400 candidates/point through a localCheckpoint;
    round 9 never materializes pairs (candidates stream into
    aggregates), auto-cores dense cells WITHOUT generating their
    neighbor-count pairs at all, and runs components on collapsed
    cell reps. The occupancy sits under the max_cell_pts=5000
    circuit breaker, which is the documented cost-model bound."""
    from big_data_in_agriculture_spark.operators.similarity import dbscan_2d

    blob = F.pmod(F.xxhash64("id"), F.lit(100)).cast("double")
    ux = F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_000_000)) / 1e6
    uy = F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1_000_000)) / 1e6
    dense = F.col("id") % 10 < 2
    pts = spark.range(n).select(
        F.col("id"),
        F.when(dense, blob + ux * 0.05).otherwise(ux * 100.0).alias("x"),
        F.when(dense, blob + uy * 0.05).otherwise(uy * 100.0).alias("y"),
    )
    out = dbscan_2d(pts, eps=0.01, min_pts=5)
    return out.groupBy("role").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("cluster_id").alias("n_clusters"),
    )


def probe_holt_10y_hourly(spark, keys=500, hours=87_600):
    """Holt at PATHOLOGICAL series length (round-9 ask): 500 keys ×
    10 years of hourly observations (43.8M rows; ~88k observations ≈
    a ~1.4 MB collect_list row per key). This is where the
    'per-key series must stay row-bounded' gapfill assumption bends —
    the probe decides whether the single-row fold survives multi-MB
    rows or the bound goes into SCALE.md."""
    from big_data_in_agriculture_spark.operators.timeseries import (
        holt_forecast,
    )

    series = spark.range(keys * hours).select(
        (F.col("id") % keys).alias("key"),
        F.timestamp_add(
            "HOUR", (F.col("id") / keys).cast("int"),
            F.lit("2015-01-01").cast("timestamp"),
        ).alias("day"),
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("value"),
    )
    out = holt_forecast(series, horizon=7)
    return out.agg(
        F.count(F.lit(1)).alias("rows"), F.sum("yhat").alias("chk")
    )


PROBES["dbscan_1m"] = probe_dbscan_1m
PROBES["dbscan_2m_packed"] = probe_dbscan_2m_packed
PROBES["holt_10y_hourly"] = probe_holt_10y_hourly


def _random_digraph(spark, edges, src_nodes, all_nodes):
    """5M-edge synthetic digraph, the pagerank_5m geometry: sources
    draw from [0, src_nodes), destinations from [0, all_nodes)."""
    return spark.range(edges).select(
        F.pmod(F.xxhash64("id"), F.lit(src_nodes)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(all_nodes)).alias("dst"),
    )


def probe_ppr_5m(spark, edges=5_000_000, src_nodes=300_000,
                 all_nodes=500_000, seeds=1_000):
    """Personalized PageRank (round 9) at the pagerank_5m geometry:
    5M edges, 40% dangling tail, a 1k-node seed set, 4 rounds. Same
    per-round cost as pagerank (one edge join + one node-keyed agg +
    a 1-row dangling broadcast); the is_src flag rides the rank rows,
    so seeding adds no per-round join."""
    from big_data_in_agriculture_spark.operators.graph import (
        personalized_pagerank,
    )

    e = _random_digraph(spark, edges, src_nodes, all_nodes)
    srcs = spark.range(seeds).select(F.col("id").alias("node"))
    out = personalized_pagerank(e, srcs, iterations=4)
    return out.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("rank_e12").alias("mass_chk"),
    )


def probe_kcore_5m(spark, edges=5_000_000, nodes=1_000_000, k=11):
    """k-core peeling (round 9) on a 5M-edge random graph over 1M
    nodes (symmetrized degree ~10), FIXPOINT mode: k=11 sits just
    above the mean degree, so peeling removes mass every round for
    many rounds — the worst realistic shape (each round = one degree
    agg + two semi-joins, edge-keyed shuffles)."""
    from big_data_in_agriculture_spark.operators.graph import kcore

    e = _random_digraph(spark, edges, nodes, nodes)
    out = kcore(e, k=k, max_iter=60)
    return out.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("core_degree").alias("deg_chk"),
    )


def probe_core_numbers_5m(spark, edges=5_000_000, nodes=1_000_000):
    """Full coreness decomposition (round 10) at the same 5M-edge
    geometry, FIXPOINT mode: per round one edge equi-join + one
    node-keyed window sort over ~10M (node, neighbor-value) rows —
    the h-index tail on a Poisson graph is short, but each round
    carries the full edge list, so this is the cost that extrapolates."""
    from big_data_in_agriculture_spark.operators.graph import core_numbers

    e = _random_digraph(spark, edges, nodes, nodes)
    out = core_numbers(e, max_iter=60)
    return out.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("core").alias("core_chk"),
    )


def probe_sssp_5m(spark, edges=5_000_000, nodes=1_000_000, hops=8):
    """Weighted SSSP (round 9, round-10 frontier form) on 5M edges /
    1M nodes from 100 sources, 8-hop bound. With frontier relaxation
    the early rounds touch the whole wave and the late rounds only
    the improving fringe — on this geometry the wave covers the graph
    by ~hop 4, so rounds 5-8 should be near-free (the naive form paid
    hops x |E| regardless)."""
    from big_data_in_agriculture_spark.operators.graph import sssp

    e = _random_digraph(spark, edges, nodes, nodes).select(
        "src", "dst",
        (F.pmod(F.xxhash64("src", "dst"), F.lit(1000)) + 1).alias("w"),
    )
    srcs = spark.range(100).select(F.col("id").alias("node"))
    out = sssp(e, srcs, max_hops=hops)
    return out.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("dist").alias("dist_chk"),
    )


def probe_clustering_5m(spark, edges=5_000_000, nodes=1_000_000):
    """Local clustering coefficient (round 9, round-10 degree-ordered
    orientation) on a 5M-edge random graph: post-orientation wedges
    ~ Sigma C(outdeg,2) with outdeg ~ deg/2, tens of millions of
    candidates streamed into one aggregate — never materialized."""
    from big_data_in_agriculture_spark.operators.graph import (
        clustering_coefficient,
    )

    e = _random_digraph(spark, edges, nodes, nodes)
    out = clustering_coefficient(e)
    return out.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("n_triangles").alias("tri_chk"),
    )


def probe_clustering_5m_hub(spark, edges=5_000_000, nodes=1_000_000,
                            hub_deg=50_000):
    """The skewed variant the round-9 verdict asked for: same 5M-edge
    graph PLUS a planted 50k-degree hub. Id-ordered enumeration would
    stream ~C(50k,2) = 1.25e9 wedges out of the hub alone; degree
    ordering points every hub edge INTO it (max degree ⇒ last in the
    total order), so the hub generates ZERO wedges and the probe
    should time within noise of probe_clustering_5m."""
    from big_data_in_agriculture_spark.operators.graph import (
        clustering_coefficient,
    )

    e = _random_digraph(spark, edges, nodes, nodes)
    hub = spark.range(hub_deg).select(
        F.lit(2_000_000_000).alias("src"), F.col("id").alias("dst")
    )
    out = clustering_coefficient(e.unionByName(hub))
    return out.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("n_triangles").alias("tri_chk"),
    )


def probe_linkpred_2m(spark, edges=2_000_000, nodes=400_000):
    """Link prediction (round 9) at 2M edges / 400k nodes (degree
    ~10): Sigma C(deg,2) ~ 20M shared-neighbor wedges streamed into
    the per-pair aggregate, min_common=2 bounding the emitted set.
    The wedge here is irreducibly quadratic in hub degree (see the
    hub probe) — this is the benign-geometry cost."""
    from big_data_in_agriculture_spark.operators.graph import (
        link_prediction,
    )

    e = _random_digraph(spark, edges, nodes, nodes)
    out = link_prediction(e, min_common=2)
    return out.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("common_neighbors").alias("cn_chk"),
    )


def probe_linkpred_hub_breaker(spark, edges=2_000_000, nodes=400_000,
                               hub_deg=50_000):
    """Planted 50k-degree hub: Sigma C(deg,2) gains C(50k,2) ~ 1.25e9
    wedges from the hub alone, crossing the 1e9 default max_wedges —
    the breaker must REFUSE (one degree aggregate, seconds) instead of
    launching the quadratic join. The probe times the refusal path."""
    from big_data_in_agriculture_spark.operators.graph import (
        link_prediction,
    )

    e = _random_digraph(spark, edges, nodes, nodes)
    hub = spark.range(hub_deg).select(
        F.lit(2_000_000_000).alias("src"), F.col("id").alias("dst")
    )
    try:
        link_prediction(e.unionByName(hub), min_common=2)
    except ValueError as exc:
        assert "max_wedges" in str(exc)
        return spark.range(1).select(F.lit(1).alias("breaker_tripped"))
    raise AssertionError("hub breaker did not trip")


def probe_lpa_5m(spark, edges=5_000_000, nodes=1_000_000):
    """Label propagation (round 10) at the 5M-edge geometry, FIXPOINT
    mode: per round one edge equi-join + one (node, label) count + one
    argmax window — node-keyed shuffles, label churn decides the round
    count (self-vote inertia keeps it short on most graphs)."""
    from big_data_in_agriculture_spark.operators.graph import (
        label_propagation,
    )

    e = _random_digraph(spark, edges, nodes, nodes)
    out = label_propagation(e, max_iter=60)
    return out.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.count_distinct("community").alias("n_comm"),
    )


def probe_hw_10y_hourly(spark, keys=500, hours=87_600, period=24):
    """Additive Holt-Winters at the Holt pathological geometry
    (round-10 ask): 500 keys x 10 years of hourly observations (43.8M
    rows, ~88k-element collect per key), period-24 seasonality — the
    fold state is (l, b, s[24]) instead of Holt's two scalars, so this
    probes whether the wider accumulator bends the single-row fold."""
    from big_data_in_agriculture_spark.operators.timeseries import (
        holt_winters_forecast,
    )

    series = spark.range(keys * hours).select(
        (F.col("id") % keys).alias("key"),
        F.timestamp_add(
            "HOUR", (F.col("id") / keys).cast("int"),
            F.lit("2015-01-01").cast("timestamp"),
        ).alias("day"),
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("value"),
    )
    out = holt_winters_forecast(series, period=period, horizon=24)
    return out.agg(
        F.count(F.lit(1)).alias("rows"), F.sum("yhat").alias("chk")
    )


def probe_seasonal_10y_hourly(spark, keys=500, hours=87_600):
    """Classical seasonal decomposition at the same pathological
    geometry: unlike the forecasts' single-row fold, the trend is a
    per-key WINDOW sum over 43.8M rows (partition sort, no collect),
    and the slot effects are one order-free groupBy — the memory shape
    that should scale where a fold eventually cannot."""
    from big_data_in_agriculture_spark.operators.timeseries import (
        seasonal_decompose,
    )

    series = spark.range(keys * hours).select(
        (F.col("id") % keys).alias("key"),
        F.timestamp_add(
            "HOUR", (F.col("id") / keys).cast("int"),
            F.lit("2015-01-01").cast("timestamp"),
        ).alias("day"),
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("value"),
    )
    out = seasonal_decompose(series, period=7)
    return out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("residual").alias("chk"),
    )


PROBES["ppr_5m"] = probe_ppr_5m
PROBES["kcore_5m"] = probe_kcore_5m
PROBES["core_numbers_5m"] = probe_core_numbers_5m
PROBES["sssp_5m"] = probe_sssp_5m
PROBES["clustering_5m"] = probe_clustering_5m
PROBES["clustering_5m_hub"] = probe_clustering_5m_hub
PROBES["linkpred_2m"] = probe_linkpred_2m
PROBES["linkpred_hub_breaker"] = probe_linkpred_hub_breaker
PROBES["lpa_5m"] = probe_lpa_5m


def _ts_probe_series(spark, keys, hours):
    return spark.range(keys * hours).select(
        (F.col("id") % keys).alias("key"),
        F.timestamp_add(
            "HOUR", (F.col("id") / keys).cast("int"),
            F.lit("2015-01-01").cast("timestamp"),
        ).alias("day"),
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("value"),
    )


def probe_acf_43m(spark, keys=500, hours=87_600, max_lag=24):
    """Autocorrelation at the shared pathological timeseries
    geometry: 43.8M rows / 500 keys, lags 1..24. Round-11 form: one
    per-key window sort evaluating all 24 lead() columns in a single
    pass + a narrow posexplode that partial-aggregates map-side — the
    shuffle stays corpus-sized (the round-10 self-equi-join form
    streamed ~1.05B thin rows through the join: 77.3 s; this is the
    de-exploded replacement)."""
    from big_data_in_agriculture_spark.operators.timeseries import (
        autocorrelation,
    )

    out = autocorrelation(
        _ts_probe_series(spark, keys, hours), max_lag=max_lag
    )
    return out.agg(
        F.count(F.lit(1)).alias("rows"), F.sum("acf").alias("chk")
    )


def probe_mad_43m(spark, keys=500, hours=87_600):
    """MAD outlier gate (round 10) at 43.8M rows / 500 keys: two
    value-ordered window ranks + two key-sized aggregates + two joins
    — the per-key sort is the cost, never a pair blowup."""
    from big_data_in_agriculture_spark.operators.timeseries import (
        mad_outliers,
    )

    out = mad_outliers(_ts_probe_series(spark, keys, hours))
    return out.agg(
        F.count(F.lit(1)).alias("rows"), F.sum("score").alias("chk")
    )


PROBES["acf_43m"] = probe_acf_43m
PROBES["mad_43m"] = probe_mad_43m
PROBES["hw_10y_hourly"] = probe_hw_10y_hourly
PROBES["seasonal_10y_hourly"] = probe_seasonal_10y_hourly


def _edit_names(spark, names, suffix_len, saturate):
    """'cust-' + md5-hex suffix; with ``saturate`` every name also
    carries ALL 16 hex chars as a 16-char tail, so every UNIGRAM
    char-class mask is IDENTICAL across the corpus — the round-10
    prefilter passes everything and only the round-11 bigram mask
    discriminates. The tail is a per-name PERMUTATION (adjacent hex
    pairs swapped by the id's low 8 bits, 256 variants), not a
    constant: a constant tail would hand a whole blocking segment one
    bucket and measure the breaker instead of the filter."""
    name = F.concat(
        F.lit("cust-"),
        F.substring(F.md5(F.col("id").cast("string")), 1, suffix_len),
    )
    if saturate:
        chars = "0123456789abcdef"
        pieces = []
        for b in range(8):
            c1, c2 = chars[2 * b], chars[2 * b + 1]
            pieces.append(
                F.expr(
                    f"case when (id div {1 << b}) % 2 = 1 "
                    f"then '{c2}{c1}' else '{c1}{c2}' end"
                )
            )
        name = F.concat(name, *pieces)
    return spark.range(names).select("id", name.alias("name"))


def probe_edit_10x(spark, names=150_000):
    """edit_join at 10x the sf0.1 linkage corpus (150k x 150k) with
    an ADVERSARIALLY UNIFORM mask distribution: every name shares the
    'cust-' prefix AND carries the full hex alphabet, so all unigram
    char-class masks are equal and the round-10 prefilter is dead.
    Segment 0 retains md5 entropy (the name is long enough that the
    first blocking segment extends past the literal prefix), so the
    blocking join itself stays keyed; the BIGRAM mask (round 11) is
    the only in-stage filter standing between the join and the
    levenshtein DP. Dirty side = one substitution inside the md5
    region per name -> ~150k true pairs expected out."""
    from big_data_in_agriculture_spark.operators.relational import (
        edit_join,
    )

    base = _edit_names(spark, names, suffix_len=16, saturate=True)
    clean = base.select(F.col("id").alias("custkey"), "name")
    dirty = base.select(
        (F.col("id") + 10_000_000).alias("variant_id"),
        F.concat(
            F.expr("substr(name, 1, 5 + pmod(id, 16))"),
            F.lit("Z"),
            F.expr("substr(name, 7 + pmod(id, 16), 100)"),
        ).alias("name"),
    )
    out = edit_join(
        clean, dirty, "custkey", "variant_id", "name", "name", k=2
    )
    return out.agg(F.count(F.lit(1)).alias("pairs"))


def probe_edit_degenerate_breaker(spark, names=150_000):
    """The irreducible edit_join geometry: the sf0.1 gate name shape
    ('cust-' + 10 hex = 15 chars, so blocking segment 0 IS the
    literal prefix) at 10x. The (l=15, idx=0, seg='cust-') bucket
    holds all 150k x 150k pairs — quadratic on ONE shuffle key, one
    reducer, unfixable by any post-join filter. The max_candidates
    breaker must refuse with a cost model naming the hot bucket, in
    seconds."""
    from big_data_in_agriculture_spark.operators.relational import (
        edit_join,
    )

    base = _edit_names(spark, names, suffix_len=10, saturate=False)
    clean = base.select(F.col("id").alias("custkey"), "name")
    dirty = base.select(
        (F.col("id") + 10_000_000).alias("variant_id"), "name"
    )
    try:
        edit_join(
            clean, dirty, "custkey", "variant_id", "name", "name", k=2
        ).count()
    except ValueError as e:
        assert "max_candidates" in str(e) and "cust-" in str(e), e
        return spark.range(1).select(F.lit(1).alias("breaker_tripped"))
    raise AssertionError("degenerate-bucket breaker did not trip")


PROBES["edit_10x"] = probe_edit_10x
PROBES["edit_degenerate_breaker"] = probe_edit_degenerate_breaker


def probe_q10_60m(spark, li=60_000_000, orders=15_000_000, cust=1_500_000):
    """TPC-H Q10 SHAPE at 100× sf0.1 (r12 scaling row): returns-
    filtered 60M-row fact joined to 15M orders and 1.5M customers,
    revenue per customer, top 20 — the representative join+agg
    headline query at a volume where parallelism should pay."""
    lineitem = spark.range(li).select(
        (F.col("id") % orders).alias("l_orderkey"),
        ((F.col("id") % 10000) / 100.0).alias("l_extendedprice"),
        ((F.col("id") % 11) / 100.0).alias("l_discount"),
        F.when(F.col("id") % 4 == 0, F.lit("R"))
        .otherwise(F.lit("N"))
        .alias("l_returnflag"),
    )
    orders_df = spark.range(orders).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % cust).alias("o_custkey"),
        (F.col("id") % 730).cast("int").alias("o_day"),
    )
    customer = spark.range(cust).select(
        F.col("id").alias("c_custkey"),
        (F.col("id") % 25).alias("c_nationkey"),
    )
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(orders_df, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("o_day") < 180)
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def probe_era5_chain_50m(spark, rows=50_000_000, regions=500, hours=8760):
    """era5_chain SHAPE at 500× sf0.1 (r12 scaling row): two chained
    (region, time) aggregates — hourly spatial mean then daily
    rollup — over a 50M-row synthetic grid."""
    grid = spark.range(rows).select(
        (F.col("id") % regions).alias("region"),
        (F.col("id") % hours).alias("hr"),
        ((F.col("id") % 4000) / 100.0).alias("t2m"),
        ((F.col("id") % 97) / 10.0).alias("tp"),
    )
    hourly = grid.groupBy("region", "hr").agg(
        F.avg("t2m").alias("t2m"), F.avg("tp").alias("tp")
    )
    return (
        hourly.withColumn("day", F.expr("hr div 24"))
        .groupBy("region", "day")
        .agg(
            F.avg("t2m").cast("float").alias("t2m_mean"),
            F.min("t2m").cast("float").alias("t2m_min"),
            F.max("t2m").cast("float").alias("t2m_max"),
            F.sum("tp").cast("float").alias("tp_sum"),
        )
    )


PROBES["q10_60m"] = probe_q10_60m
PROBES["era5_chain_50m"] = probe_era5_chain_50m

if __name__ == "__main__":
    sys.exit(main())
