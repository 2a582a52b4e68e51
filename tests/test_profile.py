"""Table profiling: exact stats + sketch accuracy bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_in_agriculture_spark.operators import profile


def test_profile_table_exact(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", None), (3, "b", 30.0), (4, None, 40.0)],
        ["id", "cat", "v"],
    )
    out = {r["column"]: r for r in profile.profile_table(df).collect()}
    assert out["id"]["n_rows"] == 4 and out["id"]["n_null"] == 0
    assert out["id"]["n_distinct"] == 4
    assert out["id"]["min_val"] == 1.0 and out["id"]["max_val"] == 4.0
    assert out["cat"]["n_null"] == 1 and out["cat"]["n_distinct"] == 2
    assert out["cat"]["min_val"] is None  # non-numeric: no range
    assert out["v"]["n_non_null"] == 3 and out["v"]["max_val"] == 40.0


def test_approx_profile_within_bounds(spark):
    import os
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as em

    # _t handles the TIMESTAMP(NANOS) ts column
    ev = em._t(spark, "/root/testdata/sf0.01", "events").select(
        "event_type", "user_id", "value"
    )
    out = {r["event_type"]: r for r in profile.approx_profile(
        ev, "event_type", "value", "user_id"
    ).collect()}
    exact = {r["event_type"]: (r["nd"], r["p50"]) for r in ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("nd"),
        F.expr("percentile(value, 0.5)").alias("p50"),
    ).collect()}
    for et, row in out.items():
        nd_exact, p50_exact = exact[et]
        # HLL++ at rsd=0.05: allow 3 sigma
        assert abs(row["approx_distinct"] - nd_exact) <= max(3, 0.15 * nd_exact)
        # percentile_approx at accuracy 10k on ~12k rows ≈ exact
        assert abs(row["value_percentiles"][0] - p50_exact) <= 2.0


def test_robust_outliers_flags_extremes_only(spark):
    from big_data_in_agriculture_spark.operators.profile import robust_outliers

    rows = [(i, "g", float(v)) for i, v in enumerate([10, 11, 12, 13, 14, 1000])]
    df = spark.createDataFrame(rows, ["event_id", "key", "value"])
    out = robust_outliers(df, "key", "value", z_thresh=3.5).collect()
    assert [r["event_id"] for r in out] == [5]
    assert out[0]["robust_z"] > 3.5


def test_key_skew_flags_hot_key(spark):
    from big_data_in_agriculture_spark.operators.profile import key_skew
    from pyspark.sql import functions as F

    # 1000 rows: key 'hot' holds 500, 50 cold keys hold 10 each
    df = spark.range(1000).select(
        F.when(F.col("id") < 500, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 50).cast("string")))
        .alias("k")
    )
    out = key_skew(df, ["k"], top=3).collect()
    assert out[0]["k"] == "hot" and out[0]["n_rows"] == 500
    assert abs(out[0]["share"] - 0.5) < 1e-6
    # 51 keys, mean load ~19.6 -> hot ratio ~25.5
    assert out[0]["skew_ratio"] > 20
    assert out[1]["n_rows"] == 10  # deterministic tie-break by key
    assert out[1]["k"] == "k0" and out[2]["k"] == "k1"


def test_key_skew_uniform_ratio_one(spark):
    from big_data_in_agriculture_spark.operators.profile import key_skew
    from pyspark.sql import functions as F

    df = spark.range(100).select((F.col("id") % 10).alias("k"))
    out = key_skew(df, ["k"], top=10).collect()
    assert all(abs(r["skew_ratio"] - 1.0) < 1e-6 for r in out)
    assert all(r["n_rows"] == 10 for r in out)


class TestHllRollup:
    def test_union_matches_direct_sketch_and_bounds(self, spark):
        from big_data_in_agriculture_spark.operators.profile import hll_rollup

        # 4 groups × overlapping member ranges; true global distinct 30k
        df = spark.range(120_000).select(
            (F.col("id") % 4).alias("g"),
            (F.col("id") % 30_000).alias("member"),
        )
        out = {r["group"]: r for r in hll_rollup(df, "g", "member").collect()}
        # per-group true distinct = 30k/4 (members stripe across groups)
        for g in ("0", "1", "2", "3"):
            est = out[g]["approx_distinct"]
            assert abs(est - 7500) / 7500 < 0.05, (g, est)
        # union row: merged sketches estimate the TRUE global distinct —
        # NOT the sum of per-group estimates (~30k vs 4x7500 would agree
        # here; the overlap case below separates the two)
        assert abs(out["__all__"]["approx_distinct"] - 30_000) / 30_000 < 0.05
        assert out["__all__"]["n_rows"] == 120_000

    def test_union_dedups_across_groups(self, spark):
        from big_data_in_agriculture_spark.operators.profile import hll_rollup

        # both groups contain the SAME 5000 members: per-group ≈ 5000,
        # naive sum ≈ 10000, correct union ≈ 5000
        df = spark.range(10_000).select(
            (F.col("id") % 2).alias("g"), (F.col("id") % 5_000).alias("m")
        )
        out = {r["group"]: r for r in hll_rollup(df, "g", "m").collect()}
        assert abs(out["__all__"]["approx_distinct"] - 5_000) / 5_000 < 0.05


class TestGovernance:
    def test_k_anonymity_flags_small_groups(self, spark):
        rows = [("us", "a")] * 5 + [("us", "b")] * 2 + [("de", "a")]
        df = spark.createDataFrame(rows, ["country", "zip"])
        out = {
            (r["country"], r["zip"]): r["group_size"]
            for r in profile.k_anonymity(df, ["country", "zip"], k=5).collect()
        }
        assert out == {("us", "b"): 2, ("de", "a"): 1}

    def test_referential_check_finds_orphans(self, spark):
        child = spark.createDataFrame(
            [(1, "x"), (1, "y"), (2, "z"), (9, "w")], ["fk", "v"]
        )
        parent = spark.createDataFrame([(1,), (2,)], ["pk"])
        out = {
            r["orphan_key"]: r["n_child_rows"]
            for r in profile.referential_check(
                child, parent, "fk", "pk"
            ).collect()
        }
        assert out == {9: 1}

    def test_referential_check_clean_is_empty(self, spark):
        child = spark.createDataFrame([(1, "x")], ["fk", "v"])
        parent = spark.createDataFrame([(1,), (2,)], ["pk"])
        assert profile.referential_check(child, parent, "fk", "pk").count() == 0


def test_robust_outliers_constant_group_flags_nothing(spark):
    """A group whose MAD is zero (constant values) must yield no rows —
    not an ANSI DIVIDE_BY_ZERO — matching the SQL oracle's
    NULL-on-div-0 behavior."""
    from big_data_in_agriculture_spark.operators.profile import (
        robust_outliers,
    )

    df = spark.createDataFrame(
        [("const", 5.0)] * 10 + [("vary", float(v)) for v in
                                 [1, 2, 3, 2, 1, 2, 3, 2, 1, 400]],
        ["k", "v"],
    )
    out = robust_outliers(df, "k", "v", z_thresh=3.5).collect()
    assert all(r["k"] == "vary" for r in out)
    assert len(out) == 1  # the planted 400


def test_value_histogram_constant_column_single_bin(spark):
    """min == max collapses every value into bin 0 on both engines
    (Spark used to raise; DuckDB's NULL-ignoring least() used to pick
    the LAST bin)."""
    from big_data_in_agriculture_spark.operators.profile import (
        value_histogram,
    )

    df = spark.createDataFrame([(7.0,)] * 5, ["value"])
    rows = value_histogram(df, "value", bins=20).collect()
    assert len(rows) == 1
    assert rows[0]["bin_id"] == 0
    assert rows[0]["n"] == 5


def test_hll_rollup_empty_input_union_row(spark):
    """The '__all__' union row over an empty input counts 0 rows (not
    NULL) with a 0 distinct estimate — the shape the bounded oracle
    checks against count(*)."""
    from big_data_in_agriculture_spark.operators.profile import hll_rollup

    empty = spark.createDataFrame([], "event_type string, user_id long")
    rows = hll_rollup(empty, "event_type", "user_id").collect()
    assert [(r["group"], r["n_rows"], r["approx_distinct"]) for r in rows] == [
        ("__all__", 0, 0)
    ]


def test_nan_measurements_excluded_from_gates_and_bins(spark):
    """NaN values are treated as missing in outlier gates and
    histograms (engine NaN comparison/binning semantics diverge);
    NULL values keep their pre-existing behavior."""
    from big_data_in_agriculture_spark.operators.profile import (
        robust_outliers,
        value_histogram,
    )

    df = spark.createDataFrame(
        [("k", float(v)) for v in [1, 2, 3, 2, 1, 2, 3, 2, 1, 400]]
        + [("k", float("nan")), ("k", None)],
        "k string, v double",
    )
    out = robust_outliers(df, "k", "v", z_thresh=3.5).collect()
    assert [r["v"] for r in out] == [400.0]

    hist = value_histogram(df.select(F.col("v").alias("value")), "value")
    rows = hist.collect()
    assert sum(r["n"] for r in rows) == 10  # NaN and NULL not binned


class TestBloom:
    """Bloom-filter membership: build/probe/merge contracts."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_no_false_negatives(self, spark):
        """Every history fingerprint MUST probe as maybe_dup=true —
        the defining Bloom guarantee, independent of sizing."""
        hist = self._docs(
            spark, [(i, f"history document number {i}") for i in range(40)]
        )
        out = profile.bloom_dedup(hist, hist).collect()
        assert len(out) == 40
        assert all(r["maybe_dup"] for r in out)

    def test_formatting_variants_hit(self, spark):
        """Identity is the normalized fingerprint: case/whitespace
        variants of a history doc are caught, genuinely-new text
        (at this sizing) is proven novel."""
        hist = self._docs(spark, [(0, "The Quick Brown Fox")])
        probe = self._docs(
            spark,
            [(1, "the   quick  brown fox"), (2, "an entirely different doc")],
        )
        out = {r["doc_id"]: r["maybe_dup"] for r in
               profile.bloom_dedup(probe, hist).collect()}
        assert out[1] is True
        assert out[2] is False

    def test_merge_is_bit_or(self, spark):
        """Two per-batch filters OR'd word-wise == the filter built
        over the union — the incremental-maintenance contract."""
        a = self._docs(spark, [(i, f"batch a doc {i}") for i in range(20)])
        b = self._docs(spark, [(i, f"batch b doc {i}") for i in range(20)])
        from big_data_in_agriculture_spark.functions import text as TX

        def words(df):
            keys = df.select(TX.fingerprint("text").alias("fp"))
            return profile.bloom_build(keys, "fp")

        merged = (
            words(a).unionAll(words(b))
            .groupBy("word_idx")
            .agg(F.bit_or("bits").alias("bits"))
        )
        direct = words(a.unionAll(b))
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, direct.collect())
        )

    def test_empty_history_proves_everything_novel(self, spark):
        hist = self._docs(spark, []).filter(F.lit(False))
        probe = self._docs(spark, [(1, "anything"), (2, "at all")])
        out = profile.bloom_dedup(probe, hist).collect()
        assert len(out) == 2
        assert not any(r["maybe_dup"] for r in out)

    def test_null_text_excluded(self, spark):
        hist = self._docs(spark, [(0, "seen")])
        probe = self._docs(spark, [(1, None), (2, "seen")])
        out = {r["doc_id"]: r["maybe_dup"] for r in
               profile.bloom_dedup(probe, hist).collect()}
        assert out == {2: True}

    def test_positions_match_python_reference(self, spark):
        """The (h1 + i*h2) mod m positions Spark computes equal a
        from-scratch hashlib replay — the same fixed point the DuckDB
        oracle uses, asserted here without an engine in the loop."""
        import hashlib

        text = "reference probe doc"
        norm = " ".join(text.lower().split())
        fp = hashlib.sha256(norm.encode()).hexdigest()
        h1 = int(fp[0:15], 16)
        h2 = int(fp[16:24], 16) * 2 + 1
        expect = sorted({(h1 + i * h2) % 4032 for i in range(5)})

        keys = spark.createDataFrame([(fp,)], "fp string")
        bits = set()
        for r in profile.bloom_build(keys, "fp").collect():
            w, bs = r["word_idx"], r["bits"]
            for j in range(63):
                if bs & (1 << j):
                    bits.add(w * 63 + j)
        assert sorted(bits) == expect


class TestCountMin:
    """Count-Min sketch: estimation guarantee + mergeability."""

    def _keys(self, spark, occurrences):
        rows = [(k,) for k, n in occurrences.items() for _ in range(n)]
        return spark.createDataFrame(rows, "k string")

    def test_never_underestimates_and_unseen_is_zero(self, spark):
        occ = {f"key{i}": (i % 7) + 1 for i in range(40)}
        df = self._keys(spark, occ)
        # width 8 forces heavy collisions — the interesting regime
        sk = profile.cms_build(df, "k", depth=4, width=8)
        q = spark.createDataFrame(
            [(k,) for k in list(occ) + ["never-seen"]], "k string"
        )
        est = {r["k"]: r["cms_estimate"] for r in
               profile.cms_estimate(q, sk, "k", depth=4, width=8).collect()}
        assert all(est[k] >= n for k, n in occ.items())
        assert any(est[k] > n for k, n in occ.items())  # collisions real
        assert est["never-seen"] >= 0  # never negative; typically 0 at
        # sane widths — at width 8 every cell is occupied, so only the
        # structural guarantee (>= true count of 0) holds

    def test_merge_is_cellwise_sum(self, spark):
        a = self._keys(spark, {"x": 3, "y": 2})
        b = self._keys(spark, {"x": 1, "z": 5})
        both = a.unionAll(b)

        def cells(df):
            return {
                (r["row_idx"], r["col_idx"]): r["cnt"]
                for r in profile.cms_build(df, "k", 4, 32).collect()
            }

        merged: dict = {}
        for part in (cells(a), cells(b)):
            for cell, n in part.items():
                merged[cell] = merged.get(cell, 0) + n
        assert merged == cells(both)

    def test_null_keys_excluded(self, spark):
        df = spark.createDataFrame([("x",), (None,), ("x",)], "k string")
        sk = profile.cms_build(df, "k", 4, 32)
        total = sum(r["cnt"] for r in sk.collect())
        assert total == 2 * 4  # two occurrences x depth rows, no NULL


def test_cms_estimate_excludes_null_keys(spark):
    """NULL query keys are excluded at entry (mirroring cms_build's
    NULL-carries-no-frequency convention) rather than coming back with
    a spurious estimate of 0 via all-NULL md5 cell indices."""
    sk = profile.cms_build(
        spark.createDataFrame([("a",), ("a",), ("b",)], ["k"]),
        "k", depth=4, width=8,
    )
    q = spark.createDataFrame([("a",), (None,)], "k string")
    rows = profile.cms_estimate(q, sk, "k", depth=4, width=8).collect()
    assert {r["k"] for r in rows} == {"a"}
    assert rows[0]["cms_estimate"] >= 2


class TestHistogramQuantileSketch:
    def _build(self, spark, values, lo=0.0, hi=100.0, bins=100):
        from big_data_in_agriculture_spark.operators import profile as prof

        df = spark.createDataFrame([(float(v),) for v in values], ["v"])
        return prof.histogram_sketch(df, "v", lo, hi, bins)

    def test_estimates_within_err_bound_of_exact(self, spark):
        import numpy as np

        from big_data_in_agriculture_spark.operators import profile as prof

        vals = [((i * 7919) % 1000) / 10.0 for i in range(2000)]
        sk = self._build(spark, vals)
        out = prof.sketch_quantiles(sk, 0.0, 100.0, 100,
                                    [0.1, 0.25, 0.5, 0.75, 0.9])
        arr = np.sort(np.array(vals))
        for r in out.collect():
            # nearest-rank exact quantile
            target = max(int(np.ceil(r["q"] * len(arr))), 1)
            exact = arr[target - 1]
            assert abs(r["estimate"] - exact) <= r["err_bound"] + 1e-9, r

    def test_merge_of_shards_equals_whole(self, spark):
        from big_data_in_agriculture_spark.operators import profile as prof

        vals = [((i * 31) % 97) + 0.5 for i in range(500)]
        whole = self._build(spark, vals)
        a = self._build(spark, vals[:200])
        b = self._build(spark, vals[200:])
        merged = prof.merge_histograms(a, b)
        w = {r["bin_id"]: r["n"] for r in whole.collect()}
        m = {r["bin_id"]: r["n"] for r in merged.collect()}
        assert w == m
        qw = prof.sketch_quantiles(whole, 0.0, 100.0, 100, [0.5]).collect()
        qm = prof.sketch_quantiles(merged, 0.0, 100.0, 100, [0.5]).collect()
        assert [tuple(r) for r in qw] == [tuple(r) for r in qm]

    def test_out_of_range_clamps_to_edge_bins(self, spark):
        sk = {r["bin_id"]: r["n"] for r in
              self._build(spark, [-50.0, 5.0, 250.0],
                          lo=0.0, hi=100.0, bins=10).collect()}
        assert sk == {0: 2, 9: 1}

    def test_null_and_nan_excluded(self, spark):
        from big_data_in_agriculture_spark.operators import profile as prof

        df = spark.createDataFrame(
            [(1.0,), (float("nan"),), (None,)], "v double"
        )
        sk = prof.histogram_sketch(df, "v", 0.0, 10.0, 10)
        assert sk.agg(F.sum("n")).collect()[0][0] == 1

    def test_invalid_bounds_raise(self, spark):
        import pytest as _pt

        from big_data_in_agriculture_spark.operators import profile as prof

        df = spark.createDataFrame([(1.0,)], ["v"])
        with _pt.raises(ValueError):
            prof.histogram_sketch(df, "v", 5.0, 5.0, 10)
        with _pt.raises(ValueError):
            prof.histogram_sketch(df, "v", 0.0, 1.0, 0)


# ---------------------------------------------------------------------------
# benford_deviation (round 11)
# ---------------------------------------------------------------------------


class TestBenford:
    def test_counts_shares_and_missing_digits(self, spark):
        from big_data_in_agriculture_spark.operators.profile import (
            benford_deviation,
        )

        df = spark.createDataFrame(
            [(v,) for v in [1.5, 12.0, 19.9, 2.0, 250.0, 0.31, 0.0, None]],
            ["amt"],
        )
        rows = {r["digit"]: r for r in benford_deviation(df, "amt").collect()}
        assert sorted(rows) == list(range(1, 10))
        # 1.5, 12.0, 19.9 lead with 1; 2.0, 250.0 with 2; 0.31 -> micros
        # 310000 leads with 3; 0.0 and NULL excluded
        assert rows[1]["n_obs"] == 3
        assert rows[2]["n_obs"] == 2
        assert rows[3]["n_obs"] == 1
        assert rows[9]["n_obs"] == 0
        assert rows[1]["share"] == 0.5
        # expected literal: log10(2) quantized 6dp
        assert rows[1]["expected"] == 0.30103
        assert abs(rows[1]["deviation"] - 0.19897) < 1e-9

    def test_benford_like_input_has_low_deviation(self, spark):
        import math

        from big_data_in_agriculture_spark.operators.profile import (
            benford_deviation,
        )

        # powers of a constant ratio are the canonical Benford set
        vals = [(1.07 ** i,) for i in range(400)]
        df = spark.createDataFrame(vals, ["amt"])
        out = benford_deviation(df, "amt").collect()
        assert sum(r["n_obs"] for r in out) == 400
        for r in out:
            assert r["deviation"] < 0.02
        # expected column matches log10(1+1/d) for every digit
        for r in out:
            want = math.log10(1 + 1 / r["digit"])
            assert abs(r["expected"] - want) < 1e-6
