"""Similarity search: brute-force and LSH kNN over embedding arrays."""

from __future__ import annotations

import math

import pytest

from big_data_in_agriculture_spark.operators import similarity

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [1.0, 0.0, 0.0, 0.0]),    # identical to 0
    (2, [0.9, 0.1, 0.0, 0.0]),    # close to 0
    (3, [0.0, 1.0, 0.0, 0.0]),    # orthogonal to 0
    (4, [0.0, 0.0, 1.0, 0.0]),
]


@pytest.fixture()
def emb(spark):
    return spark.createDataFrame(VECS, ["vec_id", "embedding"])


def test_bruteforce_ranks_by_cosine(emb):
    q = emb.filter("vec_id = 0")
    out = [(r["neighbor_id"], r["cosine_sim"], r["rank"])
           for r in similarity.knn_bruteforce(emb, q, k=3).collect()]
    assert out[0][0] == 1 and out[0][1] == pytest.approx(1.0)
    assert out[1][0] == 2
    assert out[1][1] == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)
    # orthogonal vectors rank last among the top-3
    assert out[2][1] == pytest.approx(0.0, abs=1e-6)


def test_bruteforce_excludes_self(emb):
    q = emb.filter("vec_id = 0")
    assert all(r["neighbor_id"] != 0 for r in similarity.knn_bruteforce(emb, q, k=4).collect())


def test_bruteforce_tie_break_deterministic(emb):
    # ids 3 and 4 are both orthogonal to the query → equal sim; the
    # tie must break on neighbor_id, so rank order is stable.
    q = emb.filter("vec_id = 0")
    out = similarity.knn_bruteforce(emb, q, k=4).collect()
    tied = [r["neighbor_id"] for r in out if abs(r["cosine_sim"]) < 1e-9]
    assert tied == sorted(tied)


def test_lsh_finds_identical_vector(emb):
    q = emb.filter("vec_id = 0")
    out = similarity.knn_lsh(emb, q, dim=4, k=2, num_tables=4, num_bits=2).collect()
    assert out and out[0]["neighbor_id"] == 1
    assert out[0]["cosine_sim"] == pytest.approx(1.0)


def test_norm_stats(spark):
    df = spark.createDataFrame(
        [("x", [3.0, 4.0]), ("x", [6.0, 8.0]), ("y", [1.0, 0.0])],
        ["label", "embedding"],
    )
    out = {r["label"]: r for r in similarity.norm_stats_by_label(df).collect()}
    assert out["x"]["n_vectors"] == 2
    assert out["x"]["min_norm"] == pytest.approx(5.0)
    assert out["x"]["max_norm"] == pytest.approx(10.0)
    assert out["y"]["avg_norm"] == pytest.approx(1.0)


def test_embedding_dim_stats_matches_numpy(spark):
    import numpy as np

    from big_data_in_agriculture_spark.operators.similarity import (
        embedding_dim_stats,
    )

    data = [([1.0, 10.0],), ([2.0, 20.0],), ([3.0, 30.0],)]
    emb = spark.createDataFrame(data, ["embedding"])
    out = {r["dim"]: r for r in embedding_dim_stats(emb).collect()}
    arr = np.array([d[0] for d in data])
    for d in (1, 2):
        assert out[d]["mean"] == pytest.approx(arr[:, d - 1].mean())
        assert out[d]["std"] == pytest.approx(arr[:, d - 1].std(ddof=1))
        assert out[d]["vmin"] == arr[:, d - 1].min()
        assert out[d]["vmax"] == arr[:, d - 1].max()


def test_standardize_embeddings_zero_mean_unit_std(spark):
    import numpy as np

    from big_data_in_agriculture_spark.operators.similarity import (
        standardize_embeddings,
    )

    rows = [(i, [float(i), 5.0, float(3 * i + 1)]) for i in range(10)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = standardize_embeddings(emb).orderBy("vec_id").collect()
    arr = np.array([r["embedding"] for r in out])
    # standardized dims: mean 0, sample std 1
    assert np.allclose(arr[:, 0].mean(), 0, atol=1e-9)
    assert np.allclose(arr[:, 0].std(ddof=1), 1, atol=1e-9)
    assert np.allclose(arr[:, 2].std(ddof=1), 1, atol=1e-9)
    # zero-variance dim passes through centered, unscaled
    assert np.allclose(arr[:, 1], 0)


def test_weighted_sample_tracks_weight(spark):
    from pyspark.sql import functions as F

    from big_data_in_agriculture_spark.operators.llm import weighted_sample

    df = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    # weight 1 keeps all, weight 0 keeps none, 0.5 keeps about half
    assert weighted_sample(df, F.lit(1.0)).count() == 2000
    assert weighted_sample(df, F.lit(0.0)).count() == 0
    n_half = weighted_sample(df, F.lit(0.5)).count()
    assert 850 < n_half < 1150
    # deterministic under repartitioning
    a = {r["doc_id"] for r in weighted_sample(df, F.lit(0.3)).collect()}
    b = {r["doc_id"]
         for r in weighted_sample(df.repartition(13), F.lit(0.3)).collect()}
    assert a == b


def test_kmeans_recovers_planted_clusters(spark):
    import numpy as np

    from big_data_in_agriculture_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    rng = np.random.default_rng(11)
    centers = np.array([[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]])
    rows = []
    for i in range(150):
        c = i % 3
        v = centers[c] + 0.5 * rng.standard_normal(3)
        rows.append((i, v.astype(float).tolist()))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    cents = kmeans_fit(emb, k=3, max_iter=15)
    fitted = np.array(cents)
    # every planted center has a fitted centroid within 0.5
    for c in centers:
        assert min(np.linalg.norm(fitted - c, axis=1)) < 0.5

    assigned = kmeans_assign(emb, cents).collect()
    # all members of a planted blob land in the same fitted cluster
    by_blob = {}
    for r in assigned:
        by_blob.setdefault(r["vec_id"] % 3, set()).add(r["cluster"])
    assert all(len(s) == 1 for s in by_blob.values())
    assert len({next(iter(s)) for s in by_blob.values()}) == 3


def test_vec_is_valid_predicate(spark):
    """The INVALID-VECTOR convention's predicate: NULL vector, NULL
    component, NaN, and ±Inf are invalid; empty and clean vectors are
    valid (empty defers to downstream zero-norm handling)."""
    import pyspark.sql.functions as F

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, nan]), (3, [inf, 1.0]),
         (4, [1.0, -inf]), (5, [1.0, None]), (6, None), (7, [])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    valid = {
        r["vec_id"]
        for r in df.filter(
            similarity.vec_is_valid(F.col("embedding"))
        ).collect()
    }
    assert valid == {1, 7}


def test_operators_exclude_poisoned_vectors(spark):
    """A NaN/Inf-component vector must change NOTHING: kNN results,
    k-means centroids, dim stats, and norm stats all match the clean
    corpus with the poisoned rows planted."""
    import pyspark.sql.functions as F

    clean = spark.createDataFrame(VECS, ["vec_id", "embedding"])
    nan, inf = float("nan"), float("inf")
    poisoned = clean.unionByName(
        spark.createDataFrame(
            [(100, [nan, 0.0, 0.0, 0.0]), (101, [0.0, inf, 0.0, 0.0]),
             (102, [0.0, 0.0, None, 0.0])],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        )
    )
    q = clean.filter("vec_id = 0")
    knn_c = similarity.knn_bruteforce(clean, q, k=3).collect()
    knn_p = similarity.knn_bruteforce(poisoned, q, k=3).collect()
    assert knn_c == knn_p
    cents_c = similarity.kmeans_fit(clean, k=2, max_iter=3, quantize=6)
    cents_p = similarity.kmeans_fit(poisoned, k=2, max_iter=3, quantize=6)
    assert cents_c == cents_p
    stats_c = similarity.embedding_dim_stats(clean).collect()
    stats_p = similarity.embedding_dim_stats(poisoned).collect()
    assert stats_c == stats_p


def test_kmeans_excludes_null_vectors(spark):
    """Vector-op convention: NULL embeddings neither dilute centroid
    means (they used to be counted in the denominator while adding
    nothing to the sums) nor receive a cluster assignment."""
    from big_data_in_agriculture_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    clean = spark.createDataFrame(
        [(i, [float(i % 2) * 10, 1.0]) for i in range(20)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    with_null = clean.unionByName(
        spark.createDataFrame(
            [(100, None)], "vec_id LONG, embedding ARRAY<DOUBLE>"
        )
    )
    c_clean = kmeans_fit(clean, k=2, max_iter=5, tol=0.0, quantize=6)
    c_null = kmeans_fit(with_null, k=2, max_iter=5, tol=0.0, quantize=6)
    assert c_clean == c_null  # NULL row changes nothing
    assigned = kmeans_assign(with_null, c_null).collect()
    assert {r["vec_id"] for r in assigned} == set(range(20))  # no id 100


def test_kmeans_deterministic_across_runs(spark):
    from big_data_in_agriculture_spark.operators.similarity import kmeans_fit

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = kmeans_fit(emb, k=4, max_iter=3)
    b = kmeans_fit(emb.repartition(7), k=4, max_iter=3)
    # deterministic init + exact integer counts; dim sums differ only in
    # partial-order ulps, so centroids agree to float tolerance
    import numpy as np

    assert np.allclose(np.array(a), np.array(b), atol=1e-9)


def test_semantic_dedup_drops_planted_copies(spark):
    from pyspark.sql import functions as F

    from big_data_in_agriculture_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    planted = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1000000)
    )
    out = semantic_dedup(emb.unionByName(planted), k=4, threshold=0.999, max_iter=3)
    ids = {r["vec_id"] for r in out.collect()}
    # every planted byte-identical copy has a lower-id twin in the same
    # cluster at cosine 1.0 -> all dropped; the survivor set is exactly
    # the original corpus (no natural pair reaches 0.999 here)
    assert all(i < 1000000 for i in ids)
    assert len(ids) == n


def test_semantic_dedup_keeps_distinct_vectors(spark):
    from big_data_in_agriculture_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.001]), (4, [-1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = semantic_dedup(emb, k=2, threshold=0.999, max_iter=3)
    ids = sorted(r["vec_id"] for r in out.collect())
    # 3 is a near-dup of 1 (cos ~0.9999995) -> dropped; others survive
    assert ids == [1, 2, 4]


class TestLabelCentroids:
    def test_centroids_and_cosines(self, spark):
        from big_data_in_agriculture_spark.operators.similarity import (
            label_centroid_similarity,
        )

        # label A points average to (1,0); B to (0,1); C to (1,0) too
        rows = [
            ("A", [1.0, 0.0]), ("A", [1.0, 0.0]),
            ("B", [0.0, 1.0]), ("B", [0.0, 1.0]),
            ("C", [2.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, ["label", "embedding"])
        out = {
            (r["label_a"], r["label_b"]): r["centroid_cosine"]
            for r in label_centroid_similarity(df).collect()
        }
        assert out[("A", "B")] == 0.0   # orthogonal centroids
        assert out[("A", "C")] == 1.0   # same direction
        assert out[("B", "C")] == 0.0
        assert len(out) == 3            # unordered pairs only

    def test_matches_numpy(self, spark):
        import numpy as np

        from big_data_in_agriculture_spark.operators.similarity import (
            label_centroid_similarity,
        )

        rng = np.random.RandomState(3)
        rows = [
            (f"L{i % 3}", [float(x) for x in rng.randn(8)]) for i in range(30)
        ]
        df = spark.createDataFrame(rows, ["label", "embedding"])
        out = {
            (r["label_a"], r["label_b"]): r["centroid_cosine"]
            for r in label_centroid_similarity(df).collect()
        }
        cents = {}
        for lbl in ("L0", "L1", "L2"):
            vs = np.array([v for l, v in rows if l == lbl])
            cents[lbl] = vs.mean(axis=0)
        for (a, b), got in out.items():
            ca, cb = cents[a], cents[b]
            want = float(ca @ cb / (np.linalg.norm(ca) * np.linalg.norm(cb)))
            assert abs(got - want) < 1e-5


def test_lsh_sign_parity_kernel_vs_column_near_orthogonal(spark):
    """The BLAS kernel (_bucketize), the Column twin (lsh_bucket), and
    the SQL oracle all round the hyperplane projection to 9 decimals
    before taking the sign, so a vector nearly orthogonal to a plane
    (|dot| well below 5e-10) must land in the SAME bucket everywhere —
    the round-3 advisor's data-dependent flake scenario."""
    import numpy as np

    from big_data_in_agriculture_spark.operators.similarity import (
        _bucketize,
        _hyperplane,
        lsh_bucket,
    )

    dim = 8
    p0 = np.array(_hyperplane(42, 0, 0, dim))
    rng = np.random.RandomState(7)
    rows = []
    for i in range(6):
        v = rng.randn(dim)
        v -= (v @ p0) / (p0 @ p0) * p0  # dot(v, p0) ~ 1e-16
        v[0] += (i - 2) * 1e-13  # straddle zero either side
        rows.append((i, [float(x) for x in v]))
    rows.append((6, [0.0] * dim))  # exactly-zero dots on every plane
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    kernel = {
        (r["x_id"], r["tbl"]): r["bucket"]
        for r in _bucketize(
            df, "x", dim, 2, 4, "embedding", "vec_id"
        ).collect()
    }
    for tbl in (0, 1):
        col = {
            r["vec_id"]: r["b"]
            for r in df.select(
                "vec_id",
                lsh_bucket(
                    similarity.F.col("embedding"), dim, num_bits=4, table=tbl
                ).alias("b"),
            ).collect()
        }
        for vid, bucket in col.items():
            assert kernel[(vid, tbl)] == bucket, (vid, tbl)

    # duckdb replays the same sign decisions
    import duckdb

    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("vecs", pdf)
    for tbl in (0, 1):
        bits = []
        for b in range(4):
            plane = _hyperplane(42, tbl, b, dim)
            lit = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
            bits.append(
                f"(CASE WHEN round(list_dot_product(embedding::DOUBLE[], {lit}), 9)"
                f" >= 0 THEN {2 ** b} ELSE 0 END)"
            )
        got = con.execute(
            f"SELECT vec_id, ({' + '.join(bits)})::BIGINT AS b FROM vecs"
        ).fetchall()
        for vid, bucket in got:
            assert kernel[(vid, tbl)] == bucket, (vid, tbl)


def test_quantize_half_away_matches_duckdb_on_decimal_ties():
    """The bit-replay quantize contract (kmeans_fit / classifier_train
    vs their unrolled-CTE oracles) must not depend on each engine's
    round(): Python is half-to-even, DuckDB half-away, and exactly-
    representable decimal ties exist — round(0.0078125, 6) is 0.007812
    in Python but 0.007813 in DuckDB. Both sides therefore run the
    explicit abs/scale/+0.5/floor/unscale/re-sign sequence; this pins
    the Python helper and the generated SQL to identical outputs on
    the tie cases and a spread of ordinary values."""
    import duckdb

    import __spark_entry__ as entrymod
    from big_data_in_agriculture_spark.operators._util import (
        quantize_half_away,
    )

    # 0.0078125 = 2^-7: dyadic, exactly representable, a true .5 tie
    # at 6 decimals. Python's round() gets this "wrong" for our
    # contract — the helper must NOT agree with it.
    assert quantize_half_away(0.0078125, 6) == 0.007813
    assert round(0.0078125, 6) == 0.007812  # the mismatch we bypass
    assert quantize_half_away(-0.0078125, 6) == -0.007813

    con = duckdb.connect()
    vals = [
        0.0078125, -0.0078125, 0.0234375, -0.0234375,  # dyadic ties
        0.0000005, -0.0000005, 0.0, 1.2345675,
        3.14159265, -2.718281828e-3, 123.4567894999,
    ]
    for digits in (4, 6):
        for v in vals:
            sql = entrymod._quantize_sql(repr(v), digits)
            got = con.execute(f"SELECT {sql}").fetchone()[0]
            assert got == quantize_half_away(v, digits), (v, digits)


def test_cosine_zero_vector_is_zero_not_error(spark):
    """Zero-magnitude vectors (padding rows, dead embeddings) have
    undefined cosine; the contract is 0.0 on both engines — ANSI mode
    must not raise, and the DuckDB oracles carry the matching CASE."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, 2.0, 2.0]), (3, [2.0, 4.0, 4.0])],
        ["vec_id", "embedding"],
    )
    out = similarity.knn_bruteforce(df, df.filter("vec_id = 1"), k=2).collect()
    assert [(r["neighbor_id"], r["cosine_sim"]) for r in out] == [
        (2, 0.0), (3, 0.0)
    ]
    # nonzero pair still exact
    sims = {
        r["neighbor_id"]: r["cosine_sim"]
        for r in similarity.knn_bruteforce(df, df.filter("vec_id = 2"), k=2).collect()
    }
    assert sims[3] == 1.0 and sims[1] == 0.0


def test_cosine_null_vector_is_null_not_zero(spark):
    """NULL input vectors follow the repo-wide NULL-in -> NULL-out
    convention (COVERAGE.md): only the zero-denominator case is pinned
    to 0.0 — a missing embedding must not masquerade as orthogonal."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, None, [1.0, 0.0]), (2, [1.0, 0.0], None),
         (3, [0.0, 0.0], [1.0, 0.0]), (4, [1.0, 0.0], [1.0, 0.0])],
        "id INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
    )
    out = {
        r["id"]: r["sim"]
        for r in df.select(
            "id", similarity.cosine(F.col("a"), F.col("b")).alias("sim")
        ).collect()
    }
    assert out[1] is None and out[2] is None
    assert out[3] == 0.0 and out[4] == 1.0


def test_cosine_accepts_column_name_strings(spark):
    """cosine("a", "b") — the pre-round-6 str convention — must keep
    working after the NULL guard (Column|str normalization)."""
    from big_data_in_agriculture_spark.operators.similarity import cosine

    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], None)],
        "a array<double>, b array<double>",
    )
    got = df.select(cosine("a", "b").alias("c")).collect()
    assert got[0]["c"] == pytest.approx(1.0)
    assert got[1]["c"] is None


class TestRandomProjection:
    def test_signs_balanced_and_rows_decorrelated(self):
        # the md5 sign matrix must be (a) near-balanced and (b) have
        # near-orthogonal rows — the zig-zag-hash variant failed (b)
        # with Gram off-diagonals at 94% of the diagonal, which froze
        # projected-cosine fidelity regardless of out_dim
        import numpy as np

        M = np.array(similarity._rp_signs(42, 16, 64))
        pos = (M > 0).mean()
        assert 0.42 <= pos <= 0.58
        G = M @ M.T
        off = np.abs(G - np.diag(np.diag(G))).max()
        assert off <= 0.5 * G[0, 0]

    def test_projection_matches_numpy(self, spark):
        import numpy as np

        vecs = [(i, [float(j % 5 - 2) + 0.1 * i for j in range(8)])
                for i in range(6)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        out = {r["vec_id"]: r["proj"] for r in similarity.random_project(
            df, in_dim=8, out_dim=4).collect()}
        M = np.array(similarity._rp_signs(42, 4, 8))
        for vid, v in vecs:
            want = np.round(M @ np.array(v), 9)
            assert np.allclose(out[vid], want, atol=1e-9), vid

    def test_projection_is_map_only(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0] * 8)], "vec_id long, embedding array<double>"
        )
        plan = (
            similarity.random_project(df, in_dim=8, out_dim=4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan

    def test_invalid_vectors_excluded(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, None), (3, [float("nan"), 1.0]),
             (4, [float("inf"), 1.0])],
            "vec_id long, embedding array<double>",
        )
        ids = [r["vec_id"] for r in
               similarity.random_project(df, in_dim=2, out_dim=2).collect()]
        assert ids == [1]


class TestProductQuantization:
    def test_codes_shape_and_determinism(self, spark):
        from pyspark.sql import functions as F

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        books = similarity.pq_train(emb, dim=64, n_subspaces=8, n_codes=16,
                                    max_iter=2, quantize=6)
        assert len(books) == 8 and all(len(b) == 16 for b in books)
        assert all(len(c) == 8 for b in books for c in b)
        out = similarity.pq_encode(emb, books, dim=64)
        rows = out.select("vec_id", "pq_codes").collect()
        assert all(len(r["pq_codes"]) == 8 for r in rows)
        assert all(0 <= c < 16 for r in rows for c in r["pq_codes"])
        # re-train + re-encode is bit-identical (quantized kmeans)
        books2 = similarity.pq_train(emb, dim=64, n_subspaces=8,
                                     n_codes=16, max_iter=2, quantize=6)
        assert books == books2

    def test_encode_matches_numpy_argmin(self, spark):
        import numpy as np

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        books = similarity.pq_train(emb, dim=64, n_subspaces=8, n_codes=16,
                                    max_iter=2, quantize=6)
        got = {r["vec_id"]: r["pq_codes"] for r in
               similarity.pq_encode(emb, books, dim=64).collect()}
        vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        for vid in list(vecs)[:20]:
            for s in range(8):
                sl = vecs[vid][s * 8:(s + 1) * 8]
                d = ((np.array(books[s]) - sl) ** 2).sum(axis=1)
                assert got[vid][s] == int(np.argmin(d)), (vid, s)


class TestScalarQuantization:
    def test_bounds_match_numpy_min_max(self, spark):
        import numpy as np

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        bounds = similarity.sq_train(emb, dim=64)
        assert len(bounds) == 64
        vecs = np.array([r["embedding"] for r in emb.collect()
                         if r["embedding"] is not None
                         and np.isfinite(r["embedding"]).all()],
                        dtype=np.float64)
        for d, (mn, mx) in enumerate(bounds):
            assert mn == vecs[:, d].min()
            assert mx == vecs[:, d].max()

    def test_encode_matches_numpy(self, spark):
        import numpy as np

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        bounds = similarity.sq_train(emb, dim=64)
        got = {r["vec_id"]: r["sq_codes"] for r in
               similarity.sq_encode(emb, bounds).collect()}
        vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        for vid in list(vecs)[:20]:
            for d, (mn, mx) in enumerate(bounds):
                inv = 0.0 if mx == mn else 255.0 / (mx - mn)
                want = int(min(max(
                    np.floor((vecs[vid][d] - mn) * inv + 0.5), 0), 255))
                assert got[vid][d] == want, (vid, d)
            assert all(0 <= c <= 255 for c in got[vid])

    def test_constant_dimension_encodes_zero(self, spark):
        df = spark.createDataFrame(
            [(1, [5.0, 1.0]), (2, [5.0, 3.0])],
            "vec_id long, embedding array<double>",
        )
        bounds = similarity.sq_train(df, dim=2)
        assert bounds[0] == (5.0, 5.0)
        got = {r["vec_id"]: r["sq_codes"] for r in
               similarity.sq_encode(df, bounds).collect()}
        assert got[1][0] == 0 and got[2][0] == 0
        assert got[1][1] == 0 and got[2][1] == 255

    def test_out_of_range_vector_clamps_to_edge_levels(self, spark):
        train = spark.createDataFrame(
            [(1, [0.0]), (2, [1.0])],
            "vec_id long, embedding array<double>",
        )
        bounds = similarity.sq_train(train, dim=1)
        wild = spark.createDataFrame(
            [(3, [-9.0]), (4, [9.0])],
            "vec_id long, embedding array<double>",
        )
        got = {r["vec_id"]: r["sq_codes"] for r in
               similarity.sq_encode(wild, bounds).collect()}
        assert got[3] == [0] and got[4] == [255]


#: The shipped sf0.001 embeddings table.
_EMB = "/root/testdata/sf0.001/embeddings.parquet"

#: Arguments that make each approximate kNN operator exact on the
#: sf0.001 corpus: every cell probed and ``n_candidates`` at least the
#: corpus size, so the IVF pruning and the screen are no-ops.
_EXACT_KW = {
    "knn_ivf": dict(n_centroids=8, n_probe=8),
    "knn_rp": dict(dim=64, out_dim=16, n_candidates=10_000),
    "knn_pq": dict(dim=64, n_candidates=10_000),
    "knn_ivfpq": dict(dim=64, n_centroids=8, n_probe=8,
                      n_candidates=10_000),
    "knn_sq": dict(dim=64, n_candidates=10_000),
}


@pytest.mark.parametrize("op", list(_EXACT_KW))
def test_equals_brute_when_candidates_cover_corpus(spark, op):
    # the exact re-rank over a no-op screen must return exactly
    # knn_bruteforce's answer
    from pyspark.sql import functions as F

    emb = spark.read.parquet(_EMB)
    q = emb.filter(F.col("vec_id") < 5)
    brute = sorted(map(tuple, similarity.knn_bruteforce(
        emb, q, k=3).collect()))
    got = sorted(map(tuple, getattr(similarity, op)(
        emb, q, k=3, **_EXACT_KW[op]).collect()))
    assert got == brute


@pytest.mark.parametrize("op", ["knn_ivf", "knn_pq", "knn_ivfpq", "knn_sq"])
def test_empty_corpus_yields_empty_result(spark, op):
    # a model trained on no vectors has no cells or codebooks: no rows,
    # but the same columns and types as a real knn_bruteforce result
    from pyspark.sql import functions as F

    emb = spark.read.parquet(_EMB)
    brute = similarity.knn_bruteforce(emb, emb.filter(F.col("vec_id") < 2), k=3)
    assert brute.count() > 0
    empty = emb.filter(F.lit(False))
    kw = {} if op == "knn_ivf" else {"dim": 64}
    out = getattr(similarity, op)(empty, empty, k=3, **kw)
    assert out.collect() == []
    assert out.columns == ["query_id", "neighbor_id", "cosine_sim", "rank"]
    assert out.dtypes == brute.dtypes


class TestDbscan:
    def _pts(self, spark, rows):
        return spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(rows)],
            ["id", "x", "y"],
        )

    def test_two_blobs_and_noise(self, spark):
        blob_a = [(0.0, 0.0), (0.01, 0.0), (0.0, 0.01), (0.01, 0.01)]
        blob_b = [(1.0, 1.0), (1.01, 1.0), (1.0, 1.01), (1.01, 1.01)]
        lone = [(5.0, 5.0)]
        out = similarity.dbscan_2d(
            self._pts(spark, blob_a + blob_b + lone),
            eps=0.05, min_pts=4,
        ).collect()
        by_id = {r["id"]: r for r in out}
        # blobs are all core (4 mutual neighbors each incl self)
        a_cl = {by_id[i]["cluster_id"] for i in range(4)}
        b_cl = {by_id[i]["cluster_id"] for i in range(4, 8)}
        assert len(a_cl) == 1 and len(b_cl) == 1 and a_cl != b_cl
        assert all(by_id[i]["role"] == "core" for i in range(8))
        assert by_id[8]["role"] == "noise"
        assert by_id[8]["cluster_id"] is None

    def test_border_point_attaches_to_cluster(self, spark):
        core = [(0.0, 0.0), (0.01, 0.0), (0.0, 0.01), (0.01, 0.01)]
        # within eps of (0.01, 0) and (0.01, 0.01) only: 2 neighbors
        # + self = 3 < min_pts, but touching a core -> border
        border = [(0.055, 0.0)]
        out = {r["id"]: r for r in similarity.dbscan_2d(
            self._pts(spark, core + border), eps=0.05, min_pts=4
        ).collect()}
        assert out[4]["role"] == "border"
        assert out[4]["cluster_id"] == out[0]["cluster_id"]

    def test_chain_merges_through_shared_core(self, spark):
        # two dense groups sharing a middle core point: one cluster
        g1 = [(0.0, 0.0), (0.02, 0.0), (0.04, 0.0)]
        mid = [(0.06, 0.0)]
        g2 = [(0.08, 0.0), (0.10, 0.0), (0.12, 0.0)]
        out = similarity.dbscan_2d(
            self._pts(spark, g1 + mid + g2), eps=0.025, min_pts=2
        ).collect()
        assert len({r["cluster_id"] for r in out}) == 1

    def test_grid_boundary_pairs_not_lost(self, spark):
        # two points straddling a cell boundary at distance just
        # under eps — the 3x3 block join must still pair them
        out = similarity.dbscan_2d(
            self._pts(spark, [(0.099, 0.0), (0.101, 0.0)]),
            eps=0.1, min_pts=2,
        ).collect()
        assert all(r["role"] == "core" for r in out)
        assert len({r["cluster_id"] for r in out}) == 1

    def test_all_noise_when_sparse(self, spark):
        out = similarity.dbscan_2d(
            self._pts(spark, [(0.0, 0.0), (10.0, 10.0)]),
            eps=0.1, min_pts=2,
        ).collect()
        assert all(r["role"] == "noise" for r in out)

    def test_nan_points_excluded(self, spark):
        df = spark.createDataFrame(
            [(1, 0.0, 0.0), (2, float("nan"), 0.0), (3, None, 1.0)],
            "id long, x double, y double",
        )
        out = similarity.dbscan_2d(df, eps=0.1, min_pts=1).collect()
        assert {r["id"] for r in out} == {1}

    def test_invalid_params_raise(self, spark):
        import pytest as _pt

        df = self._pts(spark, [(0.0, 0.0)])
        with _pt.raises(ValueError):
            similarity.dbscan_2d(df, eps=0.0, min_pts=1)
        with _pt.raises(ValueError):
            similarity.dbscan_2d(df, eps=0.1, min_pts=0)


def test_pq_train_fused_matches_per_slice_kmeans(spark):
    """r11 ADVICE: pq_train's fused loop re-implements the kmeans_fit
    update inline, so its bit-identity guarantee rests on the two
    copies staying in sync. This cross-check pins them: each fused
    subspace codebook must equal a sequential kmeans_fit run on that
    slice alone (same init rule, same fixed iterations, same quantize
    grid). A future edit that diverges either recurrence fails here."""
    import numpy as np

    from pyspark.sql import functions as F

    from big_data_in_agriculture_spark.operators.similarity import (
        kmeans_fit,
        pq_train,
    )

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(80)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = pq_train(
        emb, dim=8, n_subspaces=2, n_codes=4, max_iter=3, quantize=6
    )
    for s in range(2):
        sliced = emb.select(
            "vec_id", F.slice("embedding", s * 4 + 1, 4).alias("embedding")
        )
        cents = kmeans_fit(
            sliced, k=4, max_iter=3, tol=0.0, quantize=6
        )
        assert books[s] == cents, f"subspace {s} diverged from kmeans_fit"
