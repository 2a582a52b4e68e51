"""As-of join, salted join, IVF kNN, embedding near-dup, BPE tokens."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from big_data_in_agriculture_spark.functions import text as TX
from big_data_in_agriculture_spark.operators import relational, similarity

T = lambda m: dt.datetime(2024, 1, 1, 12, m)  # noqa: E731


def test_asof_join_picks_latest_at_or_before(spark):
    clicks = spark.createDataFrame(
        [(1, 7, T(10)), (2, 7, T(30)), (3, 8, T(5))],
        ["event_id", "user_id", "ts"],
    )
    purchases = spark.createDataFrame(
        [(7, T(0), 1.0), (7, T(10), 2.0), (7, T(20), 3.0), (9, T(0), 9.0)],
        ["user_id", "purchase_ts", "purchase_value"],
    )
    out = {r["event_id"]: r for r in relational.asof_join(
        clicks, purchases, "user_id", "ts", "purchase_ts",
        ["purchase_ts", "purchase_value"],
    ).collect()}
    assert len(out) == 3
    # click@10 sees the purchase AT 10 (<=, not <)
    assert out[1]["purchase_value"] == 2.0
    # click@30 sees the latest earlier purchase (20)
    assert out[2]["purchase_value"] == 3.0
    # user 8 has no purchase → NULLs (left join semantics)
    assert out[3]["purchase_value"] is None and out[3]["purchase_ts"] is None


def test_asof_join_key_without_earlier_right_row(spark):
    left = spark.createDataFrame(
        [("u1", T(5)), ("u1", T(20)), ("u2", T(3)), ("u3", T(9))],
        ["k", "lts"],
    )
    right = spark.createDataFrame(
        [("u1", T(1), 10.0), ("u1", T(15), 20.0), ("u2", T(4), 7.0)],
        ["k", "rts", "v"],
    )
    out = {
        (r["k"], r["lts"]): r["v"]
        for r in relational.asof_join(left, right, "k", "lts", "rts", ["v"]).collect()
    }
    assert len(out) == 4
    # u1@20 carries the 15-minute value; u2@3 has right rows, but only
    # later ones; u3 has no right rows at all
    assert out[("u1", T(5))] == 10.0
    assert out[("u1", T(20))] == 20.0
    assert out[("u2", T(3))] is None
    assert out[("u3", T(9))] is None


def test_asof_join_no_join_node_in_plan(spark):
    from big_data_in_agriculture_spark.plans import explain

    clicks = spark.createDataFrame([(1, 7, T(1))], ["event_id", "user_id", "ts"])
    purchases = spark.createDataFrame([(7, T(0), 1.0)], ["user_id", "pts", "v"])
    df = relational.asof_join(clicks, purchases, "user_id", "ts", "pts", ["pts", "v"])
    plan = explain.formatted_plan(df)
    # union-and-carry: one Window, zero Join operators
    assert "Join" not in plan and "Window" in plan


def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [(k, i) for k in ("a", "b") for i in range(20)], ["k", "payload"]
    )
    small = spark.createDataFrame([("a", 1.5), ("b", 2.5), ("c", 9.9)], ["k", "w"])
    salted = relational.salted_join(big, small, "k", salts=4)
    plain = big.join(small, "k")
    assert salted.count() == plain.count() == 40
    assert {tuple(r) for r in salted.select("k", "payload", "w").collect()} == {
        tuple(r) for r in plain.select("k", "payload", "w").collect()
    }


VECS = [
    (i, [1.0 if j == i % 4 else 0.1 * i for j in range(4)]) for i in range(20)
]


def test_knn_ivf_finds_identical_vector(spark):
    emb = spark.createDataFrame(VECS + [(100, VECS[0][1])], ["vec_id", "embedding"])
    q = emb.filter("vec_id = 0")
    out = similarity.knn_ivf(emb, q, k=2, n_centroids=4, n_probe=4)
    rows = out.collect()
    # probing ALL clusters makes IVF exhaustive → must find the copy
    assert rows and rows[0]["neighbor_id"] == 100
    assert rows[0]["cosine_sim"] == pytest.approx(1.0)


def test_embedding_neardup_finds_planted_pair(spark):
    emb = spark.createDataFrame(VECS + [(100, VECS[0][1])], ["vec_id", "embedding"])
    out = similarity.embedding_neardup_pairs(emb, threshold=0.999, dim=4)
    pairs = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in out.collect()}
    assert pairs[(0, 100)] == pytest.approx(1.0)


def test_bpe_tokens_and_stopwords(spark):
    df = spark.createDataFrame([(1, "The cat, and dog!")], ["doc_id", "text"])
    r = df.select(
        TX.n_bpe_tokens("text").alias("n"),
        TX.bpe_tokens("text").alias("toks"),
        TX.stopword_count("text").alias("sw"),
        TX.stopword_ratio("text").alias("swr"),
    ).collect()[0]
    assert r["toks"] == ["The", "cat", ",", "and", "dog", "!"]
    assert r["n"] == 6
    # whitespace tokens: The cat, and dog! → stopwords: The, and
    assert r["sw"] == 2
    assert r["swr"] == pytest.approx(0.5)
