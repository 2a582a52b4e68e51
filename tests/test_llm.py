"""LLM-pipeline operators: dedup, near-dup, text stats, fingerprints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_in_agriculture_spark.operators import _util, llm

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    (3, "the quick brown fox jumps over the sleepy dog"),  # near dup of 1
    (4, "completely different text about spark engines here"),
    (5, "completely different text about spark engines here"),  # dup of 4
    (6, "one two"),  # shorter than shingle width
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in llm.dedup_exact(docs).collect())
    assert kept == [1, 3, 4, 6]


def test_exact_dup_groups_counts(docs):
    groups = {r["keep_id"]: r["n_copies"] for r in llm.exact_dup_groups(docs).collect()}
    assert groups[1] == 2 and groups[4] == 2 and groups[3] == 1


def test_jaccard_identical_docs_score_one(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in llm.jaccard_pairs(docs, threshold=0.1).collect()}
    assert pairs[(1, 2)] == 1.0 and pairs[(4, 5)] == 1.0
    # near-dup 1↔3 shares most shingles but not all
    assert 0.1 < pairs[(1, 3)] < 1.0
    # unrelated docs never pair (no shared shingle → no candidate)
    assert (1, 4) not in pairs


def test_jaccard_threshold_filters(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in llm.jaccard_pairs(docs, threshold=0.99).collect()}
    assert pairs == {(1, 2), (4, 5)}


def test_minhash_agrees_with_exact_on_clear_cases(docs):
    # LSH with these band settings must catch identical docs and must
    # never emit a pair whose verified true Jaccard is below threshold
    # (the exact verification step guarantees the latter by design).
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           llm.minhash_neardup_pairs(docs, threshold=0.9, num_perm=64, bands=32).collect()}
    assert out[(1, 2)] == 1.0 and out[(4, 5)] == 1.0
    assert all(j >= 0.9 for j in out.values())


def test_minhash_collapse_exact_spanning_pairs(spark):
    """collapse_exact emits a LINEAR spanning pair set whose connected
    components equal the full quadratic expansion's components."""
    rows = (
        [(i, "boiler plate legal footer text repeated everywhere") for i in range(100, 140)]
        + [(1, "the quick brown fox jumps over the lazy dog"),
           (2, "the quick brown fox jumps over the lazy dog"),
           (3, "the quick brown fox jumps over the sleepy dog"),
           (4, "completely different text about spark engines here")]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    full = llm.minhash_neardup_pairs(docs, threshold=0.5, num_perm=64, bands=32)
    collapsed = llm.minhash_neardup_pairs(
        docs, threshold=0.5, num_perm=64, bands=32, collapse_exact=True
    )
    out = collapsed.collect()
    # linear, not quadratic: 39 star edges for the 40-copy family,
    # 1 star edge for {1,2}, plus rep-level near-dup pairs — far below
    # the 40*39/2 = 780 intra-family pairs of the full expansion
    assert len(out) < 50 < full.count()
    star = {(r["id_a"], r["id_b"]) for r in out if r["jaccard"] == 1.0}
    assert (100, 101) in star and (1, 2) in star
    # same components either way
    comp_full = {
        (r["id"], r["component_id"])
        for r in llm.neardup_components(full).collect()
    }
    comp_collapsed = {
        (r["id"], r["component_id"])
        for r in llm.neardup_components(collapsed).collect()
    }
    assert comp_full == comp_collapsed


def test_lsh_max_bucket_width_drops_mega_family(spark):
    """Buckets wider than the cap contribute no candidates; narrow
    families are untouched. The cap also keeps the oversized
    collect_list from ever building (count-first plan)."""
    rows = (
        [(i, "boiler plate legal footer text repeated everywhere") for i in range(100, 130)]
        + [(1, "the quick brown fox jumps over the lazy dog"),
           (2, "the quick brown fox jumps over the lazy dog")]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = llm.minhash_neardup_pairs(
        docs, threshold=0.5, num_perm=64, bands=32, max_bucket_width=10
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in capped}
    assert (1, 2) in pairs                      # narrow family survives
    assert not any(a >= 100 for a, _ in pairs)  # mega-family capped out
    # composed with collapse_exact, the mega-family comes back as stars
    both = llm.minhash_neardup_pairs(
        docs, threshold=0.5, num_perm=64, bands=32,
        collapse_exact=True, max_bucket_width=10,
    ).collect()
    star = {(r["id_a"], r["id_b"]) for r in both if r["jaccard"] == 1.0}
    assert {(100, j) for j in range(101, 130)} <= star


def test_minhash_signature_shape_and_determinism(docs):
    sigs = llm.minhash_signatures(docs, num_perm=16).collect()
    assert all(len(r["signature"]) == 16 for r in sigs)
    by_id = {r["id"]: r["signature"] for r in sigs}
    assert by_id[1] == by_id[2]  # identical text → identical signature
    again = {r["id"]: r["signature"] for r in llm.minhash_signatures(docs, num_perm=16).collect()}
    assert by_id == again  # fully deterministic, no RNG state


def test_fused_banding_matches_two_pass(docs):
    """Round-12 fusion: the single text→band-buckets Arrow kernel
    (_banded_text) produces BIT-IDENTICAL (id, band, bucket) rows to
    the two-kernel chain minhash_signatures → lsh_band_keys it
    replaces inside minhash_neardup_pairs — same shingle/affine/md5
    helpers, one Python boundary crossing instead of two."""
    sigs = llm.minhash_signatures(
        docs, num_perm=16, k=3, portable=True
    )
    two = set(
        map(tuple, llm.lsh_band_keys(sigs, 4, 4, portable=True).collect())
    )
    one = set(
        map(
            tuple,
            llm._banded_text(docs, 16, 4, 3, "text", "doc_id").collect(),
        )
    )
    assert one == two


def test_minhash_portable_kernel_matches_column_twin(docs):
    """The Arrow kernel (hashlib md5 + numpy affine minima) is
    BIT-IDENTICAL to the Column formulation TX.shingle_hashes_md5 →
    affine min fold — the same chain the DuckDB oracle replays in SQL.
    This is the parity the driver's hash check on minhash_neardup
    rests on."""
    from pyspark.sql import functions as F

    from big_data_in_agriculture_spark.functions import text as TX

    num_perm = 16
    kernel = {
        r["id"]: list(r["signature"])
        for r in llm.minhash_signatures(docs, num_perm=num_perm).collect()
    }
    params = [llm._affine_params(i) for i in range(num_perm)]
    mers = (1 << 61) - 1
    h = TX.shingle_hashes_md5(F.col("text"), 3)

    def affine(a, b):
        return lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(mers)

    cols = [
        F.array_min(F.transform(h, affine(a, b))).alias(f"s{i}")
        for i, (a, b) in enumerate(params)
    ]
    column = {
        r["doc_id"]: [r[f"s{i}"] for i in range(num_perm)]
        for r in docs.select("doc_id", *cols).collect()
    }
    assert kernel == column


def test_lsh_band_bucket_portable_matches_sql_formula(spark):
    """Portable band buckets == ('0x'||substr(md5(concat_ws('|',...)),
    1,15))::BIGINT — computed here in pure Python exactly as the
    DuckDB oracle would."""
    import hashlib

    sigs = spark.createDataFrame(
        [(1, list(range(8))), (2, [7, 6, 5, 4, 3, 2, 1, 0])],
        "id long, signature array<long>",
    )
    got = {
        (r["id"], r["band"]): r["bucket"]
        for r in llm.lsh_band_keys(sigs, bands=2, rows_per_band=4).collect()
    }
    for rid, sig in ((1, list(range(8))), (2, [7, 6, 5, 4, 3, 2, 1, 0])):
        for band in range(2):
            joined = "|".join(str(x) for x in sig[band * 4 : (band + 1) * 4])
            expect = int(hashlib.md5(joined.encode()).hexdigest()[:15], 16)
            assert got[(rid, band)] == expect


def test_simhash_identical_and_distinct(docs):
    fp = {r["doc_id"]: r["simhash"] for r in llm.simhash(docs).collect()}
    assert fp[1] == fp[2] and fp[4] == fp[5]
    assert fp[1] != fp[4]
    cands = {(r["id_a"], r["id_b"]) for r in llm.simhash_dup_candidates(docs).collect()}
    assert (1, 2) in cands and (4, 5) in cands


def test_neardup_components_chain_converges(spark):
    # chain 1-2-3-4 plus isolated pair 10-11: min-label propagation
    # must walk the whole chain (diameter 3), not just one hop
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    comps = {r["id"]: r["component_id"] for r in llm.neardup_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_near_keeps_one_per_cluster(docs):
    kept = sorted(r["doc_id"] for r in llm.dedup_near(docs, threshold=0.5).collect())
    # docs 1,2,3 cluster (1 kept); 4,5 cluster (4 kept); 6 untouched
    assert kept == [1, 4, 6]


def test_text_stats_manual_check(spark):
    df = spark.createDataFrame([(1, "ab cd ab, x!")], ["doc_id", "text"])
    r = llm.text_stats(df).collect()[0]
    assert r["n_chars_calc"] == 12
    assert r["n_tokens"] == 4
    assert r["n_distinct_tokens"] == 4  # "ab" vs "ab," differ as raw tokens
    assert r["n_punct"] == 2


def test_corpus_profile_groups(spark):
    df = spark.createDataFrame(
        [(1, "a b", "en"), (2, "c d", "en"), (3, "e f", "de")],
        ["doc_id", "text", "lang"],
    )
    out = {r["lang"]: r for r in llm.corpus_profile(df, by="lang").collect()}
    assert out["en"]["n_docs"] == 2 and out["de"]["n_docs"] == 1
    assert out["en"]["total_tokens"] == 4


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in llm.doc_fingerprints(df).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_nfc_normalize_collapses_nfd_twins(spark):
    """NFC/NFD twins of the same visible text fingerprint DIFFERENTLY
    raw (byte-exact convention) and IDENTICALLY after the corpus-entry
    nfc_normalize step; the normalization agrees with DuckDB's
    nfc_normalize (the oracle twin)."""
    import unicodedata

    import duckdb

    from big_data_in_agriculture_spark.functions import text as TX

    nfc = "café résumé naïve déjà vu"
    nfd = unicodedata.normalize("NFD", nfc)
    assert nfc != nfd
    df = spark.createDataFrame(
        [(1, nfc), (2, nfd), (3, None)], ["doc_id", "text"]
    )
    out = df.select(
        "doc_id",
        TX.nfc_normalize("text").alias("norm"),
        TX.fingerprint("text").alias("fp_raw"),
        TX.fingerprint(TX.nfc_normalize("text")).alias("fp_norm"),
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[1]["fp_raw"] != rows[2]["fp_raw"]       # byte-exact raw
    assert rows[1]["fp_norm"] == rows[2]["fp_norm"]     # twins collapse
    assert rows[1]["norm"] == rows[2]["norm"] == nfc
    assert rows[3]["norm"] is None                      # NULL in -> NULL out
    # engine parity: DuckDB's nfc_normalize produces the same string
    duck = duckdb.sql(
        "SELECT nfc_normalize(?)", params=[nfd]
    ).fetchone()[0]
    assert duck == nfc


def test_text_cleaning_functions(spark):
    from big_data_in_agriculture_spark.functions import text as TX
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "<b>hi</b>  there mail bob.x@test.org num 123456789 ok 1234")],
        ["doc_id", "text"],
    )
    r = df.select(
        TX.strip_html("text").alias("s"),
        TX.mask_pii("text").alias("m"),
    ).collect()[0]
    assert r["s"] == "hi there mail bob.x@test.org num 123456789 ok 1234"
    # email masked; 9-digit run masked; 4-digit run kept (PII_PATTERNS
    # digit-run threshold is 9 — account/SSN shaped, not zip codes)
    assert r["m"] == "<b>hi</b>  there mail <EMAIL> num <NUM> ok 1234"

    rep = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "one two three four five six")],
        ["doc_id", "text"],
    ).select("doc_id", TX.repetition_ratio("text", 3).alias("r")).collect()
    by_id = {x["doc_id"]: x["r"] for x in rep}
    assert by_id[1] > 0.5      # looped trigram
    assert by_id[2] == 0.0     # all shingles unique


def test_lang_guess_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of a house"), (2, "el gato y la casa de que"),
         (3, "zzz qqq www")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang_guess"] for r in llm.doc_fingerprints(df).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "und"


def test_quality_filter_rule_priority(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c"),                              # too_short (3 toks)
            (2, " ".join(["w"] * 100)),                # too_long wins over low_distinct
            (3, " ".join(["x"] * 50)),                 # low_distinct (dr=0.02)
            (4, " ".join(f"t{i}" for i in range(50))), # ok
        ],
        ["doc_id", "text"],
    )
    from big_data_in_agriculture_spark.operators.llm import quality_filter

    out = {r["doc_id"]: (r["reason"], r["keep"]) for r in
           quality_filter(docs).collect()}
    assert out == {1: ("too_short", 0), 2: ("too_long", 0),
                   3: ("low_distinct", 0), 4: ("ok", 1)}


def test_dedup_keep_best_prefers_quality_then_id(spark):
    from big_data_in_agriculture_spark.operators.llm import dedup_keep_best

    # same normalized fingerprint (\s+ collapses to one space), but the
    # tab variant is a single space-token → higher mean-token-length →
    # higher quality score: it must survive over the lower id
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha\tbeta\tgamma"),
         (3, "delta epsilon"), (4, "delta epsilon")],
        ["doc_id", "text"],
    )
    kept = sorted(r["doc_id"] for r in dedup_keep_best(docs).collect())
    assert kept == [2, 3]  # quality wins for group 1; id tie-break for group 2


def test_top_tokens_orders_count_then_token(spark):
    from big_data_in_agriculture_spark.operators.llm import top_tokens

    docs = spark.createDataFrame(
        [(1, "b a b"), (2, "a c")], ["doc_id", "text"]
    )
    rows = [(r["token"], r["n"]) for r in top_tokens(docs, k=2).collect()]
    assert rows == [("a", 2), ("b", 2)]  # tie broken alphabetically


def test_lm_perplexity_addk_hand_computed(spark):
    import math

    # two identical docs "a b": bigrams (<s>,a) and (a,b), each with
    # corpus count 2, context count 2, vocab V = |{a, b}| = 2.
    # P = (2+1)/(2+2) = 3/4 for both -> avg_nll = ln(4/3), ppl = 4/3.
    docs = spark.createDataFrame([(1, "a b"), (2, "a b")], ["doc_id", "text"])
    rows = llm.lm_perplexity(docs).collect()
    assert [r["doc_id"] for r in rows] == [1, 2]
    for r in rows:
        assert r["n_bigrams"] == 2
        assert abs(r["avg_nll"] - math.log(4 / 3)) < 1e-6
        assert abs(r["ppl"] - 4 / 3) < 1e-6


def test_lm_perplexity_flags_outlier_doc(spark):
    # the in-domain docs share all their bigrams; the junk doc's bigrams
    # are singletons -> it must score the highest perplexity
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(1, 6)]
        + [(9, "zz qq yy ww vv uu")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["ppl"] for r in llm.lm_perplexity(docs).collect()}
    assert out[9] == max(out.values())
    assert out[9] > 2 * out[1]


def test_lm_stupid_backoff_hand_computed(spark):
    import math

    # train = score corpus "a b c" x2: every trigram position (only
    # i=3: a b c) has c(a b c)=2, c(a b)=2 -> S = 1, log10 = 0, micro
    # sum 0, n_scored 1, ppl = 10^0 = 1.
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], ["doc_id", "text"]
    )
    rows = sorted(llm.lm_stupid_backoff(docs).collect(),
                  key=lambda r: r["doc_id"])
    assert [r["doc_id"] for r in rows] == [1, 2]
    for r in rows:
        assert r["n_scored"] == 1
        assert r["logprob_micro"] == 0
        assert abs(r["ppl"] - 1.0) < 1e-6


def test_lm_stupid_backoff_levels(spark):
    import math

    # train: "a b c" + "b d e". scored doc "a b d":
    #   trigram (a,b,d) unseen; bigram (b,d) seen once, c(b)=2
    #   -> S = 0.4 * 1/2 = 0.2, log10 = -0.698970
    train = spark.createDataFrame(
        [(1, "a b c"), (2, "b d e")], ["doc_id", "text"]
    )
    scored = spark.createDataFrame([(7, "a b d")], ["doc_id", "text"])
    r = llm.lm_stupid_backoff(scored, train=train).collect()[0]
    assert r["n_scored"] == 1
    want = round(math.log10(0.4 * 0.5), 6)
    assert r["logprob_micro"] == int(round(want * 1e6))

    # scored doc "a b zzz": trigram+bigram unseen, zzz OOV ->
    # S = 0.16 * 1/N with N = 6 train tokens
    scored2 = spark.createDataFrame([(8, "a b zzz")], ["doc_id", "text"])
    r2 = llm.lm_stupid_backoff(scored2, train=train).collect()[0]
    want2 = round(math.log10(0.16 * (1.0 / 6.0)), 6)
    assert r2["logprob_micro"] == int(round(want2 * 1e6))


def test_lm_stupid_backoff_short_docs_and_empty_model(spark):
    # docs with < 3 tokens produce no scored positions -> no rows;
    # an empty model (no train rows) produces no rows at all instead
    # of an ANSI divide-by-zero
    docs = spark.createDataFrame(
        [(1, "just two"), (2, "one"), (3, None)], ["doc_id", "text"]
    )
    assert llm.lm_stupid_backoff(docs).collect() == []
    scored = spark.createDataFrame([(9, "a b c")], ["doc_id", "text"])
    empty_train = docs.filter("doc_id < 0")
    assert llm.lm_stupid_backoff(scored, train=empty_train).collect() == []


def test_lm_stupid_backoff_flags_outlier_doc(spark):
    # held-out junk scores far worse than in-domain repetition
    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(1, 6)],
        ["doc_id", "text"],
    )
    scored = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (9, "zz qq yy ww vv uu")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["ppl"]
           for r in llm.lm_stupid_backoff(scored, train=train).collect()}
    assert out[9] > 2 * out[1]


# ---------------------------------------------------------------------------
# Line-level dedup + blocklist
# ---------------------------------------------------------------------------

def test_line_dedup_strips_shared_lines_keeps_order(spark):
    docs = spark.createDataFrame(
        [
            (1, "HEADER\nalpha\nbeta\nFOOTER"),
            (2, "HEADER\ngamma\nFOOTER"),
            (3, "HEADER\nFOOTER"),  # pure boilerplate -> drops out
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in llm.line_dedup(docs, min_docs=2).collect()}
    assert set(out) == {1, 2}  # doc 3 had no surviving lines
    assert out[1]["text"] == "alpha\nbeta"  # original order, not sorted
    assert out[1]["n_lines_kept"] == 2
    assert out[2]["text"] == "gamma"


def test_line_dedup_min_docs_threshold(spark):
    # line shared by exactly 2 docs survives at min_docs=3
    docs = spark.createDataFrame(
        [(1, "x\nshared"), (2, "y\nshared"), (3, "z")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["text"] for r in llm.line_dedup(docs, min_docs=3).collect()}
    assert out == {1: "x\nshared", 2: "y\nshared", 3: "z"}


def test_line_dedup_duplicate_line_within_one_doc_not_boilerplate(spark):
    # repeated within ONE doc but in no other -> count_distinct(doc)=1,
    # stays (line dedup is cross-document, not within-document)
    docs = spark.createDataFrame(
        [(1, "same\nsame"), (2, "other")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["text"] for r in llm.line_dedup(docs, min_docs=2).collect()}
    assert out[1] == "same\nsame"


def test_blocklist_filter_drops_blocked_sources(spark):
    docs = spark.createDataFrame(
        [(1, "a", "good.com"), (2, "b", "spam.com"), (3, "c", "good.com")],
        ["doc_id", "text", "source"],
    )
    bl = spark.createDataFrame([("spam.com",), ("other.net",)], ["source"])
    out = llm.blocklist_filter(docs, bl)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]
    # the corpus never shuffles: its anti-join is broadcast (the one
    # hash exchange in the plan belongs to the tiny blocklist's
    # distinct(), not to the docs side)
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert plan.count("Exchange hashpartitioning") <= 1


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

def test_pack_chunks_offsets_and_straddle(spark):
    # 3 docs of 3/4/2 tokens, chunk_len=4:
    # doc1 offset 0 -> chunk 0; doc2 offset 3 -> straddles chunks 0-1;
    # doc3 offset 7 -> straddles 1-2
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g"), (3, "h i")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in llm.pack_chunks(docs, chunk_len=4).collect()}
    assert (out[1]["offset"], out[1]["first_chunk"], out[1]["last_chunk"]) == (0, 0, 0)
    assert (out[2]["offset"], out[2]["first_chunk"], out[2]["last_chunk"]) == (3, 0, 1)
    assert (out[3]["offset"], out[3]["first_chunk"], out[3]["last_chunk"]) == (7, 1, 2)


def test_pack_chunks_bucketed_prefix_sum_is_exact(spark):
    # force many tiny buckets so the two-level decomposition is actually
    # exercised, then compare against the naive driver-side cumsum
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i % 7 + 1))) for i in range(1, 101)],
        ["doc_id", "text"],
    ).repartition(8)
    out = llm.pack_chunks(docs, chunk_len=10, n_buckets=5)
    rows = sorted(out.collect(), key=lambda r: r["doc_id"])
    running = 0
    for r in rows:
        assert r["offset"] == running
        running += r["n_tokens"]


def test_pack_firstfit_invariants(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i % 90 + 1))) for i in range(1, 201)],
        ["doc_id", "text"],
    )
    rows = llm.pack_firstfit(docs, capacity=100, n_buckets=4).collect()
    # every doc assigned exactly once
    assert sorted(r["doc_id"] for r in rows) == list(range(1, 201))
    # per-bin fill respects capacity (no doc here exceeds it)
    fills = {}
    for r in rows:
        assert not r["oversize"]
        fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["n_tokens"]
    assert all(f <= 100 for f in fills.values())
    # first-fit invariant, per bucket (buckets pack independently):
    # any two bins in one bucket sum past capacity — when the later bin
    # opened, the earlier one had no room for its opening item
    by_bucket: dict[int, list[int]] = {}
    for bin_id, fill in fills.items():
        by_bucket.setdefault(bin_id >> 32, []).append(fill)
    for bucket_fills in by_bucket.values():
        s = sorted(bucket_fills)
        assert len(s) <= 1 or s[0] + s[1] > 100


def test_pack_firstfit_oversize_isolated(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(["w"] * 10)), (2, " ".join(["w"] * 300))],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in llm.pack_firstfit(docs, capacity=100).collect()}
    assert rows[2]["oversize"] and not rows[1]["oversize"]
    assert rows[1]["bin_id"] != rows[2]["bin_id"]  # giant doc got its own bin


# ---------------------------------------------------------------------------
# BPE encode
# ---------------------------------------------------------------------------

def test_bpe_encode_textbook_segmentation(spark):
    # Sennrich's example corpus: merges learned on {low, lower, newest,
    # widest} frequencies produce 'es', 'est', 'lo', 'low' first.
    docs = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3))],
        ["doc_id", "text"],
    )
    merges = llm.bpe_train(docs, n_merges=4)
    assert merges[:3] == [("e", "s"), ("es", "t"), ("l", "o")]
    enc = {r["doc_id"]: r["bpe_tokens"] for r in llm.bpe_encode(
        spark.createDataFrame(
            [(1, "lowest"), (2, "low"), (3, "unseen")], ["doc_id", "text"]
        ),
        merges,
    ).collect()}
    assert enc[1] == ["low", "est"]        # both merge families apply
    assert enc[2] == ["low"]               # full word from 'lo'+'w'
    assert enc[3] == ["u", "n", "s", "e", "e", "n"]  # no merge applies


def test_bpe_encode_rank_priority_over_position(spark):
    # 'ab' has lower rank than 'bc': in 'abc' the encoder must take
    # 'ab'+'c', not 'a'+'bc', regardless of scan order
    out = llm.bpe_encode(
        spark.createDataFrame([(1, "abc")], ["doc_id", "text"]),
        merges=[("a", "b"), ("b", "c")],
    ).collect()[0]
    assert out["bpe_tokens"] == ["ab", "c"]
    assert out["n_bpe_tokens"] == 2


def test_bpe_encode_empty_merges_and_empty_text(spark):
    out = {r["doc_id"]: r["bpe_tokens"] for r in llm.bpe_encode(
        spark.createDataFrame([(1, "hi yo"), (2, "")], ["doc_id", "text"]),
        merges=[],
    ).collect()}
    assert out[1] == ["h", "i", "y", "o"]
    assert out[2] == []


# ---------------------------------------------------------------------------
# Document chunking
# ---------------------------------------------------------------------------

def test_chunk_documents_overlap_and_tail(spark):
    # 10 tokens, chunks of 4, overlap 2 (stride 2): starts 0,2,4,6
    # (start 8 would be pure overlap: 8 >= 10-2), last chunk short
    docs = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")], ["doc_id", "text"]
    )
    rows = sorted(
        llm.chunk_documents(docs, chunk_tokens=4, overlap=2).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["chunk_text"] for r in rows] == [
        "t0 t1 t2 t3", "t2 t3 t4 t5", "t4 t5 t6 t7", "t6 t7 t8 t9",
    ]
    assert [r["n_chunk_tokens"] for r in rows] == [4, 4, 4, 4]


def test_chunk_documents_short_doc_single_chunk(spark):
    docs = spark.createDataFrame([(1, "a b"), (2, "c")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           llm.chunk_documents(docs, chunk_tokens=8, overlap=2).collect()}
    assert out[1]["chunk_text"] == "a b" and out[1]["chunk_idx"] == 0
    assert out[2]["n_chunk_tokens"] == 1
    assert len(out) == 2  # exactly one chunk each


def test_chunk_documents_rejects_bad_overlap(spark):
    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        llm.chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_chunk_documents_reconstruction(spark):
    # stride-concatenation of chunks (dropping each chunk's leading
    # overlap after the first) must reproduce the original text
    text = " ".join(f"w{i}" for i in range(23))
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        llm.chunk_documents(docs, chunk_tokens=8, overlap=3).collect(),
        key=lambda r: r["chunk_idx"],
    )
    rebuilt = rows[0]["chunk_text"].split(" ")
    for r in rows[1:]:
        rebuilt.extend(r["chunk_text"].split(" ")[3:])
    assert " ".join(rebuilt) == text


# ---------------------------------------------------------------------------
# Cross-corpus dedup + quality floor
# ---------------------------------------------------------------------------

def test_crosscorpus_dedup_catches_formatting_variants(spark):
    docs = spark.createDataFrame(
        [(1, "Hello   World"), (2, "fresh content"), (3, "other things")],
        ["doc_id", "text"],
    )
    ref = spark.createDataFrame(
        [(100, "hello world")], ["doc_id", "text"]  # normalized match of 1
    )
    kept = sorted(r["doc_id"] for r in llm.crosscorpus_dedup(docs, ref).collect())
    assert kept == [2, 3]


def test_quality_floor_drops_worst_fraction(spark):
    # 8 normal docs + 2 degenerate (single repeated token -> low score)
    rows = [(i, f"alpha beta gamma{i} delta epsilon") for i in range(8)]
    rows += [(90, "x x x x x"), (91, "y y y y y")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(
        r["doc_id"] for r in llm.quality_floor_filter(docs, drop_frac=0.2).collect()
    )
    assert kept == list(range(8))  # exactly the degenerate pair dropped


def test_bigram_pmi_finds_collocation(spark):
    # "new york" always co-occurs (c12=c1=c2) while filler words pair
    # freely -> the collocation gets the highest PMI
    base = "the a of to in and for on"
    docs = spark.createDataFrame(
        [(i, f"{base} new york {base}") for i in range(6)],
        ["doc_id", "text"],
    )
    rows = llm.bigram_pmi(docs, min_count=5, k=3).collect()
    assert (rows[0]["w1"], rows[0]["w2"]) == ("new", "york")
    import math
    # PMI = ln(c12*T/(c1*c2)) with c12=c1=c2=6 -> ln(T/6)
    total = 6 * 17  # 18 tokens per doc -> 17 non-BOS bigrams x 6 docs
    assert abs(rows[0]["pmi"] - math.log(total / 6)) < 1e-6


def test_bigram_pmi_min_count_suppresses_rare(spark):
    docs = spark.createDataFrame(
        [(1, "rare pair"), (2, "common x common x common x common x common x")],
        ["doc_id", "text"],
    )
    rows = llm.bigram_pmi(docs, min_count=5, k=10).collect()
    assert all((r["w1"], r["w2"]) != ("rare", "pair") for r in rows)


def test_corpus_report_grouping_sets(spark):
    docs = spark.createDataFrame(
        [(1, "a b", "en", "s1"), (2, "c", "en", "s2"), (3, "d e f", "de", "s1")],
        ["doc_id", "text", "lang", "source"],
    )
    rows = llm.corpus_report(docs).collect()
    by_key = {(r["lang"], r["source"], r["gid"]): (r["n_docs"], r["total_tokens"])
              for r in rows}
    assert by_key[("en", None, 1)] == (2, 3)        # by-lang set
    assert by_key[(None, "s1", 2)] == (2, 5)        # by-source set
    assert by_key[("de", "s1", 0)] == (1, 3)        # cross set
    assert by_key[(None, None, 3)] == (3, 6)        # grand total
    assert len(rows) == 2 + 2 + 3 + 1


class TestBM25Search:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "cat dog cat"),        # tf(cat)=2, dl=3
                (2, "cat fish"),           # tf(cat)=1, dl=2
                (3, "bird bird bird"),     # no query terms
                (4, "dog dog dog dog"),    # tf(dog)=4, dl=4
            ],
            ["doc_id", "text"],
        )

    def test_hand_computed_score(self, spark):
        import math

        out = {
            r["doc_id"]: r["score"]
            for r in llm.bm25_search(
                self._docs(spark), "cat", top_k=10
            ).collect()
        }
        # N=4, df(cat)=2, avgdl=3; idf = ln(1 + 2.5/2.5) = ln 2
        def bm25(tf, dl):
            return math.log(2.0) * (
                tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
            )

        assert set(out) == {1, 2}  # zero-score docs dropped
        assert out[1] == pytest.approx(bm25(2, 3), rel=1e-6)
        assert out[2] == pytest.approx(bm25(1, 2), rel=1e-6)

    def test_rank_order_and_ties(self, spark):
        rows = llm.bm25_search(
            self._docs(spark), "cat dog", top_k=2
        ).collect()
        assert [r["rank"] for r in rows] == [1, 2]
        # scores strictly ordered; top_k truncates doc 2
        assert rows[0]["score"] > rows[1]["score"]
        assert len(rows) == 2

    def test_duplicate_terms_not_double_counted(self, spark):
        a = llm.bm25_search(self._docs(spark), "cat cat").collect()
        b = llm.bm25_search(self._docs(spark), "cat").collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ]

    def test_empty_query_raises(self, spark):
        with pytest.raises(ValueError):
            llm.bm25_search(self._docs(spark), "   ")

    def test_plan_no_wide_shuffle(self, spark):
        # scoring path: broadcast stats join only — the corpus is never
        # shuffled (no Exchange hashpartitioning on the docs side before
        # the top-k, which is TakeOrderedAndProject, not a global sort).
        plan = llm.bm25_search(
            self._docs(spark), "cat dog"
        )._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


class TestSubstringDedup:
    def test_shared_passage_removed_from_both(self, spark):
        shared = "one two three four five six seven eight"  # 8 tokens
        docs = spark.createDataFrame(
            [
                (1, f"alpha beta {shared} gamma delta"),
                (2, f"epsilon {shared} zeta"),
                (3, "unique prose with no repeats at all here"),
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r
            for r in llm.substring_dedup(docs, k=8).collect()
        }
        assert out[1]["clean_text"] == "alpha beta gamma delta"
        assert out[1]["n_removed"] == 8
        assert out[2]["clean_text"] == "epsilon zeta"
        assert out[3]["clean_text"] == "unique prose with no repeats at all here"
        assert out[3]["n_removed"] == 0

    def test_overlapping_windows_merge_into_one_span(self, spark):
        # a 10-token shared passage flags 3 overlapping 8-windows that
        # must merge into ONE [pos, pos+10) span, not 24 removed tokens
        shared = "a b c d e f g h i j"
        docs = spark.createDataFrame(
            [(1, f"x {shared} y"), (2, f"p {shared} q")],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r for r in llm.substring_dedup(docs, k=8).collect()
        }
        assert out[1]["clean_text"] == "x y"
        assert out[1]["n_removed"] == 10

    def test_within_doc_repeat_removes_both_occurrences(self, spark):
        run = "r1 r2 r3 r4 r5 r6 r7 r8"
        docs = spark.createDataFrame(
            [(1, f"{run} middle words here {run}"),
             (2, "completely different text goes in this row")],
            ["doc_id", "text"],
        )
        out = llm.substring_dedup(docs, k=8).filter("doc_id = 1").first()
        assert out["clean_text"] == "middle words here"
        assert out["n_removed"] == 16

    def test_short_doc_passthrough(self, spark):
        docs = spark.createDataFrame(
            [(1, "tiny doc"), (2, "tiny doc")], ["doc_id", "text"]
        )
        for r in llm.substring_dedup(docs, k=8).collect():
            assert r["clean_text"] == "tiny doc"
            assert r["n_removed"] == 0


class TestTextRank:
    def _docs(self, spark):
        # star topology: every co-occurrence involves 'hub'; the closing
        # 'hub' keeps x/y/z structurally identical (z→hub count too)
        text = ("hub x hub y hub z " * 3) + "hub"
        return spark.createDataFrame(
            [(1, text), (2, text)], ["doc_id", "text"]
        )

    def test_hub_ranks_first_and_mass_conserved(self, spark):
        rows = llm.textrank_keywords(
            self._docs(spark), top_k=10, min_count=2, iterations=3
        ).collect()
        assert rows[0]["word"] == "hub"
        leaves = {r["word"]: r["rank"] for r in rows[1:]}
        assert set(leaves) == {"x", "y", "z"}
        # symmetric graph, no dangling mass: total rank stays 1
        assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-5
        # leaves are structurally identical → equal ranks
        assert len({round(v, 6) for v in leaves.values()}) == 1

    def test_deterministic_under_repartition(self, spark):
        docs = self._docs(spark)
        a = llm.textrank_keywords(docs, min_count=2).collect()
        b = llm.textrank_keywords(docs.repartition(7), min_count=2).collect()
        assert [(r["word"], r["rank"]) for r in a] == [
            (r["word"], r["rank"]) for r in b
        ]

    def test_min_count_prunes_rare_pairs(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b a b a b rare pair")], ["doc_id", "text"]
        )
        words = {
            r["word"]
            for r in llm.textrank_keywords(docs, min_count=3).collect()
        }
        assert "rare" not in words and "pair" not in words
        assert {"a", "b"} <= words


class TestSplitSentences:
    def test_segments_and_indexes(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello world. How are you? Fine!"),
             (2, "no punctuation here"),
             (3, "")],
            ["doc_id", "text"],
        )
        rows = llm.split_sentences(df).orderBy("doc_id", "sent_idx").collect()
        got = [(r["doc_id"], r["sent_idx"], r["sentence"]) for r in rows]
        assert got == [
            (1, 0, "Hello world."),
            (1, 1, "How are you?"),
            (1, 2, "Fine!"),
            (2, 0, "no punctuation here"),
        ]

    def test_lateral_is_map_only(self, spark):
        df = spark.createDataFrame([(1, "a. b.")], ["doc_id", "text"])
        plan = (
            llm.split_sentences(df)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan  # UDTF lateral join never shuffles


class TestBM25Indexed:
    def test_indexed_equals_scan_scorer(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [
                (1, "cat dog cat fish"),
                (2, "cat fish"),
                (3, "bird bird"),
                (4, "dog dog dog cat"),
            ],
            ["doc_id", "text"],
        )
        idx = str(tmp_path / "idx")
        llm.build_inverted_index(docs, idx)
        scan = [
            (r["doc_id"], r["score"], r["rank"])
            for r in llm.bm25_search(docs, "cat dog", top_k=10).collect()
        ]
        indexed = [
            (r["doc_id"], r["score"], r["rank"])
            for r in llm.bm25_search_indexed(
                spark, idx, "cat dog", top_k=10
            ).collect()
        ]
        assert scan == indexed  # bit-identical, including float scores

    def test_postings_lookup_is_pruned(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
        )
        idx = str(tmp_path / "idx")
        llm.build_inverted_index(docs, idx)
        plan = (
            llm.bm25_search_indexed(spark, idx, "alpha")
            ._jdf.queryExecution().executedPlan().toString()
        )
        # token equality pushed into the parquet scan; prefix partition
        # filter prunes the postings directories
        assert "EqualTo(token,alpha)" in plan  # pushed into the scan
        assert "tok_prefix" in plan


class TestEpochShuffle:
    def test_pos_is_exact_permutation(self, spark):
        docs = spark.range(300).select(F.col("id").alias("doc_id"))
        out = llm.epoch_shuffle(docs, seed=1).collect()
        assert sorted(r["pos"] for r in out) == list(range(300))

    def test_seed_changes_order_and_determinism(self, spark):
        docs = spark.range(100).select(F.col("id").alias("doc_id"))
        a = {r["doc_id"]: r["pos"] for r in llm.epoch_shuffle(docs, 1).collect()}
        b = {r["doc_id"]: r["pos"] for r in llm.epoch_shuffle(docs, 2).collect()}
        c = {
            r["doc_id"]: r["pos"]
            for r in llm.epoch_shuffle(docs.repartition(13), 1).collect()
        }
        assert a != b          # new epoch, new permutation
        assert a == c          # same seed: partitioning-independent

    def test_no_single_partition_global_sort(self, spark):
        docs = spark.range(100).select(F.col("id").alias("doc_id"))
        plan = (
            llm.epoch_shuffle(docs, 1)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # window partitions by bucket — a hash exchange, not the
        # SinglePartition a global OVER (ORDER BY) would plan
        assert "SinglePartition" not in plan


class TestContainmentPairs:
    def test_embedded_doc_full_containment(self, spark):
        short = "alpha beta gamma delta epsilon zeta"
        long_ = short + " plus entirely different closing material here"
        docs = spark.createDataFrame(
            [(1, short), (2, long_), (3, "unrelated text about other things")],
            ["doc_id", "text"],
        )
        rows = llm.containment_pairs(docs, threshold=0.8).collect()
        got = {(r["contained"], r["container"]): r["containment"] for r in rows}
        assert got[(1, 2)] == 1.0        # short fully inside long
        assert (2, 1) not in got         # reverse direction below 0.8
        assert not any(3 in k for k in got)

    def test_directionality_math(self, spark):
        # A has 4 shingles, B has 8, sharing 4: C(A→B)=1.0, C(B→A)=0.5
        a = "w1 w2 w3 w4 w5 w6"                       # 4 shingles
        b = a + " x1 x2 x3 x4"                         # 8 shingles, 4 shared? 
        docs = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
        rows = {
            (r["contained"], r["container"]): r["containment"]
            for r in llm.containment_pairs(docs, threshold=0.4).collect()
        }
        assert rows[(1, 2)] == 1.0
        assert 0.4 <= rows[(2, 1)] < 1.0


class TestDsirScores:
    def test_target_like_docs_score_higher(self, spark):
        """DSIR: docs sharing the target slice's vocabulary must score
        above docs sharing the raw slice's vocabulary (Xie et al. 2023
        importance weights)."""
        from pyspark.sql import functions as F

        target_text = "the quick brown fox jumps over the lazy dog"
        raw_text = "lorem ipsum dolor sit amet consectetur adipiscing elit"
        rows = []
        for i in range(20):
            rows.append((i, target_text, "en"))
        for i in range(20, 40):
            rows.append((i, raw_text, "xx"))
        # probes: NOT in the target slice, but written in each dialect
        rows.append((100, "quick brown fox dog", "xx"))
        rows.append((101, "lorem ipsum sit elit", "xx"))
        docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        out = {
            r["doc_id"]: r["dsir_score"]
            for r in llm.dsir_scores(docs, F.col("lang") == "en").collect()
        }
        assert out[100] > 0 > out[101]
        # the target docs themselves score highest of all
        assert min(out[i] for i in range(20)) > out[100]

    def test_scores_are_deterministic(self, spark):
        from pyspark.sql import functions as F

        docs = spark.createDataFrame(
            [(i, f"w{i % 7} w{i % 3} common", "en" if i % 2 else "xx")
             for i in range(30)],
            "doc_id long, text string, lang string",
        )
        a = {r["doc_id"]: r["dsir_score"]
             for r in llm.dsir_scores(docs, F.col("lang") == "en").collect()}
        b = {r["doc_id"]: r["dsir_score"]
             for r in llm.dsir_scores(docs, F.col("lang") == "en").collect()}
        assert a == b


class TestHybridSearchRrf:
    def test_fusion_math_and_outer_semantics(self, spark):
        """RRF = 1/(60+rl) + 1/(60+rs); docs seen by one retriever keep
        one term; ordering by fused score with id tie-break."""
        lex = spark.createDataFrame(
            [(1, 1), (2, 2), (3, 3)], "doc_id long, rank long"
        )
        sem = spark.createDataFrame(
            [(2, 1), (4, 2)], "doc_id long, rank long"
        )
        out = {r["doc_id"]: r for r in llm.hybrid_search_rrf(lex, sem, k=10).collect()}
        # doc 2: both lists -> two terms, ranked first
        assert abs(out[2]["rrf_score"] - (1 / 62 + 1 / 61)) < 1e-7
        assert out[2]["rank"] == 1
        # single-list docs keep one term
        assert abs(out[1]["rrf_score"] - 1 / 61) < 1e-7
        assert out[4]["semantic_rank"] == 2 and out[4]["lexical_rank"] is None
        # doc 1 (1/61) beats doc 4 (1/62) beats doc 3 (1/63)
        assert out[1]["rank"] == 2 and out[4]["rank"] == 3 and out[3]["rank"] == 4

    def test_k_truncation(self, spark):
        lex = spark.createDataFrame(
            [(i, i) for i in range(1, 30)], "doc_id long, rank long"
        )
        sem = spark.createDataFrame(
            [(i + 100, i) for i in range(1, 30)], "doc_id long, rank long"
        )
        got = llm.hybrid_search_rrf(lex, sem, k=5).collect()
        assert len(got) == 5


def test_textrank_empty_graph_returns_empty(spark):
    """A corpus where no bigram reaches min_count has no graph: the
    result is empty (word/rank schema preserved), not a division by
    zero."""
    docs = spark.createDataFrame(
        [(1, "each word appears only once here")], ["doc_id", "text"]
    )
    out = llm.textrank_keywords(docs, min_count=3)
    assert out.columns == ["word", "rank"]
    assert out.count() == 0


class TestPiiScan:
    """PII scanner: per-class detection, masking order, NULL convention."""

    def _scan(self, spark, rows):
        from big_data_in_agriculture_spark.operators.llm import pii_scan

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {r["doc_id"]: r for r in pii_scan(df).collect()}

    def test_each_class_detected_and_masked(self, spark):
        out = self._scan(spark, [
            (0, "mail a@b.cc and c.d+x@e.org here"),
            (1, "hosts 10.0.0.1 999.1.2.3"),
            (2, "call 555-123-4567 or 555 987 6543"),
            (3, "acct 123456789 id 12345678901"),
            (4, "clean document, v1.2.3.4 is a version not an ip"),
        ])
        assert out[0]["n_emails"] == 2 and out[0]["masked"] == "mail <EMAIL> and <EMAIL> here"
        assert out[1]["n_ipv4"] == 2 and out[1]["masked"] == "hosts <IP> <IP>"
        assert out[2]["n_phones"] == 2 and out[2]["masked"] == "call <PHONE> or <PHONE>"
        assert out[3]["n_digit_runs"] == 2 and out[3]["masked"] == "acct <NUM> id <NUM>"
        r4 = out[4]
        assert (r4["n_emails"], r4["n_ipv4"], r4["n_phones"], r4["n_digit_runs"]) == (0, 0, 0, 0)
        assert r4["masked"] == "clean document, v1.2.3.4 is a version not an ip"

    def test_masking_order_email_wins(self, spark):
        # a phone-shaped local part: counters fire independently on the
        # original text, but the mask applies email first -> ONE token
        out = self._scan(spark, [(0, "reach 555-123-4567@ex.com today")])
        r = out[0]
        assert r["n_emails"] == 1 and r["n_phones"] == 1
        assert r["masked"] == "reach <EMAIL> today"

    def test_null_text_null_out(self, spark):
        r = self._scan(spark, [(0, None)])[0]
        assert r["n_emails"] is None and r["n_digit_runs"] is None
        assert r["masked"] is None

    def test_cards_luhn_gated(self, spark):
        # grouped and bare Luhn-VALID cards count and mask as <CARD>;
        # a Luhn-failing bare run is NOT a card — it falls through to
        # the generic digit-run pass and masks as <NUM>
        out = self._scan(spark, [
            (0, "pay 4012 8888 8888 1881 or 4111111111111111 now"),
            (1, "ref 1234567812345678 is not a card"),
            (2, "amex 371449635398431 ok"),
        ])
        assert out[0]["n_cards"] == 2
        assert out[0]["masked"] == "pay <CARD> or <CARD> now"
        assert out[1]["n_cards"] == 0 and out[1]["n_digit_runs"] == 1
        assert out[1]["masked"] == "ref <NUM> is not a card"
        assert out[2]["n_cards"] == 1  # 15-digit amex, bare form
        assert out[2]["masked"] == "amex <CARD> ok"

    def test_card_embedded_in_longer_run_left_for_digit_pass(self, spark):
        # round-8 ADVICE fix: a Luhn-valid candidate extracted at \b
        # boundaries must be replaced ONLY at \b boundaries — the old
        # literal replace also hit it as a SUBSTRING of a longer digit
        # run ('904111111111111111' -> '90<CARD>11', leaving residue
        # the digit_runs pass then missed). The long run is not a card
        # (19+ digits / no boundary match there) and must mask whole
        # as <NUM>; the standalone card still masks as <CARD>.
        out = self._scan(spark, [
            (0, "pay 4111111111111111 ref 904111111111111111 end"),
        ])
        r = out[0]
        assert r["n_cards"] == 1
        assert r["masked"] == "pay <CARD> ref <NUM> end"

    def test_ibans_mod97_gated(self, spark):
        out = self._scan(spark, [
            (0, "send to DE89370400440532013000 or GB82WEST12345698765432"),
            (1, "bogus DE00123456781234567890 stays"),
        ])
        assert out[0]["n_ibans"] == 2
        assert out[0]["masked"] == "send to <IBAN> or <IBAN>"
        # failed checksum: not PII, left untouched (letters block the
        # digit-run \b so the generic pass cannot reach inside it)
        assert out[1]["n_ibans"] == 0
        assert out[1]["masked"] == "bogus DE00123456781234567890 stays"

    def test_checksum_classes_null_convention(self, spark):
        r = self._scan(spark, [(0, None)])[0]
        assert r["n_cards"] is None and r["n_ibans"] is None


class TestLeakageSafeSplit:
    def test_components_never_straddle(self, spark):
        from big_data_in_agriculture_spark.operators.llm import (
            leakage_safe_split,
        )

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(30)], "doc_id long, text string"
        )
        # two components: {0,1,2} (chained) and {10, 11}; rest singletons
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
        )
        out = leakage_safe_split(docs, pairs, n_buckets=4, test_buckets=1)
        rows = {r["doc_id"]: r for r in out.collect()}
        assert len(rows) == 30
        # whole component shares key and split
        assert {rows[i]["split_key"] for i in (0, 1, 2)} == {0}
        assert len({rows[i]["split"] for i in (0, 1, 2)}) == 1
        assert {rows[i]["split_key"] for i in (10, 11)} == {10}
        assert len({rows[i]["split"] for i in (10, 11)}) == 1
        # singletons key on themselves
        assert rows[5]["split_key"] == 5
        # both labels appear at this sizing
        assert {r["split"] for r in rows.values()} == {"train", "test"}

    def test_no_pairs_degenerates_to_hash_split(self, spark):
        from big_data_in_agriculture_spark.operators.llm import (
            leakage_safe_split,
        )

        docs = spark.createDataFrame(
            [(i, "d") for i in range(20)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        out = leakage_safe_split(docs, pairs).collect()
        assert len(out) == 20
        assert all(r["split_key"] == r["doc_id"] for r in out)


class TestRegexLinearity:
    """Pathological-input guards: every scanner regex must stay linear
    on a backtracking engine. Web garbage contains megabyte unbroken
    base64/hex runs and '<'-floods; the unbounded forms of the email
    and HTML-tag patterns cost O(run^2) on Java (39 s for ONE 200 kB
    token pre-fix). Bounds must also stay <= 1000: RE2's max-repeat
    COMPILE limit, past which DuckDB regexp_replace silently returns
    its input (engine-asymmetric divergence with no error)."""

    def test_monster_token_and_tag_flood_stay_fast(self, spark):
        import time

        from big_data_in_agriculture_spark.functions import text as TX

        df = spark.createDataFrame(
            [
                (1, "Zx9" * 130_000),          # 390 kB unbroken alnum run
                (2, "<" * 200_000),            # tag-open flood, no '>'
                (3, "9" * 200_000),            # digit run (\b-anchored)
                (4, "AB12" * 50_000),          # IBAN-shaped flood, one start
            ],
            "doc_id long, text string",
        )
        t0 = time.time()
        rows = {r["doc_id"]: r for r in df.select(
            "doc_id",
            *TX.pii_counts("text"),
            F.length(TX.mask_pii("text")).alias("mlen"),
            F.length(TX.strip_html("text")).alias("slen"),
        ).collect()}
        elapsed = time.time() - t0
        # pre-fix the alnum run ALONE cost ~160 s; the whole batch must
        # clear in a small fraction of that even on a contended box
        assert elapsed < 30, f"regex pass took {elapsed:.1f}s — quadratic?"
        assert rows[1]["n_emails"] == 0 and rows[1]["mlen"] == 390_000
        assert rows[2]["slen"] == 200_000      # nothing stripped, nothing hangs
        # one \b-anchored digit run: a single match, O(n)
        assert rows[3]["n_digit_runs"] == 1 and rows[3]["mlen"] == 5
        # card candidates on the digit run reject at the trailing \b in
        # O(1); the IBAN flood has a single viable start position
        assert rows[3]["n_cards"] == 0
        assert rows[4]["n_ibans"] == 0 and rows[4]["mlen"] == 200_000

    def test_oversize_tag_left_unstripped(self, spark):
        from big_data_in_agriculture_spark.functions import text as TX

        df = spark.createDataFrame(
            [(1, "<" + "a" * 600 + "> kept <b>x</b>")],
            "doc_id long, text string",
        )
        out = df.select(TX.strip_html("text").alias("s")).collect()[0]["s"]
        # >512-char tag survives (documented bound); real tag stripped
        assert "aaa" in out and "<b>" not in out


def test_neardup_components_deep_chain_pointer_jump(spark, monkeypatch):
    """A diameter-60 chain converges well inside max_iter=50: pointer
    jumping makes the min's reach roughly double per round (plain
    propagation would need 60 rounds and, pre-round-7, silently
    returned an under-merged labelling at the old max_iter=10 — the
    leakage_safe_split contamination hazard)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 61)], ["id_a", "id_b"]
    )
    # an edge cap of 0 forces the DISTRIBUTED path — the property
    # under test is the iterative loop's convergence, which the
    # round-12 small-graph fast path would otherwise bypass here
    monkeypatch.setattr(_util, "_DRIVER_MAX_EDGES", 0)
    comps = {
        r["id"]: r["component_id"]
        for r in llm.neardup_components(pairs).collect()
    }
    assert comps == {i: 1 for i in range(1, 62)}


def test_driver_components_match_distributed(spark, monkeypatch):
    """Round-12 small-graph fast path: driver union-find labels are
    BIT-IDENTICAL to the distributed large-star/small-star path's on
    an adversarial mix — chains (local-min stalls), a clique, isolated
    self-pair nodes, and id gaps — for both integer and string ids."""
    edges = (
        [(i, i + 1) for i in range(10, 40)]          # 30-hop chain
        + [(100 + a, 100 + b) for a in range(6) for b in range(a)]  # clique
        + [(200, 200), (300, 300)]                    # isolated self-pairs
        + [(7, 500), (500, 3)]                        # id gaps / zig-zag
    )
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    spairs = spark.createDataFrame(
        [(f"d{a:03d}", f"d{b:03d}") for a, b in edges], ["id_a", "id_b"]
    )

    def labels(p):
        return {
            (r["id"], r["component_id"])
            for r in llm.neardup_components(p).collect()
        }

    fast, sfast = labels(pairs), labels(spairs)
    monkeypatch.setattr(_util, "_DRIVER_MAX_EDGES", 0)
    assert fast == labels(pairs)
    assert sfast == labels(spairs)


def test_neardup_components_nonconvergence_raises(spark, monkeypatch):
    """Non-convergence raises instead of returning an under-merged
    labelling."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], ["id_a", "id_b"]
    )
    # starve BOTH phases: one fast round can't finish a 29-hop chain
    # and zero star rounds leaves the quotient unmerged
    # (edge cap 0: the convergence contract belongs to the
    # distributed path — the driver fast path is always exact)
    monkeypatch.setattr(llm, "_FAST_ROUNDS", 1)
    monkeypatch.setattr(_util, "_DRIVER_MAX_EDGES", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        llm.neardup_components(pairs, max_iter=0)


def test_leakage_safe_split_deep_chain_is_atomic(spark):
    """The exact ADVICE scenario: a transitive near-dup drift chain
    deeper than the old iteration bound must still land on ONE side
    of the split — every member shares the component split_key."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 41)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], ["id_a", "id_b"]
    )
    rows = llm.leakage_safe_split(docs, pairs).collect()
    keys = {r["split_key"] for r in rows}
    sides = {r["split"] for r in rows}
    assert keys == {1} and len(sides) == 1


class TestNaiveBayes:
    def _docs(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )

    def test_hand_computed_micros(self, spark):
        import math

        # one class, two tokens: class 'a' corpus = "x x y"
        # T_a=3, V=2, c(x)=2, c(y)=1
        docs = self._docs(spark, [(1, "x x y", "a")])
        tm, cm = llm.nb_train(docs)
        lps = {r["w"]: r["lp_micro"] for r in tm.collect()}

        def micro(p):
            return -int(math.floor(abs(math.log10(p)) * 1e6 + 0.5))

        assert lps["x"] == micro((2 + 1) / (3 + 2))
        assert lps["y"] == micro((1 + 1) / (3 + 2))
        c = cm.collect()[0]
        assert c["prior_micro"] == micro(1.0)  # only class -> prior 1
        assert c["oov_micro"] == micro(1 / (3 + 2))

    def test_separable_corpus_classifies_held_out(self, spark):
        rows = []
        for i in range(20):
            rows.append((i, "alpha beta gamma alpha", "greek"))
            rows.append((100 + i, "uno dos tres uno", "spanish"))
        train = self._docs(spark, rows)
        test = self._docs(
            spark,
            [(500, "beta gamma", None), (501, "dos tres tres", None)],
        )
        tm, cm = llm.nb_train(train)
        got = {r["doc_id"]: r["pred_cls"]
               for r in llm.nb_classify(test, tm, cm).collect()}
        assert got == {500: "greek", 501: "spanish"}

    def test_oov_tokens_fall_back_per_class(self, spark):
        # doc of ONLY unseen tokens: every class scores n*oov + prior,
        # so the winner is the one with the best prior+oov (here the
        # bigger class wins on prior; equal-size classes tie-break on
        # class name ascending)
        train = self._docs(
            spark,
            [(1, "p q", "a"), (2, "p q", "a"), (3, "r s", "b")],
        )
        tm, cm = llm.nb_train(train)
        test = self._docs(spark, [(9, "zz ww", None)])
        out = llm.nb_classify(test, tm, cm).collect()
        assert out[0]["pred_cls"] == "a"
        assert out[0]["n_tokens"] == 2

    def test_null_text_and_label_excluded_from_training(self, spark):
        train = self._docs(
            spark,
            [(1, "x", "a"), (2, None, "b"), (3, "y", None)],
        )
        tm, cm = llm.nb_train(train)
        assert {r["cls"] for r in cm.collect()} == {"a"}
        assert tm.count() == 1

    def test_zero_token_docs_emit_nothing(self, spark):
        train = self._docs(spark, [(1, "x", "a")])
        tm, cm = llm.nb_train(train)
        test = self._docs(spark, [(2, "   ", None), (3, None, None)])
        assert llm.nb_classify(test, tm, cm).count() == 0

    def test_empty_training_scores_nothing(self, spark):
        train = self._docs(spark, [(1, None, None)])
        tm, cm = llm.nb_train(train)
        test = self._docs(spark, [(2, "x y", None)])
        assert llm.nb_classify(test, tm, cm).count() == 0


class TestComponentsPathologicalTopologies:
    """Round-9 regression suite for the large-star/small-star rewrite:
    the two shapes that killed the old min-label+jump loop (grid
    components needed ~diameter rounds; the per-round stats squaring
    hit BigInteger's bit ceiling near round 40)."""

    def test_long_chain_converges(self, spark):
        # a 4000-node path: hop diameter 3999. The old loop's jump
        # stalls at local-min ids, so this would exhaust max_iter;
        # star contraction must converge well inside 50 rounds.
        from pyspark.sql import functions as F

        from big_data_in_agriculture_spark.operators.llm import (
            neardup_components,
        )

        # shuffle ids so they are uncorrelated with chain position
        # (the stalling precondition), deterministically
        e = spark.range(3999).select(
            F.pmod(F.col("id") * 2654435761, F.lit(4000)).alias("id_a"),
            F.pmod((F.col("id") + 1) * 2654435761, F.lit(4000)).alias(
                "id_b"
            ),
        )
        out = neardup_components(e, max_iter=50)
        labs = {r["component_id"] for r in out.collect()}
        assert labs == {0}  # one component, min id 0 (pmod hits 0)

    def test_grid_component_converges(self, spark):
        # 30x30 4-neighbor grid with hash-scrambled ids — the DBSCAN
        # cell-graph shape that degenerated to ~50 rounds in round 8
        from pyspark.sql import functions as F

        from big_data_in_agriculture_spark.operators.llm import (
            neardup_components,
        )

        n = 30
        cells = spark.range(n * n).select(
            (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y"),
            F.xxhash64("id").alias("nid"),
        )
        a = cells.select("x", "y", F.col("nid").alias("id_a"))
        right_nb = cells.select(
            (F.col("x") - 1).alias("x"), "y", F.col("nid").alias("id_b")
        )
        down_nb = cells.select(
            "x", (F.col("y") - 1).alias("y"), F.col("nid").alias("id_b")
        )
        e = a.join(right_nb, ["x", "y"]).select("id_a", "id_b").unionByName(
            a.join(down_nb, ["x", "y"]).select("id_a", "id_b")
        )
        out = neardup_components(e, max_iter=50)
        rows = out.collect()
        assert len(rows) == n * n
        assert len({r["component_id"] for r in rows}) == 1

    def test_many_rounds_no_stats_overflow(self, spark):
        # 40+ sequential rounds through pin_stats_free must keep plan
        # statistics CONSTANT-size (the old loop squared sizeInBytes
        # per round: bits 21->58->133->282->... -> BigInteger death).
        # Two disjoint long chains also verify per-component minima.
        from pyspark.sql import functions as F

        from big_data_in_agriculture_spark.operators.llm import (
            neardup_components,
        )

        c1 = spark.range(500).select(
            (F.col("id") + 1000).alias("id_a"),
            (F.col("id") + 1001).alias("id_b"),
        )
        c2 = spark.range(500).select(
            (F.col("id") + 5000).alias("id_a"),
            (F.col("id") + 5001).alias("id_b"),
        )
        out = neardup_components(c1.unionByName(c2))
        labs = {r["component_id"] for r in out.collect()}
        assert labs == {1000, 5000}
