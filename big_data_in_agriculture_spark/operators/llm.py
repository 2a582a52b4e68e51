"""LLM training-data pipeline operators: dedup + text analysis.

Operators a 100 TB document-corpus pipeline needs, each designed around
ONE scaling rule: never materialize all-pairs. Candidate generation is
always an equi-join on a derived key (content hash, shingle, MinHash
band bucket), so Spark plans a shuffled/broadcast hash join — quadratic
blowup is confined to within-bucket pairs, which the band/shingle math
keeps tiny.

Scale notes per operator are inline. All text math is JVM-side Column
expressions (functions/text.py). The only Python islands are the two
inherently-iterative per-item loops — first-fit bin packing and the
BPE encoder — both Arrow-batched (applyInPandas / pandas UDF), never
row-at-a-time.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ._util import _driver_rows
from ._util import fan_out as _fan_out
from ._util import arr_lit
from ._util import quantize_half_away


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical content by sha256; keep lowest id as canonical.

    One hash-aggregate shuffle keyed on the 64-hex digest — uniform key
    distribution by construction, no skew even on 100 TB of boilerplate
    (the digest of identical boilerplate is one hot key; AQE skew-split
    handles it, and the payload per row is just the id).
    """
    return (
        docs.select(F.sha2(F.col(text_col), 256).alias("text_sha"), F.col(id_col))
        .groupBy("text_sha")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_exact(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Return the surviving rows (lowest id per identical text).

    Hash-join the keep-set back instead of ``dropDuplicates`` so the
    survivor choice is deterministic (min id), not partition-order
    dependent — `dropDuplicates` keeps an arbitrary row.
    """
    keep = exact_dup_groups(docs, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup (exact, inverted-index join)
# ---------------------------------------------------------------------------

def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold — EXACT, no LSH.

    Inverted-index formulation: explode distinct k-shingles, self-join
    on the shingle (equi-join, never crossJoin), count shared shingles
    per pair, compute J = |∩| / (|A|+|B|−|∩|). Any pair with J > 0
    shares ≥1 shingle, so the equi-join loses nothing: this is exact.

    Scale: the join key is the shingle string; frequency of a shingle
    bounds its bucket's pair count. For web-scale corpora you first
    drop shingles with document-frequency above a cap (a stop-shingle
    filter) — the pairs they would contribute are far below threshold
    anyway. MinHash-LSH (below) replaces this when even the inverted
    index is too big.
    """
    # Shingles travel as 64-bit hashes from the start (one token hash +
    # rotate-xor combine — see TX.shingle_hashes): the shuffle carries
    # 8 bytes/key instead of ~3 words of text, and the plan stays small.
    shingled = _fan_out(docs).select(
        F.col(id_col).alias("id"),
        TX.shingle_hashes(F.col(text_col), k).alias("shingles"),
    ).withColumn("set_size", F.size("shingles"))
    exploded = shingled.select(
        "id", "set_size", F.explode("shingles").alias("shingle")
    )
    # One shuffle total: group the inverted index by shingle and expand
    # in-bucket pairs with array combinators — a self-JOIN here would
    # recompute the explode for each side (no exchange reuse) and, at
    # scale, shuffle the index twice. Bucket width is bounded by shingle
    # document-frequency, so the expansion is quadratic only within a
    # bucket (df_cap caps it explicitly; pairs dropped by the cap share
    # a near-universal shingle and sit far below any useful threshold).
    buckets = exploded.groupBy("shingle").agg(
        F.collect_list(F.struct("id", "set_size")).alias("ds")
    )
    if df_cap is not None:
        buckets = buckets.filter(F.size("ds") <= df_cap)
    n = F.size("ds")
    pair_arrays = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice("ds", i + 2, n),  # elements strictly after i (1-based)
                lambda y: F.when(
                    x["id"] < y["id"],
                    F.struct(
                        x["id"].alias("id_a"),
                        y["id"].alias("id_b"),
                        x["set_size"].alias("size_a"),
                        y["set_size"].alias("size_b"),
                    ),
                ).otherwise(
                    F.struct(
                        y["id"].alias("id_a"),
                        x["id"].alias("id_b"),
                        y["set_size"].alias("size_a"),
                        x["set_size"].alias("size_b"),
                    )
                ),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(pair_arrays).alias("p"))
        .select("p.id_a", "p.id_b", "p.size_a", "p.size_b")
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs.select("id_a", "id_b", "n_common", "jaccard")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (approximate, banded)
# ---------------------------------------------------------------------------

#: Mersenne prime 2^61 − 1: the classic universal-hash modulus. With
#: 32-bit base hashes and 31-bit coefficients, a*h+b < 2^63 — no
#: overflow even under ANSI arithmetic.
_MERSENNE61 = (1 << 61) - 1


# --- shared portable shingle/gram primitives (Python side) -----------------
# ONE implementation of the tokenize/window/md5 fixed-point feeds every
# Arrow kernel below (signatures, verification shingles, substring gram
# digests). The bit-parity contract with TX.shingle_hashes_md5, the
# Column md5 forms, and the DuckDB oracles rests on these staying the
# single source of truth — test_llm/test_properties assert the parity.

def _window_grams(toks: list[str], k: int, whole_doc_if_short: bool) -> list[str]:
    """' '-joined k-token windows of a token list, in position order.

    Shingling convention (whole_doc_if_short=True, matches
    TX.word_shingles): a doc shorter than k tokens yields its whole
    token string as the single gram, so every doc has ≥1 shingle.
    Substring-dedup convention (False): short docs yield NO windows.
    """
    m = len(toks) - k + 1
    if m < 1:
        return [" ".join(toks)] if whole_doc_if_short else []
    return [" ".join(toks[i : i + k]) for i in range(m)]


def _md5_u32(gram: str) -> int:
    """First 4 md5 bytes big-endian == the engines' shared fixed point
    ``('0x' || substr(md5(s), 1, 8))::BIGINT`` / conv(substr(md5…))."""
    import hashlib

    return int.from_bytes(hashlib.md5(gram.encode("utf-8")).digest()[:4], "big")


def _md5_shingle_hashes(text: str, k: int) -> set[int]:
    """Distinct portable 32-bit shingle hashes of one document."""
    toks = text.split(" ")
    return {_md5_u32(g) for g in _window_grams(toks, k, True)}


def _affine_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for permutation i via a splitmix-style mix.

    a is forced odd and both are bounded to 31 bits so the affine form
    a*h32 + b stays inside signed-64 range.
    """
    x = (i + 1) * 0x9E3779B97F4A7C15 & (1 << 64) - 1
    x ^= x >> 30
    x = x * 0xBF58476D1CE4E5B9 & (1 << 64) - 1
    x ^= x >> 27
    a = (x & 0x7FFFFFFF) | 1
    b = (x >> 33) & 0x7FFFFFFF
    return a, b


def _affine_table(num_perm: int):
    """``(a_vec, b_vec, mers)``: the num_perm affine permutations
    (``_affine_params``) as int64 arrays, plus the 2^61−1 modulus."""
    import numpy as np

    params = [_affine_params(i) for i in range(num_perm)]
    a_vec = np.array([a for a, _ in params], dtype=np.int64)
    b_vec = np.array([b for _, b in params], dtype=np.int64)
    return a_vec, b_vec, np.int64(_MERSENNE61)


def _affine_min(hv, table):
    """One MinHash signature: column minima of the (|S| × num_perm)
    affine grid ``(a_i*h + b_i) mod 2^61−1`` over the int64 shingle
    hashes ``hv``. a, b < 2^31 and h < 2^32 keep a*h+b < 2^63, so
    int64 numpy arithmetic is bit-identical to the Column and SQL
    folds."""
    a_vec, b_vec, mers = table
    return ((hv[:, None] * a_vec[None, :] + b_vec) % mers).min(axis=0)


def _band_buckets(sig, bands: int, rows_per_band: int) -> list[int]:
    """Portable band keys of one signature: per band, the top 60 bits
    of ``md5('s0|s1|…')`` — the oracle's
    ``('0x' || substr(md5(joined), 1, 15))::BIGINT``."""
    import hashlib

    out = []
    for i in range(bands):
        joined = "|".join(
            str(int(x))
            for x in sig[i * rows_per_band : (i + 1) * rows_per_band]
        )
        out.append(
            int.from_bytes(hashlib.md5(joined.encode()).digest()[:8], "big")
            >> 4
        )
    return out


def minhash_signatures(
    docs: DataFrame,
    num_perm: int = 64,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> DataFrame:
    """num_perm-wide MinHash signature per doc as array<long>.

    MAP-ONLY: the shingle set already lives in one array per doc
    (TX.shingle_hashes), so all num_perm minima fold out of ONE
    ``F.aggregate`` traversal of that array — the accumulator is the
    running-minimum array and each element contributes its num_perm
    affine transforms ``(a_i*h + b_i) mod 2^61−1`` via one zip_with.
    No explode, no hash aggregate, NO SHUFFLE: at 100 TB the signature
    stage is pure scan parallelism, and the only shuffle in the whole
    near-dup pipeline is the band-bucket aggregate.

    Formulation notes (both alternatives compute identical values):
    * explode+groupBy materializes |docs|×|shingles| rows into a
      num_perm-column agg state — one extra full shuffle, ~3× slower
      at sf0.1;
    * num_perm separate ``array_min(transform(...))`` projections blow
      the expression tree up ~num_perm×; analysis + codegen of that
      plan dominates one-shot queries (measured 17 s cold vs 3 s for
      this single-aggregate form at sf0.1, and ~2× slower warm).

    ``portable=True`` (default) derives the base 32-bit shingle hash
    from md5 (TX.shingle_hashes_md5) so DuckDB reproduces signatures
    — and therefore band buckets, candidates, and verified pairs —
    BIT-IDENTICALLY; the SQL twin lives in __spark_entry__'s
    ``_minhash_neardup_sql``. ``portable=False`` restores the
    xxhash64 token-combine for deployments that don't need an
    engine-portable oracle. The tax is measured, not asserted:
    SCALE.md's ``minhash_500k_portable`` vs ``minhash_500k_fast``
    probes put the full near-dup pipeline at 27.7 s vs 9.0 s steady
    on the identical 500k-doc corpus (~3.1×, dominated by per-gram
    ``hashlib.md5`` calls) with statistically equivalent recall —
    flip the flag for unaudited production sweeps ≥ ~1M docs.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    table = _affine_table(num_perm)

    if portable:
        # Tokenize + shingle + md5 + affine minima in ONE Arrow kernel.
        # The Column twin (TX.shingle_hashes_md5 → affine fold) computes
        # identical values — test_llm asserts bit-parity — but spends
        # ~5× the time in interpreted HOF lambdas (md5+conv+substring
        # chains per element); _md5_shingle_hashes is the shared
        # fixed-point (same primitive DuckDB's md5() and Spark's F.md5
        # evaluate), so the SQL oracle still replays signatures exactly.
        @pandas_udf(ArrayType(LongType()))
        def _sig_text(texts: pd.Series) -> pd.Series:
            out = []
            for txt in texts:
                if txt is None:
                    out.append(None)
                    continue
                shingles = _md5_shingle_hashes(txt, k)
                hv = np.fromiter(
                    shingles, dtype=np.int64, count=len(shingles)
                )
                out.append(_affine_min(hv, table))
            return pd.Series(out)

        return _fan_out(docs).select(
            F.col(id_col).alias("id"),
            _sig_text(F.col(text_col)).alias("signature"),
        )

    mask = F.lit((1 << 32) - 1)
    shingled = _fan_out(docs).select(
        F.col(id_col).alias("id"),
        F.transform(
            TX.shingle_hashes(F.col(text_col), k),
            lambda s: s.bitwiseAND(mask),
        ).alias("h"),
    )
    # The min-fold itself is integer linear algebra — (|shingles| ×
    # num_perm) affine transforms, column-wise minima — so like LSH
    # bucketing (similarity._bucketize) it runs as a vectorized numpy
    # kernel per Arrow batch rather than an INTERPRETED Catalyst
    # higher-order fold (measured ~2.5× on the end-to-end near-dup
    # pipeline at sf0.1; the gap widens with corpus size). The shingle
    # hashing stays JVM-side; a*h+b with a,b < 2^31 and h < 2^32 stays
    # < 2^63, so int64 numpy arithmetic reproduces the Column
    # formulation BIT-IDENTICALLY — same signatures, same buckets.
    @pandas_udf(ArrayType(LongType()))
    def _sig(hashes: pd.Series) -> pd.Series:
        out = []
        for h in hashes:
            out.append(_affine_min(np.asarray(h, dtype=np.int64), table))
        return pd.Series(out)

    return shingled.select("id", _sig(F.col("h")).alias("signature"))


def lsh_band_keys(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    portable: bool = True,
) -> DataFrame:
    """(id, band, bucket) rows: each band's r-row signature slice hashed.

    The shared banding projection behind batch near-dup
    (``lsh_candidate_pairs``) and incremental admission
    (``streaming.corpus``): map-only explode of a bands-wide struct
    array, no shuffle — callers decide how to join the bucket keys.

    ``portable=True`` buckets via the first 15 hex chars of
    ``md5('s0|s1|...')`` (60 bits, DuckDB-replicable:
    ``('0x' || substr(md5(concat_ws('|', ...)), 1, 15))::BIGINT``),
    computed in one small Arrow kernel — the equivalent Column chain
    (bands × [4 casts + concat_ws + md5 + substring + conv + cast])
    builds a plan whose one-time analysis/codegen dominates one-shot
    queries. ``portable=False`` keeps the single-node xxhash64 Column
    form. Either way the key is uniform and skew-free.
    """
    if portable:
        import pandas as pd
        from pyspark.sql.pandas.functions import pandas_udf
        from pyspark.sql.types import ArrayType, LongType

        @pandas_udf(ArrayType(LongType()))
        def _buckets(sigs: pd.Series) -> pd.Series:
            return pd.Series([
                None if sig is None
                else _band_buckets(sig, bands, rows_per_band)
                for sig in sigs
            ])

        return signatures.select(
            "id",
            F.posexplode(_buckets(F.col("signature"))).alias("band", "bucket"),
        )

    return signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("signature")[i * rows_per_band + r]
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    portable: bool = True,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Band the signatures and equi-join within band buckets.

    Each band's r-row slice hashes to a bucket key; docs sharing ANY
    band bucket become a candidate pair. Collision probability for true
    Jaccard s is 1−(1−s^r)^b — with b=16, r=4 the S-curve knees near
    s≈0.5. The join key is (band_idx, bucket_hash): uniform, skew-free
    — EXCEPT on duplicate-heavy corpora, where every member of a
    duplicate family lands in the same bucket in every band.

    ``max_bucket_width`` is the guard for that case (the ``df_cap``
    of this operator): buckets wider than the cap are DROPPED before
    pair expansion, bounding both the ``collect_list`` task memory
    and the in-bucket quadratic at width². The recall contract is
    explicit: a family with more than ``max_bucket_width`` members
    sharing a band slice contributes no candidates from that band —
    such families are exact or near-exact duplicate clusters that
    should be collapsed by ``exact_dup_groups``/``collapse_exact``
    BEFORE LSH (the intended composition; see
    ``minhash_neardup_pairs(collapse_exact=True)``). The cap is a
    backstop against residual near-exact mega-families (boilerplate
    differing in one token), not a substitute for the collapse.
    """
    banded = lsh_band_keys(signatures, bands, rows_per_band, portable=portable)
    return _candidates_from_banded(banded, max_bucket_width)


def _banded_text(
    docs: DataFrame,
    num_perm: int,
    bands: int,
    k: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, band, bucket) straight from text in ONE Arrow kernel.

    Fuses ``minhash_signatures`` + ``lsh_band_keys`` (portable forms)
    for consumers that never need the signature column itself
    (``minhash_neardup_pairs``): the two-kernel path ships every
    num_perm-long signature array JVM→Python→JVM twice (guide §4 — the
    boundary cost is per crossing) just to md5 its band slices in a
    second worker pass. Same helpers, same arithmetic, bit-identical
    buckets — pinned by test_llm::test_fused_banding_matches_two_pass.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    rows_per_band = num_perm // bands
    table = _affine_table(num_perm)

    @pandas_udf(ArrayType(LongType()))
    def _buckets_text(texts: pd.Series) -> pd.Series:
        out = []
        for txt in texts:
            if txt is None:
                out.append(None)
                continue
            shingles = _md5_shingle_hashes(txt, k)
            hv = np.fromiter(shingles, dtype=np.int64, count=len(shingles))
            out.append(
                _band_buckets(_affine_min(hv, table), bands, rows_per_band)
            )
        return pd.Series(out)

    return _fan_out(docs).select(
        F.col(id_col).alias("id"),
        F.posexplode(_buckets_text(F.col(text_col))).alias("band", "bucket"),
    )


def _candidates_from_banded(
    banded: DataFrame, max_bucket_width: int | None
) -> DataFrame:
    """Bucket-grouped pair expansion over (id, band, bucket) rows —
    the body of :func:`lsh_candidate_pairs`, shared with the fused
    text→buckets path (:func:`_banded_text`)."""
    # In-bucket expansion instead of a self-join: a self-join would run
    # the signature pipeline (shingle explode + num_perm affine mins —
    # the expensive part) once PER SIDE; grouping the bucket members
    # and expanding pairs with array combinators computes signatures
    # once and shuffles once. Bucket width is bounded by the banding
    # math (an r-row slice only collides for near-identical docs), so
    # the in-bucket quadratic is confined to true near-dup families —
    # unbounded only for duplicate clusters, which max_bucket_width
    # caps. With the cap, widths are counted FIRST and oversized
    # buckets dropped before any collect_list builds — the 100k-member
    # array never exists in any task. The width agg and the join both
    # hash-partition `banded` on (band, bucket), so the exchange is
    # reused, not recomputed.
    if max_bucket_width is None:
        buckets = (
            banded.groupBy("band", "bucket")
            .agg(F.collect_list("id").alias("ids"))
            .filter(F.size("ids") > 1)
            .select(F.array_sort("ids").alias("ids"))
        )
    else:
        ok = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_w"))
            .filter((F.col("_w") > 1) & (F.col("_w") <= max_bucket_width))
            .select("band", "bucket")
        )
        buckets = (
            banded.join(ok, ["band", "bucket"])
            .groupBy("band", "bucket")
            .agg(F.collect_list("id").alias("ids"))
            .select(F.array_sort("ids").alias("ids"))
        )
    n = F.size("ids")
    pair_arrays = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + 2, n),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arrays).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
    collapse_exact: bool = False,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """LSH candidates → exact Jaccard verification → pairs ≥ threshold.

    The full near-dup pipeline: signatures (one pass), banded join
    (candidates only), then a verification join that recomputes true
    shingle Jaccard ONLY for candidates. At 100 TB the verification
    input is the candidate list (tiny), not the corpus.

    ``portable=True`` (default) keeps every hash in the pipeline
    md5-derived so a DuckDB oracle replays the ENTIRE pipeline —
    signatures, buckets, candidates, verified jaccard — and the
    driver's hash check can go green on an approximate operator.

    ``collapse_exact=True`` is the duplicate-heavy-corpus mode — the
    shape real web corpora actually have (one boilerplate page ×
    10k–100k copies). Without it, every member of an exact-duplicate
    family shares every band bucket, so bucket width equals family
    size and the in-bucket expansion is width² (~5×10⁹ candidate
    structs for one 100k-copy family) with the whole family collected
    into one task. With it:

    1. exact families are collapsed by content hash (one uniform
       sha-keyed shuffle, ``exact_dup_groups``) and ONLY the
       representative (min id) enters the LSH pipeline;
    2. each family contributes LINEAR star edges (rep, member,
       jaccard 1.0) instead of its quadratic intra-family pairs;
    3. cross-family near-dups surface as representative-level pairs.

    The output contract therefore changes from "all near-dup pairs"
    to "a spanning pair set": connected components over the result
    are IDENTICAL to components over the full quadratic expansion
    (star edges connect each family; rep pairs connect families), so
    every downstream dedup decision — who survives, cluster sizes —
    is unchanged, while the output and the compute stay linear in
    family size. ``max_bucket_width`` additionally caps residual
    near-exact mega-families inside LSH (see ``lsh_candidate_pairs``).
    """
    rows_per_band = num_perm // bands
    if collapse_exact:
        groups = exact_dup_groups(docs, text_col, id_col)
        hashed = docs.select(
            F.sha2(F.col(text_col), 256).alias("text_sha"),
            F.col(id_col).alias("member_id"),
        )
        star = (
            hashed.join(groups, "text_sha")
            .filter(F.col("member_id") != F.col("keep_id"))
            .select(
                F.col("keep_id").alias("id_a"),        # keep_id = min id < member
                F.col("member_id").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        reps = dedup_exact(docs, text_col, id_col)
        rep_pairs = minhash_neardup_pairs(
            reps,
            threshold,
            num_perm,
            bands,
            k,
            text_col,
            id_col,
            portable=portable,
            collapse_exact=False,
            max_bucket_width=max_bucket_width,
        )
        return rep_pairs.unionByName(star)
    # r12: the portable path goes text → band buckets in ONE Arrow
    # kernel (_banded_text) — the two-kernel form shipped every
    # signature array across the Python boundary twice (guide §4) only
    # to md5 its band slices in a second worker pass. Bit-identical
    # buckets (same shingle/affine/md5 helpers), so candidates and
    # verified pairs are unchanged.
    if portable:
        banded = _banded_text(docs, num_perm, bands, k, text_col, id_col)
        raw_cands = _candidates_from_banded(banded, max_bucket_width)
    else:
        sigs = minhash_signatures(
            docs, num_perm, k, text_col, id_col, portable=portable
        )
        raw_cands = lsh_candidate_pairs(
            sigs, bands, rows_per_band, portable=portable,
            max_bucket_width=max_bucket_width,
        )
    # The candidate list feeds THREE consumers (two id-set branches +
    # the final join); without a cut, the whole signature+banding
    # pipeline re-executes per branch — map-side work is never shared
    # across plan branches. Candidates are tiny by construction
    # (near-dup families only), so a lazy localCheckpoint materializes
    # them once; measured ~2× on the full pipeline at sf0.1.
    cands = raw_cands.localCheckpoint(eager=False)
    # Verification only needs shingle sets for docs that appear in a
    # candidate pair — a vanishing fraction of the corpus. Semi-join
    # that id set (broadcast) BEFORE computing shingles, so the full
    # corpus is shingled once (inside the signature pass), not twice
    # more here.
    cand_ids = (
        cands.select(F.col("id_a").alias("cid"))
        .unionByName(cands.select(F.col("id_b").alias("cid")))
        .distinct()
    )
    if portable:
        # Same shared md5 shingle primitive as the signature kernel, as
        # one small Arrow UDF: the Column twin (TX.shingle_hashes_md5)
        # appears TWICE in this plan (sa/sb branches) and its per-
        # element md5+conv+substring chains dominate one-shot plan
        # analysis/codegen.
        import pandas as pd
        from pyspark.sql.pandas.functions import pandas_udf
        from pyspark.sql.types import ArrayType, LongType

        @pandas_udf(ArrayType(LongType()))
        def _shingles_md5(texts: pd.Series) -> pd.Series:
            out = []
            for txt in texts:
                if txt is None:
                    out.append(None)
                    continue
                out.append(list(_md5_shingle_hashes(txt, k)))
            return pd.Series(out)

        shingle_expr = _shingles_md5(F.col(text_col))
    else:
        shingle_expr = TX.shingle_hashes(F.col(text_col), k)
    # pinned: sa and sb below are PLAN BRANCHES over this frame, and
    # branches never share map work — unpinned, the candidate docs were
    # scanned, semi-joined and md5-shingled TWICE (two ArrowEvalPython
    # subtrees in the r12 before-plan). Candidate-bounded, so the pin
    # is tiny by the same argument as the cand_ids broadcast.
    shingled = (
        _fan_out(docs)
        .join(
            F.broadcast(cand_ids),
            F.col(id_col) == F.col("cid"),
            "left_semi",
        )
        .select(F.col(id_col).alias("id"), shingle_expr.alias("shingles"))
        .localCheckpoint(eager=False)
    )
    sa = shingled.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    # both join sides are semi-joined down to candidate members — the
    # same "tiny by construction" bound that justifies broadcasting
    # cand_ids above — but their post-UDF size ESTIMATES are opaque,
    # so without the hint the planner sort-merge-joins the pair table
    # (2 exchanges + sorts over a candidate-bounded frame, guide §3.1)
    verified = (
        cands.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


#: Round cap of neardup_components' phase-1 min-label propagation (read
#: at call time); what it leaves unconverged goes to the star phase.
_FAST_ROUNDS = 6


def _components_driver(
    nodes: DataFrame, ids: list, edges: list
) -> DataFrame:
    """Driver-local connected components over the collected node
    ``ids`` and ``(u, v)`` ``edges``: (id, component_id=min id).

    Union-find keeping the SMALLER root as the representative — the
    final root of every component is its minimum id regardless of edge
    order, which is exactly the labelling the distributed path (min
    propagation / star roots) converges to. Python's ``<`` agrees with
    Spark's ordering on both id families the pair graphs use (integers
    trivially; strings because UTF-8 byte order equals code-point
    order), so the labels are identical, not just isomorphic.
    """
    parent = {i: i for i in ids}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru == rv:
            continue
        if rv < ru:
            ru, rv = rv, ru
        parent[rv] = ru

    # the schema of the Spark path's own edge-free result
    return nodes.sparkSession.createDataFrame(
        [(i, find(i)) for i in ids],
        nodes.select("id", F.col("id").alias("component_id")).schema,
    )


def neardup_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs: (id, component_id).

    The clustering step of a dedup pipeline — pair lists from
    jaccard/minhash/simhash become groups, one survivor kept per group.

    **Small-graph fast path**: one bounded collect of the canonical
    edge set (the graph operators' shared driver path,
    ``_util._driver_rows``) decides whether it is model-sized. At or
    under ``_util._DRIVER_MAX_EDGES`` edges (and 2× that many nodes),
    with integer or string ids, the graph is labelled by driver-local
    union-find instead of the iterative loop — identical labels
    (component minimum), none of the 20-40 per-round scheduler trips.
    Above the cap, the distributed TWO-PHASE hybrid below runs
    unchanged, after at most that one extra job.

    TWO-PHASE hybrid (round 9):

    **Phase 1 — min-label propagation + pointer jump**, at most
    ``_FAST_ROUNDS`` rounds: each node adopts the minimum label in its
    closed neighborhood, then label(label(id)). Two node-keyed
    shuffles per round — the cheap loop, and near-dup families are
    near-cliques of diameter 2-3 that CONVERGE here in 1-3 rounds
    (verified per round by a changed-label count). This loop alone is
    ~O(diameter) worst case: on grid-shaped components with
    geometry-uncorrelated ids (DBSCAN's cell graph) the jump stalls at
    local-minimum ids — a 35-cell blob needed ~50 rounds in round 8 —
    so it is strictly a bounded fast path, never trusted to finish.

    **Phase 2 — alternating LARGE-STAR / SMALL-STAR contraction**
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) on the LABEL-QUOTIENT graph (edge (a,b) →
    (label(a), label(b)), self-loops dropped — sound because phase-1
    labels are same-component node ids and the true minimum m keeps
    label(m) = m): large-star attaches every strictly-larger neighbor
    to the neighborhood minimum, small-star attaches the node and its
    smaller neighbors (edges oriented big→small), until the edge set
    is a fixpoint — which the paper proves is exactly the stars rooted
    at component minima, in O(log² n) rounds. Both operations are one
    aggregate + one equi-join (no per-node neighbor collection, so a
    million-member star never builds a million-element array row).
    Final label = star root of the phase-1 label — identical to plain
    min propagation and to the recursive SQL oracle.

    Every per-round pin is ``pin_iter`` (_util.py): plain
    localCheckpoint most rounds (real statistics keep the node-sized
    tables broadcast-eligible — an always-stats-free loop measured ~5×
    slower per round), with a stats-free reset every 8th round because
    preserved originStats SQUARE per round (measured bit-lengths
    21→58→133→282→581→1177→2371) until BigInteger's 2^31-bit ceiling
    killed round ~30-45 — the round-8 1M-point death, root-caused in
    round 9.

    Convergence is VERIFIED, not assumed: phase 1 by a changed-label
    count, phase 2 by an exact edge-set fixpoint test (equal distinct
    counts + empty one-sided difference); if ``max_iter`` star rounds
    pass without a fixpoint, it raises rather than silently returning
    an under-merged labelling — downstream consumers (``dedup_near``,
    ``leakage_safe_split``) promise whole families move atomically.
    """
    from ._util import pin_iter

    # the raw pair list is checkpointed ONCE and every derived frame
    # (node set, canonical edges) reads that materialization — the
    # upstream pair GENERATOR (shingling, inverted-index shuffles) must
    # never run twice (measured 14.5 s → 4.5 s in round 3, and a
    # round-9 refactor that split nodes/edges into two checkpoints
    # over the generator re-paid the full jaccard cost — caught by the
    # leakage_split bench)
    raw = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).localCheckpoint(eager=False)
    # node set remembered up front: self-pairs and isolated inputs must
    # survive to the output with label = self
    nodes = (
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # canonical big→small orientation, self-loops dropped
    edges = (
        raw.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Small-graph fast path (round 12, guide §1.2/§5): at or under
    # _util._DRIVER_MAX_EDGES canonical edges the whole graph is
    # model-sized, and the iterative loop's cost is pure scheduler
    # overhead (each round is 2-6 jobs over a few KB). Collect it like
    # a model — the same driver budget kmeans_fit's centroids and
    # classifier_train's gradients already use — and label with
    # union-find; the node gate (2× the cap) keeps a degenerate
    # self-pair-heavy input (huge node set, few real edges) off the
    # driver. Labels are bit-identical to the distributed path's
    # (component minimum), pinned by
    # test_llm::test_driver_components_match_distributed.
    key = [edges.schema["u"].dataType]
    rows = _driver_rows(edges, key)  # materializes the lazy pin
    if rows is not None:
        if not rows:
            return nodes.select("id", F.col("id").alias("component_id"))
        ids = _driver_rows(nodes, key, scale=2)
        if ids is not None:
            return _components_driver(nodes, [r[0] for r in ids], rows)

    # -- PHASE 1: min-label propagation + pointer jump, a few CHEAP
    # rounds (2 node-keyed shuffles per round vs star contraction's
    # ~6). Near-dup families are near-cliques of diameter 2-3 and
    # converge here in 1-3 rounds — the overwhelmingly common case,
    # and the round-9 bench showed star-only cost leakage_split 2×.
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    labels = nodes.withColumn("label", F.col("id"))
    fast_converged = False
    for _rnd in range(_FAST_ROUNDS):
        neighbor_min = (
            sym.join(labels, sym.u == labels.id)
            .groupBy(F.col("v").alias("id"))
            .agg(F.min("label").alias("_nl"))
        )
        half = pin_iter(
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("_nl", F.col("label"))
                ).alias("label"),
                F.col("label").alias("_old"),
            ),
            _rnd, eager=False,
        )
        lk = half.select(
            F.col("id").alias("_lid"), F.col("label").alias("_ll")
        )
        updated = pin_iter(
            half.join(lk, F.col("label") == F.col("_lid"), "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("_ll", F.col("label"))
                ).alias("label"),
                "_old",
            ),
            _rnd, eager=False,
        )
        changed = updated.filter(F.col("label") != F.col("_old")).count()
        labels = updated.drop("_old")
        if changed == 0:
            fast_converged = True
            break
    if fast_converged:
        return labels.select(
            F.col("id"), F.col("label").alias("component_id")
        )

    # -- PHASE 2: large-star/small-star contraction on the LABEL
    # QUOTIENT graph (edge (a,b) → (label(a), label(b)), self-loops
    # dropped). The quotient is sound: phase-1 labels are node ids of
    # the same component, the true component minimum m keeps label(m)
    # = m, and a quotient node with NO cross-label edge is already a
    # complete component labelled by its minimum — so star roots over
    # the quotient are exactly the per-component minima, and composing
    # label → star-root gives the identical final labelling.
    lu = labels.select(F.col("id").alias("u"), F.col("label").alias("_lu"))
    lv = labels.select(F.col("id").alias("v"), F.col("label").alias("_lv"))
    q_edges = (
        edges.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("_lu") != F.col("_lv"))
        .select(
            F.greatest("_lu", "_lv").alias("u"),
            F.least("_lu", "_lv").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_q = q_edges.count()
    converged = n_q == 0
    for _rnd in range(max_iter):
        if converged:
            break
        # LARGE-STAR. Symmetrize; m(u) = min(neighbors(u) ∪ u); attach
        # each neighbor v > u to m(u). Every edge (a,b), a>b appears in
        # qsym from both endpoints and is emitted exactly once (from
        # the smaller one), so connectivity is preserved (Kiveris et
        # al. SoCC'14, Lemma 1). No distinct here: duplicates cannot
        # arise faster than the SMALL-STAR distinct removes them, and
        # min() is duplicate-blind.
        qsym = q_edges.unionByName(
            q_edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = qsym.groupBy("u").agg(F.min("v").alias("_mn")).select(
            "u", F.least("_mn", "u").alias("m")
        )
        large = pin_iter(
            qsym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v")),
            _rnd, eager=False,
        )
        # SMALL-STAR on the big→small edges: m(u) = min of u's smaller
        # neighbors; attach u and every smaller neighbor to m(u).
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        new_edges = pin_iter(
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .distinct(),
            _rnd, eager=False,
        )
        # sound fixpoint test on distinct sets: equal cardinality and
        # an empty one-sided difference imply set equality (isEmpty
        # short-circuits on the first surviving row)
        n_new = new_edges.count()  # materializes the lazy pin
        if n_new == n_q and new_edges.exceptAll(q_edges).isEmpty():
            converged = True
        q_edges, n_q = new_edges, n_new
    if not converged:
        raise RuntimeError(
            f"neardup_components did not converge in {max_iter} "
            "large-star/small-star rounds — the labelling is "
            "under-merged and unsafe for dedup/split consumers; raise "
            "max_iter"
        )
    # fixpoint q_edges are (member-label, root) stars; labels whose
    # quotient node has no star edge keep themselves
    star = q_edges.select(
        F.col("u").alias("_ql"), F.col("v").alias("_root")
    )
    return labels.join(star, labels.label == F.col("_ql"), "left").select(
        "id", F.coalesce("_root", F.col("label")).alias("component_id")
    )


def dedup_near(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full near-dup dedup: pairs → components → keep min-id per group.

    Documents in no near-dup pair survive untouched (left-anti against
    the clustered set is implicit: they never get a component row).
    """
    comps = neardup_components(
        jaccard_pairs(docs, threshold=threshold, k=k, text_col=text_col, id_col=id_col)
    )
    drop = comps.filter(F.col("id") != F.col("component_id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Frequency-weighted 32-bit SimHash per document.

    Token hash = first 8 hex chars of sha256 (portable: the SQL oracle
    reproduces it digit-by-digit). Per bit: sum ±1 over all tokens;
    fingerprint bit = 1 iff the sum > 0. Everything is one projection
    over an exploded token list + one hash-agg back to doc grain — two
    narrow stages, integer math only, engine-exact.
    """
    tok = _fan_out(docs).select(
        F.col(id_col).alias("id"),
        F.explode(TX.tokens(F.col(text_col))).alias("tok"),
    ).withColumn(
        "h", F.conv(F.substring(F.sha2(F.col("tok"), 256), 1, 8), 16, 10).cast("long")
    )
    bit_sums = tok.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return bit_sums.select(F.col("id").alias(id_col), fp.alias("simhash"))


def simhash_dup_candidates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup candidates = identical simhash (Hamming distance 0).

    The scale path for hamming-distance ≤ d uses the standard block
    trick: split the fingerprint into d+1 blocks, equi-join on each
    block (any pair within distance d matches exactly on ≥1 block).
    Distance-0 is the degenerate single-block case shown here.
    """
    sh = simhash(docs, text_col, id_col)
    a = sh.select(F.col(id_col).alias("id_a"), "simhash")
    b = sh.select(F.col(id_col).alias("id_b"), "simhash")
    return (
        a.join(b, "simhash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "simhash")
    )


# ---------------------------------------------------------------------------
# Text analysis over the documents table
# ---------------------------------------------------------------------------

def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: chars, tokens, distinct tokens, quality."""
    return docs.select(
        "doc_id",
        TX.n_chars(text_col).alias("n_chars_calc"),
        TX.n_tokens(text_col).alias("n_tokens"),
        TX.n_distinct_tokens(text_col).alias("n_distinct_tokens"),
        TX.punct_count(text_col).alias("n_punct"),
        TX.quality_score(text_col).alias("quality"),
    )


def corpus_profile(docs: DataFrame, by: str = "lang") -> DataFrame:
    """Per-group corpus profile: doc count, token mass, avg quality."""
    stats = docs.select(
        F.col(by),
        TX.n_tokens("text").alias("n_tokens"),
        TX.n_chars("text").alias("n_chars"),
        TX.quality_score("text").alias("quality"),
    )
    return (
        stats.groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.avg("n_chars").cast("float").alias("avg_chars"),
            F.avg("quality").cast("float").alias("avg_quality"),
        )
        .orderBy(by)
    )


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 90,
    min_distinct_ratio: float = 0.40,
) -> DataFrame:
    """Composed pre-training quality gate (Gopher-style rule stack).

    Each rule is a pure Column expression over the token stats; the
    verdict is the FIRST failing rule in a fixed priority order
    (too_short → too_long → low_distinct → ok), so downstream
    drop-reason dashboards are deterministic. Everything stays in
    whole-stage codegen — one scan, no UDFs, no shuffle (the filter
    itself is embarrassingly parallel; only a consumer's aggregate
    would shuffle). distinct_ratio is an exact integer ratio, so the
    threshold comparison is engine-deterministic.
    """
    # NULL text carries no content to assess — excluded, mirrored by
    # IS NOT NULL in the oracle SQL
    docs = docs.filter(F.col(text_col).isNotNull())
    nt = TX.n_tokens(text_col)
    dr = TX.n_distinct_tokens(text_col).cast("double") / nt.cast("double")
    reason = (
        F.when(nt < min_tokens, F.lit("too_short"))
        .when(nt > max_tokens, F.lit("too_long"))
        .when(dr < min_distinct_ratio, F.lit("low_distinct"))
        .otherwise(F.lit("ok"))
    )
    return docs.select(
        "doc_id",
        nt.alias("n_tokens"),
        dr.cast("float").alias("distinct_ratio"),
        reason.alias("reason"),
        (reason == "ok").cast("int").alias("keep"),
    )


def doc_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint + heuristic language guess per doc."""
    return docs.select(
        "doc_id",
        TX.fingerprint(text_col).alias("fingerprint"),
        TX.lang_guess(text_col).alias("lang_guess"),
    )


def top_tokens(docs: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Corpus-wide top-k token frequencies.

    Explode is narrow (one token column rides the wire) and the count
    shuffles partial per-partition sums only; the final top-k is a
    TakeOrderedAndProject, never a full sort of the vocabulary. The
    (count desc, token asc) total order makes the k-cutoff engine-
    deterministic under ties.
    """
    return (
        docs.select(F.explode(TX.tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(k)
    )


def dedup_keep_best(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Survivor-policy dedup: per fingerprint group keep the best doc.

    ``dedup_exact`` keeps the minimum doc_id; real pre-training dedup
    keeps the HIGHEST-QUALITY copy (formatting variants of one page
    differ in boilerplate). Group identity is the normalized-content
    fingerprint; survivor is row_number()=1 under
    (quality desc, doc_id) — the doc_id tie-break keeps byte-identical
    copies deterministic. One shuffle on the fingerprint.
    """
    w = Window.partitionBy("_fp").orderBy(F.col("_q").desc(), F.col("doc_id"))
    return (
        docs.withColumn("_fp", TX.fingerprint(text_col))
        .withColumn("_q", TX.quality_score(text_col))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_q", "_rn")
    )


def contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    k: int = 3,
    min_common: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Eval-set contamination report over a training corpus.

    The LLM-pipeline gate nobody skips: flag training documents that
    share ≥ `min_common` distinct k-word shingles with any held-out
    eval document. The eval side is small by construction, so its
    exploded shingle index BROADCASTS — the 100 TB train corpus is
    scanned once, never shuffled; the only shuffle is the per-pair
    count aggregate over matched rows (a tiny fraction of the corpus).

    Returns one row per contaminated train doc: how many eval docs it
    overlaps and the largest shared-shingle count.
    """
    ev_ids = eval_docs.select(F.col(id_col))
    tr = train.join(F.broadcast(ev_ids), id_col, "left_anti")
    tr_sh = tr.select(
        F.col(id_col).alias("train_id"),
        F.explode(TX.shingle_hashes(F.col(text_col), k)).alias("shingle"),
    )
    ev_sh = eval_docs.select(
        F.col(id_col).alias("eval_id"),
        F.explode(TX.shingle_hashes(F.col(text_col), k)).alias("shingle"),
    )
    return (
        tr_sh.join(F.broadcast(ev_sh), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
        .groupBy("train_id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_docs"),
            F.max("n_common").alias("max_common"),
        )
        .orderBy("train_id")
    )


def token_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc Shannon entropy over the token distribution.

    The information-density quality signal: low-entropy docs are
    repetitive boilerplate, high-entropy docs near the uniform bound
    ln(n_tokens). One explode + one (doc, token) count aggregate +
    one per-doc fold — the shuffle carries counts keyed by doc id
    (uniform). The −Σ p·ln p sum runs over a doc's distinct tokens
    (bounded by doc length); cast to float32 on output to absorb
    fold-order ulps.
    """
    tok = docs.select(
        F.col("doc_id"), F.explode(TX.tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    counts = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias("_clogc"),
    )
    # -sum(c/n * ln(c/n)) == ln(n) - (sum c*ln c)/n  — one pass, no
    # second join of n back onto the count rows
    ent = F.log(F.col("n_tokens").cast("double")) - F.col("_clogc") / F.col(
        "n_tokens"
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        ent.cast("float").alias("entropy"),
    ).orderBy("doc_id")


def bpe_merge_step(
    docs: DataFrame, k: int = 10, text_col: str = "text"
) -> DataFrame:
    """One BPE training step: top-k most frequent adjacent token pairs.

    Byte-pair-encoding training repeatedly merges the corpus's most
    frequent adjacent symbol pair; this is the counting core of one
    iteration, at word granularity. Adjacent pairs come from zipping
    the token array with its own tail (pure array ops, no explode
    until the pair is formed), then one hash aggregate + TakeOrdered.
    Ties break lexicographically so the merge choice is deterministic.
    """
    toks = TX.tokens(text_col)
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .filter(~F.col("pair").startswith(" ") & ~F.col("pair").endswith(" "))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(k)
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Train a BPE merge list: textbook algorithm, Spark-shaped.

    The classic trick that makes BPE tractable at corpus scale: fold
    the corpus to the DISTINCT-WORD frequency table first (one shuffle
    — the table is vocabulary-sized, not corpus-sized), then run every
    merge iteration against that tiny table: count frequency-weighted
    adjacent symbol pairs (one small aggregate), pick the argmax
    (ties: lexicographic), rewrite each word's symbol array with an
    aggregate fold. The corpus itself is scanned exactly once, ever;
    like `similarity.kmeans_fit`, iterations are driver round-trips
    over a bounded model artifact, not data movement.

    Returns the ordered merge list [(left, right), ...].
    """
    words = (
        docs.select(F.explode(TX.tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("syms", F.split(F.col("w"), ""))
        .drop("w")
        # lazy: the first merge round's collect materializes the pin
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        n = F.size("syms")
        pairs = F.zip_with(
            F.slice("syms", 1, F.greatest(n - 1, F.lit(0))),
            F.slice("syms", 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit("\x00"), b),
        )
        top = (
            words.select(F.explode(pairs).alias("p"), "cnt")
            .groupBy("p")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "p")
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["p"].split("\x00", 1)
        merges.append((left, right))
        sym = left + right
        # rewrite: fold each word's symbols, merging (left, right)
        # occurrences left-to-right (the standard greedy application)
        merged = F.aggregate(
            "syms",
            F.struct(
                F.array().cast("array<string>").alias("out"),
                F.lit(None).cast("string").alias("prev"),
            ),
            lambda acc, x: F.when(
                acc["prev"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("prev")),
            )
            .when(
                (acc["prev"] == left) & (x == right),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(sym))).alias("out"),
                    F.lit(None).cast("string").alias("prev"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["prev"])).alias("out"),
                    x.alias("prev"),
                )
            ),
            lambda acc: F.when(
                acc["prev"].isNull(), acc["out"]
            ).otherwise(F.concat(acc["out"], F.array(acc["prev"]))),
        )
        # lazy: the NEXT merge's pair-count collect materializes the
        # rewrite (one job per merge instead of two); the last rewrite
        # is never consumed and so never computed
        words = words.withColumn("syms", merged).localCheckpoint(eager=False)
    return merges


def lang_confusion(
    docs: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Label-vs-heuristic language confusion matrix.

    The corpus-quality diagnostic: cross-tabulate the stored language
    label against the n-gram/marker-word guess. One hash aggregate
    whose output is |langs|² rows regardless of corpus size; the rate
    is within-label (row-normalized), an exact integer ratio.
    """
    lw = Window.partitionBy("lang_label")
    return (
        docs.groupBy(
            F.col(lang_col).alias("lang_label"),
            TX.lang_guess(F.col(text_col)).alias("lang_pred"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "rate", F.col("n").cast("double") / F.sum("n").over(lw)
        )
        .orderBy("lang_label", "lang_pred")
    )


def vocab_coverage(
    docs: DataFrame, vocab_size: int = 1000, text_col: str = "text"
) -> DataFrame:
    """Corpus coverage of a top-N frequency vocabulary (one row).

    The tokenizer-design question — "what fraction of corpus tokens
    does an N-entry vocab cover?" — answered without ever sorting the
    corpus: token counts are one hash aggregate; the vocab is a global
    top-N on that (already tiny) count table via TakeOrdered, which
    then broadcasts back as a semi-join. Ties at the boundary break by
    token text, so the vocab set is engine-deterministic.
    """
    tok_counts = (
        docs.select(F.explode(TX.tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = tok_counts.orderBy(F.col("n").desc(), "token").limit(vocab_size)
    total = tok_counts.agg(
        F.sum("n").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
    )
    covered = (
        tok_counts.join(F.broadcast(vocab.select("token")), "token", "left_semi")
        .agg(F.sum("n").alias("covered_tokens"))
    )
    return (
        total.crossJoin(F.broadcast(covered))
        .select(
            "total_tokens",
            "n_distinct_tokens",
            "covered_tokens",
            (
                F.col("covered_tokens").cast("double")
                / F.col("total_tokens")
            ).alias("coverage"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    The classic keyword-extraction / feature-weighting primitive for a
    training corpus: tf from one (doc, token) hash aggregate over the
    exploded tokens, document frequency from a second aggregate over
    that (already-tiny) tf table, idf = ln(N/df) joined back by token.
    The fact is scanned once; both shuffles carry counts, never text.
    The per-doc top-k is a row_number window partitioned by doc — at
    100 TB the (doc, token) table is ~tokens-per-doc × docs rows, and
    the window shuffle is keyed by doc id (uniform), so no hot key.

    Determinism across engines: tf/df/N are exact integers, tfidf is
    one double multiply of identical inputs (bit-identical IEEE), ties
    broken by token; the score is cast to float32 only on output.
    """
    tok = docs.select(
        F.col(id_col), F.explode(TX.tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("_n_docs"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("_tfidf").desc(), F.col("token")
    )
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_tfidf",
            F.col("tf") * F.log(F.col("_n_docs").cast("double") / F.col("df")),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "token",
            "tf",
            F.col("_tfidf").cast("float").alias("tfidf"),
            "rank",
        )
        .orderBy(id_col, "rank")
    )


def _hash_u32_hex(col: Column) -> Column:
    """First 8 hex chars of md5(id) — a portable uniform draw.

    Comparing this fixed-width lowercase-hex string against a literal
    threshold (rate ≪ 2³², rendered as 8 hex chars) is numerically
    identical to comparing the underlying 32-bit integer, and every
    engine renders md5 the same way — no hex→int conversion needed,
    no engine RNG involved.
    """
    return F.substring(F.md5(col.cast("string")), 1, 8)


def _rate_threshold(rate: float) -> str:
    return format(min(int(rate * 2**32), 2**32 - 1), "08x")


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic Bernoulli sample with a per-stratum rate.

    Corpus rebalancing (e.g. downsample English, keep all low-resource
    languages) must be reproducible run-to-run and append-stable:
    ``df.sampleBy`` depends on seed+partitioning, so the draw here is
    md5(id) compared to a per-stratum threshold — a pure per-row
    filter, no shuffle, fully pushdown-friendly, and any engine can
    audit membership. Strata absent from `rates` are dropped.
    """
    h = _hash_u32_hex(F.col(id_col))
    keep = F.lit(False)
    for stratum, rate in sorted(rates.items()):
        keep = F.when(
            F.col(strata_col) == stratum,
            h < F.lit(_rate_threshold(rate)),
        ).otherwise(keep)
    return df.filter(keep)


def weighted_sample(
    df: DataFrame, weight: Column, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic importance sampling: keep-probability per ROW.

    The corpus-curation move "keep high-quality docs with probability
    proportional to their score": the md5(id) draw (exact integer /
    2³², a dyadic double both engines represent identically) compares
    against the row's clamped weight. Still a pure scan-side filter —
    no shuffle, no RNG, append-stable — but the threshold now varies
    per row, so the acceptance rate tracks the weight distribution.
    """
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        )
        .cast("long")
        .cast("double")
        / F.lit(float(1 << 32))
    )
    w = F.greatest(F.lit(0.0), F.least(F.lit(1.0), weight))
    return df.filter(u < w)


def group_sample(
    df: DataFrame,
    group_col: str = "lang",
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic fixed-size sample of k rows per group.

    The eval-set / human-review primitive: rank rows within each group
    by md5(id) (a stable pseudo-random order any engine reproduces)
    and keep the first k. One window shuffle keyed on the group; at
    100 TB pre-filter with `stratified_sample` at a few× the target
    rate first so the window input is small, then take exact k here.
    """
    w = Window.partitionBy(group_col).orderBy(
        _hash_u32_hex(F.col(id_col)), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    n_buckets: int = 10,
    test_buckets: int = 1,
) -> DataFrame:
    """Deterministic train/test assignment by id modulo.

    Reproducible splits must not depend on engine RNG, row order, or
    partitioning — `sample()` gives none of those guarantees across
    engines/runs. An id-modulo bucket is stable under re-partitioning,
    incremental appends (a doc keeps its split forever), and is
    portable to any engine for audit. For ids with structure (e.g.
    sequential with block uploads), hash the id first with a portable
    hash; the driver's synthetic ids are uniform already.
    """
    bucket = F.pmod(F.col(id_col), F.lit(n_buckets))
    return df.withColumn(
        "split",
        F.when(bucket < test_buckets, F.lit("test")).otherwise(F.lit("train")),
    )


# ---------------------------------------------------------------------------
# N-gram language-model perplexity scoring (CCNet-style quality filter)
# ---------------------------------------------------------------------------

def bigram_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus bigram table (w1, w2, c12, c1): a bigram LM in one scan.

    Tokens are BOS-prefixed so a doc's first word is conditioned on
    `<s>`. Adjacent pairs come from zipping the token array with its
    own tail (pure array ops); ONE hash aggregate keyed on the bigram
    collapses 100 TB of text into a vocabulary²-sparse count table
    (Zipf keeps it small — c(w1,w2) > 0 only for observed pairs).
    The context total c1 = Σ_w2 c(w1,w2) is re-aggregated from the
    ALREADY-collapsed bigram table (vocab-sized input, not corpus-
    sized) and joined back — so the corpus is scanned exactly once.
    """
    toks = F.concat(F.array(F.lit("<s>")), TX.tokens(text_col))
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bc = (
        docs.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    cc = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return bc.join(cc, "w1")


def lm_perplexity(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 1.0,
) -> DataFrame:
    """Score every doc by bigram-LM perplexity under the corpus's own LM.

    The CCNet/KenLM-style quality gate: train an n-gram LM, score each
    document's mean negative log-likelihood; boilerplate and in-domain
    text score low perplexity, junk scores high. Here the LM is the
    corpus itself (self-perplexity — the standard outlier detector when
    no external LM is available), with add-k smoothing:

        P(w2 | w1) = (c(w1,w2) + k) / (c(w1) + k·V)

    Scale shape: the corpus is scanned twice total — once to build the
    vocab²-sparse count table (`bigram_counts`), once to emit per-doc
    bigrams, which are pre-collapsed to (doc, bigram, cnt) BEFORE the
    join so the probability join carries distinct bigrams per doc, not
    every token. The join key (w1, w2) is Zipf-skewed ("of the" is
    hot) — AQE skew-split handles it, and the count table is often
    broadcastable outright. Nothing quadratic anywhere.

    Float contract: per-row ln in float64; order-dependent doc sums
    cast to float32 once at the end (absorbs partial-sum reordering).
    """
    lm = bigram_counts(docs, text_col)
    vocab = lm.select("w2").distinct().count()  # scalar: vocab size V

    toks = F.concat(F.array(F.lit("<s>")), TX.tokens(text_col))
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    doc_bg = (
        docs.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(id_col, "p.w1", "p.w2")
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nll = -F.log(
        (F.col("c12").cast("double") + F.lit(float(add_k)))
        / (F.col("c1").cast("double") + F.lit(float(add_k)) * F.lit(float(vocab)))
    )
    per_doc = (
        doc_bg.join(lm, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            (F.sum(F.col("cnt") * nll) / F.sum("cnt")).alias("_avg_nll"),
        )
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        F.col("_avg_nll").cast("float").alias("avg_nll"),
        F.exp("_avg_nll").cast("float").alias("ppl"),
    ).orderBy(id_col)


# ---------------------------------------------------------------------------
# Line-level dedup (RefinedWeb/Falcon-style boilerplate removal)
# ---------------------------------------------------------------------------

def boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Lines occurring in ≥ ``min_docs`` distinct documents.

    The corpus-wide inverted index behind line-level dedup: explode each
    document into its lines and count distinct containing documents per
    line in ONE hash aggregate (count_distinct does its dedup map-side,
    so the shuffle carries partially-deduped (line, id) pairs, not every
    occurrence). Nav bars and cookie banners are hot keys by definition,
    but the aggregate payload per key is just a count — AQE skew-split
    covers the residue.
    """
    lines = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), sep)).alias("line")
    )
    return (
        lines.groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= int(min_docs))
    )


def line_dedup(
    docs: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Strip corpus-frequent lines from every document (RefinedWeb §3.3).

    Exact line-level dedup: any line appearing in ≥ ``min_docs``
    distinct documents is boilerplate (headers, nav, legal footers) and
    is removed from ALL of them; each document is reassembled from its
    surviving lines in original order. Documents left with no lines
    drop out entirely (their content was pure boilerplate).

    Scale shape: two scans of the corpus (one to build the frequent-line
    set, one to filter) and two shuffles — the count_distinct aggregate
    keyed on the line, and the per-document reassembly keyed on the id.
    The frequent-line set is tiny relative to the corpus (only repeated
    lines survive the filter) and is broadcast, so the filtering scan
    never shuffles the corpus itself. Reassembly order is enforced by
    array_sort over (pos, line) structs — collect_list alone is
    partition-order dependent.
    """
    boiler = boilerplate_lines(docs, min_docs, text_col, id_col, sep).select("line")
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    kept = lines.join(F.broadcast(boiler), "line", "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_lines_kept"),
        )
    )
    return rebuilt


# ---------------------------------------------------------------------------
# Source/domain blocklist filter
# ---------------------------------------------------------------------------

def blocklist_filter(
    docs: DataFrame,
    blocklist: DataFrame,
    key_col: str = "source",
) -> DataFrame:
    """Drop documents whose ``key_col`` appears in a blocklist table.

    The URL/domain-blocklist gate of a crawl pipeline. The blocklist is
    always tiny next to the corpus (thousands of domains vs billions of
    docs), so it broadcasts and the corpus is filtered in its scan stage
    — zero shuffles, and the anti-join predicate rides inside
    whole-stage codegen. ``blocklist`` must carry a column named
    ``key_col`` (extra columns are ignored).
    """
    keys = blocklist.select(key_col).distinct()
    return docs.join(F.broadcast(keys), key_col, "left_anti")


# ---------------------------------------------------------------------------
# Sequence packing (training-batch preparation)
# ---------------------------------------------------------------------------

def pack_chunks(
    docs: DataFrame,
    chunk_len: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """GPT-style concat-and-chunk packing positions, without a global sort.

    The corpus is conceptually concatenated in ``id_col`` order and cut
    into fixed ``chunk_len`` token windows; each document's global token
    offset determines which training chunks it lands in (documents may
    straddle chunk boundaries — that is the point of this packing
    style). Emits (doc, n_tokens, offset, first_chunk, last_chunk).

    The naive plan — ``sum() OVER (ORDER BY id)`` with no partition key
    — collapses 100 TB into ONE task. This implementation is the
    classic two-level distributed prefix sum instead:

    1. range-bucket by id (``floor(id / span)`` keeps bucket order
       consistent with id order);
    2. per-bucket token totals (tiny: ``n_buckets`` rows) get a cumsum
       on a single partition — safe because it is bucket-count-sized,
       not corpus-sized — yielding each bucket's base offset;
    3. a within-bucket cumsum (window PARTITIONED by bucket) runs in
       parallel across buckets; base + local - n = global offset.

    Two shuffles of the (id, n) projection — never the text — plus one
    broadcast-sized join back of bucket bases.
    """
    n_tok = F.size(TX.tokens(text_col)).cast("long")
    slim = docs.select(F.col(id_col), n_tok.alias("n_tokens"))

    max_id = slim.agg(F.max(id_col)).first()[0]
    if max_id is None:
        return slim.select(
            id_col,
            "n_tokens",
            F.lit(0).cast("long").alias("offset"),
            F.lit(0).cast("long").alias("first_chunk"),
            F.lit(0).cast("long").alias("last_chunk"),
        )
    span = max(1, (int(max_id) + n_buckets) // n_buckets)
    with_bucket = slim.withColumn("_b", (F.col(id_col) / span).cast("long"))

    bases = (
        with_bucket.groupBy("_b")
        .agg(F.sum("n_tokens").alias("_btot"))
        .withColumn(
            "_base",
            F.coalesce(
                F.sum("_btot").over(
                    Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_b", "_base")
    )

    local = F.sum("n_tokens").over(
        Window.partitionBy("_b").orderBy(id_col).rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    out = (
        with_bucket.join(F.broadcast(bases), "_b")
        .withColumn("offset", (F.col("_base") + local - F.col("n_tokens")).cast("long"))
        .withColumn("first_chunk", F.floor(F.col("offset") / chunk_len))
        .withColumn(
            "last_chunk",
            F.floor(
                (F.col("offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
                / chunk_len
            ),
        )
    )
    return out.select(id_col, "n_tokens", "offset", "first_chunk", "last_chunk")


def pack_firstfit(
    docs: DataFrame,
    capacity: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """First-fit-decreasing sequence packing into capacity-bounded bins.

    The padding-free batching style: each document must land whole in
    one bin (no straddling), bins hold ≤ ``capacity`` tokens. Exact
    global FFD is inherently sequential, so the distributed form runs
    FFD independently inside hash buckets — the standard sharded
    approximation: pack quality degrades only by the per-bucket tail
    (≤ 1 underfull bin per bucket), while the corpus-sized work
    parallelizes. Documents longer than ``capacity`` get a bin of their
    own, flagged ``oversize`` (the caller decides truncate-vs-drop).

    One shuffle of the (id, n_tokens) projection to buckets, then an
    Arrow-batched applyInPandas doing the in-memory FFD per bucket —
    state is O(open bins), bounded by bucket token volume / capacity.
    Global bin ids are (bucket, local_bin) encoded as
    ``bucket * 2^32 + local``.

    The bucket key is the engine-portable md5 bucket (same fixed point
    as ``feature_bucket``), not Spark's Murmur3 ``F.hash`` — FFD pack
    quality is hash-family-agnostic, the cost is one md5 per DOC
    (noise next to tokenization), and it lets the SQL oracle replay
    the whole sharded heuristic, in-bucket bin state included, as a
    recursive CTE (``_pack_firstfit_sql``).
    """
    n_tok = F.size(TX.tokens(text_col)).cast("long")
    # NULL text has no tokens to pack — excluded (oracle: IS NOT NULL)
    slim = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        n_tok.alias("n_tokens"),
        feature_bucket(F.col(id_col).cast("string"), n_buckets).alias("_b"),
    )

    cap = int(capacity)

    def _ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        bucket = int(pdf["_b"].iloc[0])
        fills: list[int] = []  # fill level per open bin
        assign: list[int] = []
        for n in pdf["n_tokens"]:
            n = int(n)
            placed = -1
            if n <= cap:
                for i, f in enumerate(fills):
                    if f + n <= cap:
                        placed = i
                        break
            if placed < 0:
                fills.append(0)
                placed = len(fills) - 1
            fills[placed] += n
            assign.append(placed)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["n_tokens"],
                "bin_id": [bucket * (1 << 32) + a for a in assign],
                "oversize": [int(n) > cap for n in pdf["n_tokens"]],
            }
        )

    schema = (
        "doc_id long, n_tokens long, bin_id long, oversize boolean"
    )
    return slim.groupBy("_b").applyInPandas(_ffd, schema=schema)


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a trained BPE merge list (the GPT-2 encoder loop).

    Per word: start from characters, repeatedly merge the adjacent pair
    with the LOWEST merge rank until none applies — the canonical
    encode that reproduces training-time segmentations. Inherently a
    per-word loop, so this is one of the few justified Python islands:
    an Arrow-batched pandas UDF (never row-at-a-time), with the merge
    table shipped once per executor in the closure (vocab-sized, ~50k
    entries for real tokenizers — broadcast-scale by construction) and
    a per-batch distinct-word cache so Zipf-heavy natural text encodes
    each word once per batch, not once per occurrence.

    Map-only: no shuffle at any scale; composes with ``bpe_train``.
    """
    ranks = {pair: i for i, pair in enumerate(merges)}

    def _word_bpe(w: str, cache: dict) -> list[str]:
        hit = cache.get(w)
        if hit is not None:
            return hit
        syms = list(w)
        while len(syms) > 1:
            best_rank = None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank = r
            if best_rank is None:
                break
            left, right = merges[best_rank]
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[w] = syms
        return syms

    @F.pandas_udf("array<string>")
    def _enc(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}
        return texts.map(
            lambda t: [
                s for w in (t or "").split(" ") if w for s in _word_bpe(w, cache)
            ]
        )

    return docs.select(
        F.col(id_col),
        _enc(F.col(text_col)).alias("bpe_tokens"),
    ).withColumn("n_bpe_tokens", F.size("bpe_tokens").cast("long"))


def mixture_sample(
    docs: DataFrame,
    targets: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rebalance the corpus to target mixture proportions (DoReMi-style).

    Given per-domain target weights, keep the LARGEST deterministic
    subsample whose domain proportions match them: the achievable total
    is N = min_s(count_s / target_s) (the scarcest domain binds, and is
    kept whole), every other domain is thinned to rate_s =
    target_s · N / count_s via the same md5-threshold Bernoulli draw as
    ``stratified_sample`` — reproducible, append-stable, pushdown-
    friendly. Domains absent from ``targets`` are dropped.

    Scale shape: one count aggregate (k rows to the driver — the
    mixture model is driver-scale by definition), then a pure per-row
    filter on the corpus scan. Rates are derived with plain IEEE-double
    arithmetic in a fixed expression order, so any engine recomputing
    the same formula lands on bit-identical thresholds.
    """
    counts = {
        r[strata_col]: r["n"]
        for r in docs.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    present = {s: t for s, t in sorted(targets.items()) if s in counts}
    if not present:
        return docs.filter(F.lit(False))
    n_total = min(counts[s] / t for s, t in present.items())
    rates = {
        s: min(t * n_total / counts[s], 1.0) for s, t in present.items()
    }
    return stratified_sample(docs, rates, strata_col, id_col)


def temperature_sample(
    docs: DataFrame,
    alpha: float = 0.7,
    strata_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rebalance domains to temperature-flattened proportions.

    The multilingual/multi-domain mixing rule (mBERT, XLM-R, mT5):
    target share of domain s ∝ count_s^alpha. alpha=1 keeps the natural
    distribution, alpha=0 forces uniform, the 0.2-0.7 range up-samples
    the tail without drowning the head. The targets are DERIVED from
    the corpus's own counts — the ``mixture_sample`` special case where
    the mixture model is p_s = c_s^alpha / Σc^alpha — then the largest
    achievable subsample with those proportions is kept (the most
    over-target domain binds and is kept whole; with alpha < 1 that is
    always the SMALLEST domain, which is the point).

    Same scale shape as mixture_sample: one count aggregate to the
    driver, then a scan-side deterministic filter; the derivation is
    fixed-order float64, reproducible by any engine from the counts.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("temperature_sample: alpha must be in [0, 1]")
    counts = {
        r[strata_col]: r["n"]
        for r in docs.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        return docs.filter(F.lit(False))
    total_w = sum(c ** alpha for _, c in sorted(counts.items()))
    targets = {s: (c ** alpha) / total_w for s, c in sorted(counts.items())}
    n_total = min(counts[s] / t for s, t in targets.items())
    rates = {
        s: min(t * n_total / counts[s], 1.0) for s, t in targets.items()
    }
    return stratified_sample(docs, rates, strata_col, id_col)


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token windows (RAG chunking).

    Each document yields ceil(max(n - overlap, 1) / stride) chunks of up
    to ``chunk_tokens`` whitespace tokens, consecutive chunks sharing
    ``overlap`` tokens (stride = chunk_tokens - overlap). Emits
    (id, chunk_idx, chunk_text, n_chunk_tokens) — the unit an embedding
    or retrieval pipeline indexes.

    Pure array math, map-only: tokens are split once, window starts come
    from ``sequence(0, n-1, stride)`` filtered to real starts, and each
    chunk is a ``slice`` + ``array_join`` over the same token array —
    one posexplode, no shuffle, no Python. Output row count scales with
    corpus token volume / stride, the same factor the downstream index
    pays by construction.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap

    # The whole chunking runs inside ONE let-bound expression
    # (TX._let_array) that yields the array of finished chunk structs,
    # and THAT array is what posexplode fans out. Two long-doc
    # hazards in the previous formulation (--longdoc corpus): the
    # start-filter lambda referenced size(split(text)) — re-splitting
    # the document per candidate start — and the token array rode
    # along as a projection sibling of the posexplode, so
    # ExtractGenerator re-evaluated the split per CHUNK row and
    # copied the full array into every generated row. Let-bound, the
    # document splits once and each generated row carries only its
    # own chunk.
    def _chunks(t: Column) -> Column:
        # start offsets 0, stride, 2*stride, … that begin a NEW
        # chunk: a start is real while start < max(n - overlap, 1)
        # (the final chunk may be short but never a pure-overlap tail
        # duplicate)
        starts = F.filter(
            F.sequence(
                F.lit(0), F.greatest(F.size(t) - 1, F.lit(0)), F.lit(stride)
            ),
            lambda s: s < F.greatest(F.size(t) - F.lit(overlap), F.lit(1)),
        )
        return F.transform(
            starts,
            lambda s: F.struct(
                F.array_join(F.slice(t, s + 1, chunk_tokens), " ").alias(
                    "chunk_text"
                ),
                F.size(F.slice(t, s + 1, chunk_tokens))
                .cast("long")
                .alias("n_chunk_tokens"),
            ),
        )

    chunks_arr = TX._let_array(TX.tokens(text_col), _chunks)
    return docs.select(
        F.col(id_col),
        F.posexplode(chunks_arr).alias("chunk_idx", "_c"),
    ).select(
        id_col,
        "chunk_idx",
        F.col("_c.chunk_text").alias("chunk_text"),
        F.col("_c.n_chunk_tokens").alias("n_chunk_tokens"),
    )


def crosscorpus_dedup(
    docs: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop documents whose normalized content already exists in another
    corpus (dedup against previously-released/trained data).

    Identity is the whitespace/case-normalized sha256 fingerprint, so
    formatting variants of an already-seen page are caught. The
    reference side collapses to its DISTINCT fingerprint set first —
    one hash aggregate on uniform 64-hex keys — and the new corpus
    anti-joins against it. When the reference fingerprint set fits the
    broadcast threshold the corpus never shuffles; past it, Spark plans
    a shuffled anti-join on the same uniform key — either way nothing
    quadratic and no skew by construction.
    """
    # NULL text has no fingerprint; excluded on both sides (the SQL
    # twin's NOT IN would otherwise NULL-filter it differently)
    docs = docs.filter(F.col(text_col).isNotNull())
    reference = reference.filter(F.col(text_col).isNotNull())
    ref_fp = reference.select(TX.fingerprint(text_col).alias("_fp")).distinct()
    return (
        docs.withColumn("_fp", TX.fingerprint(text_col))
        .join(ref_fp, "_fp", "left_anti")
        .drop("_fp")
    )


def quality_floor_filter(
    docs: DataFrame,
    drop_frac: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep documents at or above the ``drop_frac`` quality quantile.

    Dynamic thresholding — "drop the worst 20%" — instead of a fixed
    rule stack: score every doc with the cheap quality heuristic, take
    the exact corpus quantile (linear interpolation, the same
    percentile_cont definition DuckDB uses), keep scores ≥ cutoff.

    Scale shape: one aggregate computes the cutoff scalar (exact
    percentile sorts per-group state — the corpus collapses to scores
    first, doubles only), which is baked into a scan-side filter for
    the keep pass. Two scans, zero joins; ties at the cutoff are kept
    on both engines (>= on the identical double).
    """
    scored = docs.withColumn("_q", TX.quality_score(text_col))
    cutoff = scored.agg(
        F.expr(f"percentile(_q, {float(drop_frac)!r})").alias("c")
    ).first()["c"]
    if cutoff is None:  # empty corpus: no quantile, nothing to keep
        return scored.filter(F.lit(False)).drop("_q")
    return scored.filter(F.col("_q") >= float(cutoff)).drop("_q")


def bigram_pmi(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Top-k collocations by pointwise mutual information.

    Phrase detection (the word2vec-phrases / NLTK collocation move):
    PMI(w1,w2) = ln( c12 · T / (c1 · c2) ), where T is the total bigram
    count and c1/c2 are the left/right context totals — computed on the
    ALREADY-collapsed bigram table from ``bigram_counts`` (vocab²-sparse),
    so the corpus is scanned once and every downstream aggregate is
    vocabulary-sized. ``min_count`` suppresses the low-frequency noise
    PMI is notorious for; ties break lexicographically for determinism.
    """
    bc = bigram_counts(docs, text_col).filter(F.col("w1") != "<s>")
    c2 = bc.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tot = bc.agg(F.sum("c12").alias("_t"))
    pmi = (
        bc.join(c2, "w2")
        .join(F.broadcast(tot))
        .filter(F.col("c12") >= int(min_count))
        .withColumn(
            "pmi",
            F.log(
                F.col("c12").cast("double") * F.col("_t").cast("double")
                / (F.col("c1").cast("double") * F.col("c2").cast("double"))
            ).cast("float"),
        )
    )
    return (
        pmi.select("w1", "w2", "c12", "pmi")
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(k)
    )


def corpus_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Dataset-card rollup: doc/token totals by lang, by source, by
    (lang, source), and overall — ONE scan via GROUPING SETS.

    Four separate groupBys would scan the corpus four times; the
    grouping-sets Expand emits the combinations from a single pass and
    partial aggregation keeps the shuffle at (distinct groups × sets)
    rows. ``grouping_id`` disambiguates which set a row belongs to
    (NULL group values vs genuinely-null data).
    """
    nt = TX.n_tokens(text_col)
    return (
        docs.select("lang", "source", nt.alias("_nt"))
        .groupingSets(
            [["lang"], ["source"], ["lang", "source"], []],
            "lang",
            "source",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
        )
        .orderBy("gid", "lang", "source")
    )


# ---------------------------------------------------------------------------
# Hashing-trick linear quality classifier (fastText-style, no MLlib)
# ---------------------------------------------------------------------------

def feature_bucket(token: Column, dim: int) -> Column:
    """Hashing-trick bucket (0..dim−1) for one token — engine-portable.

    First 8 hex chars of md5(lower(token)) as a 32-bit integer, mod the
    feature dimension: the same fixed-point every engine can replicate
    (DuckDB: ``('0x' || substring(md5(lower(t)), 1, 8))::BIGINT % dim``),
    so classifier scores are auditable outside Spark. Collisions are the
    hashing trick's accepted tradeoff — dim controls them.
    """
    return (
        F.conv(F.substring(F.md5(F.lower(token)), 1, 8), 16, 10)
        .cast("long") % F.lit(dim)
    ).cast("int")


def classifier_margin(
    text: Column, weights: list[float], bias: float, dim: int
) -> Column:
    """w·x + b for the mean-of-token-buckets feature map — MAP-ONLY.

    x is the token-frequency vector over `dim` hash buckets, so
    w·x = Σ_tokens w[bucket(t)] / n_tokens: the weight vector ships as
    ONE array literal and the sum folds out of a single ``aggregate``
    over the token list. No per-feature expression tree, no shuffle —
    scoring a 100 TB corpus is pure scan parallelism.
    """
    if len(weights) != dim:
        raise ValueError(f"weights has {len(weights)} entries, dim={dim}")
    w = arr_lit([float(x) for x in weights])
    toks = TX.tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.element_at(w, feature_bucket(t, dim) + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return total / F.size(toks).cast("double") + F.lit(float(bias))


def classifier_score(
    docs: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    dim: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc quality probability σ(w·x+b) under a fixed linear model.

    The deploy-side half of the classifier: weights are a driver-side
    artifact (trained below, or imported), the score is one projection.
    """
    margin = classifier_margin(F.col(text_col), weights, bias, dim)
    return docs.select(
        F.col(id_col),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))).alias("score"),
    )


def classifier_train(
    docs: DataFrame,
    label: Column,
    dim: int = 256,
    iters: int = 20,
    lr: float = 1.0,
    l2: float = 1e-4,
    text_col: str = "text",
    quantize: int | None = None,
) -> tuple[list[float], float]:
    """Distributed logistic regression on hashed bag-of-words features.

    The iterative-algorithm pattern (same shape as kmeans_fit): the
    MODEL (dim weights + bias) lives on the driver and enters each
    iteration's plan as one array literal; the DATA flows through one
    scan + one partial-aggregated shuffle per iteration:

      1. margin per doc — map-only (`classifier_margin` form);
      2. residual r = σ(margin) − y;
      3. ∂w_j = Σ_docs r/n_tokens over tokens hashing to j, plus an L2
         term — via explode(bucket array) → groupBy(bucket), with the
         bias gradient riding along as sentinel bucket −1 (ONE shuffle
         carries both);
      4. driver applies the step and re-broadcasts.

    Token buckets are computed ONCE into a checkpointed (y, n, buckets)
    frame — at 100 TB that intermediate is what you'd persist to
    storage; per-iteration cost is then independent of text length.
    Gradient-descent steps, not SGD: deterministic given the input set
    (modulo float reduction order), no RNG, resumable.

    ``quantize`` rounds every weight and the bias to that many decimals
    after each step — half-away-from-zero via the shared
    ``quantize_half_away`` rule (Python's round() is half-to-even and
    disagrees with the SQL side on exactly-representable decimal
    ties), the same bit-reproducibility trick as ``kmeans_fit``:
    gradient sums fold in partition order (last-ulp jitter) and libm
    exp() differs across engines by an ulp, both far below a 1e-6
    rounding grid, so the whole descent becomes exactly replayable
    (DuckDB unroll: ``_classifier_quality_sql`` + ``_quantize_sql`` in
    ``__spark_entry__.py``). Measured cost of the knob (SCALE.md
    `classifier_500k` vs `_noq`, 500k docs x 8 steps): +0.0% — it
    rounds dim+1 driver floats per step.

    Returns (weights, bias).
    """
    # NULL text has no features and no assessable label — excluded
    # (oracle: IS NOT NULL)
    feats = docs.filter(F.col(text_col).isNotNull()).select(
        label.cast("double").alias("y"),
        TX.n_tokens(text_col).cast("double").alias("n"),
        F.transform(
            TX.tokens(text_col), lambda t: feature_bucket(t, dim)
        ).alias("buckets"),
    )
    feats = _fan_out(feats).localCheckpoint(eager=False)

    w = [0.0] * dim
    b = 0.0
    n_docs = None
    for _ in range(iters):
        w_lit = arr_lit(w)
        margin = (
            F.aggregate(
                F.transform(
                    "buckets", lambda j: F.element_at(w_lit, j + 1)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.col("n")
            + F.lit(b)
        )
        resid = (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))) - F.col("y")
        # one row per (doc, bucket-occurrence) + one sentinel per doc;
        # partial aggregation folds them map-side to dim+1 rows/partition.
        #
        # The residual projection MUST be its own select BELOW the
        # explode: expressions sharing a select with a generator are
        # planned in a Project ABOVE the Generate (ExtractGenerator),
        # which (a) recomputes the O(n_tokens) margin fold once PER
        # EXPLODED TOKEN and (b) carries the full buckets array in
        # every generated row's UnsafeRow copy — O(n_tokens²) compute
        # and allocation per doc. Invisible on ~50-token docs; on the
        # giant-doc corpus (advdata --longdoc, 20k-token docs) it was
        # 4×10⁸ lambda evals + 1.6 GB of row copies per doc per
        # iteration → OOM. Two selects pin the plan to
        # Generate(Project): r computed once per doc, generated rows
        # carry only (r, n, j).
        pre = feats.select(
            resid.alias("r"),
            F.col("n"),
            F.concat(
                F.col("buckets"), F.array(F.lit(-1).cast("int"))
            ).alias("_jarr"),
        )
        grads = (
            pre.select("r", "n", F.explode("_jarr").alias("j"))
            .groupBy("j")
            .agg(
                F.sum(
                    F.when(F.col("j") == -1, F.col("r")).otherwise(
                        F.col("r") / F.col("n")
                    )
                ).alias("g"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .collect()
        )
        if n_docs is None:
            n_docs = sum(int(r["cnt"]) for r in grads if r["j"] == -1) or 1
        new_w = [wi * (1.0 - lr * l2) for wi in w]
        for row in grads:
            j = row["j"]
            if j == -1:
                b -= lr * float(row["g"]) / n_docs
            else:
                new_w[j] -= lr * float(row["g"]) / n_docs
        if quantize is not None:
            new_w = [quantize_half_away(x, quantize) for x in new_w]
            b = quantize_half_away(b, quantize)
        w = new_w
    return w, b


def gopher_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_ratio: float = 0.80,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style quality rule gate (Rae et al. 2021, §A1.1).

    The full published rule stack — word-count window, mean-word-length
    window, symbol spam, bullet/ellipsis line structure, alpha-word
    floor, stop-word floor — each a pure Column expression over one
    scan, whole-stage codegen'd, no shuffle. The verdict names the
    FIRST failing rule in the published order so drop-reason rollups
    are deterministic; thresholds are parameters because every corpus
    recalibrates them.
    """
    nt = TX.n_tokens(text_col)
    mwl = TX.mean_word_length(text_col)
    sym = TX.symbol_word_ratio(text_col)
    bullets = TX.bullet_line_fraction(text_col)
    ellipses = TX.ellipsis_line_fraction(text_col)
    alpha = TX.alpha_word_ratio(text_col)
    stops = TX.stopword_count(text_col)
    reason = (
        F.when(nt < min_words, F.lit("too_few_words"))
        .when(nt > max_words, F.lit("too_many_words"))
        .when(mwl < min_mean_word_len, F.lit("short_words"))
        .when(mwl > max_mean_word_len, F.lit("long_words"))
        .when(sym > max_symbol_ratio, F.lit("symbol_spam"))
        .when(bullets > max_bullet_frac, F.lit("bullet_heavy"))
        .when(ellipses > max_ellipsis_frac, F.lit("ellipsis_heavy"))
        .when(alpha < min_alpha_ratio, F.lit("non_alpha"))
        .when(stops < min_stopwords, F.lit("no_stopwords"))
        .otherwise(F.lit("ok"))
    )
    return docs.select(
        "doc_id",
        nt.alias("n_words"),
        mwl.cast("float").alias("mean_word_len"),
        sym.cast("float").alias("symbol_ratio"),
        alpha.cast("float").alias("alpha_ratio"),
        reason.alias("reason"),
        (reason == "ok").cast("int").alias("keep"),
    )


def repetition_filter(
    docs: DataFrame,
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_2gram_frac: float = 0.20,
    max_3gram_frac: float = 0.18,
    max_4gram_frac: float = 0.16,
) -> DataFrame:
    """Gopher repetition-rule gate (Rae et al. 2021, §A1.1, table A1).

    Complements `gopher_filter`'s structural rules with the repetition
    family: duplicate-line character mass and top-{2,3,4}-gram
    character coverage, each computed with per-row array math in the
    same single codegen'd scan — the corpus is never exploded or
    shuffled. First failing rule (in published order) names the drop
    reason.

    Evaluation is STAGED through three projections (arrays →
    fractions → verdict) so each array is materialized once per row
    and each fraction once per row. Inlining everything into one
    projection re-evaluates the n-gram construction inside every
    higher-order-function lambda element — measured 20× slower on the
    same data (interpreted HOFs don't share subexpressions).
    """
    toks = TX.tokens(text_col)

    def grams(n: int) -> Column:
        # the token array is LET-BOUND (TX._let_array) before the
        # per-position transform: a lambda body referencing the
        # split(text) expression tree re-tokenizes the whole document
        # once PER POSITION (interpreted HOFs share nothing) — O(n²)
        # in document length, 170 s on the --longdoc corpus's
        # 20k-token docs vs <1 s let-bound. Unlike staging the array
        # as a projection column, the binding survives CollapseProject.
        return TX._let_array(
            toks,
            lambda t: F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.size(t) - n, F.lit(0))
                ),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
            ),
        )

    # NULL text carries no content to gate — excluded (oracle: IS NOT NULL)
    staged = docs.filter(F.col(text_col).isNotNull()).select(
        "doc_id",
        F.greatest(F.length(text_col), F.lit(1)).cast("double").alias("_nc"),
        TX.lines(text_col).alias("_ls"),
        grams(2).alias("_g2"),
        grams(3).alias("_g3"),
        grams(4).alias("_g4"),
    )

    # Occurrence counting runs over the SORTED array as a single
    # run-length fold — one O(G log G) sort + O(G) aggregate per row.
    # The distinct×filter formulation (count each distinct element by
    # re-scanning the array) is quadratic in interpreted HOF land AND
    # fragile: when a downstream plan prunes to doc_id only, each
    # fraction is referenced once, CollapseProject inlines the staged
    # projections, and the quadratic math re-evaluates inside every
    # lambda element (measured 40s vs 0.5s at sf0.01 in the composed
    # gate query). The fold costs the same in any plan context.
    _zero = F.lit(0).cast("long")

    def _run_init() -> Column:
        return F.struct(
            F.lit(None).cast("string").alias("prev"),
            _zero.alias("run"),
            _zero.alias("acc"),
        )

    def dup_sum(arr: str) -> Column:
        # total chars inside elements occurring >= 2x = sum over runs
        # of run_len * elem_len, flushed when a run closes (+ finish)
        def step(acc: Column, x: Column) -> Column:
            same = x.eqNullSafe(acc["prev"])
            closing = F.when(
                (~same) & (acc["run"] >= 2),
                acc["run"] * F.length(acc["prev"]),
            ).otherwise(_zero)
            run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
            return F.struct(
                x.alias("prev"), run.alias("run"), (acc["acc"] + closing).alias("acc")
            )

        return F.aggregate(
            F.array_sort(F.col(arr)),
            _run_init(),
            step,
            lambda acc: acc["acc"]
            + F.when(
                acc["run"] >= 2, acc["run"] * F.length(acc["prev"])
            ).otherwise(_zero),
        )

    def top_cov(arr: str) -> Column:
        # max over runs of run_len * elem_len, runs >= 2 only; the
        # running best is refreshed at every step so the final run is
        # already included when the fold ends
        def step(acc: Column, x: Column) -> Column:
            run = F.when(
                x.eqNullSafe(acc["prev"]), acc["run"] + 1
            ).otherwise(F.lit(1).cast("long"))
            cov = F.when(run >= 2, run * F.length(x)).otherwise(_zero)
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["acc"], cov).alias("acc"),
            )

        return F.aggregate(
            F.array_sort(F.col(arr)), _run_init(), step, lambda acc: acc["acc"]
        )

    fracs = staged.select(
        "doc_id",
        (dup_sum("_ls").cast("double") / F.col("_nc")).alias("_fdup"),
        (top_cov("_g2").cast("double") / F.col("_nc")).alias("_f2"),
        (top_cov("_g3").cast("double") / F.col("_nc")).alias("_f3"),
        (top_cov("_g4").cast("double") / F.col("_nc")).alias("_f4"),
    )

    reason = (
        F.when(F.col("_fdup") > max_dup_line_frac, F.lit("dup_lines"))
        .when(F.col("_f2") > max_2gram_frac, F.lit("top_2gram"))
        .when(F.col("_f3") > max_3gram_frac, F.lit("top_3gram"))
        .when(F.col("_f4") > max_4gram_frac, F.lit("top_4gram"))
        .otherwise(F.lit("ok"))
    )
    return fracs.select(
        "doc_id",
        F.col("_fdup").cast("float").alias("dup_line_frac"),
        F.col("_f2").cast("float").alias("top_2gram_frac"),
        F.col("_f3").cast("float").alias("top_3gram_frac"),
        F.col("_f4").cast("float").alias("top_4gram_frac"),
        reason.alias("reason"),
        (reason == "ok").cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# BM25 keyword search
# ---------------------------------------------------------------------------

def _bm25_terms(query: str | list[str], caller: str) -> list[str]:
    """Query terms, deduped in order (a repeated term would
    double-count); an empty result raises ``<caller>: empty query``."""
    terms = query.split() if isinstance(query, str) else list(query)
    terms = [t for t in dict.fromkeys(terms) if t]
    if not terms:
        raise ValueError(f"{caller}: empty query")
    return terms


def _bm25_score(
    n_docs: Column, dfs: list, dl: Column, avgdl: Column, k1: float, b: float
) -> Column:
    """The BM25 sum as an EXPLICIT fixed-order float64 expression over
    the terms, so DuckDB reproduces it bit-identically. Term i's
    document frequency is ``dfs[i]`` (a Column or a Python float) and
    its tf is the column ``_tf_{i}``."""
    score: Column = F.lit(0.0)
    for i, df_t in enumerate(dfs):
        tf_t = F.col(f"_tf_{i}")
        idf = F.log(F.lit(1.0) + (n_docs - df_t + 0.5) / (df_t + 0.5))
        score = score + idf * (
            tf_t * (k1 + 1.0) / (tf_t + k1 * (1.0 - b + b * dl / avgdl))
        )
    return score


def _bm25_topk(
    scored: DataFrame, score: Column, id_col: str, top_k: int
) -> DataFrame:
    """Positive-score top-k as (id, float32 score, rank): orderBy+limit
    runs as TakeOrderedAndProject, then a rank over the k rows."""
    w = Window.orderBy(F.col("_score").desc(), F.col(id_col))
    return (
        scored.withColumn("_score", score)
        .filter(F.col("_score") > 0)
        .orderBy(F.col("_score").desc(), F.col(id_col))
        .limit(top_k)
        .withColumn("rank", F.row_number().over(w))
        .select(id_col, F.col("_score").cast("float").alias("score"), "rank")
    )


def bm25_search(
    docs: DataFrame,
    query: str | list[str],
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents for a keyword query, ranked by Okapi BM25.

    The retrieval primitive behind corpus inspection ("show me docs
    about X") and RAG-baseline evaluation. Query terms are a tiny
    driver-side list, which buys a plan with NO inverted index and NO
    explode: per-term tf is `size(filter(tokens, t == term))` — pure
    map-side array math — so the corpus is scanned exactly twice:

      1. one partial-agg pass computing N, total token count, and each
         term's document frequency (conditional sums in ONE aggregate);
      2. one map-only scoring pass: the stats row is broadcast via a
         1-row crossJoin, the BM25 sum is an EXPLICIT fixed-order
         expression over the terms, and top-k is orderBy+limit, which
         Spark executes as TakeOrderedAndProject (per-partition heaps +
         driver merge — no global sort shuffle at 100 TB).

    Float contract: idf/score math in float64 with a fixed summation
    order (term list order), so DuckDB reproduces it bit-identically;
    score is cast to float32 once at the end.

    idf uses the Lucene/Robertson form ln(1 + (N - df + .5)/(df + .5)),
    which is positive even for df > N/2 terms.
    """
    terms = _bm25_terms(query, "bm25_search")

    toks = TX.tokens(text_col)
    dl = F.size(toks).cast("double")

    def tf(term: str) -> Column:
        return F.size(
            F.filter(toks, lambda x: x == F.lit(term))
        ).cast("double")

    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.sum(dl).alias("_total_len"),
        *[
            F.sum((tf(t) > 0).cast("double")).alias(f"_df_{i}")
            for i, t in enumerate(terms)
        ],
    )

    # scoring side re-derives tf: docs scanned once per pass, map-only
    scored = docs.select(
        F.col(id_col),
        dl.alias("_dl"),
        *[tf(t).alias(f"_tf_{i}") for i, t in enumerate(terms)],
    ).crossJoin(F.broadcast(stats))

    score = _bm25_score(
        F.col("_n_docs"),
        [F.col(f"_df_{i}") for i in range(len(terms))],
        F.col("_dl"),
        F.col("_total_len") / F.col("_n_docs"),
        k1,
        b,
    )
    return _bm25_topk(scored, score, id_col, top_k)


# ---------------------------------------------------------------------------
# Exact substring dedup (repeated k-gram span removal)
# ---------------------------------------------------------------------------

def substring_dedup(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove token spans that repeat >= min_count times corpus-wide.

    The exact-substring dedup of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed
    relationally (the paper builds a suffix array; a distributed
    engine gets the same removal set from k-gram occurrence counts):
    every k-token window is keyed by md5 of its joined tokens, windows
    whose key occurs >= min_count times anywhere in the corpus are
    flagged, and each doc drops the union of its flagged [pos, pos+k)
    windows — boilerplate licence headers, templated navigation, and
    copy-pasted passages vanish while unique prose stays.

    Scale shape, in order:
      1. gram emission — map-only explode, payload (doc, pos, 16-byte
         digest), never the text;
      2. ONE count aggregate on the digest (uniform key, partial aggs);
      3. semi-join grams->hot digests (broadcastable when the hot set
         is small, which boilerplate is);
      4. ONE collect_list shuffle keyed by doc id to gather each doc's
         flagged positions;
      5. span union + token filtering as per-row ARRAY MATH: sorted
         positions fold into disjoint [s, e) spans, tokens keep-filtered
         by span membership — no token-level shuffle ever exists.

    md5 (not xxhash64) keys keep the SQL oracle bit-identical; a
    deployment chasing the last 2x swaps in xxhash64.

    NULL-text docs carry no spans to dedup and are excluded (the
    oracle carries the matching IS NOT NULL).
    """
    docs = docs.filter(F.col(text_col).isNotNull())
    import hashlib

    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    toks = TX.tokens(text_col)

    # Per-window digests in ONE Arrow kernel over the SHARED windowing
    # helper (_window_grams, substring convention: short docs emit no
    # windows): hashlib.md5 hex == F.md5(array_join(slice(...))) ==
    # DuckDB md5 — bit-identical — while the Column chain executes
    # md5+array_join+slice INTERPRETED per window (the same measured
    # ~5x HOF penalty as the MinHash shingle kernel).
    @pandas_udf(ArrayType(StringType()))
    def _gram_digests(texts: pd.Series) -> pd.Series:
        out = []
        for txt in texts:
            if txt is None:
                out.append([])
                continue
            out.append(
                [
                    hashlib.md5(g.encode("utf-8")).hexdigest()
                    for g in _window_grams(txt.split(" "), k, False)
                ]
            )
        return pd.Series(out)

    # (doc, pos, digest) for every k-window; pos is 1-based. Pinned
    # (r12): the hot-digest aggregate and the semi-join probe below are
    # plan BRANCHES over this frame, and branches share no map work —
    # unpinned, the Arrow md5 kernel ran over the whole corpus TWICE
    # (two ArrowEvalPython subtrees in the plan). The pin is the same
    # corpus-sized storage-vs-recompute tradeoff documented for
    # _pinned_vectors; the alternative is a second full tokenize+md5
    # pass, so the pin wins at any scale where it fits.
    grams = docs.select(
        F.col(id_col),
        F.posexplode(_gram_digests(F.col(text_col))).alias("_i", "_gh"),
    ).select(
        id_col, (F.col("_i") + 1).alias("pos"), "_gh"
    ).localCheckpoint(eager=False)

    hot = (
        grams.groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_gh")
    )
    flagged = (
        grams.join(hot, "_gh", "left_semi")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("_flags"))
    )

    span_t = "array<struct<s:int,e:int>>"
    empty = F.array().cast(span_t)

    def _fold(acc: Column, p: Column) -> Column:
        last = F.element_at(acc, -1)
        extended = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(
                F.struct(
                    last["s"].alias("s"),
                    F.greatest(last["e"], (p + k).cast("int")).alias("e"),
                )
            ),
        )
        fresh = F.concat(
            acc,
            F.array(
                F.struct(p.cast("int").alias("s"), (p + k).cast("int").alias("e"))
            ),
        )
        return F.when((F.size(acc) > 0) & (p <= last["e"]), extended).otherwise(
            fresh
        )

    spans = F.aggregate(F.col("_flags"), empty, _fold)
    out = (
        docs.join(flagged, id_col, "left")
        .withColumn("_spans", F.coalesce(spans, empty))
        .select(
            id_col,
            F.array_join(
                F.filter(
                    toks,
                    lambda x, i: ~F.exists(
                        F.col("_spans"),
                        lambda sp: (sp["s"] <= i + 1) & (i + 1 < sp["e"]),
                    ),
                ),
                " ",
            ).alias("clean_text"),
            F.aggregate(
                F.col("_spans"),
                F.lit(0),
                lambda acc, sp: acc + (sp["e"] - sp["s"]),
            ).cast("long").alias("n_removed"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# TextRank keywords (weighted PageRank on the co-occurrence graph)
# ---------------------------------------------------------------------------

def textrank_keywords(
    docs: DataFrame,
    top_k: int = 20,
    min_count: int = 3,
    damping: float = 0.85,
    iterations: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Corpus keywords by TextRank: PageRank over word co-occurrence.

    Mihalcea & Tarau 2004, corpus-scale: nodes are words, edges are
    adjacent-pair co-occurrences with count weights (symmetrized — the
    original TextRank graph is undirected), rank iterates

        r(v) ← (1−d)/N + d · Σ_{u∼v} w(u,v)/wout(u) · r(u)

    for a FIXED iteration count (deterministic, oracle-friendly; rank
    ordering stabilizes in 2-4 iterations on text graphs).

    Scale shape: the graph is built ONCE from the bigram table (corpus
    scanned once, vocabulary²-sparse edges); each iteration is one
    equi-join of the edge table with the rank vector + one partial-agg
    shuffle keyed by word — the classic DataFrame PageRank loop whose
    per-iteration cost is edge-table-sized, never corpus-sized. The
    min_count floor prunes the Zipf tail so the edge table stays
    broadcast-sized for real corpora; symmetrization guarantees every
    node has out-weight (no dangling-mass term needed).

    Float contract: per-target sums fold in partition order, and
    three iterations compound that jitter past any final ROUND grid
    (observed: 1.5e-8 divergence vs the SQL oracle on a fuzz seed). So
    rank mass travels as INTEGER units of 1e-12: each edge contributes
    floor(w/wout * rank_units) — exact int64 — and the per-target sum
    is integer addition, order-independent and bit-identical across
    engines by construction. The damping multiply and the final
    half-away round to 8 dp are the only float ops, each a single
    correctly-rounded step on bit-identical inputs. Mass lost to the
    per-edge floor is <= (edges + nodes) x 1e-12 — invisible at the
    8 dp output grid.
    """
    unit = 10**12
    bg = bigram_counts(docs, text_col).filter(
        (F.col("c12") >= min_count) & (F.col("w1") != F.lit("<s>"))
    )
    edges = (
        bg.select(
            F.col("w1").alias("src"),
            F.col("w2").alias("dst"),
            F.col("c12").cast("double").alias("w"),
        )
        .unionByName(
            bg.select(
                F.col("w2").alias("src"),
                F.col("w1").alias("dst"),
                F.col("c12").cast("double").alias("w"),
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    # built once, joined per iter; lazy — n_nodes.count() materializes
    edges = edges.localCheckpoint(eager=False)

    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    nodes = edges.select(F.col("src").alias("word")).distinct()
    n_nodes = nodes.count()
    if n_nodes == 0:
        # every bigram fell under min_count (tiny or degenerate
        # corpus): no graph, no keywords — mirror the SQL oracle's
        # empty result instead of dividing by zero below
        return docs.sparkSession.createDataFrame(
            [], "word string, rank float"
        )
    base = (1.0 - damping) / n_nodes

    base_u = int(math.floor(base * unit + 0.5))
    init_u = int(math.floor(1.0 / n_nodes * unit + 0.5))

    ranks = nodes.withColumn("rank_u", F.lit(init_u).cast("long"))
    contrib_edges = edges.join(outw, "src")
    for _ in range(iterations):
        ranks = (
            contrib_edges.join(
                ranks.withColumnRenamed("word", "src"), "src"
            )
            .select(
                F.col("dst").alias("word"),
                F.floor(
                    F.col("w") / F.col("wout")
                    * F.col("rank_u").cast("double")
                ).alias("_c"),
            )
            .groupBy("word")
            .agg(
                (
                    F.lit(base_u)
                    + F.floor(F.lit(damping) * F.sum("_c"))
                ).alias("rank_u")
            )
        )
    # half-away round to 8 dp in pure integer math: (u + 5e3) div 1e4
    r8 = F.expr("(rank_u + 5000) div 10000")
    return (
        ranks.select(
            "word", (r8.cast("double") / F.lit(1e8)).cast("float").alias("rank")
        )
        .orderBy(F.col("rank").desc(), F.col("word"))
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# Sentence segmentation (Python UDTF — one input row, many output rows)
# ---------------------------------------------------------------------------

def split_sentences(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Segment documents into sentences via a Spark 4 Python UDTF.

    The table-function shape (one row in, N rows out with their own
    schema) the reference never needed but an LLM pipeline constantly
    does — sentence-level dedup, per-sentence quality scores, citation
    chunking. The segmentation rule is deliberately regex-simple
    (`[^.!?]+[.!?]?`, RE2-compatible) so the SQL oracle reproduces it;
    swap a real tokenizer into `eval` without touching the plan.

    UDTFs run as Arrow-batched Python like pandas UDFs; the lateral
    join is map-only (no shuffle — each doc's sentences are emitted in
    the task that read it). sent_idx counts EMITTED sentences, 0-based.
    """
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string")
    class _SplitSentences:
        def eval(self, text: str):  # noqa: ANN001
            if not text:
                return
            idx = 0
            for m in _re.findall(r"[^.!?]+[.!?]?", text):
                s = m.strip(" ")
                if s:
                    yield idx, s
                    idx += 1

    spark = docs.sparkSession
    spark.udtf.register("split_sentences_udtf", _SplitSentences)
    docs.select(id_col, text_col).createOrReplaceTempView("_split_sent_in")
    return spark.sql(
        f"""
        SELECT {id_col}, s.sent_idx, s.sentence
        FROM _split_sent_in, LATERAL split_sentences_udtf({text_col}) s
        """
    )


def build_inverted_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist an inverted index for standing BM25 workloads.

    ``bm25_search`` scans the corpus per query — right for ad-hoc
    inspection, wrong for a search service. This materializes the three
    relations a scorer needs:

      path/postings    (token, doc_id, tf)  partitioned by the token's
                       first character → a query's terms prune to a few
                       directories, and the token filter pushes into
                       the parquet scan (point lookups, never a corpus
                       scan);
      path/docstats    (doc_id, dl)
      path/corpusstats one row: (n_docs, total_len)

    Build cost is one explode + one (doc, token) count aggregate —
    the same shuffle a tf-idf pass pays. total_len is a sum of integer
    token counts (exact in float64 at any order), so index-time and
    scan-time BM25 agree bit-for-bit.
    """
    toks = TX.tokens(text_col)
    postings = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .withColumn("tok_prefix", F.substring("token", 1, 1))
    )
    postings.write.mode("overwrite").partitionBy("tok_prefix").parquet(
        f"{path}/postings"
    )
    docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("double").alias("dl"),
    ).write.mode("overwrite").parquet(f"{path}/docstats")
    docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(F.size(toks).cast("double")).alias("total_len"),
    ).write.mode("overwrite").parquet(f"{path}/corpusstats")


def bm25_search_indexed(
    spark,
    index_path: str,
    query: str | list[str],
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 over a persisted index — bit-identical to ``bm25_search``.

    Per query: each term's postings are a PRUNED point lookup
    (tok_prefix partition + pushed token equality), joined onto
    docstats in a FIXED term order with missing tf coalesced to 0 —
    the same explicit fixed-order float expression as the scan-time
    scorer, so both return identical scores for the same corpus. Only
    docs matching ≥1 term ever enter the plan; work scales with
    posting-list sizes, not corpus size.
    """
    terms = _bm25_terms(query, "bm25_search_indexed")

    # explicit schemas: the index layout is fixed, so the reader never
    # samples footers — and an index built from an EMPTY corpus (no
    # parquet files under the partitioned postings dir) stays readable
    postings = spark.read.schema(
        "token string, doc_id long, tf double, tok_prefix string"
    ).parquet(f"{index_path}/postings")
    docstats = spark.read.schema("doc_id long, dl double").parquet(
        f"{index_path}/docstats"
    )
    stats = spark.read.schema("n_docs double, total_len double").parquet(
        f"{index_path}/corpusstats"
    )

    matched = (
        postings.filter(F.col("token").isin(terms))
        .select("doc_id")
        .distinct()
        .join(docstats, "doc_id")
    )
    scored = matched
    for i, t in enumerate(terms):
        tf_t = (
            postings.filter(
                (F.col("tok_prefix") == t[:1]) & (F.col("token") == t)
            )
            .select("doc_id", F.col("tf").alias(f"_tf_{i}"))
        )
        scored = scored.join(tf_t, "doc_id", "left").withColumn(
            f"_tf_{i}", F.coalesce(F.col(f"_tf_{i}"), F.lit(0.0))
        )
    dfreqs = postings.filter(F.col("token").isin(terms)).groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    df_map = {r["token"]: r["df"] for r in dfreqs.collect()}
    srow = stats.first()
    n_docs = srow["n_docs"] if srow is not None else 0.0
    total_len = srow["total_len"] if srow is not None else None
    if not n_docs or total_len is None:
        # index built from an empty corpus: no stats, no matches
        return scored.select(
            "doc_id",
            F.lit(0.0).cast("float").alias("score"),
            F.lit(0).cast("int").alias("rank"),
        ).filter(F.lit(False))
    score = _bm25_score(
        F.lit(n_docs),
        [df_map.get(t, 0.0) for t in terms],
        F.col("dl"),
        F.lit(total_len / n_docs),
        k1,
        b,
    )
    return _bm25_topk(scored, score, "doc_id", top_k)


def epoch_shuffle(
    docs: DataFrame, seed: int = 0, id_col: str = "doc_id",
    checkpoint: bool = False,
) -> DataFrame:
    """Deterministic global training-order permutation, no global sort.

    Training wants a different-but-reproducible document order per
    epoch. The naive `row_number() OVER (ORDER BY md5(seed||id))` plans
    a single-partition global sort — dead at 100 TB — so this uses the
    same two-level decomposition as the pack_chunks prefix sum:

      1. shuffle key = md5(seed:id); bucket = its first byte (the
         ORDER PREFIX, so bucket-major + within-bucket order IS the
         global key order);
      2. within-bucket row_number (256 parallel window partitions);
      3. bucket offsets = cumulative counts of the 256-row bucket
         histogram, broadcast back.

    Output (id, pos): pos is the exact rank the global sort would give
    — verified against the naive OVER(ORDER BY) form by the oracle.
    New seed → new permutation; same seed → identical order on every
    engine and partitioning.

    The keyed frame has two consumers (histogram, ranking). The
    DEFAULT is to recompute it for each: both passes read ONLY the id
    column (pruned scan) and the md5 re-derivation is deterministic
    and cheap, so at 100 TB two narrow scans beat materializing a
    full keyed copy of the table per epoch by orders of magnitude —
    rewriting the corpus to executor storage every epoch was exactly
    the scale hazard flagged in round 5. ``checkpoint=True`` restores
    the materialized form for callers whose ``docs`` is itself an
    expensive unmaterialized pipeline (then: cache/checkpoint once and
    run every epoch against it, or flip this knob). Probe:
    SCALE.md `epoch_shuffle_10m`.
    """
    key = F.md5(
        F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
    )
    keyed = docs.select(F.col(id_col), key.alias("_k")).withColumn(
        "_b", F.conv(F.substring("_k", 1, 2), 16, 10).cast("int")
    )
    if checkpoint:
        # lazy: the bucket-count collect right below materializes it
        keyed = keyed.localCheckpoint(eager=False)
    counts = (
        keyed.groupBy("_b").agg(F.count(F.lit(1)).alias("_n")).collect()
    )
    by_bucket = {r["_b"]: r["_n"] for r in counts}
    offsets, acc = {}, 0
    for b in sorted(by_bucket):
        offsets[b] = acc
        acc += by_bucket[b]
    off_map = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )
    w = Window.partitionBy("_b").orderBy("_k")
    return keyed.select(
        id_col,
        (
            F.element_at(off_map, F.col("_b"))
            + F.row_number().over(w)
            - 1
        ).cast("long").alias("pos"),
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Directed pairs where most of A's shingles appear in B.

    Broder containment C(A→B) = |A∩B| / |A| — the asymmetric measure
    symmetric Jaccard misses: a short document EMBEDDED in a long one
    (quote-farms, scraped aggregation, doc+boilerplate wrappers) has
    high containment but low Jaccard, and a dedup policy usually drops
    the contained side. Same exact inverted-index shape as
    ``jaccard_pairs`` (shared-shingle counts from one shingle-keyed
    shuffle), then BOTH directions are scored — |∩|/|A| and |∩|/|B| —
    and rows above threshold are emitted as (contained, container).

    Containment is a ratio of exact integers: one IEEE division,
    bit-identical across engines, float32 on output. Shingles travel
    as STRINGS (TX.word_shingles), not rotate-xor hashes: containment
    sits at exactness boundaries (C = 1.0 decides "drop the contained
    doc"), and on repetitive text the hash combine collides often
    enough to push a true superset pair under the threshold. A
    web-scale deployment swaps in a collision-resistant 128-bit hash;
    the measure is unchanged.
    """
    shingled = _fan_out(docs).select(
        F.col(id_col).alias("id"),
        TX.word_shingles(F.col(text_col), k).alias("shingles"),
    ).withColumn("set_size", F.size("shingles"))
    exploded = shingled.select(
        "id", "set_size", F.explode("shingles").alias("shingle")
    )
    # sort bucket members by id so every co-occurrence of a doc pair
    # lands in ONE canonical (id_a < id_b) orientation — an unsorted
    # collect_list would split a pair's shared-shingle count across
    # both orientations and undercount |∩|
    buckets = exploded.groupBy("shingle").agg(
        F.array_sort(
            F.collect_list(F.struct("id", "set_size"))
        ).alias("ds")
    )
    n = F.size("ds")
    pair_arrays = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice("ds", i + 2, n),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["set_size"].alias("na"),
                    y["set_size"].alias("nb"),
                ),
            ),
        )
    )
    shared = (
        buckets.select(F.explode(pair_arrays).alias("p"))
        .select("p.id_a", "p.id_b", "p.na", "p.nb")
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    fwd = shared.select(
        F.col("id_a").alias("contained"),
        F.col("id_b").alias("container"),
        (F.col("inter").cast("double") / F.col("na")).alias("_c"),
    )
    rev = shared.select(
        F.col("id_b").alias("contained"),
        F.col("id_a").alias("container"),
        (F.col("inter").cast("double") / F.col("nb")).alias("_c"),
    )
    return (
        fwd.unionByName(rev)
        .filter(F.col("_c") >= threshold)
        .select(
            "contained",
            "container",
            F.col("_c").cast("float").alias("containment"),
        )
        .orderBy("contained", "container")
    )


def weighted_topk_sample(
    docs: DataFrame,
    weight_col: str,
    k: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES).

    The one-pass distributed answer to "pick k docs, probability
    proportional to weight, no duplicates": each row draws a
    deterministic uniform u from md5(id) and keys itself by
    ln(u)/w — the monotone transform of u^(1/w) — and the k LARGEST
    keys are the sample. TakeOrderedAndProject gives per-partition
    heaps + a driver merge of k rows: no global sort, no sequential
    reservoir, identical result at any partitioning.

    ``weighted_sample`` (above) is the Bernoulli per-row variant
    (independent keeps, random size); this one returns EXACTLY k rows.
    Zero/negative weights are excluded (they can never be sampled).
    """
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967297.0)  # (int32 draw + 1) / (2^32 + 1): u ∈ (0, 1)
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        docs.filter(F.col(weight_col) > 0)
        .withColumn("_sk", key)
        .orderBy(F.col("_sk").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            F.col(weight_col).cast("double").alias("weight"),
            F.round(F.col("_sk"), 10).cast("float").alias("sample_key"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

def _dsir_grams(text: Column, buckets: int) -> Column:
    """Hashed word uni+bigram buckets for one doc, as array<int>.

    The DSIR feature map: every whitespace token and every adjacent
    token pair, hashed into ``buckets`` via the engine-portable
    feature_bucket fixed-point (md5). Duplicates KEPT — DSIR models
    bag-of-ngrams counts, not sets.
    """
    # let-bound (TX._let_array): the bigram lambda's element_at(toks)
    # reference would otherwise re-split the document once per bigram
    # — O(n²) in document length (121 s on the --longdoc corpus)
    return TX._let_array(
        F.split(text, " "),
        lambda toks: F.concat(
            F.transform(toks, lambda t: feature_bucket(t, buckets)),
            F.transform(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda t, i: feature_bucket(
                    F.concat_ws(" ", t, F.element_at(toks, i + 2)), buckets
                ),
            ),
        ),
    )


def dsir_scores(
    docs: DataFrame,
    is_target: Column,
    buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc DSIR importance score: how target-like is each document.

    Data Selection via Importance Resampling (Xie et al. 2023): fit
    two bag-of-hashed-ngram distributions — the TARGET slice
    (``is_target``, e.g. a high-quality or in-domain subset) and the
    RAW rest — and score every document by its log importance weight
    ``Σ_g log p̂_target(bucket(g)) − log p̂_raw(bucket(g))`` over its
    uni+bigrams (add-one smoothing on both sides). High scores =
    target-like; feeding the scores to weighted/top-k sampling
    (``weighted_sample``/``weighted_topk_sample``) completes the
    selection pipeline.

    Scale shape: the MODEL is the per-bucket log-ratio table —
    ``buckets`` rows regardless of corpus size — built by one
    explode+aggregate pass (map-side partial: the shuffle carries at
    most buckets×partitions rows) and broadcast back; scoring is the
    same explode joined against the broadcast model + one per-doc sum
    (map-side partial again). No all-pairs, no driver data collect.

    Engine parity: bucket ids are the md5 fixed-point
    (feature_bucket), counts/totals are exact integers, smoothing is
    one division, and only the final per-doc SUM of log-ratios is
    fold-order dependent — absorbed by the terminal float32 cast per
    the repo-wide determinism contract.
    """
    grams = docs.select(
        F.col(id_col).alias("id"),
        is_target.cast("boolean").alias("_tgt"),
        F.explode(_dsir_grams(F.col(text_col), buckets)).alias("bucket"),
    )
    per_bucket = grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("_tgt"), 0).otherwise(1)).alias("n_r"),
    )
    totals = per_bucket.agg(
        F.sum("n_t").alias("tot_t"), F.sum("n_r").alias("tot_r")
    )
    model = per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log(
                (F.col("n_t") + 1).cast("double")
                / (F.col("tot_t") + F.lit(buckets)).cast("double")
            )
            - F.log(
                (F.col("n_r") + 1).cast("double")
                / (F.col("tot_r") + F.lit(buckets)).cast("double")
            )
        ).alias("log_ratio"),
    )
    scored = (
        grams.join(F.broadcast(model), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("log_ratio").alias("_score"),
        )
    )
    return scored.select(
        F.col("id").alias(id_col),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("_score").cast("float").alias("dsir_score"),
    )


def hybrid_search_rrf(
    lexical: DataFrame,
    semantic: DataFrame,
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of two retriever rankings (RAG hybrid search).

    The standard lexical+vector combiner (Cormack et al. 2009):
    ``rrf(d) = Σ_r 1/(c + rank_r(d))`` over the rankings that retrieved
    d — rank-based, so BM25 scores and cosines never need calibration
    against each other. Documents found by only one retriever keep that
    one term (full outer join); ties break by id.

    Scale: both inputs are top-k lists (retriever-bounded, tiny), so
    the fuse is a broadcast-sized join whatever the corpus size behind
    the retrievers. Exactly engine-portable: ranks are integers and the
    score is a fixed-order pair of divisions.
    """
    lex = lexical.select(
        F.col(id_col).alias("doc_id"), F.col(rank_col).alias("_rl")
    )
    sem = semantic.select(
        F.col(id_col).alias("doc_id"), F.col(rank_col).alias("_rs")
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .withColumn(
            "rrf_score",
            F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("_rl")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("_rs")), F.lit(0.0)),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
            ),
        )
        .filter(F.col("rank") <= k)
    )
    return fused.select(
        "doc_id",
        F.col("_rl").cast("long").alias("lexical_rank"),
        F.col("_rs").cast("long").alias("semantic_rank"),
        F.col("rrf_score").cast("float").alias("rrf_score"),
        F.col("rank").cast("long").alias("rank"),
    )


def pii_scan(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document PII exposure: one count per class + masked text.

    The pre-release scrub pass of a training-data pipeline (the
    email/IP/phone/ID-number sweep of CCNet/Dolma-style curation):
    counts tell the curator how much PII each document carries (gate
    or sort on them); ``masked`` is the releasable text with every
    match replaced by its class token.

    Scale shape: map-only — four codegen'd regexp_count's, two
    checksum-gated candidate filters (credit cards via Luhn mod-10,
    IBANs via ISO 7064 mod-97 — aggregate Column folds over the
    match's characters, no UDF), and a masking chain that interleaves
    regexp passes with literal-replace folds; zero shuffles, pure
    scan parallelism — at 100 TB this pipelines with any other
    per-doc gate in the same stage. Patterns live in TX.PII_PATTERNS
    / TX.CARD_PATTERN / TX.IBAN_PATTERN (the Java∩RE2 shared subset
    — the DuckDB oracle replays counts and masked bytes exactly,
    checksums via list_reduce). NULL text -> NULL counts and masked.
    """
    return docs.select(
        id_col,
        *TX.pii_counts(text_col),
        TX.mask_pii(text_col).alias("masked"),
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    n_buckets: int = 10,
    test_buckets: int = 1,
) -> DataFrame:
    """Train/test split where near-duplicate docs NEVER straddle it.

    `hash_split` is reproducible but leaks: a near-duplicate of a
    training doc landing in test inflates eval (the classic benchmark-
    contamination failure, this time self-inflicted). Here the split
    key is the doc's near-dup COMPONENT id (from any pair generator —
    jaccard/minhash/simhash — via `neardup_components`), so an entire
    duplicate family lands atomically on one side; singleton docs key
    on their own id. The bucket is an md5-derived hash of the key —
    component ids are min-ids (structured, low-biased), so a raw
    modulo would skew; the hash is the portable fixed point both
    engines share, keeping the split auditable cross-engine.

    Scale shape: components is pair-graph-sized (not corpus-sized);
    one left join keyed on uniform doc ids attaches it, everything
    else is scan-side column math. Returns (id, split_key, split).
    """
    comps = neardup_components(pairs).withColumnRenamed("id", id_col)
    key = F.coalesce(F.col("component_id"), F.col(id_col))
    bucket = (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10)
        .cast("long")
        % n_buckets
    )
    return (
        docs.select(id_col)
        .join(comps, id_col, "left")
        .select(
            id_col,
            key.alias("split_key"),
            F.when(bucket < test_buckets, F.lit("test"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


# ---------------------------------------------------------------------------
# N-gram language-model perplexity (CCNet-style quality filtering)
# ---------------------------------------------------------------------------

def _lm_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped (double spaces).
    Same single-space split contract as TX.tokens / the SQL twins."""
    return F.filter(F.split(F.lower(text), " "), lambda t: t != "")


def _lm_grams(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, w1..wn) — one row per n-gram position (1-based positions
    n..len). Map-only: the token array is LET-BOUND (TX._let_array —
    the per-position element_at would otherwise re-split the document
    per gram, O(len²), the --longdoc trap) and the gram array lives in
    its own select BELOW the explode (ExtractGenerator re-plans
    expressions sharing the Generate's select above it). Docs shorter
    than n tokens emit nothing; sequence() must be guarded because
    Spark's sequence(3, 2) is the DECREASING [3, 2], not empty."""
    def build(tk: Column) -> Column:
        return F.when(
            F.size(tk) >= n,
            F.transform(
                F.sequence(F.lit(n), F.size(tk)),
                lambda i: F.struct(*[
                    F.element_at(tk, i - (n - 1) + j).alias(f"w{j + 1}")
                    for j in range(n)
                ]),
            ),
        ).otherwise(F.array())

    arr = TX._let_array(_lm_tokens(F.col(text_col)), build)
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), arr.alias("_g"))
        .select(id_col, F.explode("_g").alias("g"))
        .select(id_col, "g.*")
    )


def _micro_log10(s: Column) -> Column:
    """log10(s) for s in (0, 1], half-away-rounded at 6 decimals and
    scaled to integer MICROS (long). Per-token scores become exact
    integers, so the per-doc total is an order-free bit-exact LONG sum
    on both engines — no float fold-order anywhere in the aggregate
    (the kmeans/quantize playbook applied to log-likelihoods). The op
    sequence is the shared half-away rule: abs, scale, +0.5, floor,
    negate (log10 of a probability is never positive)."""
    return -(
        F.floor(F.abs(F.log10(s)) * F.lit(1e6) + F.lit(0.5)).cast("long")
    )


def lm_stupid_backoff(
    docs: DataFrame,
    train: DataFrame | None = None,
    alpha: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document trigram LM perplexity — the CCNet-style quality
    filter (Wenzek et al. 2020 score with a KenLM; this is the
    engine-native equivalent with a stupid-backoff trigram model,
    Brants et al. 2007 — no smoothing hyperparameters, just counts
    and a fixed backoff discount, which is what makes it exactly
    replayable in SQL).

    Model = three count tables aggregated from ``train`` (defaults to
    ``docs``): unigrams, bigrams, trigrams over lowercased whitespace
    tokens. Score of token w3 after context (w1, w2):

    * c(w1 w2 w3) / c(w1 w2)        when the trigram was seen,
    * alpha · c(w2 w3) / c(w2)      backing off to the bigram,
    * alpha² · c(w3) / N            backing off to the unigram,
    * alpha² · 1 / N                for out-of-vocabulary tokens.

    Every level is a ratio of exact integers, each token's log10 is
    quantized to integer micros (``_micro_log10``), and the per-doc
    aggregate is a LONG sum — bit-exact across engines regardless of
    aggregation order. Output: (id, n_scored, logprob_micro, ppl) for
    every doc with ≥ 3 tokens, where ppl = 10^(−logprob_micro /
    (n_scored·1e6)) quantized at 4 decimals. An empty/undefined model
    (no train rows) yields no output rows rather than a divide-by-zero
    under ANSI.

    Scale shape: gram construction is map-only (let-bound token
    arrays); the count tables are groupBy aggregates with map-side
    partial combine (shuffle rows bounded by distinct grams). Scoring
    (r12) joins the gram stream THREE times, not five: c12 is only
    ever consulted when the trigram exists (branch 1 requires
    c123 > 0) and an observed trigram's prefix bigram always exists,
    so c12 pre-joins onto the trigram table; likewise c2 onto the
    bigram table — value-identical, and the two dropped joins now run
    over vocabulary-sized model tables instead of the corpus-sized
    gram stream. (A single rollup(w1,w2,w3) pass producing all three
    tables + N in one shuffle was built and MEASURED SLOWER at sf0.1 —
    min 2.62 s vs 2.35 s baseline vs 2.00 s for this form: the Expand
    operator quadruples the pre-aggregate stream and the fused level
    table must be pinned corpus-vocabulary-sized; the three separate
    aggregates also parallelize as independent jobs.) Joins stay
    un-hinted (model size grows with corpus vocabulary — the
    forced-broadcast audit rule); the total-token count N is the one
    permitted 1-row broadcast cross join. No collect, no window, no
    per-row Python.
    """
    from .similarity import _quantize_col

    tr = (docs if train is None else train).filter(
        F.col(text_col).isNotNull()
    )
    uni = _lm_grams(tr, 1, text_col, id_col).groupBy("w1").agg(
        F.count(F.lit(1)).alias("c")
    )
    bi = _lm_grams(tr, 2, text_col, id_col).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c")
    )
    tri = _lm_grams(tr, 3, text_col, id_col).groupBy(
        "w1", "w2", "w3"
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.sum("c").alias("_N"))

    tri2 = tri.withColumnRenamed("c", "c123").join(
        bi.select("w1", "w2", F.col("c").alias("c12")), ["w1", "w2"]
    )
    bi2 = bi.select(
        F.col("w1").alias("w2"),
        F.col("w2").alias("w3"),
        F.col("c").alias("c23"),
    ).join(uni.select(F.col("w1").alias("w2"), F.col("c").alias("c2")), ["w2"])

    sc = _lm_grams(docs, 3, text_col, id_col)
    joined = (
        sc.join(tri2, ["w1", "w2", "w3"], "left")
        .join(bi2, ["w2", "w3"], "left")
        .join(
            uni.select(F.col("w1").alias("w3"), F.col("c").alias("c3")),
            ["w3"],
            "left",
        )
        .crossJoin(F.broadcast(tot))
        # empty model -> no scores (not an ANSI divide-by-zero)
        .filter(F.col("_N").isNotNull() & (F.col("_N") > 0))
    )
    a = F.lit(float(alpha))
    nd = F.col("_N").cast("double")
    s = (
        F.when(
            (F.col("c123") > 0) & (F.col("c12") > 0),
            F.col("c123").cast("double") / F.col("c12").cast("double"),
        )
        .when(
            (F.col("c23") > 0) & (F.col("c2") > 0),
            a * (F.col("c23").cast("double") / F.col("c2").cast("double")),
        )
        .when(F.col("c3") > 0, a * a * (F.col("c3").cast("double") / nd))
        .otherwise(a * a * (F.lit(1.0) / nd))
    )
    per_doc = (
        joined.select(F.col(id_col), _micro_log10(s).alias("_m"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum("_m").alias("logprob_micro"),
        )
    )
    ppl = F.pow(
        F.lit(10.0),
        (-F.col("logprob_micro")).cast("double")
        / (F.col("n_scored").cast("double") * F.lit(1e6)),
    )
    return per_doc.select(
        id_col,
        "n_scored",
        "logprob_micro",
        _quantize_col(ppl, 4).cast("float").alias("ppl"),
    )


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes (round 8) — the aggregation-only classifier.
# ---------------------------------------------------------------------------

def nb_train(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Train a multinomial Naive Bayes text classifier with add-one
    smoothing. Returns ``(token_model, class_model)``:

    * token_model — one row per (cls, w) pair seen in training:
      ``lp_micro`` = log10((c(w,cls) + 1) / (T_cls + V)) in integer
      MICROS (the `_micro_log10` contract — per-token scores are exact
      LONGs, so scoring sums are order-free bit-exact on both engines);
    * class_model — one row per class: ``prior_micro`` =
      log10(n_docs_cls / n_docs) and ``oov_micro`` =
      log10(1 / (T_cls + V)), the smoothed score of an unseen token.

    The training paradigm complement to ``classifier_train``'s
    gradient descent: ONE token-explode + ONE (cls, w) groupBy trains
    the entire model — no iterations, no driver-resident weights — and
    the model STAYS DISTRIBUTED (vocabulary-sized, like the LM count
    tables), which is what makes NB the classic first classifier over
    a 100 TB corpus. The only scalars are V (distinct training tokens)
    and n_docs, both 1-row broadcast aggregates.

    Rows with NULL text or NULL label can't supervise — excluded
    (oracle: IS NOT NULL on both).
    """
    tr = docs.filter(
        F.col(text_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(F.col(label_col).alias("cls"), F.col(text_col).alias("_t"))
    tok = tr.select(
        "cls", F.explode(_lm_tokens(F.col("_t"))).alias("w")
    )
    cnt = tok.groupBy("cls", "w").agg(F.count(F.lit(1)).alias("c"))
    totc = cnt.groupBy("cls").agg(F.sum("c").alias("t"))
    vocab = cnt.select(
        F.count_distinct("w").alias("v")
    )
    ndocs = tr.select(F.count(F.lit(1)).alias("nd"))
    nd_cls = tr.groupBy("cls").agg(F.count(F.lit(1)).alias("ndc"))

    token_model = (
        cnt.join(totc, "cls")
        .crossJoin(F.broadcast(vocab))
        .select(
            "cls",
            "w",
            _micro_log10(
                (F.col("c") + 1).cast("double")
                / (F.col("t") + F.col("v")).cast("double")
            ).alias("lp_micro"),
        )
    )
    class_model = (
        totc.join(nd_cls, "cls")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(ndocs))
        .select(
            "cls",
            _micro_log10(
                F.col("ndc").cast("double") / F.col("nd").cast("double")
            ).alias("prior_micro"),
            _micro_log10(
                F.lit(1.0)
                / (F.col("t") + F.col("v")).cast("double")
            ).alias("oov_micro"),
        )
    )
    return token_model, class_model


def nb_classify(
    docs: DataFrame,
    token_model: DataFrame,
    class_model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document against a trained NB model and pick the
    argmax class: ``(id, pred_cls, logprob_micro, n_tokens)``.

    Per doc and class: prior_micro + Σ_tokens lp_micro (OOV tokens
    fall back to the class's oov_micro) — a LONG sum of exact
    integers, then one row_number window (total DESC, cls ASC
    tie-break) keeps the winner; WindowGroupLimit pushes the rank-1
    filter into the sort.

    Scale shape: the class table is a broadcast nested-loop expansion
    (n_classes small and bounded — the one deliberate non-equi join,
    multiplying token rows by |classes| exactly as written); the
    token-model join is a plain shuffled equi-join on the token
    (AQE broadcasts it when the model is small; NOT force-broadcast —
    vocabulary grows with the corpus, the LM rule). Docs with zero
    tokens have no per-class evidence and emit nothing.
    """
    dtok = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(_lm_tokens(F.col(text_col))).alias("w"))
    )
    joined = (
        dtok.crossJoin(F.broadcast(class_model))
        .join(token_model, ["cls", "w"], "left")
        .select(
            id_col,
            "cls",
            "prior_micro",
            F.coalesce("lp_micro", F.col("oov_micro")).alias("_lp"),
        )
    )
    per_class = joined.groupBy(id_col, "cls", "prior_micro").agg(
        F.sum("_lp").alias("_sum"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    w = Window.partitionBy(id_col).orderBy(
        (F.col("prior_micro") + F.col("_sum")).desc(), F.col("cls")
    )
    return (
        per_class.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(id_col),
            F.col("cls").alias("pred_cls"),
            (F.col("prior_micro") + F.col("_sum")).alias("logprob_micro"),
            F.col("n_tokens").cast("int").alias("n_tokens"),
        )
    )
