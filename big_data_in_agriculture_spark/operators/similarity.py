"""Similarity search over embedding columns (array<float>).

One contract (cosine, rounded-before-rank, deterministic tie-breaks)
across the whole kNN family:

* ``knn_bruteforce`` — exact top-k. The query set broadcasts; each
  executor scans its slice of the corpus once. Correct baseline at any
  corpus size IF the query set is small (it ships to every task).
* ``knn_lsh`` — approximate, random-hyperplane LSH. Candidates =
  equi-join on (table, bucket); exact cosine re-rank on candidates
  only. A 100 TB path: no broadcast of anything large, no all-pairs;
  fan-out controlled by ``num_tables``×``num_bits``.
* ``knn_ivf`` — approximate, inverted-file probing. Corpus assigned to
  k-means-trained coarse cells (round 8; ≤7 used lowest-id stand-ins);
  queries probe their n_probe nearest; equi-join on the cell id.
  Better than LSH when the corpus clusters.
* ``knn_rp`` — Johnson–Lindenstrauss random-projection screen (round
  7): cheaper per-pair dots at large query counts, exact re-rank.
* ``pq_train`` / ``pq_encode`` / ``knn_pq`` — product quantization
  (round 7): 8-byte codes + per-query LUT make the screen read 30×
  less and cost n_subspaces lookups per pair.
* ``knn_ivfpq`` — the composed index (round 7; residual encoding round
  8): trained IVF cells prune WHICH vectors score, PQ codes over the
  RESIDUALS ``v − c(cell)`` shrink WHAT the scoring reads — the
  billion-vector architecture, Jégou-standard composition.
* ``sq_train`` / ``sq_encode`` / ``knn_sq`` — scalar quantization
  (round 8): per-dimension 256-level codes against corpus min/max —
  the no-training-protocol compression path (bounds are exact
  selections, so the oracle re-derives the model in one CTE); 4 bytes
  → 1 byte per component, asymmetric-distance screen, exact re-rank.
* ``embedding_neardup_pairs`` — the dedup flavor: all pairs above a
  high cosine threshold, LSH-bucketed candidates + exact verify.

Shared cost discipline (round 7, measured in SCALE.md): casts and L2
norms hoist to one map-side projection per ROW (``_dnormed`` /
``_prenorm_sim`` — float-identical to inline cosine). Every operator
ends in ``_topk`` (cosine rounded by ``_cos6``, neighbor-id tie-break,
rank ≤ k), and the four screened paths (RP, PQ, IVF-PQ, SQ) reach it
through ``_screen_rerank``: the top-C window sees THIN (id, id, score)
rows and survivors' vectors come back by id join for the exact
re-rank. Recall is asserted on planted near-neighbors
(tests/test_contamination_anomaly.py), not on noise.

Vector math that feeds an ORACLE comparison is JVM-side higher-order
functions (zip_with / aggregate / transform) over array columns, floats
widened to float64 so results match SQL oracles bit-for-bit (modulo a
final ROUND, since fold order across engines can differ in the last
ulp). The one deliberate exception is LSH bucketing (`_bucketize`):
dense hyperplane projections are a BLAS matmul inside an Arrow-batched
pandas UDF — see its docstring for the measured reasoning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._util import fan_out as _fan_out
from ._util import arr_lit
from ._util import quantize_half_away


def _dvec(col) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def _quantize_col(col, digits: int) -> F.Column:
    """Column twin of ``_util.quantize_half_away`` / the oracle's
    ``_quantize_sql``: round half-AWAY-from-zero via explicit IEEE ops
    (abs, scale, +0.5, floor, unscale, re-sign) instead of engine
    ``round``. The engines' rounds disagree at decimal ties through a
    DIFFERENT mechanism than Python-vs-DuckDB: Spark's round goes
    through the shortest DECIMAL repr (BigDecimal.valueOf — the double
    nearest 1.0339485 reads as the exact decimal and HALF_UPs to
    1.033949) while DuckDB rounds the BINARY double
    (1.03394849999... → 1.033948). Ties are common precisely when the
    input is ALREADY on a coarser decimal grid — the round-8 fuzz
    corpus hit one in rp_project's 9dp→6dp re-round. This op sequence
    evaluates each step as a correctly-rounded double primitive on
    both engines, so it is bit-identical by construction. The input is
    let-bound (transform over a 1-element array) because the body
    references it three times and interpreted HOFs have no CSE."""
    scale = float(10 ** digits)

    def _q(d: F.Column) -> F.Column:
        mag = F.floor(F.abs(d) * F.lit(scale) + F.lit(0.5)) / F.lit(scale)
        return F.when(d < 0, -mag).otherwise(mag)

    return F.transform(F.array(col), _q)[0]


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _prenorm_sim(va, vb, na, nb) -> F.Column:
    """Pair cosine from pre-computed (float64 vector, norm) columns.

    ``cosine(a, b)`` evaluates ``_dvec`` twice and ``_norm`` twice PER
    PAIR — under a candidate join that is 2 casts + 2 norm folds ×
    |pairs| instead of × |rows| (measured: the Q=200 × 300k-corpus
    brute-force probe spends ~2/3 of its time re-folding norms).
    Callers hoist the cast and the norm to ONE map-side projection per
    side (below the join, so Catalyst cannot inline them back into the
    per-pair expression) and pass the columns here. Float-identical to
    ``cosine``'s non-NULL branch: same sub-expressions, same fold
    order, same try_divide/coalesce zero-norm pin — every oracle hash
    is unchanged. Both sides must already be vec_is_valid-filtered
    (the NULL-in→NULL-out branch is unreachable and omitted).
    """
    return F.coalesce(F.try_divide(_dot(va, vb), na * nb), F.lit(0.0))


def _dnormed(df: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    """(id, float64 vector, norm) projection for one join side —
    filters invalid vectors and computes cast + norm once per row."""
    return df.filter(vec_is_valid(F.col(vec_col))).select(
        F.col(id_col).alias(f"{prefix}_id"),
        _dvec(F.col(vec_col)).alias(f"{prefix}_vec"),
    ).withColumn(f"{prefix}_norm", _norm(F.col(f"{prefix}_vec")))


def _cos6(vec: str = "vec", norm: str = "norm") -> F.Column:
    """The kNN family's pair score: ``_prenorm_sim`` of the
    ``query_{vec}``/``neighbor_{vec}`` columns over their ``*_{norm}``
    columns, rounded to 6 dp BEFORE any ranking so last-ulp fold-order
    differences between engines cannot reorder neighbors."""
    return F.round(
        _prenorm_sim(
            F.col(f"query_{vec}"), F.col(f"neighbor_{vec}"),
            F.col(f"query_{norm}"), F.col(f"neighbor_{norm}"),
        ),
        6,
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The kNN output contract over (query_id, neighbor_id, cosine_sim)
    rows: per query, ``row_number`` by cosine DESC with the neighbor id
    as the deterministic tie-break, ranks ≤ k kept. Catalyst plants a
    WindowGroupLimit below the exchange for the rank filter."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _screen_rerank(
    scored: DataFrame,
    order: F.Column,
    n_candidates: int,
    cv: DataFrame,
    qv: DataFrame,
    k: int,
) -> DataFrame:
    """Screen → exact re-rank → top-k, the tail of every compressed or
    projected kNN path (``knn_rp``, ``knn_pq``, ``knn_ivfpq``,
    ``knn_sq``).

    ``scored`` holds THIN (query_id, neighbor_id, score) rows; per query
    the top ``n_candidates`` by ``order`` (neighbor-id tie-break)
    survive. Carrying full-dim vectors through that window was measured
    1.6× SLOWER than brute force at Q=200 × 300k corpus: the rank-limit
    pushdown sorts every scored pair map-side, and each wide row hauls
    two vectors through the sort — thin rows keep the payload ~24
    bytes. Survivors fetch their vectors back by id: ``cv``
    (neighbor_id, neighbor_vec, neighbor_norm) is scanned against the
    broadcast candidate ids, then ``qv`` (query_id, query_vec,
    query_norm) joins by broadcast. Exact ``_cos6`` on the
    ≤ Q × n_candidates survivors, then ``_topk``.
    """
    wc = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    cands = (
        scored.withColumn("_crank", F.row_number().over(wc))
        .filter(F.col("_crank") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    exact = (
        cv.join(F.broadcast(cands), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", _cos6().alias("cosine_sim"))
    )
    return _topk(exact, k)


def _no_neighbors(corpus: DataFrame, id_col: str) -> DataFrame:
    """The empty kNN result (``_topk``'s schema) for a model trained on
    an empty corpus: no index cells or codebooks, so no neighbors."""
    return corpus.select(
        F.col(id_col).alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        F.lit(0.0).cast("double").alias("cosine_sim"),
        F.lit(0).cast("int").alias("rank"),
    ).filter(F.lit(False))


def vec_is_valid(col) -> F.Column:
    """True iff ``col`` is a usable embedding: non-NULL, with every
    component non-NULL and finite.

    The repo-wide INVALID-VECTOR convention (COVERAGE.md): failed or
    truncated encoder output in a real corpus shows up as NULL rows,
    NULL components, NaNs, and ±Inf — and each of those poisons a
    different stage differently (NaN distances make argmin ordering
    engine-dependent, Inf norms zero every cosine, one NaN component
    poisons a whole dimension's mean). Rather than per-stage patches,
    every vector operator excludes invalid vectors AT ENTRY, mirrored
    in oracle SQL by ``len(list_filter(embedding, x -> x IS NULL OR
    isnan(x) OR isinf(x))) = 0``. (The NaN-vector adversarial corpus —
    scripts/advdata.py --nanvec — sweeps this.)

    forall() on an empty array is true: a zero-dim vector is "valid"
    and left for downstream zero-norm handling (cosine → 0.0).
    """
    c = col if isinstance(col, F.Column) else F.col(col)
    return c.isNotNull() & F.forall(
        c,
        lambda x: x.isNotNull()
        & ~F.isnan(x)
        & (F.abs(x) != F.lit(float("inf"))),
    )


def with_l2_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the L2 norm (float64) of an array<float> column."""
    return df.withColumn("l2_norm", _norm(_dvec(F.col(vec_col))))


def cosine(a, b) -> F.Column:
    """Cosine similarity of two array columns, computed in float64.

    A zero-magnitude vector (padding rows, dead embeddings — they DO
    occur in real corpora) has undefined cosine; the convention here
    is 0.0. try_divide + coalesce, not when(denom > 0, ...): the
    when() form repeats the norm aggregates in condition and division
    (structural duplication an optimizer may or may not eliminate —
    A/B runs at sf0.1 are dominated by JIT drift either way), while
    try_divide evaluates the denominator exactly once and yields NULL
    on zero, which coalesce pins to 0.0. Every SQL oracle that
    divides by norms carries the matching CASE so both engines rank
    such rows identically.

    A NULL input vector, by contrast, follows the repo-wide
    NULL-in -> NULL-out convention (COVERAGE.md): the coalesce is
    guarded so only the zero-denominator NULL is pinned to 0.0 —
    missing embeddings stay NULL rather than masquerading as
    orthogonal. Registry callers additionally pre-filter NULL
    embeddings before any kNN/clustering join.

    Accepts Column or column-name str for either argument (the
    Column|str convention used across functions/text.py) -- the
    NULL guard calls .isNull(), which a bare str lacks."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    da, db = _dvec(a), _dvec(b)
    return F.when(a.isNull() | b.isNull(), F.lit(None).cast("double")).otherwise(
        F.coalesce(
            F.try_divide(_dot(da, db), _norm(da) * _norm(db)), F.lit(0.0)
        )
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is broadcast (must be small); the corpus is scanned
    once. Self-matches (same id) are excluded. Similarity is rounded
    BEFORE ranking and tie-broken by neighbor id, so the returned set
    is deterministic across engines and partitionings. The float64
    cast and L2 norm of each side are hoisted to one map-side
    projection per ROW (``_dnormed``); the per-pair work is the dot
    alone — ~3× less array folding under the Q×N join, value- and
    hash-identical to the inline form (``_prenorm_sim``).
    """
    q = _dnormed(queries, id_col, vec_col, "query")
    c = _dnormed(_fan_out(corpus), id_col, vec_col, "neighbor")
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cos6().alias("cosine_sim"))
    )
    return _topk(scored, k)


def _nearest(vec, cents: list[list[float]]) -> F.Column:
    """(squared-distance, cid) structs against a centroid model, nearest
    first — ``F.slice(_nearest(...), 1, n)`` is an n-cell probe list.

    The whole centroid table ships as ONE nested-array literal and the
    per-centroid math runs inside a single ``transform`` — O(1) plan
    nodes regardless of centroid count (the per-centroid expression-tree
    formulation grew the plan by k×dim nodes, capping usable k), while
    staying a pure map-side projection: no join, no shuffle, at any
    corpus size. ``array_sort`` orders by distance with the cid as the
    deterministic tie-break.
    """
    return F.array_sort(F.transform(
        arr_lit([[float(x) for x in c] for c in cents]),
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(_dvec(vec), c, lambda a, b: a - b),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            ).alias("d"),
            i.cast("int").alias("cid"),
        ),
    ))


def _argmin(vec, cents: list[list[float]]) -> F.Column:
    """The nearest centroid's id (see ``_nearest``)."""
    return _nearest(vec, cents)[0]["cid"]


def _hyperplane(seed: int, table: int, bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane (no RNG state): component
    j = a zig-zag hash of (seed, table, bit, j) mapped to [−1, 1].
    Quality is adequate for sign-LSH; determinism is the point (same
    plan every run, resumable, oracle-friendly)."""
    out = []
    for j in range(dim):
        h = (seed * 1_000_003 + table * 10_007 + bit * 101 + j) * 2654435761 % (2**32)
        out.append((h / 2**31) - 1.0)
    return out


def lsh_bucket(
    vec_col,
    dim: int,
    num_bits: int = 8,
    table: int = 0,
    seed: int = 42,
) -> F.Column:
    """Sign-pattern bucket id (0..2^num_bits−1) for one LSH table.

    Each bit = sign of ⟨v, r_i⟩ for a fixed pseudo-random hyperplane
    r_i. Pure Column arithmetic — the hyperplanes are literal arrays
    baked into the plan (num_bits × dim literals; fine for dim ≤ few
    thousand)."""
    v = _dvec(vec_col)
    bucket = F.lit(0).cast("long")
    for b in range(num_bits):
        plane = arr_lit(_hyperplane(seed, table, b, dim))
        # round-9 before the sign: kills engine fold-order jitter in
        # the last ulps so a near-orthogonal (vector, plane) pair can't
        # flip a bucket bit between numpy/Column/SQL evaluations.
        # Spark's F.round (HALF_UP) and DuckDB's round both round
        # half-AWAY-from-zero, so a value landing exactly on a .5e-9
        # tie still buckets identically; only Python's round() differs
        # (half-to-even) and it is never used on this path.
        bit = F.when(F.round(_dot(v, plane), 9) >= 0, F.lit(2 ** b)).otherwise(
            F.lit(0)
        )
        bucket = bucket + bit.cast("long")
    return bucket


def _bucketize(
    df: DataFrame,
    side: str,
    dim: int,
    num_tables: int,
    num_bits: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """(id, vec, tbl, bucket) rows — MAP-ONLY, zero shuffles.

    The num_tables×num_bits sign-dots are ONE dense matmul per Arrow
    batch: an (n×dim) @ (dim×(tables·bits)) numpy product inside a
    vectorized pandas UDF, sign bits packed with a weights dot. This is
    the documented "UDFs are the slow path EXCEPT vectorized linear
    algebra" exception: the earlier pure-Column formulation (nested
    transform→aggregate→zip_with over a hyperplane literal) is
    semantically identical but executes the higher-order functions
    INTERPRETED, one object-tree walk per (row × plane × component) —
    measured ~100× slower than the BLAS batch at sf0.1 and growing
    linearly worse with corpus size. The hyperplanes stay the same
    deterministic `_hyperplane` constants (no executor RNG), baked
    into the UDF closure; still no exchange before the candidate join,
    so bucketing scales as pure scan parallelism at any corpus size.
    """
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    # invalid embeddings (NULL / NaN / Inf / NULL-component rows —
    # padding or failed encodes) can't be bucketed: NULLs shear the
    # batch matmul and a NaN projection makes the sign bit arbitrary;
    # convention: excluded at entry (vec_is_valid), mirrored in the
    # oracle SQL
    df = df.filter(vec_is_valid(F.col(vec_col)))

    planes = np.array(
        [
            [_hyperplane(42, t, b, dim) for b in range(num_bits)]
            for t in range(num_tables)
        ],
        dtype=np.float64,
    ).reshape(num_tables * num_bits, dim)
    proj = planes.T.copy()  # dim × (tables·bits)
    weights = (2.0 ** np.arange(num_bits)).astype(np.float64)
    n_tables = num_tables
    n_bits = num_bits

    @pandas_udf(ArrayType(LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        # round-9 before the sign (same contract as lsh_bucket and the
        # SQL oracle): BLAS pairwise-fold dots differ from sequential
        # folds by last-ulp amounts, which must not flip a bucket bit
        bits = np.round(m @ proj, 9) >= 0.0
        ids = (
            (bits.reshape(len(vecs), n_tables, n_bits) * weights)
            .sum(axis=2)
            .astype(np.int64)
        )
        return pd.Series(list(ids))

    return _fan_out(df).select(
        F.col(id_col).alias(f"{side}_id"),
        F.col(vec_col).alias(f"{side}_vec"),
        F.posexplode(_buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    num_tables: int = 4,
    num_bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: multi-table sign-LSH bucketing + exact re-rank.

    Both sides compute (table, bucket) keys; candidates come from an
    equi-join on them (a shuffled hash join — NO broadcast of the data
    sides, so the query set may itself be huge); exact cosine runs only
    on candidates; duplicates across tables collapse with a groupBy max.
    Recall rises with num_tables; bucket size falls with num_bits.
    """
    qb = _bucketize(queries, "query", dim, num_tables, num_bits, vec_col, id_col)
    cb = _bucketize(corpus, "neighbor", dim, num_tables, num_bits, vec_col, id_col)
    # hoist cast + norm below the bucket join: once per (vector,
    # table) row instead of once per candidate pair — float-identical
    # to the inline cosine (see _prenorm_sim)
    qb = qb.withColumn("query_vec", _dvec(F.col("query_vec"))).withColumn(
        "query_norm", _norm(F.col("query_vec"))
    )
    cb = cb.withColumn(
        "neighbor_vec", _dvec(F.col("neighbor_vec"))
    ).withColumn("neighbor_norm", _norm(F.col("neighbor_vec")))
    cand = (
        qb.join(cb, ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cos6().alias("cosine_sim"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cosine_sim").alias("cosine_sim"))
    )
    return _topk(cand, k)


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    coarse_iters: int = 2,
    coarse_quantize: int | None = 6,
) -> DataFrame:
    """IVF-style approximate kNN: coarse quantize, probe, re-rank.

    The inverted-file pattern: (1) train ``n_centroids`` coarse
    centroids with the bit-replayable k-means (``kmeans_fit``, tol=0,
    quantized updates — round 8; rounds ≤7 used the lowest-id corpus
    vectors as a stand-in, which cost recall because raw data points
    make lousy cell centers), or pass a pre-trained model via
    ``centroids``; (2) assign every corpus vector to its nearest
    centroid (argmin over literal centroid arrays — pure projection,
    no shuffle); (3) assign each query to its ``n_probe`` nearest
    centroids (explode); (4) equi-join on the centroid id and re-rank
    exactly.

    The model is a driver-side artifact of ``n_centroids`` rows (like
    broadcasting a k-means model), never a data collect; each training
    iteration shuffles only k×dim partial sums per partition. With
    ``coarse_iters=0`` the fit returns its init — the k lowest-id
    vectors, i.e. the pre-round-8 behavior.
    """
    # invalid vectors excluded at entry (vec_is_valid): before round 6
    # they were only excluded IMPLICITLY (NULL cluster keys drop out of
    # the equi-join), and a NaN vector's all-NaN distance list made the
    # argmin cid engine-dependent.
    corpus = corpus.filter(vec_is_valid(F.col(vec_col)))
    queries = queries.filter(vec_is_valid(F.col(vec_col)))
    cents = centroids if centroids is not None else kmeans_fit(
        corpus, k=n_centroids, max_iter=coarse_iters, vec_col=vec_col,
        id_col=id_col, tol=0.0, quantize=coarse_quantize,
    )
    if not cents:
        return _no_neighbors(corpus, id_col)

    # assignment and probe lists are one array_sort over a single
    # nested-array centroid literal (_nearest): the plan stays O(1)
    # nodes however many cells the index has, and both remain map-only
    # projections. cast + norm hoisted below the cell join (see
    # _prenorm_sim) — cell members can be numerous at scale and paid
    # per PAIR before
    assigned = _fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        _dvec(F.col(vec_col)).alias("neighbor_vec"),
        _argmin(F.col(vec_col), cents).alias("cluster"),
    ).withColumn("neighbor_norm", _norm(F.col("neighbor_vec")))

    # queries probe their n_probe nearest clusters
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        _dvec(F.col(vec_col)).alias("query_vec"),
        F.explode(
            F.slice(_nearest(F.col(vec_col), cents), 1, n_probe)
        ).alias("p"),
    ).select(
        "query_id", "query_vec", F.col("p.cid").alias("cluster")
    ).withColumn("query_norm", _norm(F.col("query_vec")))

    # probe side broadcast, corpus side streamed — the cluster key has
    # only n_centroids distinct values, so any shuffled/reversed join
    # either funnels hot cells or produces every pair from the query
    # side's few partitions (see knn_ivfpq's measured 199 s -> 11 s)
    cand = (
        assigned.join(F.broadcast(probed), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cos6().alias("cosine_sim"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cosine_sim").alias("cosine_sim"))
    )
    return _topk(cand, k)


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    num_tables: int = 8,
    num_bits: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (approximate, LSH-bucketed).

    The dedup flavor of similarity search: emit (id_a, id_b, cosine)
    for pairs above a high threshold. Candidates come from sign-LSH
    buckets (near-identical vectors agree on almost every hyperplane
    sign, so recall at 0.95+ is high even with few tables); exact
    cosine verifies. Never an all-pairs product.
    """
    banded = _bucketize(corpus, "x", dim, num_tables, num_bits, vec_col, id_col)
    # cast + norm hoisted below the bucket self-join (see _prenorm_sim)
    banded = banded.withColumn("x_vec", _dvec(F.col("x_vec"))).withColumn(
        "x_norm", _norm(F.col("x_vec"))
    )
    a = banded.select(
        F.col("x_id").alias("id_a"), F.col("x_vec").alias("va"),
        F.col("x_norm").alias("na"), "tbl", "bucket",
    )
    b = banded.select(
        F.col("x_id").alias("id_b"), F.col("x_vec").alias("vb"),
        F.col("x_norm").alias("nb"), "tbl", "bucket",
    )
    return (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _prenorm_sim(F.col("va"), F.col("vb"),
                             F.col("na"), F.col("nb")),
                6,
            ).alias("cosine_sim"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine_sim").alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def norm_stats_by_label(
    embeddings: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label embedding diagnostics: count, mean/min/max L2 norm.

    Invalid vectors are excluded at entry (vec_is_valid): the stats
    describe the USABLE embedding space, and one NaN/Inf component
    would otherwise poison its label's entire norm row. (Round 6
    semantics change: a NULL embedding used to be counted in
    n_vectors with a NULL norm; it no longer appears at all.)
    """
    embeddings = embeddings.filter(vec_is_valid(F.col(vec_col)))
    with_norm = embeddings.select(
        F.col(label_col), _norm(_dvec(F.col(vec_col))).alias("l2")
    )
    return (
        with_norm.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.avg("l2").cast("float").alias("avg_norm"),
            # float32 casts absorb last-ulp fold-order differences vs
            # SQL oracles computing the same norm with SIMD sums.
            F.min("l2").cast("float").alias("min_norm"),
            F.max("l2").cast("float").alias("max_norm"),
        )
        .orderBy(label_col)
    )


def embedding_dim_stats(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension mean/std/min/max over an embedding column.

    The feature-prep profile a standardization step needs. posexplode
    fans each vector into (dim, value) rows; the aggregate keys on dim
    — a FIXED tiny key space, so map-side partial aggregation reduces
    the shuffle to (#partitions × dim) rows no matter the corpus size
    (the few hot keys are exactly what partial agg exists for).
    Dims are 1-based to match SQL generate_subscripts. Invalid
    vectors are excluded at entry (vec_is_valid) — one NaN component
    would poison its dimension's mean/std for the whole corpus.
    """
    embeddings = embeddings.filter(vec_is_valid(F.col(vec_col)))
    ex = embeddings.select(F.posexplode(F.col(vec_col)).alias("dim0", "v"))
    return (
        ex.groupBy((F.col("dim0") + 1).alias("dim"))
        .agg(
            F.avg("v").cast("float").alias("mean"),
            F.stddev_samp("v").cast("float").alias("std"),
            F.min("v").cast("float").alias("vmin"),
            F.max("v").cast("float").alias("vmax"),
        )
        .orderBy("dim")
    )


def standardize_embeddings(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Z-score each embedding dimension: (v − mean_d) / std_d.

    The per-dimension stats collapse to ONE row of two aligned arrays
    (means, stds) — broadcast back as a 1-row cross join, then two
    zip_with passes over each vector. The corpus is scanned twice
    (stats + transform) and never shuffled; the transform itself is
    map-only. Zero-variance dimensions pass through unscaled (std→1).
    Invalid vectors are dropped at entry (vec_is_valid): z-scoring a
    NaN/Inf vector yields garbage rows AND would poison the per-dim
    stats every valid row is scaled by.
    """
    embeddings = embeddings.filter(vec_is_valid(F.col(vec_col)))
    ex = embeddings.select(F.posexplode(F.col(vec_col)).alias("dim", "v"))
    per_dim = ex.groupBy("dim").agg(
        F.avg("v").alias("m"),
        F.coalesce(F.nullif(F.stddev_samp("v"), F.lit(0.0)), F.lit(1.0)).alias("s"),
    )
    stats = per_dim.agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "m", "s"))
        ).alias("_dms")
    ).select(
        F.transform("_dms", lambda x: x["m"]).alias("_means"),
        F.transform("_dms", lambda x: x["s"]).alias("_stds"),
    )
    centered = F.zip_with(
        F.col(vec_col), F.col("_means"), lambda v, m: v - m
    )
    return (
        embeddings.crossJoin(F.broadcast(stats))
        .withColumn(
            vec_col,
            F.zip_with(centered, F.col("_stds"), lambda x, s: x / s),
        )
        .drop("_means", "_stds")
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tol: float = 1e-6,
    quantize: int | None = None,
) -> list[list[float]]:
    """Lloyd's k-means on a distributed embedding column.

    The iterative-algorithm pattern on Spark: the MODEL (k dim-wide
    centroids) lives on the driver and is baked into each iteration's
    plan as literals; the DATA only ever flows through one
    assign-and-partial-aggregate pass per iteration — per-partition
    partial sums mean the shuffle carries k×dim scalar sum rows per
    partition, never vectors. Initialization is the k lowest-id vectors (deterministic,
    resumable — same stand-in knn_ivf uses); convergence is max
    centroid movement < tol.

    Returns the centroid list (the model artifact — bounded, like any
    broadcastable dimension table).

    ``quantize`` rounds every updated centroid coordinate to that many
    decimals each iteration — half-away-from-zero via the explicit
    shared rule ``quantize_half_away`` (NOT Python's half-to-even
    round(): decimal ties like 0.0078125 at 6 digits are exactly
    representable and the two modes disagree there). The per-cluster
    mean is a float sum whose fold order differs across partitionings
    and engines (last-ulp jitter); quantizing well above ulp but well
    below data scale makes the whole fit bit-reproducible — and lets a
    SQL oracle replay the unrolled Lloyd iterations exactly (see
    ``_kmeans_cte_chain`` / ``_quantize_sql`` in ``__spark_entry__.py``,
    the same op-for-op rule on the DuckDB side). With ``tol=0.0`` the
    early-stop never fires, so the iteration count is a fixed,
    replayable constant. Cost of the knob, measured (SCALE.md
    `kmeans_100k` vs `_noq`, 100k x dim 64): +0.9% — driver-side
    rounding of k x dim floats per iteration is free at any corpus
    size, so the oracle-replayable fit IS the production fit.
    """
    data = _pinned_vectors(embeddings, vec_col, id_col)
    return _kmeans_fit_pinned(
        data, k=k, max_iter=max_iter, vec_col=vec_col, id_col=id_col,
        tol=tol, quantize=quantize,
    )


def _pinned_vectors(
    embeddings: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """The valid (id, vec) projection, pinned once (lazy localCheckpoint)
    — the shared corpus frame behind fit + assign + pairing stages, so
    a multi-stage consumer (kmeans_fit, semantic_dedup) scans the
    source exactly once instead of once per stage.

    Invalid vectors are excluded AT ENTRY — the repo-wide vector-op
    convention (vec_is_valid, COVERAGE.md). Before round 6 a NULL
    embedding row was silently COUNTED in its cluster's mean
    denominator while contributing nothing to the sums (sum skips
    NULL, count(*) doesn't), diluting that centroid toward zero — a
    real defect the NULLs-corpus sweep exposed; a NaN/Inf component
    is worse still (one poisoned vector turns its whole centroid NaN).

    Storage/fault-tolerance tradeoff (r11 ADVICE): localCheckpoint
    pins at MEMORY_AND_DISK on executor-local storage and is NOT
    fault-tolerant — an executor loss aborts the job instead of
    recomputing. For a fit whose corpus outgrows cluster storage,
    drop the pin and re-scan per pass (the pre-r11 shape): the
    recurrence is identical either way; the pin is a pure job-count/
    scan-count optimization sized for corpora that fit the cluster
    (the common case for embedding training sets).
    """
    return embeddings.filter(vec_is_valid(F.col(vec_col))).select(
        F.col(id_col), F.col(vec_col)
    ).localCheckpoint(eager=False)


def _kmeans_fit_pinned(
    data: DataFrame,
    k: int,
    max_iter: int,
    vec_col: str,
    id_col: str,
    tol: float,
    quantize: int | None,
) -> list[list[float]]:
    """Lloyd iterations over an already-pinned (id, vec) frame — the
    body of :func:`kmeans_fit` (r11: init + every iteration scans the
    pinned blocks, one source scan per fit instead of one per pass;
    same expressions, row set and partition layout, so every centroid
    is bit-identical). Split out (r12) so multi-stage consumers
    (semantic_dedup, q_kmeans_clusters) share ONE pin across fit and
    assign instead of re-scanning the source per stage."""
    init = (
        data.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    cents = [[float(x) for x in r[vec_col]] for r in init]
    if not cents:  # empty corpus: no centroids, no iterations
        return []

    dim = len(cents[0])
    for _ in range(max_iter):
        assigned = data.select(
            _argmin(F.col(vec_col), cents).alias("cluster"),
            _dvec(F.col(vec_col)).alias("v"),
        )
        # mean vector per cluster via posexplode to (cluster, dim)
        # keys: the partial agg still reduces each partition to
        # k×dim sum rows before the shuffle (never vectors, never
        # O(cluster size) agg state), and the plan is O(1) expressions
        # regardless of dim — the previous one-sum-aggregate-PER-
        # DIMENSION form re-analyzed and re-codegen'd a dim-wide
        # aggregate every iteration, which dominated bench-scale runs
        # (measured 4.6 s → 2.8 s for the 4-iteration sf0.1 fit; bit-
        # identical centroids, since the per-(cluster,dim) partial-sum
        # fold order is the same row order either way and the quantize
        # grid absorbs merge-order jitter exactly as before).
        new_rows = (
            assigned.select("cluster", F.posexplode("v").alias("d", "x"))
            .groupBy("cluster", "d")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        sums: dict[tuple[int, int], float] = {}
        ns: dict[int, int] = {}
        for row in new_rows:
            sums[(row["cluster"], row["d"])] = row["s"]
            ns[row["cluster"]] = row["n"]
        new_cents = list(cents)
        moved = 0.0
        for c_idx, n in ns.items():
            c = [sums[(c_idx, j)] / n for j in range(dim)]
            if quantize is not None:
                c = [quantize_half_away(x, quantize) for x in c]
            moved = max(
                moved,
                max(abs(a - b) for a, b in zip(c, cents[c_idx])),
            )
            new_cents[c_idx] = c
        cents = new_cents
        if moved < tol:
            break
    return cents


def kmeans_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid — pure projection.

    Invalid vectors (NULL, or any NaN/Inf/NULL component) have no
    nearest centroid and are excluded (vec_is_valid, COVERAGE.md) —
    pre-round-6 they were assigned an arbitrary engine-dependent
    cluster via NULL/NaN-distance ordering.
    """
    embeddings = embeddings.filter(vec_is_valid(F.col(vec_col)))
    if not centroids:  # empty model (fit on an empty corpus)
        return embeddings.select(
            F.col(id_col), F.lit(0).cast("int").alias("cluster")
        ).filter(F.lit(False))
    return embeddings.select(
        F.col(id_col), _argmin(F.col(vec_col), centroids).alias("cluster")
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    threshold: float = 0.95,
    max_iter: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tol: float = 1e-6,
    quantize: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column.

    The modern pre-training pass (Abbas et al. 2023): cluster the
    corpus with k-means, then — ONLY within each cluster — drop every
    item that has a cosine-similar neighbor (≥ threshold) with a lower
    id. The clustering is what makes 100 TB tractable: candidate pairs
    are confined to a cluster, so the quadratic term is (n/k)² per
    cluster instead of n² global, and k is chosen to keep clusters
    machine-sized. Returns surviving (id, cluster) rows.

    Plan shape (r12): ONE pinned scan of the corpus feeds everything —
    the Lloyd iterations (see kmeans_fit), then one pinned projection
    computing (id, cluster, float64 vec, norm) in a single map pass,
    from which the assignment output, both self-join sides, and the
    final anti-join probe all read. The pre-r12 form re-scanned the
    source for assign, joined assigned back to the source BY ID just
    to re-fetch the vectors (a full node-keyed shuffle of vector
    payloads the projection already had — guide §2.4), and evaluated
    the k-centroid argmin three times; all of that is gone. Rows,
    values, and hashes are unchanged: ids are unique (vec_id — the
    operator contract), so "assigned ⋈ source by id" was exactly the
    identity re-attachment of each row's own vector. The dedup itself
    is one self-join keyed on cluster id whose two sides are now the
    same pinned subtree (one exchange, reused). Skewed (over-popular)
    clusters are the known failure mode at scale: raise k, or let AQE
    skew-split the hot cluster's join.
    """
    data = _pinned_vectors(embeddings, vec_col, id_col)
    cents = _kmeans_fit_pinned(
        data, k=k, max_iter=max_iter, vec_col=vec_col, id_col=id_col,
        tol=tol, quantize=quantize,
    )
    if not cents:  # empty corpus: no assignments, no pairs
        return data.select(
            F.col(id_col), F.lit(0).cast("int").alias("cluster")
        ).filter(F.lit(False))
    # cluster + cast + norm in ONE map pass over the pinned blocks,
    # pinned again so the self-join sides and the anti-join probe reuse
    # the k-centroid argmin instead of recomputing it per consumer
    with_vec = data.select(
        F.col(id_col),
        _argmin(F.col(vec_col), cents).alias("cluster"),
        _dvec(F.col(vec_col)).alias("_v"),
    ).withColumn("_n", _norm(F.col("_v"))).localCheckpoint(eager=False)
    assigned = with_vec.select(F.col(id_col), F.col("cluster"))
    a = with_vec.select(
        F.col("cluster"),
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = with_vec.select(
        F.col("cluster"),
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    dupped = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "_cos",
            _prenorm_sim(F.col("_va"), F.col("_vb"),
                         F.col("_na"), F.col("_nb")),
        )
        .filter(F.col("_cos") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(dupped, id_col, "left_anti")


def label_centroid_similarity(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid vectors + pairwise centroid cosines.

    Class-separation diagnostic for an embedding space: average vector
    per label (one posexplode + (label, dim) partial agg — the shuffle
    carries per-dim partial sums over a labels×dim key space, never
    vectors), centroids rebuilt as arrays, then the labels×labels
    cosine matrix — quadratic only in the LABEL count, which is a
    model-card-sized number. High off-diagonal cosine = confusable
    classes; the retrieval/dedup thresholds above depend on knowing it.

    Output: one row per unordered label pair (a < b) with the cosine
    of their centroids (float64 math, ROUND 6 + float32 at the end).
    Invalid vectors are excluded at entry (vec_is_valid) — one NaN
    component would turn its label's centroid NaN.
    """
    embeddings = embeddings.filter(vec_is_valid(F.col(vec_col)))
    dims = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    )
    cent = (
        dims.groupBy("label", "dim")
        .agg(F.avg(F.col("val").cast("double")).alias("mean"))
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "mean"))
            ).alias("_dm")
        )
        .select(
            "label",
            F.transform(F.col("_dm"), lambda x: x["mean"]).alias("centroid"),
        )
    )
    a = cent.select(
        F.col("label").alias("label_a"), F.col("centroid").alias("_ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("centroid").alias("_cb")
    )
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(cosine(F.col("_ca"), F.col("_cb")), 6)
            .cast("float")
            .alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


# -- random projection (Johnson–Lindenstrauss) ------------------------------

def _rp_signs(seed: int, out_dim: int, in_dim: int) -> list[list[float]]:
    """Deterministic ±1/√out_dim sign matrix (Achlioptas' database-
    friendly JL variant: signs instead of Gaussians preserve pairwise
    distances in expectation with the same O(log n / ε²) target
    dimension, and make the projection exact integer-pattern math both
    engines replay). Signs come from md5 of ``rp:{seed}:{j}:{i}`` —
    the repo's portable-hash idiom. A cheaper ``_hyperplane``-style
    zig-zag hash was tried first and REJECTED by measurement: its
    linear (j, i) strides make matrix rows nearly parallel (Gram
    off-diagonal 3.75 vs diagonal 4.0 at 16×64), so projected-cosine
    fidelity stopped improving with out_dim (pair correlation stuck at
    0.23 from out_dim 16→48; md5 signs give 0.45→0.59). The md5 cost
    is out_dim×in_dim driver-side hashes at PLAN BUILD time — the
    matrix ships as a literal; no per-row hashing anywhere."""
    import hashlib
    import math

    scale = 1.0 / math.sqrt(out_dim)
    rows = []
    for j in range(out_dim):
        row = []
        for i in range(in_dim):
            h = int(
                hashlib.md5(f"rp:{seed}:{j}:{i}".encode()).hexdigest()[:2],
                16,
            )
            row.append(scale if h & 1 else -scale)
        rows.append(row)
    return rows


def random_project(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    vec_col: str = "embedding",
    out_col: str = "proj",
    seed: int = 42,
    round_digits: int = 9,
) -> DataFrame:
    """Attach a JL random projection of ``vec_col`` (float64 array of
    ``out_dim`` components).

    Map-only, zero shuffles: the whole sign matrix ships as ONE nested
    array literal and the per-output-dimension dot products run inside
    a single ``transform`` — O(1) plan nodes regardless of ``out_dim``
    (the ``_nearest`` trick). Components are quantized to
    ``round_digits`` BEFORE anything downstream consumes them, so an
    engine fold-order ulp can never flip a downstream comparison (the
    same contract as LSH bucket signs). Quantization is the explicit
    half-away op sequence (``_quantize_col``), NOT engine ``round`` —
    Spark rounds the shortest decimal repr while DuckDB rounds the
    binary double, and they disagree at decimal ties (round-8 fuzz
    find).

    Invalid vectors (NULL/NaN/Inf components) are excluded at entry
    per the repo-wide vector-operator convention (``vec_is_valid``).

    At 100 TB this is the cheap half of every dense-retrieval scale
    story: a 64→16 projection cuts the per-pair dot cost of any
    downstream candidate stage 4× while keeping neighbor ranks
    approximately intact; it composes with LSH/IVF rather than
    replacing them.
    """
    mat = arr_lit(_rp_signs(seed, out_dim, in_dim))
    v = _dvec(F.col(vec_col))
    proj = F.transform(
        mat, lambda row: _quantize_col(_dot(v, row), round_digits)
    )
    return df.filter(vec_is_valid(F.col(vec_col))).withColumn(out_col, proj)


def knn_rp(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    out_dim: int = 32,
    n_candidates: int = 50,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k cosine neighbors via random-projection
    screening + exact re-rank.

    Candidates = top ``n_candidates`` per query by cosine in the
    ``out_dim``-dimensional projected space (dot cost ``out_dim``
    instead of ``dim`` per pair); the exact ``dim``-wide cosine runs
    ONLY on the ≤ queries × n_candidates survivors. Both similarity
    passes round before ranking and tie-break on the neighbor id, so
    the result set is deterministic and the DuckDB oracle replays it
    exactly. Output schema matches ``knn_bruteforce``.

    Recall honesty (same framing as the LSH/IVF test): on genuinely
    near neighbors (planted cos ≈ 0.999) recall is ~1.0 at any sane
    out_dim — a JL projection can't separate near-identical vectors.
    On ISOTROPIC noise (the driver's synthetic embeddings, where the
    "true" top-3 sit barely above the bulk) measured recall@3 is
    ~0.73 at (out_dim=32, C=50) and ~0.80 at C=100 — the JL noise
    floor 1/√out_dim vs a ~0.2 cosine margin, not an implementation
    artifact. Defaults are chosen for that measured knee.
    """
    def _side(df, prefix):
        # cast, projection, and BOTH norms (full-dim + projected)
        # hoisted to one map-side projection per row — the Q×N screen
        # pays only the out_dim dot per pair (see _prenorm_sim)
        return (
            random_project(df, dim, out_dim, vec_col=vec_col, seed=seed)
            .select(
                F.col(id_col).alias(f"{prefix}_id"),
                _dvec(F.col(vec_col)).alias(f"{prefix}_vec"),
                F.col("proj").alias(f"{prefix}_proj"),
            )
            .withColumn(f"{prefix}_norm", _norm(F.col(f"{prefix}_vec")))
            .withColumn(f"{prefix}_pnorm", _norm(F.col(f"{prefix}_proj")))
        )

    q = _side(queries, "query")
    c = _side(_fan_out(corpus), "neighbor")
    # the screen scores in the projected space over thin rows; the
    # exact re-rank reads the full-dim columns of the same two sides
    scored = (
        c.select("neighbor_id", "neighbor_proj", "neighbor_pnorm")
        .join(F.broadcast(
            q.select("query_id", "query_proj", "query_pnorm")
        ))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            _cos6("proj", "pnorm").alias("proj_sim"),
        )
    )
    return _screen_rerank(
        scored, F.col("proj_sim").desc(), n_candidates,
        c.select("neighbor_id", "neighbor_vec", "neighbor_norm"),
        q.select("query_id", "query_vec", "query_norm"),
        k,
    )


# -- product quantization (the PQ half of IVF-PQ) ---------------------------

def pq_train(
    corpus: DataFrame,
    dim: int,
    n_subspaces: int = 8,
    n_codes: int = 16,
    max_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quantize: int | None = 6,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al. 2011): split
    each vector into ``n_subspaces`` contiguous blocks and run the
    bit-replayable k-means (the ``kmeans_fit`` recurrence, tol=0,
    quantized updates) independently per block — FUSED so all blocks
    train from one scan per iteration (r11; the sequential
    one-fit-per-block form read the corpus n_subspaces × (1+max_iter)
    times and produced bit-identical books, A/B-verified). Returns
    ``[subspace][code][component]`` — n_subspaces × n_codes centroids
    of dim/n_subspaces components, a driver-side model artifact like
    any k-means fit.

    Validity is decided on the FULL vector (one NaN component excludes
    the row from every subspace's fit, not just its own) so train,
    encode, and search all see the same row set.
    """
    data = _pinned_vectors(corpus, vec_col, id_col)
    return _pq_train_pinned(
        data, dim, n_subspaces=n_subspaces, n_codes=n_codes,
        max_iter=max_iter, vec_col=vec_col, id_col=id_col,
        quantize=quantize,
    )


def _pq_train_pinned(
    data: DataFrame,
    dim: int,
    n_subspaces: int,
    n_codes: int,
    max_iter: int,
    vec_col: str,
    id_col: str,
    quantize: int | None,
) -> list[list[list[float]]]:
    """PQ training over an already-pinned valid (id, vec) frame — the
    body of :func:`pq_train`, split out (r12) so ivfpq_train can feed
    it the residual pin DIRECTLY instead of pq_train re-filtering and
    RE-MATERIALIZING a second full copy of the residual rows (a pin of
    a pin). Same rows in the same partition-local order either way, so
    every (s, cluster, d) partial-sum fold — and every codebook — is
    bit-identical."""
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces}")
    sub = dim // n_subspaces
    # r11 FUSED form: the per-subspace fits are independent k-means
    # over slices of the SAME rows with the SAME fixed iteration count
    # (tol=0), so their per-iteration assign + partial-agg passes fuse
    # into ONE job covering all subspaces — one init collect + max_iter
    # scan-aggregate jobs total, where the sequential form paid
    # n_subspaces × (1 + max_iter) jobs, each a full corpus scan (8×
    # the training reads at any scale). Values are bit-identical: each
    # subspace's argmin is the same array_sort(dist, cid) construction
    # kmeans_fit runs on its slice, and the (s, cluster, d) partial
    # sums fold in the same partition row order as the per-subspace
    # (cluster, d) sums did.
    init = data.orderBy(id_col).limit(n_codes).select(vec_col).collect()
    if not init:
        return [[] for _ in range(n_subspaces)]
    books = [
        [
            [float(x) for x in r[vec_col][s * sub : (s + 1) * sub]]
            for r in init
        ]
        for s in range(n_subspaces)
    ]
    for _ in range(max_iter):
        cluster_ids = F.array(*[
            _argmin(F.slice(F.col(vec_col), s * sub + 1, sub), books[s])
            for s in range(n_subspaces)
        ])
        assigned = data.select(
            cluster_ids.alias("cl"), _dvec(F.col(vec_col)).alias("v")
        )
        rows = (
            assigned.select("cl", F.posexplode("v").alias("df", "x"))
            .select(
                (F.col("df") / sub).cast("int").alias("s"),
                (F.col("df") % sub).alias("d"),
                F.element_at(
                    F.col("cl"), (F.col("df") / sub).cast("int") + 1
                ).alias("cluster"),
                "x",
            )
            .groupBy("s", "cluster", "d")
            .agg(F.sum("x").alias("sm"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        sums: dict[tuple[int, int, int], float] = {}
        ns: dict[tuple[int, int], int] = {}
        for row in rows:
            sums[(row["s"], row["cluster"], row["d"])] = row["sm"]
            ns[(row["s"], row["cluster"])] = row["n"]
        for (s, c_idx), n in ns.items():
            c = [sums[(s, c_idx, j)] / n for j in range(sub)]
            if quantize is not None:
                c = [quantize_half_away(x, quantize) for x in c]
            books[s][c_idx] = c
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    dim: int,
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Attach ``code_col``: per-subspace nearest-centroid ids (int
    array, length n_subspaces). Map-only — every subspace's argmin is
    one ``array_sort`` over (distance, cid) structs against a nested
    codebook literal (the ``_nearest`` trick), zero
    shuffles, 64→8 bytes per vector at the default geometry. Ties
    break on cid, distances are the same left-to-right float64 folds
    the SQL twin runs, so codes are engine-deterministic."""
    sub = dim // len(codebooks)
    cols = [
        _argmin(F.slice(F.col(vec_col), s * sub + 1, sub), book)
        for s, book in enumerate(codebooks)
    ]
    return df.filter(vec_is_valid(F.col(vec_col))).withColumn(
        code_col, F.array(*cols)
    )


def _pq_lut(vec, codebooks: list[list[list[float]]], sub: int) -> F.Column:
    """array<array<double>>: lut[s][code] = squared distance from the
    vector's s-th slice to that subspace's code centroid — computed
    ONCE per query row (n_subspaces × n_codes × sub folds); the
    asymmetric-distance (ADC) score per candidate pair is then just
    n_subspaces array lookups."""
    def _dist_to(slice_):
        # closure, NOT a defaulted second lambda param: pyspark treats
        # a 2-arg transform lambda as (element, index) and would bind
        # the slice to the INT index
        return lambda c: F.aggregate(
            F.zip_with(slice_, c, lambda a, b: a - b),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )

    luts = []
    for s, book in enumerate(codebooks):
        slice_ = _dvec(F.slice(vec, s * sub + 1, sub))
        luts.append(
            F.transform(
                arr_lit([[float(x) for x in c] for c in book]),
                _dist_to(slice_),
            )
        )
    return F.array(*luts)


def _adc(lut, codes) -> F.Column:
    """Asymmetric-distance score of one (query LUT, PQ code word) pair:
    ``sum_s lut[s][codes[s]]``, folded left-to-right in float64 and
    rounded to 6 dp before the screen ranks on it."""
    return F.round(
        F.aggregate(
            F.zip_with(lut, codes, lambda l, cd: F.element_at(l, cd + 1)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_candidates: int = 50,
    max_iter: int = 2,
    quantize: int | None = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via product quantization +
    exact re-rank — the fourth ANN path (brute / sign-LSH / IVF / RP).

    ``codebooks``: pass a ``pq_train`` model to skip training — the
    production shape (train once, on a sample if the corpus is huge;
    amortize over every query batch). Omitted, the corpus is trained
    on inline, which costs n_subspaces × max_iter extra corpus scans
    per CALL (the knn_pq_300k/pq_train_300k probes separate the two).

    The scan-side scale story is compression: the corpus is encoded
    once to ``n_subspaces`` small ints (64 floats → 8 bytes at the
    default geometry — the structure that lets billion-vector indexes
    fit in memory), and the screen scores each (query, code-word) pair
    with ``n_subspaces`` LUT lookups instead of a ``dim``-wide dot.
    The screen ranks by ADC distance (ascending, id tie-break) and
    emits THIN rows; survivors' vectors are fetched back by id and
    re-ranked by exact cosine (the knn_rp pattern). Codebooks,
    encodings, LUTs, and both rankings are engine-deterministic
    (quantized k-means, fixed folds, round-before-rank), so the DuckDB
    oracle replays the entire pipeline.
    """
    books = codebooks if codebooks is not None else pq_train(
        corpus, dim, n_subspaces, n_codes, max_iter,
        vec_col=vec_col, id_col=id_col, quantize=quantize,
    )
    if not books or not books[0]:
        return _no_neighbors(corpus, id_col)
    sub = dim // n_subspaces
    c = pq_encode(_fan_out(corpus), books, dim, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), "pq_codes"
    )
    q = queries.filter(vec_is_valid(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"),
        _pq_lut(F.col(vec_col), books, sub).alias("lut"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            _adc(F.col("lut"), F.col("pq_codes")).alias("approx_d"),
        )
    )
    return _screen_rerank(
        scored, F.col("approx_d"), n_candidates,
        _dnormed(corpus, id_col, vec_col, "neighbor"),
        _dnormed(queries, id_col, vec_col, "query"),
        k,
    )


def _residual_frame(
    corpus_f: DataFrame,
    cents: list[list[float]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """(id, cluster, vec_col=residual) — every valid vector minus its
    nearest coarse centroid. Map-only (argmin over the centroid
    literal + one zip_with); float64 subtraction is exact IEEE, so
    residuals — and everything trained or encoded on them — replay
    bit-for-bit in the SQL twins."""
    cent_lit = arr_lit([[float(x) for x in c] for c in cents])
    return corpus_f.select(
        F.col(id_col),
        _argmin(F.col(vec_col), cents).alias("cluster"),
        _dvec(F.col(vec_col)).alias("_v"),
    ).select(
        id_col,
        "cluster",
        F.zip_with(
            F.col("_v"),
            F.element_at(cent_lit, F.col("cluster") + 1),
            lambda a, b: a - b,
        ).alias(vec_col),
    )


def _ivfpq_train_with_resid(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 16,
    coarse_iters: int = 2,
    n_subspaces: int = 8,
    n_codes: int = 16,
    max_iter: int = 2,
    quantize: int | None = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[list[float]], list[list[list[float]]], DataFrame | None]:
    """ivfpq_train body, additionally returning the pinned residual
    frame (id, cluster, vec_col=residual) the PQ fit already
    materialized — so an inline-training consumer (knn_ivfpq) encodes
    from it instead of re-running the coarse argmin + subtraction over
    the whole corpus a second time (r12, guide §6: the residual pass
    is a full corpus scan at any scale). None when there are no
    centroids."""
    data = _pinned_vectors(corpus, vec_col, id_col)
    cents = _kmeans_fit_pinned(
        data, k=n_centroids, max_iter=coarse_iters, vec_col=vec_col,
        id_col=id_col, tol=0.0, quantize=quantize,
    )
    if not cents:
        return [], [], None
    resid = _residual_frame(data, cents, vec_col, id_col).localCheckpoint(
        eager=False
    )
    # residuals of valid (finite) vectors are finite — subtraction of
    # two finite doubles can only leave the finite range via overflow
    # at ~1e308 magnitudes, far beyond any embedding — so skipping the
    # re-filter pq_train would apply is value-identical here
    books = _pq_train_pinned(
        resid.select(F.col(id_col), F.col(vec_col)), dim,
        n_subspaces=n_subspaces, n_codes=n_codes, max_iter=max_iter,
        vec_col=vec_col, id_col=id_col, quantize=quantize,
    )
    return cents, books, resid


def ivfpq_train(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 16,
    coarse_iters: int = 2,
    n_subspaces: int = 8,
    n_codes: int = 16,
    max_iter: int = 2,
    quantize: int | None = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the IVF-PQ model pair: (coarse centroids, RESIDUAL
    codebooks). The coarse quantizer is the bit-replayable k-means;
    the PQ codebooks are then fit on ``v − c(cell)`` residuals (Jégou
    composition — the codebooks only make sense against the centroids
    they were trained with, so train and cache them TOGETHER).
    The residual frame is localCheckpoint'd so the 8 per-subspace fits
    don't re-run the assignment argmin per training scan. r12: the
    coarse fit, the residual build, and the PQ fit all read ONE pinned
    (id, vec) scan — the old form pinned the corpus inside kmeans_fit,
    re-scanned the parquet to build residuals, then pq_train
    re-filtered and re-materialized a SECOND full copy of the pinned
    residuals; rows, fold order and codebooks are bit-identical."""
    cents, books, _ = _ivfpq_train_with_resid(
        corpus, dim, n_centroids=n_centroids, coarse_iters=coarse_iters,
        n_subspaces=n_subspaces, n_codes=n_codes, max_iter=max_iter,
        quantize=quantize, vec_col=vec_col, id_col=id_col,
    )
    return cents, books


def knn_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    n_candidates: int = 50,
    max_iter: int = 2,
    quantize: int | None = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
    centroids: list[list[float]] | None = None,
    coarse_iters: int = 2,
) -> DataFrame:
    """IVF-PQ: inverted-file cells prune WHICH vectors are scored, PQ
    codes shrink WHAT the scoring reads — composed exactly as the
    billion-scale ANN indexes compose them (Jégou et al. 2011):
    a TRAINED coarse quantizer (the bit-replayable ``kmeans_fit``,
    round 8 — pass a model via ``centroids`` to skip training) and
    product codes over RESIDUALS ``v − c(cell)`` rather than raw
    vectors (round 8 — residuals concentrate near zero with far less
    variance than the raw space, so the same code budget quantizes
    them much more finely; this is the standard composition, and the
    raw-vector variant of rounds ≤7 is gone).

    Per query: probe the ``n_probe`` nearest coarse cells; for EACH
    probed cell compute the query's residual against that cell's
    centroid and its ADC lookup table (the LUT is per (query, cell)
    now — n_probe LUTs per query, each n_subspaces × n_codes folds,
    still a map-side projection below the explode); ADC-score only
    that cell's members from their 8-byte codes; keep
    ``n_candidates``; exact re-rank on the true vectors. A (query,
    neighbor) pair can appear at most once — a neighbor lives in
    exactly one cell — so the probe join needs no dedup aggregate.
    ``codebooks``, when passed, must be RESIDUAL codebooks trained
    against the same ``centroids`` (the registry memoizes the pair
    together). Everything (cells, residuals, codebooks, codes, LUTs,
    both rankings) is engine-deterministic; the DuckDB oracle replays
    the full pipeline including the residual arithmetic.
    """
    corpus_f = corpus.filter(vec_is_valid(F.col(vec_col)))
    queries_f = queries.filter(vec_is_valid(F.col(vec_col)))
    trained_resid = None
    if centroids is None or codebooks is None:
        # r12 (guide §6): keep the training pass's pinned residual
        # frame — the encode below otherwise re-runs the coarse argmin
        # + subtraction over the WHOLE corpus a second time
        cents, books, trained_resid = _ivfpq_train_with_resid(
            corpus_f, dim, n_centroids=n_centroids,
            coarse_iters=coarse_iters, n_subspaces=n_subspaces,
            n_codes=n_codes, max_iter=max_iter, quantize=quantize,
            vec_col=vec_col, id_col=id_col,
        )
    else:
        cents, books = centroids, codebooks
    if not cents or not books or not books[0]:
        return _no_neighbors(corpus, id_col)
    sub = dim // n_subspaces
    cent_lit = arr_lit([[float(x) for x in c] for c in cents])
    # barrier the residual frame before encoding: interpreted HOFs have
    # no CSE and CollapseProject would inline the residual expression —
    # which embeds the n_centroids-wide coarse argmin — into every one
    # of the n_subspaces × n_codes encode distances (128× recompute per
    # row at the default geometry; A/B'd ~10% at bench scale, and the
    # ratio grows with n_centroids). Materializing residuals once is
    # also the production IVF-PQ shape (encode once, persist codes) —
    # and when training ran inline, that materialization already
    # exists: reuse it (identical frame — same expression over the
    # same pinned rows).
    resid = (
        trained_resid
        if trained_resid is not None
        else _residual_frame(corpus_f, cents, vec_col, id_col).localCheckpoint(
            eager=False
        )
    )
    c = pq_encode(
        _fan_out(resid), books, dim, vec_col=vec_col
    ).select(F.col(id_col).alias("neighbor_id"), "pq_codes", "cluster")
    # the per-(query, probed-cell) residual LUT lives in its OWN select
    # BELOW the explode (ExtractGenerator would otherwise recompute it
    # per generated row, and it must see the probed cell id anyway)
    q0 = queries_f.select(
        F.col(id_col).alias("query_id"),
        _dvec(F.col(vec_col)).alias("_qv"),
    )
    q = q0.select(
        "query_id",
        "_qv",
        F.explode(
            F.slice(_nearest(F.col("_qv"), cents), 1, n_probe)
        ).alias("p"),
    ).select(
        "query_id", "_qv", F.col("p.cid").alias("cluster")
    ).select(
        "query_id",
        "cluster",
        _pq_lut(
            F.zip_with(
                F.col("_qv"),
                F.element_at(cent_lit, F.col("cluster") + 1),
                lambda a, b: a - b,
            ),
            books,
            sub,
        ).alias("lut"),
    )
    # the QUERY side is the broadcast build side, the ENCODED CORPUS
    # the streamed side — never the reverse. Without the hint Spark
    # happily broadcasts the (small-looking) corpus codes and streams
    # the query rows, which all live in a handful of partitions (a
    # filtered id range), so every ADC pair is produced by ONE task:
    # measured 199 s for a 52M-pair screen at the 300k probe geometry
    # vs ~11 s with the hint. Same shape as knn_pq's broadcast(q).
    scored = (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            _adc(F.col("lut"), F.col("pq_codes")).alias("approx_d"),
        )
    )
    return _screen_rerank(
        scored, F.col("approx_d"), n_candidates,
        _dnormed(corpus, id_col, vec_col, "neighbor"),
        _dnormed(queries, id_col, vec_col, "query"),
        k,
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the simplest vector-compression path.
# ---------------------------------------------------------------------------

def sq_train(
    corpus: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> list[tuple[float, float]]:
    """Train per-dimension SQ8 bounds: ``[(min_d, max_d)] * dim``.

    Scalar quantization (the FAISS ``SQ8`` index flavor) maps each
    dimension independently onto 256 evenly spaced levels between its
    corpus-wide min and max — no iterative training, just one
    aggregation pass. Unlike the k-means-based PQ model, the model is
    EXACT to derive on any engine: min/max of doubles are selections,
    order-free by definition, so the DuckDB oracle re-derives the
    bounds without any quantized-update protocol.

    One job, ``2*dim`` partially-aggregated scalars collected — a
    model artifact the size of the vector itself, same driver-traffic
    class as a k-means centroid set. Validity is decided on the FULL
    vector (``vec_is_valid``) so train/encode/search see one row set.
    """
    valid = corpus.filter(vec_is_valid(F.col(vec_col)))
    v = _dvec(F.col(vec_col))
    aggs = []
    for d in range(dim):
        aggs.append(F.min(v[d]).alias(f"_mn{d}"))
        aggs.append(F.max(v[d]).alias(f"_mx{d}"))
    row = valid.agg(*aggs).first()
    if row is None or row[0] is None:
        return []
    return [(float(row[2 * d]), float(row[2 * d + 1])) for d in range(dim)]


def _sq_consts(
    bounds: list[tuple[float, float]],
) -> tuple[list[float], list[float], list[float]]:
    """(mins, inv_scales, steps) from trained bounds. A constant
    dimension (max == min) gets inv = step = 0.0: every value encodes
    to code 0 and reconstructs to the min — exact for that dimension.
    The divisions happen HERE, once, in float64; the SQL twin runs the
    identical IEEE divides on its identically-derived bounds."""
    mins = [mn for mn, _ in bounds]
    invs = [0.0 if mx == mn else 255.0 / (mx - mn) for mn, mx in bounds]
    steps = [0.0 if mx == mn else (mx - mn) / 255.0 for mn, mx in bounds]
    return mins, invs, steps


def sq_encode(
    df: DataFrame,
    bounds: list[tuple[float, float]],
    vec_col: str = "embedding",
    code_col: str = "sq_codes",
) -> DataFrame:
    """Attach ``code_col``: per-dimension uint8 level ids (int array,
    length dim) — ``clamp(floor((v_d - min_d) * inv_d + 0.5), 0, 255)``.

    Map-only, zero shuffles; 4 bytes -> 1 byte per component (the
    scan-payload compression that makes SQ8 the default "cheap" index
    in production vector stores). floor(x + 0.5) is the explicit
    half-away rounding both engines share (`quantize_half_away`
    contract); values outside the trained range (a query vector from a
    different distribution) clamp to the edge levels instead of
    wrapping.
    """
    mins, invs, _ = _sq_consts(bounds)
    v = _dvec(F.col(vec_col))
    centered = F.zip_with(v, arr_lit(mins), lambda x, m: x - m)
    leveled = F.zip_with(
        centered, arr_lit(invs), lambda x, s: F.floor(x * s + F.lit(0.5))
    )
    codes = F.transform(
        leveled,
        lambda x: F.least(F.greatest(x, F.lit(0)), F.lit(255)).cast("int"),
    )
    return df.filter(vec_is_valid(F.col(vec_col))).withColumn(
        code_col, codes
    )


def knn_sq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    n_candidates: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bounds: list[tuple[float, float]] | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via scalar quantization +
    exact re-rank — the family's cheapest compression path (beside
    brute / LSH / IVF / RP / PQ / IVF-PQ).

    ``bounds``: pass a ``sq_train`` model to skip the training pass
    (production shape — train once, reuse per query batch).

    The screen scores each (query, candidate) pair by squared L2
    distance between the query vector and the candidate's
    RECONSTRUCTION ``min_d + code_d * step_d`` — asymmetric distance,
    like PQ's ADC, so only the corpus side is lossy. Scale shape: the
    corpus scan reads 1-byte codes instead of 4-byte floats (4x less
    payload than raw, arithmetic unchanged — the honest local story,
    same as PQ: compression pays at scan/IO, not in local CPU); the
    screen emits THIN (query, neighbor, distance) rows into a
    WindowGroupLimit top-C; survivors' vectors come back by id for the
    exact cosine re-rank. Every stage folds left-to-right in float64,
    so the DuckDB oracle replays the pipeline bit-for-bit.
    """
    b = bounds if bounds is not None else sq_train(corpus, dim, vec_col)
    if not b:
        return _no_neighbors(corpus, id_col)
    mins, _, steps = _sq_consts(b)
    c = sq_encode(_fan_out(corpus), b, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), "sq_codes"
    )
    q = queries.filter(vec_is_valid(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"),
        _dvec(F.col(vec_col)).alias("_qv"),
    )
    # reconstruction: min_d + code_d * step_d, then the usual
    # sum-of-squared-diffs fold against the raw query vector
    scaled = F.zip_with(
        arr_lit(steps), F.col("sq_codes"), lambda s, cd: s * cd
    )
    recon = F.zip_with(arr_lit(mins), scaled, lambda m, x: m + x)
    approx_d = F.round(
        F.aggregate(
            F.zip_with(F.col("_qv"), recon, lambda a, bb: a - bb),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        ),
        6,
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", approx_d.alias("approx_d"))
    )
    return _screen_rerank(
        scored, F.col("approx_d"), n_candidates,
        _dnormed(corpus, id_col, vec_col, "neighbor"),
        _dnormed(queries, id_col, vec_col, "query"),
        k,
    )


# ---------------------------------------------------------------------------
# DBSCAN (round 8) — density-based clustering, the non-parametric
# complement to kmeans_fit (no k, finds arbitrary-shape clusters,
# labels noise explicitly).
# ---------------------------------------------------------------------------

def _dbscan_probe(df: DataFrame, offsets: list[tuple[int, int]],
                  cols: list[str]) -> DataFrame:
    """Explode ``df`` once per grid offset, shifting (cx, cy) — the
    candidate-generation side of every grid join below."""
    return df.withColumn(
        "_off", F.explode(F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in offsets
        ]))
    ).select(
        *cols,
        (F.col("cx") + F.col("_off.dx")).alias("cx"),
        (F.col("cy") + F.col("_off.dy")).alias("cy"),
    )


def dbscan_2d(
    points: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    max_iter: int = 50,
    max_cell_pts: int = 5000,
) -> DataFrame:
    """Exact 2-D DBSCAN (Ester et al. 1996): ``(id, role, cluster_id)``
    with role ∈ {core, border, noise}; noise rows carry NULL cluster.

    EXACT, not approximate, on a ``ε/√2`` grid (the Gan & Tao
    SIGMOD'15 cell width): any two points in the SAME cell are < ε
    apart by construction (cell diagonal ≤ ε, strict because the cell
    width is pinned one ulp BELOW ε/√2 via nextafter — which also
    retires the FP edge the ε-width grid had, since probe completeness
    now carries a ~√2 margin instead of an exact boundary: |Δx| ≤ ε ⇒
    cell delta ≤ floor(ε·inv)+1 = 2 needs only ε·inv < 2, and ε·inv ≈
    √2). The registered oracle pairs against a BRUTE-FORCE quadratic
    join, so the hash match proves recall (the edit_join pattern).

    The same-cell-implies-neighbor property buys three round-9 scale
    fixes over the ε-grid version (SCALE.md ``dbscan_200k`` row
    recorded an OOM at ~160 pts/cell and a component-pass death at
    1M pts / 20M core edges):

    - **no pair materialization** — the round-8 version
      localCheckpointed the full candidate pair stream (density² rows);
      every pass below streams candidates straight into an aggregate.
    - **dense cells are auto-core** — a cell holding ≥ min_pts points
      makes every resident core (cell-mates alone suffice), so the
      neighbor-COUNT pass generates candidates only for points in
      sparse cells, and even they get their own-cell contribution as
      a pre-aggregated count instead of pairs.
    - **cell collapse before the component pass** — all core points in
      one cell are pairwise ε-neighbors, hence one cluster fragment:
      each cell's cores collapse to a representative (the cell-minimum
      core id) and the component graph runs on distinct cross-cell
      (rep_a, rep_b) edges, generated once per unordered pair via the
      12 lexicographically-positive offsets of the 5×5 neighborhood.
      Component count, labels, and the min-id contract are unchanged;
      the graph shrinks from O(core pairs) to O(occupied cells).

    Residual density cost: cross-cell candidate generation between two
    adjacent cells is occupancy², streamed. ``max_cell_pts`` is the
    circuit breaker — one count-aggregate probe raises a clear error
    (with the cost model) instead of letting a degenerate geometry
    (all points in one ε-ball) run quadratically.

    Determinism: both engines compute the identical IEEE
    ``(dx² + dy²) ≤ ε²`` predicate on identical doubles, cluster ids
    are component-minimum core ids, and border points tie-break to
    the SMALLEST neighboring core cluster id (classical DBSCAN assigns
    border ties arbitrarily; pinning min makes runs replayable).
    """
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    import math

    from .llm import neardup_components

    # one ulp ABOVE √2/ε: effective cell width one ulp BELOW ε/√2, so
    # same-cell distance < ε holds strictly under FP rounding
    inv = math.nextafter(math.sqrt(2.0) / float(eps), math.inf)
    eps2 = float(eps) * float(eps)
    offs_all = [(dx, dy) for dx in range(-2, 3) for dy in range(-2, 3)
                if (dx, dy) != (0, 0)]
    offs_pos = [o for o in offs_all if o > (0, 0)]

    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).filter(
        F.col("x").isNotNull() & ~F.isnan("x")
        & F.col("y").isNotNull() & ~F.isnan("y")
    )
    cells = pts.select(
        "id", "x", "y",
        F.floor(F.col("x") * F.lit(inv)).alias("cx"),
        F.floor(F.col("y") * F.lit(inv)).alias("cy"),
    ).localCheckpoint(eager=False)
    cell_cnt = cells.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).alias("_cnt")
    ).localCheckpoint(eager=False)

    # circuit breaker: the cross-cell passes stream occupancy² rows per
    # adjacent cell pair — a degenerate geometry must fail loudly, not
    # spin quadratically (one 1-row aggregate, the only driver action)
    hottest = cell_cnt.agg(F.max("_cnt")).first()[0] or 0
    if hottest > max_cell_pts:
        raise ValueError(
            f"dbscan_2d: hottest ε/√2-cell holds {hottest} points "
            f"(> max_cell_pts={max_cell_pts}); cross-cell candidate "
            "generation is occupancy² per adjacent cell pair, so this "
            "geometry would stream ~"
            f"{hottest * hottest // 1_000_000}M rows per hot cell pair. "
            "Shrink eps, pre-aggregate coincident points, or raise "
            "max_cell_pts deliberately."
        )

    with_cnt = cells.join(cell_cnt, ["cx", "cy"])
    dense_pts = with_cnt.filter(F.col("_cnt") >= min_pts)
    sparse_pts = with_cnt.filter(F.col("_cnt") < min_pts)

    dist2 = (
        (F.col("xa") - F.col("x")) * (F.col("xa") - F.col("x"))
        + (F.col("ya") - F.col("y")) * (F.col("ya") - F.col("y"))
    )
    right = cells.select(F.col("id").alias("ib"), "x", "y", "cx", "cy")

    # neighbor counts, sparse-cell points only: own cell contributes
    # its full count (every cell-mate, self included, is < ε away);
    # only the 24 surrounding cells generate distance candidates
    sparse_probe = _dbscan_probe(
        sparse_pts.select(
            F.col("id").alias("ia"), F.col("x").alias("xa"),
            F.col("y").alias("ya"), "cx", "cy",
        ),
        offs_all, ["ia", "xa", "ya"],
    )
    cross_n = (
        sparse_probe.join(right, ["cx", "cy"])
        .filter(dist2 <= F.lit(eps2))
        .groupBy(F.col("ia").alias("id"))
        .agg(F.count(F.lit(1)).alias("_xn"))
    )
    sparse_core = (
        sparse_pts.join(cross_n, "id", "left")
        .filter(
            F.col("_cnt") + F.coalesce(F.col("_xn"), F.lit(0)) >= min_pts
        )
    )
    core_pts = (
        dense_pts.select("id", "x", "y", "cx", "cy")
        .unionByName(sparse_core.select("id", "x", "y", "cx", "cy"))
        .localCheckpoint(eager=False)
    )

    # cell collapse: representative = cell-minimum core id
    cell_rep = core_pts.groupBy("cx", "cy").agg(F.min("id").alias("rep"))
    core_rep = core_pts.join(cell_rep, ["cx", "cy"]).select(
        "id", "x", "y", "cx", "cy", "rep"
    ).localCheckpoint(eager=False)

    # cross-cell core-core edges on representatives, one generation per
    # unordered cell pair (positive offsets); same-cell cores need no
    # edge — they share the rep by construction
    core_probe = _dbscan_probe(
        core_rep.select(
            F.col("id").alias("ia"), F.col("x").alias("xa"),
            F.col("y").alias("ya"), F.col("rep").alias("rep_a"),
            "cx", "cy",
        ),
        offs_pos, ["ia", "xa", "ya", "rep_a"],
    )
    core_right = core_rep.select(
        F.col("id").alias("ib"), "x", "y",
        F.col("rep").alias("rep_b"), "cx", "cy",
    )
    rep_edges = (
        core_probe.join(core_right, ["cx", "cy"])
        .filter(dist2 <= F.lit(eps2))
        .select(F.col("rep_a").alias("id_a"), F.col("rep_b").alias("id_b"))
    )
    rep_selfs = cell_rep.select(
        F.col("rep").alias("id_a"), F.col("rep").alias("id_b")
    )
    # neardup_components dedups internally; self-edges keep isolated
    # representatives labelled
    comp = neardup_components(
        rep_edges.unionByName(rep_selfs), max_iter=max_iter
    )

    core_out = (
        core_rep.join(
            comp.select(F.col("id").alias("rep"), "component_id"), "rep"
        )
        .select(
            "id",
            F.lit("core").alias("role"),
            F.col("component_id").alias("cluster_id"),
        )
    )

    # border: non-core (necessarily sparse-cell) points adjacent to a
    # core. Own-cell cores are within ε by construction (cell_rep join
    # supplies them count-free); the 24 surrounding cells go through
    # the distance check against core points.
    noncore = sparse_pts.join(
        core_pts.select("id"), "id", "left_anti"
    ).localCheckpoint(eager=False)
    own_cell_rep = noncore.join(cell_rep, ["cx", "cy"]).select(
        F.col("id").alias("ia"), "rep"
    )
    nc_probe = _dbscan_probe(
        noncore.select(
            F.col("id").alias("ia"), F.col("x").alias("xa"),
            F.col("y").alias("ya"), "cx", "cy",
        ),
        offs_all, ["ia", "xa", "ya"],
    )
    cross_rep = (
        nc_probe.join(
            core_rep.select(F.col("id").alias("ib"), "x", "y", "rep",
                            "cx", "cy"),
            ["cx", "cy"],
        )
        .filter(dist2 <= F.lit(eps2))
        .select("ia", "rep")
    )
    border_out = (
        own_cell_rep.unionByName(cross_rep)
        .join(comp.select(F.col("id").alias("rep"), "component_id"), "rep")
        .groupBy(F.col("ia").alias("id"))
        .agg(F.min("component_id").alias("cluster_id"))
        .select("id", F.lit("border").alias("role"), "cluster_id")
    )
    assigned = core_out.unionByName(border_out)
    noise = (
        pts.select("id")
        .join(assigned.select("id"), "id", "left_anti")
        .select(
            "id",
            F.lit("noise").alias("role"),
            F.lit(None).cast("long").alias("cluster_id"),
        )
    )
    return assigned.unionByName(noise)
