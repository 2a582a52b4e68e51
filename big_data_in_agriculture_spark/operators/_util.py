"""Shared operator utilities."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _all_finite(v) -> bool:
    if isinstance(v, (list, tuple)):
        return all(_all_finite(x) for x in v)
    return math.isfinite(float(v))


def _arr_sql(v) -> str:
    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(_arr_sql(x) for x in v) + ")"
    # repr() is the shortest round-trip decimal: Java's correctly-
    # rounded Double.parseDouble returns the identical bits (verified
    # incl. subnormals, -0.0, 1e308). The D suffix forces DOUBLE —
    # Spark's parser types a bare decimal literal as DECIMAL.
    return repr(float(v)) + "D"


def arr_lit(values: list) -> Column:
    """Literal (possibly nested) double-array Column built in ONE JVM
    round trip.

    ``F.lit(list)`` in classic PySpark expands to ``array(*[lit(x) for
    x in ...])`` — one py4j call PER SCALAR. The centroid/codebook/
    hyperplane model literals here are 512-1024 doubles rebuilt every
    Lloyd iteration and in every serving plan, which measured 0.6-1.2 s
    of pure driver py4j churn per build (guide §5: the driver should do
    almost no data work — including no O(model) foreign calls). Parsing
    one SQL array literal instead is a single call (~1000× less py4j)
    and yields the IDENTICAL expression tree: the parser produces the
    same CreateArray(Literal…) nodes ``F.lit`` builds, and repr-
    formatted doubles re-parse bit-exactly (tested: subnormal 5e-324,
    -0.0, 1.7976931348623157e308, 2/3). Non-finite values (never in a
    trained model, but guarded) fall back to the classic path, whose
    literals need no textual form.
    """
    if not _all_finite(values):
        return F.lit(values)
    return F.expr(_arr_sql(values))


def quantize_half_away(x: float, digits: int) -> float:
    """Round half-AWAY-from-zero via explicit IEEE ops, not round().

    The bit-replay contract for the iterative trainers (kmeans_fit,
    classifier_train) needs Python and the DuckDB oracle to quantize
    identically. Each engine's native ``round`` is out: Python rounds
    half-to-even while DuckDB rounds half-away, and exactly-
    representable decimal ties DO exist (round(0.0078125, 6) is
    0.007812 in Python but 0.007813 in DuckDB). So both sides use this
    exact op sequence — abs, scale, +0.5, floor, unscale, re-sign —
    every step an IEEE-double primitive with one correctly-rounded
    result, hence bit-identical across engines by construction. The
    SQL twin is ``_quantize_sql`` in ``__spark_entry__.py``.
    """
    scale = float(10 ** digits)
    mag = math.floor(abs(x) * scale + 0.5) / scale
    return -mag if x < 0 else mag

def pin_stats_free(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` (localCheckpoint) AND reset its plan
    statistics — the pin every ITERATIVE loop must use.

    ``localCheckpoint`` truncates lineage but PRESERVES the plan's
    estimated statistics (LogicalRDD ``originStats``). An iterative
    loop that joins each round's checkpoint with frames derived from
    the same checkpoint therefore SQUARES sizeInBytes every round —
    measured: stats bit-length 21 → 58 → 133 → 282 → 581 → 1177 →
    2371 over six rounds of the min-label shape — until round ~30-45
    crosses BigInteger's 2^31-bit ceiling and Catalyst dies with
    'BigInteger would overflow supported range' (the round-8
    component-pass death at 1M points, reproduced and root-caused in
    round 9).

    The reset re-wraps the checkpointed RDD[InternalRow] in a fresh
    LogicalRDD with no originStats (sizeInBytes falls back to the
    session default), so each round's plan starts from constant-size
    statistics. Zero recompute — ``toRdd`` of a checkpointed frame IS
    the materialized RDD. Joins against the pinned frame won't
    auto-broadcast (unknown size ⇒ conservative), which is the right
    default inside loops; callers that want a broadcast say so
    explicitly.

    ``eager=False`` defers materialization to the first downstream
    action (which then writes the checkpoint once and reuses it) —
    use it when a count/action follows immediately anyway; the stats
    reset is identical either way. What it defers depends on AQE.
    With ``spark.sql.adaptive.enabled=false`` it saves one job per loop
    round. With AQE on (the default) it saves little:
    ``localCheckpoint(eager=False)`` still runs every shuffle stage of
    the pinned plan at call time, because building the checkpoint RDD
    calls ``AdaptiveSparkPlanExec.execute()``, which materializes its
    query stages; only the final stage is deferred (measured at
    sf0.01: pagerank builds with 42 jobs under AQE, 8 without).
    """
    ck = df.localCheckpoint(eager=eager)
    jdf = ck._jdf
    jrdd = jdf.queryExecution().toRdd()
    jspark = ck.sparkSession._jsparkSession
    njdf = jspark.internalCreateDataFrame(jrdd, jdf.schema(), False)
    return DataFrame(njdf, ck.sparkSession)


#: ``pin_iter`` pins every this-many-th round stats-free.
_STATS_RESET_EVERY = 8


def pin_iter(df: DataFrame, rnd: int, eager: bool = True) -> DataFrame:
    """Per-round pin for iterative loops: REAL statistics most rounds,
    a stats reset every ``_STATS_RESET_EVERY``-th (8th).

    Plain localCheckpoint keeps the plan's real size estimates, which
    is what lets Catalyst broadcast the node-sized label/rank tables
    inside a round — an always-stats-free loop plans sort-merge joins
    everywhere and measured ~5× slower PER ROUND on small graphs. But
    real originStats compound by SQUARING across rounds (bit-lengths
    21→58→133→282→…, see :func:`pin_stats_free`), so every 8th round
    pins stats-free instead: 8 rounds of doubling from either a real
    (~40-bit) or post-reset (63-bit) seed stays around 10-16k bits,
    orders of magnitude under BigInteger's 2^31-bit ceiling, at ANY
    round count. Short loops (< 8 rounds — the common near-dup /
    PageRank case) never pay a reset.
    """
    if (rnd + 1) % _STATS_RESET_EVERY == 0:
        return pin_stats_free(df, eager=eager)
    return df.localCheckpoint(eager=eager)


#: Edge-count ceiling of the driver path for the iterative graph
#: operators (read at call time). A graph this small is "model-sized"
#: (a few MB collected — the budget of a broadcast relation or of the
#: kmeans/classifier model collects), and the Spark loop pays every
#: round in scheduler trips over a few KB: pagerank_trade (1,600
#: nodes) built with 42 jobs. Above the cap the Spark loops run
#: unchanged, so a 100 TB graph never touches the driver.
_DRIVER_MAX_EDGES = 100_000


def _driver_rows(df: DataFrame, key_types=(), scale: int = 1) -> list | None:
    """The collected rows of ``df`` if it holds at most ``scale`` ×
    ``_DRIVER_MAX_EDGES`` rows, else None (one bounded action).

    The iterative graph operators call this once on their own prepared
    edge frame — after their casts and filters, so a driver kernel sees
    exactly the values the Spark loop would — and take the Spark loop
    on None. ``key_types`` are the Spark types of every node-id column
    the kernel compares: the driver path is taken only when they are
    all integral or all plain strings, where Python equality is Spark's
    (float ids would split NaN and -0.0, mixed families would compare
    across an implicit cast). A negative cap turns the path off.
    """
    from pyspark.sql.types import IntegralType, StringType

    cap = scale * _DRIVER_MAX_EDGES
    if cap < 0 or not (
        all(isinstance(t, IntegralType) for t in key_types)
        or all(t == StringType() for t in key_types)
    ):
        return None
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None


#: Assumed split size when the session conf is unreadable (Spark default).
_DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024


#: Spark byte-string suffixes (JavaUtils.byteStringAsBytes): 1k=1024.
_BYTE_SUFFIXES = {
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _max_partition_bytes(df: DataFrame) -> int:
    raw = str(
        df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", str(_DEFAULT_SPLIT_BYTES)
        )
    ).strip().lower()
    # accept every form Spark does: "134217728", "134217728b", "128m",
    # "128mb", "1g" — a misparse here silently disables the fan-out
    # the helper exists for, so cover the human-readable spellings too
    num = raw.rstrip("kmgtb")
    suffix = raw[len(num):]
    try:
        return int(num) * _BYTE_SUFFIXES.get(suffix, 1)
    except ValueError:
        return _DEFAULT_SPLIT_BYTES


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before CPU-heavy maps.

    A small local parquet file arrives as ONE partition, serializing
    expensive per-row expressions (shingling, hashing, vector math) on
    one core. At real scale the scan already has thousands of splits
    and this is a no-op — we only repartition when the input is
    smaller than the cluster's slots could chew, so a 100 TB corpus
    never pays an extra shuffle here.

    The parallelism estimate comes from the OPTIMIZED PLAN'S size
    statistics (``stats().sizeInBytes`` / files.maxPartitionBytes — the
    same arithmetic FileSourceScan uses to size splits), not from
    ``df.rdd.getNumPartitions()``: touching ``.rdd`` forces RDD-lineage
    construction on every call (~700x slower per measurement, and it
    deserializes the whole plan). Catalyst keeps file-scan sizes exact
    (from the file index) and post-shuffle sizes estimated — both err
    LARGE for narrow inputs, so the no-op direction is the safe one.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # stats unavailable (exotic plan) — fall back to RDD
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
        return df
    est_splits = max(1, -(-size // _max_partition_bytes(df)))
    if est_splits < target:
        return df.repartition(target)
    return df
