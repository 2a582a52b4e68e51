"""Streaming daily rollup over the events stream (SURVEY.md §2.9).

The reference pipeline is batch re-run by month, idempotent via
skip-if-exists + keyed upsert (S2/K4). Its natural streaming twin —
and the extension the driver's ``events`` table exists for — is:

    readStream (file source)
      → withWatermark("ts", …)           # bounded state, late-data cutoff
      → groupBy(window("ts","1 day"), key) multi-agg (A3's tumbling day)
      → foreachBatch(upsert)             # K4's idempotent keyed load

Watermarking makes state finite: a day's window is finalized (and its
state dropped) once the watermark passes its end; rows later than the
allowed lateness are dropped instead of reopening closed days —
exactly the trade the batch pipeline makes by re-running a month and
overwriting (late data beyond the re-run horizon never lands).

Scale notes:
* the aggregation state is one row per (key, open day-window) —
  bounded by watermark, independent of stream length;
* ``foreachBatch`` + keyed upsert gives effectively-exactly-once
  delivery on top of at-least-once batch replays (same idempotence
  argument as the reference's ON CONFLICT loader);
* ``availableNow`` triggers turn the same query into an incremental
  batch backfill — one code path for both modes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

#: Driver events schema (TESTDATA.md) — file streams must declare it.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

#: The same table when written with ``ts`` as parquet TIMESTAMP(NANOS)
#: (pandas default), which Spark can only read as a long. Streams over
#: those files declare the long and convert (integer div — see
#: ``__spark_entry__._t`` for why ``/`` would corrupt the epoch).
EVENTS_SCHEMA_NANOS = T.StructType(
    [f if f.name != "ts" else T.StructField("ts", T.LongType()) for f in EVENTS_SCHEMA]
)


def _sniff_nanos_ts(path: str, path_glob: str | None) -> bool:
    """True if the landing files store ``ts`` as TIMESTAMP(NANOS).

    A file stream must declare its schema up front, but the driver's
    events files have shipped with both nanosecond and microsecond
    timestamps across generations — so peek at one parquet footer
    (driver-side, O(KB)) instead of hard-coding either layout. An empty
    landing dir defaults to the native micros schema.
    """
    import glob as _glob
    import os

    base = path.rstrip("/")
    patterns = [
        os.path.join(base, path_glob) if path_glob else None,
        os.path.join(base, "*.parquet"),
        base,  # `path` may itself be a glob (tests pass "dir/*")
    ]
    for pat in filter(None, patterns):
        for f in sorted(_glob.glob(pat)):
            if os.path.isfile(f):
                try:
                    import pyarrow.parquet as pq

                    return str(pq.read_schema(f).field("ts").type) == "timestamp[ns]"
                except (OSError, KeyError):
                    continue
    return False


def read_events_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    nanos_ts: bool | None = None,
    path_glob: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory of event files."""
    if nanos_ts is None and schema is None:
        nanos_ts = _sniff_nanos_ts(path, path_glob)
    reader = spark.readStream.schema(
        schema if schema is not None else (EVENTS_SCHEMA_NANOS if nanos_ts else EVENTS_SCHEMA)
    )
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if schema is None and nanos_ts:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def daily_event_rollup(
    events: DataFrame,
    watermark: str = "1 day",
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling 1-day windowed aggregate with a late-data watermark.

    The streaming twin of ``operators.daily.daily_rollup``: same grain
    (key, day), same {col}_{fn} naming convention.
    """
    w = F.window(F.col(ts_col), "1 day")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(w.alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg("value").alias("value_mean"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.col(key_col),
            F.to_date(F.col("win.start")).alias("day"),
            "n_events",
            "value_mean",
            "value_min",
            "value_max",
            "value_sum",
        )
    )


def sliding_rollup(
    events: DataFrame,
    window: str = "1 day",
    slide: str = "6 hours",
    watermark: str | None = None,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window aggregate (overlapping windows, epoch-aligned).

    The third windowing kind next to the tumbling ``daily_event_rollup``
    and the gap-based ``session_rollup``: every event lands in
    window/slide overlapping windows (e.g. 1 day every 6 hours = 4),
    giving a smoothed trailing view — the moving-average dashboards are
    built on. Works identically on a batch frame (watermark=None) and a
    streaming frame (pass a watermark; state per open window is one
    partial-agg row, expired once the watermark passes window end).

    Scale shape: Spark's Expand-style window assignment replicates each
    input row once per covered window BEFORE the partial aggregate, so
    the shuffle still carries only (window, key) partial rows — the
    replication factor (window/slide) is the knob to watch at 100 TB;
    keep it small (here 4), never slide-by-1-minute a 1-day window.

    Output grain: (window_start, window_end, key) — window bounds are
    epoch-aligned multiples of the slide, identical to the SQL twin's
    floor(epoch/slide) arithmetic.
    """
    src = events.withWatermark(ts_col, watermark) if watermark else events
    w = F.window(F.col(ts_col), window, slide)
    return (
        src.groupBy(w.alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg("value").alias("value_mean"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
            "value_mean",
            "value_sum",
        )
    )


def session_rollup(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Session windows via the native ``session_window`` operator.

    The streaming-first twin of ``operators.relational.sessionize``
    (lag + conditional cumsum): a session closes after ``gap`` of
    silence. Works identically on batch DataFrames — the harness
    hash-checks this native form against the window-function
    formulation in SQL, two independent implementations of the same
    semantics. In a stream, pass ``watermark`` so closed sessions
    finalize and their state drops.
    """
    src = events.withWatermark(ts_col, watermark) if watermark else events
    return (
        src.groupBy(F.session_window(F.col(ts_col), gap).alias("win"), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(user_col, "n_events", "session_start", "session_end")
    )


#: Output schema of the stateful per-user counter below.
_COUNTER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events_total", T.LongType()),
        T.StructField("value_sum_total", T.DoubleType()),
    ]
)

_COUNTER_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
    ]
)


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user lifetime totals across batches.

    ``applyInPandasWithState`` is the escape hatch for stateful logic
    the built-in windowed aggregates can't express (custom eviction,
    model state, cross-window counters). State here is two numbers per
    user — O(users) memory, updated per micro-batch, surviving restarts
    through the checkpoint. Emits one updated row per user per batch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events_total": [n], "value_sum_total": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_COUNTER_SCHEMA,
        stateStructType=_COUNTER_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_events_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id with bounded state.

    At-least-once sources (file landing zones, replayed Kafka offsets)
    deliver duplicates; ``dropDuplicatesWithinWatermark`` keeps one row
    per event_id while holding state ONLY for ids whose event time is
    within the watermark — a duplicate arriving within the allowed
    lateness is dropped even across micro-batches, and expired ids are
    forgotten. A plain ``dropDuplicates`` on a stream would accumulate
    every id ever seen — unbounded state, the streaming anti-pattern
    this operator exists to avoid. Batch twin: ``llm.dedup_exact``.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def click_purchase_join_stream(
    events: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: clicks ⋈ purchases per user.

    Each click pairs with every purchase of the same user in the
    preceding ``attribution_window``. Both sides carry watermarks and
    the join condition bounds event-time distance, so Spark can expire
    buffered state: a purchase older than watermark+window can never
    match a future click and is dropped. Unbounded stream, bounded
    state — THE property that separates a streaming join from a batch
    join wearing a trench coat. Works identically on batch frames
    (the harness oracle-checks that form).

    ``how="leftOuter"`` emits UNCONVERTED clicks too (NULL purchase
    columns) — but only once the watermark proves no purchase can
    still arrive, which is why the outer rows trail the inner ones by
    up to watermark+window in event time. That delayed-NULL semantics
    is the streaming-correct form of "clicks without attribution".
    """
    # Watermark BEFORE splitting sides: a per-side watermark after the
    # filter only advances on that side's own events, so a lull in
    # purchases would freeze the global (min) watermark and outer rows
    # would never emit. Watermarking the shared input lets every event
    # advance both sides' clocks; the filters inherit it.
    wm = events.withWatermark("ts", watermark)
    clicks = wm.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = wm.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") <= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            >= F.col("click_ts") - F.expr(f"INTERVAL {attribution_window}")
        ),
        how,
    ).select("click_id", "user_id", "click_ts", "purchase_ts", "purchase_value")


def start_daily_rollup_to_parquet(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint: str,
    watermark: str = "1 day",
    path_glob: str | None = None,
    available_now: bool = True,
    upsert_fn: Callable[[SparkSession, DataFrame, str, list[str]], int] | None = None,
) -> StreamingQuery:
    """Wire the full stream: files → windowed rollup → keyed upsert sink.

    ``foreachBatch`` receives each micro-batch as a plain DataFrame and
    applies the K4 upsert on (event_type, day) — replays after a
    checkpoint recovery rewrite the same keys, so the sink converges.

    The query's state is sized for its key space, days × event types,
    not for the session's shuffle width:

    * One state partition (``spark.sql.shuffle.partitions`` = 1). The
      partial aggregate before the shuffle still runs at the scan's
      parallelism, so at most (input partitions × groups) partial rows
      reach the single state task; each extra state partition only
      adds a task and a state store per batch. The offset log pins the
      count at the first start, so a checkpoint written at another
      width keeps its own width when it resumes.
    * No no-data batch (``noDataMicroBatches.enabled`` = false). Such a
      batch only evicts state after the watermark moves, and in
      ``update`` mode eviction emits no rows. The commit log's
      ``nextBatchWatermarkMs`` still carries the watermark into the
      next run, whose batch evicts with it. Spark drops a batch's late
      rows at the previous batch's watermark, so the late cutoff lags
      by one batch: a row older than the watermark may still be
      aggregated in the next run, but only into a day whose state has
      not been evicted. No closed day reopens, and a later batch drops
      such rows.

    Both keys are set only around ``writer.start()``, which clones the
    session for the query; the caller's session is left as it was.

    A micro-batch is persisted once and upserted when the sink does not
    exist yet (so an empty first batch still creates the table) or when
    it holds rows. An empty batch over an existing sink would rewrite
    the whole sink with identical rows, so it is skipped.
    """
    import os

    from ..operators._util import session_conf
    from ..sources.upsert import upsert_parquet

    do_upsert = upsert_fn or upsert_parquet
    rollup = daily_event_rollup(
        read_events_stream(spark, source_path, path_glob=path_glob),
        watermark=watermark,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if not os.path.exists(sink_path) or not batch_df.isEmpty():
                do_upsert(spark, batch_df, sink_path, ["event_type", "day"])
        finally:
            batch_df.unpersist()

    writer = (
        rollup.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    with session_conf(
        spark,
        {
            "spark.sql.shuffle.partitions": "1",
            "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        },
    ):
        return writer.start()


_DEBOUNCE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

_DEBOUNCE_STATE = T.StructType([T.StructField("last_us", T.LongType())])


def debounce_stream(events: DataFrame, gap_seconds: int = 60) -> DataFrame:
    """Streaming debounce: emit only burst openers, state = one long.

    The streaming twin of ``analytics.debounce_events``: per
    (user, type), an event is emitted only when it arrives at least
    ``gap_seconds`` after the PREVIOUS event of that key — and every
    event (emitted or suppressed) extends the burst, so chained
    repeats collapse across micro-batch boundaries exactly like the
    batch operator collapses them within one frame. State per key is a
    single microsecond timestamp — O(keys), not O(events); contrast
    with dropDuplicatesWithinWatermark, which keys state by VALUE.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def update(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415

        (last,) = state.get if state.exists else (None,)
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for row in pdf.itertuples(index=False):
                us = int(row.ts.value) // 1_000  # pandas ns → us
                if last is None or us - last >= gap_us:
                    out.append(row)
                last = us
        state.update((last,))
        cols = ["event_id", "user_id", "event_type", "ts"]
        if out:
            yield pd.DataFrame(out)[cols]
        else:
            yield pd.DataFrame(columns=cols)

    return events.select(
        "event_id", "user_id", "event_type", "ts"
    ).groupBy("user_id", "event_type").applyInPandasWithState(
        update,
        outputStructType=_DEBOUNCE_SCHEMA,
        stateStructType=_DEBOUNCE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_HH_SCHEMA = T.StructType(
    [
        T.StructField("group", T.LongType()),
        T.StructField("item", T.StringType()),
        T.StructField("count_lb", T.LongType()),
        T.StructField("max_undercount", T.LongType()),
    ]
)

_HH_STATE = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("decs", T.LongType()),
    ]
)


def heavy_hitters_stream(
    df: DataFrame, col: str = "event_type", k: int = 10, n_groups: int = 16
) -> DataFrame:
    """Streaming heavy hitters: Misra-Gries summaries as bounded state.

    Exact per-item streaming counts hold state for EVERY distinct item
    — unbounded on open vocabularies (tokens, URLs, user agents). This
    operator keeps ≤ k (item, count) pairs per hash group instead:
    the classic Misra-Gries guarantee per group is that any item with
    true frequency > decs survives in the summary, and its reported
    count underestimates truth by at most ``max_undercount`` (the
    group's decrement total). Items hash-route to ``n_groups``
    independent summaries, so state is O(n_groups × k) scalars TOTAL
    regardless of stream length or vocabulary size, and each group's
    bound applies to its own substream (every occurrence of one item
    lands in one group). Emits each group's current summary every
    micro-batch (update mode); when a group has seen ≤ k distinct
    items, decs = 0 and its counts are EXACT.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = df.select(F.col(col).cast("string").alias("item")).withColumn(
        "_g", F.pmod(F.xxhash64("item"), F.lit(n_groups))
    )

    def update(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415

        if state.exists:
            items, counts, decs = state.get
            summary = dict(zip(items, counts))
        else:
            summary, decs = {}, 0
        for pdf in pdfs:
            for item, n in pdf["item"].value_counts().items():
                n = int(n)
                if item in summary:
                    summary[item] += n
                elif len(summary) < k:
                    summary[item] = n
                else:
                    # decrement-all by the largest amount the batch
                    # increment allows: min(n, smallest counter)
                    step = min(n, min(summary.values()))
                    decs += step
                    summary = {
                        i: c - step for i, c in summary.items() if c > step
                    }
                    if n > step:
                        summary[item] = n - step
        items = sorted(summary)
        state.update((items, [summary[i] for i in items], decs))
        yield pd.DataFrame(
            {
                "group": [key[0]] * len(items),
                "item": items,
                "count_lb": [summary[i] for i in items],
                "max_undercount": [decs] * len(items),
            }
        )

    return keyed.groupBy("_g").applyInPandasWithState(
        update,
        outputStructType=_HH_SCHEMA,
        stateStructType=_HH_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_enriched_append(
    spark: SparkSession,
    source_path: str,
    dim_path: str,
    sink_path: str,
    checkpoint_path: str,
    on: str = "user_id",
    available_now: bool = True,
    nanos_ts: bool | None = None,
) -> StreamingQuery:
    """Stream-static enrichment: join each micro-batch against a dim table.

    The streaming half of the serving enrichment join: events stream in,
    the dimension (user profile, region attributes — the reference's
    `regions.yaml` writ large) lives as a parquet table that OTHER jobs
    update. The join runs inside ``foreachBatch`` and re-reads the
    dimension PER BATCH — the documented pattern for picking up dim
    updates mid-stream (a plain stream-static join may cache the file
    listing; the explicit re-read makes freshness a contract, not an
    accident). Rows with no dim match pass through with NULLs (left
    join) rather than being dropped.

    Scale: the dim read is per micro-batch, so keep it broadcast-sized
    or partition-pruned; for a huge dimension use the CDC/upsert mart
    and join on its partition keys instead.

    Exactly-once EFFECT from at-least-once delivery: foreachBatch may
    replay a batch whose parquet append landed but whose checkpoint
    commit did not (crash in between). The sink is therefore keyed by
    the checkpoint's batch id — each batch writes its own
    ``_batch_id=<id>`` partition with DYNAMIC partition overwrite, so
    a replay overwrites that one partition with identical rows instead
    of appending duplicates. Readers see ``_batch_id`` as an ordinary
    partition column (and can prune on it for incremental consumption).
    """
    stream = read_events_stream(spark, source_path, nanos_ts=nanos_ts)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        dim = batch_df.sparkSession.read.parquet(dim_path)
        (
            batch_df.join(F.broadcast(dim), on, "left")
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(sink_path)
        )

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def user_value_stats_stream(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum, max) via transformWithStateInPandas.

    The Spark 4 arbitrary-state API (successor to
    ``applyInPandasWithState``): typed per-key ValueState survives
    across micro-batches in the state store, batches arrive as pandas.
    State per user is three scalars — O(users) total, the same bound
    as ``running_user_totals_stream`` — but the new API adds schema'd
    state (queryable/evolvable) and timers; this operator is the
    minimal template the heavier stateful ops migrate onto.

    Runtime dependency: the transformWithState protocol speaks protobuf
    to the state server; environments without a working
    ``google.protobuf`` (this container) fail at query start — the
    pytest twin skips there, ``running_user_totals_stream``
    (applyInPandasWithState, no protobuf) remains the portable form.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("value_sum", T.DoubleType()),
            T.StructField("value_max", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
            T.StructField("m", T.DoubleType()),
        ]
    )

    class _Stats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("stats", state_schema)

        def handleInputRows(self, key, rows, timerValues):  # noqa: N802
            n, s, m = 0, 0.0, float("-inf")
            if self._state.exists():
                n, s, m = self._state.get()
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
                m = max(m, float(pdf["value"].max()))
            self._state.update((n, s, m))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "value_sum": [s],
                    "value_max": [m],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _Stats(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


_DRIFT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_batches", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("reference_rate", T.DoubleType()),
        T.StructField("cusum_pos", T.DoubleType()),
        T.StructField("cusum_neg", T.DoubleType()),
        T.StructField("drifted", T.BooleanType()),
    ]
)

_DRIFT_STATE = T.StructType(
    [
        T.StructField("n_batches", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ref_batches", T.LongType()),
        T.StructField("ref_events", T.LongType()),
        T.StructField("cusum_pos", T.DoubleType()),
        T.StructField("cusum_neg", T.DoubleType()),
    ]
)


def drift_monitor_stream(
    events: DataFrame,
    reference_batches: int = 5,
    slack: float = 0.5,
    threshold: float = 5.0,
    quiet_timeout_ms: int | None = 60_000,
) -> DataFrame:
    """Streaming CUSUM drift monitor: per-key event-rate change alarms.

    The streaming twin of ``timeseries.cusum_changepoint``, as a
    two-sided tabular CUSUM (Page): the first ``reference_batches``
    micro-batches establish each key's reference events-per-batch rate
    μ; afterwards every batch updates
    ``S⁺ = max(0, S⁺ + (n−μ) − slack·μ)`` and
    ``S⁻ = max(0, S⁻ − (n−μ) − slack·μ)``, and the key reports
    ``drifted`` once either side exceeds ``threshold·μ``. The monitor
    a training-data ingest runs next to the corpus gates: a crawler
    source going quiet (S⁻) or a spam flood (S⁺) flags within a few
    batches, with the slack term absorbing normal noise.

    State per key is six scalars — O(keys) total, no per-event state —
    and survives restarts in the state store like every
    applyInPandasWithState operator here. Emitted in update mode: one
    row per key per batch with the current alarm status.

    Quiet keys: applyInPandasWithState only invokes the function for
    keys PRESENT in a micro-batch, so a source going fully silent
    would otherwise freeze its CUSUM and never alarm — exactly the
    outage this monitor exists for. ``quiet_timeout_ms`` arms a
    processing-time timeout per key; a timeout tick is handled as an
    observed batch of 0 events, pushing S⁻ toward the alarm. Pass
    ``None`` to disable (micro-benchmarks, availableNow replays where
    wall-clock timeouts are meaningless).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415

        if state.exists:
            nb, ne, rb, re_, sp, sn = state.get
        else:
            nb = ne = rb = re_ = 0
            sp = sn = 0.0
        batch_n = 0
        if not state.hasTimedOut:
            for pdf in pdfs:
                batch_n += len(pdf)
        # a timeout tick IS an observation of silence: batch_n stays 0
        # and the CUSUM update below pushes S⁻ — a source going fully
        # quiet alarms even though its key appears in no micro-batch.
        nb += 1
        ne += batch_n
        if quiet_timeout_ms is not None:
            state.setTimeoutDuration(quiet_timeout_ms)
        if nb <= reference_batches:
            rb += 1
            re_ += batch_n
            mu = re_ / rb
        else:
            mu = re_ / rb if rb else 0.0
            dev = batch_n - mu
            sp = max(0.0, sp + dev - slack * mu)
            sn = max(0.0, sn - dev - slack * mu)
        state.update((nb, ne, rb, re_, sp, sn))
        mu_out = re_ / rb if rb else 0.0
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_batches": [nb],
                "n_events": [ne],
                "reference_rate": [mu_out],
                "cusum_pos": [sp],
                "cusum_neg": [sn],
                "drifted": [
                    nb > reference_batches
                    and (sp > threshold * mu_out or sn > threshold * mu_out)
                ],
            }
        )

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if quiet_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=_DRIFT_SCHEMA,
        stateStructType=_DRIFT_STATE,
        outputMode="update",
        timeoutConf=timeout_conf,
    )


def start_incremental_rollup(
    spark: SparkSession,
    source_path: str,
    state_root: str,
    checkpoint_path: str,
    key_cols: list[str] | None = None,
    available_now: bool = True,
    nanos_ts: bool | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain a materialized rollup mart from a stream, EXACTLY-ONCE.

    Composes three pieces of this engine: the incremental
    materialized-view algebra (operators/materialized.py — delta-sized
    updates, no history rescan), versioned snapshots
    (sources/versioned.py — snapshot lands fully before the _LATEST
    pointer moves), and foreachBatch.

    Exactly-once WITHOUT idempotent merges: folding the same delta
    twice would double-count, so the applied batch id travels INSIDE
    the snapshot (an ``_applied_batch_id`` column, constant per
    version). A replayed batch reads the pointed snapshot, sees its
    own id already applied, and skips; a crash before the pointer
    moved leaves an orphan version directory (inert, expirable) and
    the replay re-applies against the OLD pointed state. The
    state+marker commit is exactly as atomic as the pointer move.

    Scale trade, stated plainly: each batch snapshots the whole state
    — right for serving-mart-sized states (they are grain-bounded:
    keys × days), with free time travel and rollback. A state too big
    to rewrite per batch belongs on the partition-sliced upsert path
    (sources/upsert.upsert_parquet_partitioned) keyed by the touched
    days instead.
    """
    from ..operators import materialized as mv
    from ..sources import versioned

    keys = key_cols if key_cols is not None else ["event_type"]
    stream = read_events_stream(
        spark,
        source_path,
        nanos_ts=nanos_ts,
        max_files_per_trigger=max_files_per_trigger,
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        latest = versioned.latest_version(state_root)
        prev = None
        if latest is not None:
            prev = versioned.read_version(sess, state_root)
            applied = prev.select(
                F.max("_applied_batch_id").alias("b")
            ).collect()[0]["b"]
            if applied is not None and batch_id <= applied:
                return  # replay of an already-committed batch
        delta = mv.rollup_state(batch_df, keys)
        if prev is None:
            new_state = delta
        else:
            new_state = mv.merge_rollup_state(
                prev.drop("_applied_batch_id"), delta, keys
            )
        versioned.write_version(
            new_state.withColumn("_applied_batch_id", F.lit(batch_id)),
            state_root,
        )

    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_click_attribution_to_parquet(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint: str,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
    path_glob: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Wire the stream-stream join end-to-end: files →
    :func:`click_purchase_join_stream` (inner) → append parquet sink.

    Inner stream-stream join rows emit as soon as both sides match
    (no watermark wait — only OUTER rows trail), so an availableNow
    run over a landed batch produces exactly the batch join's rows
    and the sink is SQL-oracle-checkable, the same external-
    verification trick as ``start_daily_rollup_to_parquet``.
    """
    joined = click_purchase_join_stream(
        read_events_stream(spark, source_path, path_glob=path_glob),
        attribution_window=attribution_window,
        watermark=watermark,
        how="inner",
    )
    writer = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
