"""Structured Streaming daily rollup: micro-batch over the events table."""

from __future__ import annotations

import os
import shutil

import pytest

from big_data_in_agriculture_spark.streaming import events as sev

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def landing(tmp_path):
    # stage the driver's events file into a landing dir (file-stream source)
    land = tmp_path / "landing"
    land.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", land / "batch-000.parquet")
    return land


def test_stream_rollup_matches_batch(spark, landing, tmp_path):
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    q = sev.start_daily_rollup_to_parquet(
        spark, str(landing), sink, chk, available_now=True
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink)

    # batch twin over the same file (nanos handled by the entry reader)
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    ev = em._t(spark, SF_DIR, "events")
    expected = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
    )
    g = {(r["event_type"], r["day"]): (r["n_events"], round(r["value_sum"], 4))
         for r in got.collect()}
    e = {(r["event_type"], r["day"]): (r["n_events"], round(r["value_sum"], 4))
         for r in expected.collect()}
    # NB: the stream reads the same nanos file via its declared schema —
    # Spark's file stream cannot read TIMESTAMP(NANOS) either, so the
    # fixture relies on the legacy conf set by em._t above (session-wide).
    assert g == e


def test_incremental_second_batch_upserts(spark, landing, tmp_path):
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    sev.start_daily_rollup_to_parquet(
        spark, str(landing), sink, chk, available_now=True
    ).awaitTermination(120)
    n1 = spark.read.parquet(sink).count()

    # land a second copy (same content, new file name) → same keys
    # upserted with doubled counts, not duplicated rows
    shutil.copy(f"{SF_DIR}/events.parquet", landing / "batch-001.parquet")
    sev.start_daily_rollup_to_parquet(
        spark, str(landing), sink, chk, available_now=True
    ).awaitTermination(120)
    after = spark.read.parquet(sink)
    assert after.count() == n1  # key set unchanged
    assert after.agg({"n_events": "max"}).collect()[0][0] >= 2


def test_dedup_stream_drops_duplicates_across_batches(spark, tmp_path):
    import datetime as dt

    land = tmp_path / "dedup-landing"
    land.mkdir()
    sink = str(tmp_path / "dedup-sink")
    chk = str(tmp_path / "dedup-chk")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def batch(path, ids):
        rows = [(i, t0 + dt.timedelta(minutes=i), 1, "click", 1.0, "{}")
                for i in ids]
        spark.createDataFrame(rows, sev.EVENTS_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(path)

    batch(str(land / "b0"), [1, 2, 3])
    batch(str(land / "b1"), [2, 3, 4])  # 2,3 are replayed duplicates

    stream = sev.read_events_stream(
        spark, str(land) + "/*", nanos_ts=False, max_files_per_trigger=1
    )
    q = (
        sev.dedup_events_stream(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["event_id"] for r in spark.read.parquet(sink).collect())
    assert got == [1, 2, 3, 4]


def test_sliding_rollup_streaming_equals_batch(spark, tmp_path):
    """availableNow sliding rollup over two file batches == batch twin."""
    import datetime as dt

    from big_data_in_agriculture_spark.streaming import events as sev

    land = tmp_path / "land"
    land.mkdir()
    t0 = dt.datetime(2024, 3, 1, 0, 30)
    rows = [
        (i, t0 + dt.timedelta(hours=i), 1, "click", float(i), "{}")
        for i in range(12)
    ]
    half = len(rows) // 2
    for j, chunk in enumerate((rows[:half], rows[half:])):
        spark.createDataFrame(chunk, sev.EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(land / f"b{j}"))

    batch = sev.sliding_rollup(
        spark.read.parquet(str(land) + "/*"), "1 day", "6 hours"
    )
    expect = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in batch.collect()
    }
    # every event covered by exactly window/slide = 4 windows
    assert sum(n for n, _ in expect.values()) == 4 * len(rows)

    stream = sev.read_events_stream(
        spark, str(land) + "/*", nanos_ts=False, max_files_per_trigger=1
    )
    sink = str(tmp_path / "sink")
    q = (
        sev.sliding_rollup(stream, "1 day", "6 hours", watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in spark.read.parquet(sink).collect()
    }
    # append mode emits only watermark-closed windows; every emitted
    # window must match the batch aggregate exactly (no partials)
    assert got
    for k, v in got.items():
        assert expect[k] == v


def test_enriched_append_refreshes_dim_between_runs(spark, tmp_path):
    """foreachBatch re-reads the dim: batch 0 sees v1, batch 1 sees v2,
    and batch 0's sink rows are NOT rewritten (exactly-once append)."""
    import datetime as dt

    from big_data_in_agriculture_spark.streaming import events as sev

    land = tmp_path / "land"
    land.mkdir()
    dim_path = str(tmp_path / "dim")
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    t0 = dt.datetime(2024, 5, 1, 12, 0)

    def land_batch(name, ids):
        rows = [(i, t0, i, "click", 1.0, "{}") for i in ids]
        spark.createDataFrame(rows, sev.EVENTS_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(land / name))

    def write_dim(version):
        spark.createDataFrame(
            [(1, version), (2, version)], ["user_id", "tier"]
        ).write.mode("overwrite").parquet(dim_path)

    land_batch("b0", [1, 2, 3])     # user 3 has no dim row
    write_dim("v1")
    sev.start_enriched_append(
        spark, str(land) + "/*", dim_path, sink, chk, nanos_ts=False
    ).awaitTermination(120)

    write_dim("v2")
    land_batch("b1", [11, 2])       # reuses user 2 → must see v2
    # b1 events need distinct event ids: rewrite with new ids
    rows = [(11, t0, 1, "click", 1.0, "{}"), (12, t0, 2, "click", 1.0, "{}")]
    spark.createDataFrame(rows, sev.EVENTS_SCHEMA).coalesce(1) \
        .write.mode("overwrite").parquet(str(land / "b1"))
    sev.start_enriched_append(
        spark, str(land) + "/*", dim_path, sink, chk, nanos_ts=False
    ).awaitTermination(120)

    got = {
        r["event_id"]: r["tier"] for r in spark.read.parquet(sink).collect()
    }
    assert got[1] == "v1" and got[2] == "v1"   # first run kept
    assert got[3] is None                      # left join passthrough
    assert got[11] == "v2" and got[12] == "v2"  # second run enriched fresh


def test_outer_interval_join_emits_unmatched_after_watermark(spark, tmp_path):
    """leftOuter stream-stream join: an unconverted click surfaces with
    NULL purchase columns once the watermark passes its horizon."""
    import datetime as dt

    from big_data_in_agriculture_spark.streaming import events as sev

    land = tmp_path / "land"
    land.mkdir()
    t0 = dt.datetime(2024, 6, 1, 8, 0)

    def batch(name, rows):
        spark.createDataFrame(rows, sev.EVENTS_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(land / name))

    # b0: purchase at t0, converted click 5m later; click 3 unconverted
    batch("b0", [
        (1, t0, 10, "purchase", 9.0, "{}"),
        (2, t0 + dt.timedelta(minutes=5), 10, "click", 1.0, "{}"),
        (3, t0, 20, "click", 1.0, "{}"),
    ])
    # b1 advances the watermark past b0's horizon; outer rows are
    # emitted in the FOLLOWING micro-batch, so b2 exists to flush them
    batch("b1", [(4, t0 + dt.timedelta(hours=9), 99, "click", 1.0, "{}")])
    batch("b2", [(5, t0 + dt.timedelta(hours=10), 99, "click", 1.0, "{}")])

    stream = sev.read_events_stream(
        spark, str(land) + "/*", nanos_ts=False, max_files_per_trigger=1
    )
    joined = sev.click_purchase_join_stream(
        stream, attribution_window="1 hour", watermark="2 hours",
        how="leftOuter",
    )
    sink = str(tmp_path / "sink")
    q = (
        joined.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {r["click_id"]: r for r in spark.read.parquet(sink).collect()}
    assert rows[2]["purchase_value"] == 9.0      # converted: inner row
    assert rows[3]["purchase_ts"] is None        # unconverted: NULL row
    assert rows[3]["user_id"] == 20


def test_incremental_rollup_stream_exactly_once_and_matches_batch(spark, tmp_path):
    """Two landed files stream through the versioned mart maintainer;
    the final snapshot equals the batch rollup over all events, a
    REPLAYED batch (simulated by calling the sink twice) changes
    nothing, and rollback restores the pre-delta state."""
    import datetime as dt

    from big_data_in_agriculture_spark.operators import materialized as mv
    from big_data_in_agriculture_spark.sources import versioned
    from big_data_in_agriculture_spark.streaming import events as sev

    land = tmp_path / "land"
    land.mkdir()
    t0 = dt.datetime(2024, 9, 1)

    def batch(name, rows):
        spark.createDataFrame(
            [(i, t0 + dt.timedelta(hours=h), 1, k, v, "{}")
             for i, (k, h, v) in enumerate(rows)],
            sev.EVENTS_SCHEMA,
        ).coalesce(1).write.mode("overwrite").parquet(str(land / name))

    batch("b0", [("click", 0, 1.0), ("click", 1, 3.0), ("view", 0, 2.0)])
    batch("b1", [("click", 2, 5.0), ("view", 30, 4.0)])

    state_root = str(tmp_path / "state")
    sev.start_incremental_rollup(
        spark, str(land) + "/*", state_root,
        str(tmp_path / "chk"), nanos_ts=False,
    ).awaitTermination(120)

    final = versioned.read_version(spark, state_root)
    served = {
        (r["event_type"], str(r["day"])[:10]): (
            r["n_events"], r["value_sum"], r["value_min"], r["value_max"]
        )
        for r in mv.serve_rollup(final.drop("_applied_batch_id")).collect()
    }
    assert served[("click", "2024-09-01")] == (3, 9.0, 1.0, 5.0)
    assert served[("view", "2024-09-01")] == (1, 2.0, 2.0, 2.0)
    assert served[("view", "2024-09-02")] == (1, 4.0, 4.0, 4.0)

    # replay simulation: re-running the maintainer with the same
    # checkpoint must be a no-op (all batches already committed)
    before = versioned.latest_version(state_root)
    sev.start_incremental_rollup(
        spark, str(land) + "/*", state_root,
        str(tmp_path / "chk"), nanos_ts=False,
    ).awaitTermination(120)
    assert versioned.latest_version(state_root) == before

    # time travel: version 1 holds only the first batch's state
    v1 = mv.serve_rollup(
        versioned.read_version(spark, state_root, 1).drop("_applied_batch_id")
    ).collect()
    by_key = {(r["event_type"], str(r["day"])[:10]): r["n_events"] for r in v1}
    # first micro-batch may be b0, b1 or both depending on file order;
    # the invariant: strictly fewer or equal events than final, and
    # replay-consistent totals
    assert sum(by_key.values()) <= 5


def test_incremental_rollup_crash_between_snapshot_and_pointer(
    spark, tmp_path, monkeypatch
):
    """Kill the foreachBatch in BOTH exactly-once crash windows and
    assert the orphan is inert and the restart converges.

    Window 1 — after the snapshot lands, before the pointer moves:
    the orphan v=K directory is complete but unpointed; the replay
    re-applies the batch against the OLD pointed state and publishes
    a fresh version. Window 2 — after the pointer moves, before
    Spark's checkpoint commit: the replayed batch finds its own
    _applied_batch_id in the pointed snapshot and skips, so nothing
    double-counts. Either way the final totals equal the batch rollup
    over all events."""
    import datetime as dt

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from big_data_in_agriculture_spark.operators import materialized as mv
    from big_data_in_agriculture_spark.sources import versioned
    from big_data_in_agriculture_spark.streaming import events as sev

    land = tmp_path / "land"
    land.mkdir()
    t0 = dt.datetime(2024, 9, 1)

    def batch(name, rows):
        spark.createDataFrame(
            [(i, t0 + dt.timedelta(hours=h), 1, k, v, "{}")
             for i, (k, h, v) in enumerate(rows)],
            sev.EVENTS_SCHEMA,
        ).coalesce(1).write.mode("overwrite").parquet(str(land / name))

    batch("b0", [("click", 0, 1.0), ("click", 1, 3.0), ("view", 0, 2.0)])
    batch("b1", [("click", 2, 5.0), ("view", 30, 4.0)])
    state_root = str(tmp_path / "state")
    chk = str(tmp_path / "chk")
    real_repoint = versioned._repoint

    def run(timeout=120):
        return sev.start_incremental_rollup(
            spark, str(land) + "/*", state_root, chk,
            nanos_ts=False, max_files_per_trigger=1,
        ).awaitTermination(timeout)

    # ---- window 1: crash BEFORE the pointer move (first batch) ----
    def crash_before(root, version):
        raise RuntimeError("injected crash before pointer move")

    monkeypatch.setattr(versioned, "_repoint", crash_before)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run()
    # complete-but-unpointed orphan; no partial state is served wrongly
    orphans_after_first = versioned.list_versions(state_root)
    assert orphans_after_first  # snapshot landed
    assert not (tmp_path / "state" / "_LATEST").exists()

    # ---- window 2: pointer moves, THEN the process dies ----
    armed = {"crash": True}

    def crash_after(root, version):
        real_repoint(root, version)
        if armed["crash"]:
            armed["crash"] = False
            raise RuntimeError("injected crash after pointer move")

    monkeypatch.setattr(versioned, "_repoint", crash_after)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run()
    pointed_mid = versioned.latest_version(state_root)
    applied_mid = (
        versioned.read_version(spark, state_root)
        .agg({"_applied_batch_id": "max"}).collect()[0][0]
    )

    # ---- clean restart: replays both crashed windows, converges ----
    monkeypatch.setattr(versioned, "_repoint", real_repoint)
    run()

    final = versioned.read_version(spark, state_root)
    served = {
        (r["event_type"], str(r["day"])[:10]): (
            r["n_events"], r["value_sum"], r["value_min"], r["value_max"]
        )
        for r in mv.serve_rollup(final.drop("_applied_batch_id")).collect()
    }
    assert served[("click", "2024-09-01")] == (3, 9.0, 1.0, 5.0)
    assert served[("view", "2024-09-01")] == (1, 2.0, 2.0, 2.0)
    assert served[("view", "2024-09-02")] == (1, 4.0, 4.0, 4.0)

    # the window-2 batch must NOT have been re-applied on restart:
    # whatever snapshot its pointer published is still the committed
    # prefix (its applied id never re-folds into a later state twice)
    assert versioned.latest_version(state_root) >= pointed_mid
    final_applied = final.agg({"_applied_batch_id": "max"}).collect()[0][0]
    assert final_applied >= applied_mid

    # replaying the whole stream once more changes nothing
    before = versioned.latest_version(state_root)
    run()
    assert versioned.latest_version(state_root) == before


def test_latest_version_fallback_ignores_partial_snapshots(spark, tmp_path):
    """A publisher that died MID-WRITE leaves a partial v=K directory
    with no _SUCCESS marker; before any pointer exists that partial
    must be invisible to readers, and the next publish must step past
    its directory name rather than collide with it."""
    from big_data_in_agriculture_spark.sources import versioned

    root = tmp_path / "vs"
    partial = root / "v=1"
    partial.mkdir(parents=True)
    (partial / "part-00000.parquet").write_bytes(b"\x00garbage")

    assert versioned.latest_version(str(root)) is None
    df = spark.range(3).toDF("k")
    v = versioned.write_version(df, str(root))
    assert v == 2  # stepped past the orphan directory name
    assert versioned.latest_version(str(root)) == 2
    assert versioned.read_version(spark, str(root)).count() == 3


def _land(landing, name, rows=()):
    # a file of event dicts with the landed events' own parquet schema
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(f"{SF_DIR}/events.parquet").remove_metadata()
    pq.write_table(pa.Table.from_pylist(list(rows), schema=schema), landing / name)


def test_empty_final_batch_skips_the_upsert(spark, landing, tmp_path):
    # An empty batch over an existing sink would rewrite the whole sink
    # with identical rows. The first run's data batch gives one upsert
    # call; a second run over a zero-row file gives none, and the sink's
    # files are untouched.
    from big_data_in_agriculture_spark.sources.upsert import upsert_parquet

    calls = []

    def counting(spark_, batch, path, key):
        calls.append(batch.count())
        return upsert_parquet(spark_, batch, path, key)

    sink, chk = str(tmp_path / "sink"), str(tmp_path / "chk")

    def run():
        q = sev.start_daily_rollup_to_parquet(
            spark, str(landing), sink, chk, available_now=True,
            upsert_fn=counting,
        )
        q.awaitTermination(120)
        return q.recentProgress

    run()
    assert len(calls) == 1 and calls[0] > 0
    files = sorted(os.listdir(sink))
    rows = sorted(map(tuple, spark.read.parquet(sink).collect()))

    _land(landing, "batch-001.parquet")
    progress = run()
    assert [p.numInputRows for p in progress] == [0]
    assert len(calls) == 1
    assert sorted(os.listdir(sink)) == files
    assert sorted(map(tuple, spark.read.parquet(sink).collect())) == rows


def test_empty_first_batch_creates_the_sink(spark, tmp_path):
    land = tmp_path / "landing"
    land.mkdir()
    _land(land, "batch-000.parquet")
    sink = str(tmp_path / "sink")
    sev.start_daily_rollup_to_parquet(
        spark, str(land), sink, str(tmp_path / "chk"), available_now=True
    ).awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.count() == 0 and "n_events" in out.columns


def _offset_conf(chk, batch_id):
    # offsets/<id> is "v1", the batch metadata JSON, then source offsets
    import json

    with open(f"{chk}/offsets/{batch_id}") as f:
        return json.loads(f.read().splitlines()[1])["conf"]


def _state_partitions(chk):
    # state/<operator>/<partition>, beside the operator's _metadata dir
    return sorted(p for p in os.listdir(f"{chk}/state/0") if p.isdigit())


_ROLLUP_CONF = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
)


def test_rollup_runs_one_state_partition_and_one_batch(spark, landing, tmp_path):
    chk = str(tmp_path / "chk")
    before = {k: spark.conf.get(k, None) for k in _ROLLUP_CONF}
    q = sev.start_daily_rollup_to_parquet(
        spark, str(landing), str(tmp_path / "sink"), chk, available_now=True
    )
    # the query has its own clone of the session: ours is as it was
    assert {k: spark.conf.get(k, None) for k in _ROLLUP_CONF} == before
    q.awaitTermination(120)
    assert _offset_conf(chk, 0)["spark.sql.shuffle.partitions"] == "1"
    assert _state_partitions(chk) == ["0"]
    # no trailing no-data batch after the data batch
    assert len(q.recentProgress) == 1
    assert q.recentProgress[0].numInputRows > 0


def test_rollup_resumes_a_checkpoint_at_its_own_width(spark, landing, tmp_path):
    # A checkpoint written at the session's width (the fixture's 4) keeps
    # 4 state partitions when the rollup resumes it, and its state is
    # read back: the same events landed again double every count. The
    # watermark spans the whole file, so no second-copy row is late.
    from big_data_in_agriculture_spark.sources.upsert import upsert_parquet

    width = spark.conf.get("spark.sql.shuffle.partitions")
    sink, chk = str(tmp_path / "sink"), str(tmp_path / "chk")
    rollup = sev.daily_event_rollup(
        sev.read_events_stream(spark, str(landing)), watermark="60 days"
    )
    (
        rollup.writeStream.outputMode("update")
        .option("checkpointLocation", chk)
        .foreachBatch(
            lambda bdf, _: upsert_parquet(spark, bdf, sink, ["event_type", "day"])
        )
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    first = {
        (r["event_type"], r["day"]): r["n_events"]
        for r in spark.read.parquet(sink).collect()
    }

    shutil.copy(f"{SF_DIR}/events.parquet", landing / "batch-001.parquet")
    q = sev.start_daily_rollup_to_parquet(
        spark, str(landing), sink, chk, watermark="60 days", available_now=True
    )
    q.awaitTermination(120)
    last = max(int(n) for n in os.listdir(f"{chk}/offsets") if n.isdigit())
    assert _offset_conf(chk, last)["spark.sql.shuffle.partitions"] == width
    assert len(_state_partitions(chk)) == int(width)
    after = {
        (r["event_type"], r["day"]): r["n_events"]
        for r in spark.read.parquet(sink).collect()
    }
    assert after == {k: 2 * n for k, n in first.items()}


def test_rollup_drops_late_rows_without_a_no_data_batch(spark, tmp_path):
    # The twin of test_watermark_drops_late_rows_across_batches through
    # the rollup itself, where no run ends in an eviction batch. Spark
    # filters a batch's late rows at the previous batch's watermark, so
    # the cutoff lags by one batch: run 2's row, though older than the
    # watermark run 1 left in the commit log, is still aggregated (its
    # day holds no state that was evicted before it), and run 3's older
    # row is dropped.
    import datetime as dt

    landing = tmp_path / "landing"
    landing.mkdir()

    def land(name, event_id, ts, value):
        _land(landing, name, [
            {"event_id": event_id, "ts": ts, "user_id": 10,
             "event_type": "click", "value": value, "props": "{}"}
        ])

    sink, chk = str(tmp_path / "sink"), str(tmp_path / "chk")

    def run():
        q = sev.start_daily_rollup_to_parquet(
            spark, str(landing), sink, chk, watermark="1 day", available_now=True
        )
        q.awaitTermination(120)
        return len(q.recentProgress)

    land("b0.parquet", 1, dt.datetime(2024, 3, 1, 12), 1.0)
    assert run() == 1
    # both rows are older than the watermark (2024-03-01 - 1 day)
    land("b1.parquet", 2, dt.datetime(2024, 2, 10, 12), 7.0)
    assert run() == 1
    land("b2.parquet", 3, dt.datetime(2024, 2, 1, 12), 99.0)
    assert run() == 1
    rows = {(r["day"], r["n_events"]) for r in spark.read.parquet(sink).collect()}
    # the February 1 day never materializes
    assert rows == {(dt.date(2024, 3, 1), 1), (dt.date(2024, 2, 10), 1)}
