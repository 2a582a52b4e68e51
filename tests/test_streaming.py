"""Structured Streaming daily rollup: micro-batch over the events table."""

from __future__ import annotations

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


def test_empty_final_batch_skips_the_upsert(spark, landing, tmp_path):
    # availableNow ends with a no-data batch; upserting it would
    # rewrite the whole sink with identical rows. One data batch must
    # give exactly one upsert call, and the sink matches a plain run's.
    from big_data_in_agriculture_spark.sources.upsert import upsert_parquet

    calls = []

    def counting(spark_, batch, path, key):
        calls.append(batch.count())
        return upsert_parquet(spark_, batch, path, key)

    def run(name, upsert_fn=None):
        sink = str(tmp_path / f"sink-{name}")
        sev.start_daily_rollup_to_parquet(
            spark, str(landing), sink, str(tmp_path / f"chk-{name}"),
            available_now=True, upsert_fn=upsert_fn,
        ).awaitTermination(120)
        return sorted(map(tuple, spark.read.parquet(sink).collect()))

    counted = run("counted", counting)
    assert len(calls) == 1 and calls[0] > 0
    assert counted == run("plain")
