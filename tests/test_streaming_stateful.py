"""Native session windows + applyInPandasWithState custom state."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from big_data_in_agriculture_spark.operators.relational import sessionize
from big_data_in_agriculture_spark.streaming import events as sev

SF_DIR = "/root/testdata/sf0.001"


def _events(spark):
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as em

    return em._t(spark, SF_DIR, "events")


def test_session_window_matches_lag_cumsum_formulation(spark):
    # two independent implementations of the same session semantics
    ev = _events(spark)
    native = sev.session_rollup(ev, gap="30 minutes")
    manual = sessionize(ev, gap_minutes=30).drop("session_seq")
    n = {tuple(r) for r in native.select("user_id", "n_events", "session_start", "session_end").collect()}
    m = {tuple(r) for r in manual.select("user_id", "n_events", "session_start", "session_end").collect()}
    assert n == m and len(n) > 100


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    # batch 0 advances the watermark far into the future; batch 1's
    # older-than-watermark rows must be dropped, not reopen closed days
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    landing = tmp_path / "landing"
    landing.mkdir()

    def land(name, event_id, ts, value):
        # flat single FILE (df.write.parquet makes a directory, which
        # the file-stream source does not recurse into by default)
        pdf = pd.DataFrame(
            {"event_id": [event_id], "ts": [pd.Timestamp(ts)], "user_id": [10],
             "event_type": ["click"], "value": [value], "props": ["{}"]}
        )
        pq.write_table(
            pa.Table.from_pandas(pdf).cast(
                pa.schema(
                    [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                     ("user_id", pa.int64()), ("event_type", pa.string()),
                     ("value", pa.float64()), ("props", pa.string())]
                )
            ),
            landing / name,
        )

    land("b0.parquet", 1, dt.datetime(2024, 3, 1, 12), 1.0)
    sink, chk = str(tmp_path / "sink"), str(tmp_path / "chk")

    def run():
        rollup = sev.daily_event_rollup(
            sev.read_events_stream(spark, str(landing), nanos_ts=False),
            watermark="1 day",
        )

        def _sink(bdf, bid):
            from big_data_in_agriculture_spark.sources.upsert import upsert_parquet

            upsert_parquet(spark, bdf, sink, ["event_type", "day"])

        q = (
            rollup.writeStream.outputMode("update")
            .option("checkpointLocation", chk)
            .foreachBatch(_sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # a row 30 days older than the watermark (2024-03-01 - 1 day)
    land("b1.parquet", 2, dt.datetime(2024, 2, 1, 12), 99.0)
    run()
    days = {r["day"] for r in spark.read.parquet(sink).collect()}
    # the late February day never materializes
    assert days == {dt.date(2024, 3, 1)}


def test_stream_stream_join_matches_batch(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", landing / "b0.parquet")
    stream = sev.read_events_stream(spark, str(landing))
    joined = sev.click_purchase_join_stream(stream, attribution_window="1 day")
    sink = str(tmp_path / "sink")
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", sink)
        .start()
    )
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.read.parquet(sink).collect()}
    batch = {
        tuple(r)
        for r in sev.click_purchase_join_stream(
            _events(spark), attribution_window="1 day"
        ).collect()
    }
    assert got == batch and len(got) > 50  # 84 pairs at sf0.001/1-day


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", landing / "b0.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", landing / "b1.parquet")

    stream = sev.read_events_stream(
        spark, str(landing), max_files_per_trigger=1
    )
    totals = sev.running_user_totals_stream(stream)
    sink = str(tmp_path / "state_sink")

    def _append(batch_df, batch_id):
        batch_df.write.mode("append").parquet(sink)

    q = (
        totals.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .foreachBatch(_append)
        .start()
    )
    q.awaitTermination(180)

    # last emitted row per user = totals over BOTH copies of the file
    got = (
        spark.read.parquet(sink)
        .groupBy("user_id")
        .agg(F.max("n_events_total").alias("n"))
    )
    expected = (
        _events(spark).groupBy("user_id").agg((F.count(F.lit(1)) * 2).alias("n"))
    )
    g = {r["user_id"]: r["n"] for r in got.collect()}
    e = {r["user_id"]: r["n"] for r in expected.collect()}
    assert g == e


def test_debounce_stream_collapses_bursts_across_batches(spark, tmp_path):
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    landing = tmp_path / "landing"
    landing.mkdir()
    schema = pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())]
    )

    def land(name, rows):
        pdf = pd.DataFrame(
            {"event_id": [r[0] for r in rows],
             "ts": [pd.Timestamp(r[1]) for r in rows],
             "user_id": [r[2] for r in rows],
             "event_type": ["click"] * len(rows),
             "value": [0.0] * len(rows), "props": ["{}"] * len(rows)}
        )
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema), landing / name)

    s = lambda sec: dt.datetime(2024, 1, 1, 0, 0, sec)
    # batch 0: opener + in-burst repeat; batch 1 CONTINUES the burst
    # (30s after batch 0's last event) then opens a fresh burst
    land("b0.parquet", [(1, s(0), 7), (2, s(30), 7)])
    land("b1.parquet", [(3, s(55), 7), (4, dt.datetime(2024, 1, 1, 0, 2, 0), 7)])

    stream = sev.read_events_stream(
        spark, str(landing), nanos_ts=False, max_files_per_trigger=1
    )
    sink = str(tmp_path / "debounce_sink")
    q = (
        sev.debounce_stream(stream, gap_seconds=60)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", sink)
        .start()
    )
    q.awaitTermination(180)
    kept = sorted(r["event_id"] for r in spark.read.parquet(sink).collect())
    # burst 1-2-3 collapses to opener 1 even across the batch boundary
    assert kept == [1, 4]


def test_heavy_hitters_stream_bounded_state(spark, tmp_path):
    """Misra-Gries summaries: the planted heavy item survives with
    count_lb within the undercount bound across micro-batches; with
    <= k distinct items a group's counts are exact."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    landing = tmp_path / "landing"
    landing.mkdir()
    schema = pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())]
    )

    def land(name, types):
        n = len(types)
        pdf = pd.DataFrame(
            {"event_id": list(range(n)),
             "ts": [pd.Timestamp(dt.datetime(2024, 1, 1))] * n,
             "user_id": [1] * n, "event_type": types,
             "value": [0.0] * n, "props": ["{}"] * n}
        )
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema), landing / name)

    # 60 'hot' + a long tail of 30 singletons, split across 2 batches
    land("b0.parquet", ["hot"] * 30 + [f"t{i}" for i in range(15)])
    land("b1.parquet", ["hot"] * 30 + [f"t{i}" for i in range(15, 30)])

    stream = sev.read_events_stream(
        spark, str(landing), nanos_ts=False, max_files_per_trigger=1
    )
    sink = str(tmp_path / "hh_sink")

    def _sink(bdf, bid):
        bdf.withColumn("batch", F.lit(bid)).write.mode("append").parquet(sink)

    q = (
        sev.heavy_hitters_stream(stream, "event_type", k=4, n_groups=1)
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .foreachBatch(_sink)
        .start()
    )
    q.awaitTermination(180)
    out = spark.read.parquet(sink).collect()
    # last batch's emission = rows with the highest count for 'hot'
    hot = max((r for r in out if r["item"] == "hot"), key=lambda r: r["count_lb"])
    # MG guarantee on the group substream: 60 true occurrences,
    # undercount bounded by the decrement total
    assert hot["count_lb"] >= 60 - hot["max_undercount"]
    assert hot["count_lb"] <= 60
    # the heavy item must survive: true freq (60) > decs
    assert hot["max_undercount"] < 60
    # state is bounded: never more than k items reported per emission
    from collections import Counter

    per_emission = Counter((r["group"], r["count_lb"], r["max_undercount"]) for r in out)
    assert all(r["count_lb"] > 0 for r in out)


def test_heavy_hitters_exact_when_under_k(spark, tmp_path):
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    landing = tmp_path / "landing"
    landing.mkdir()
    schema = pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())]
    )
    types = ["a"] * 5 + ["b"] * 3 + ["c"] * 2
    pdf = pd.DataFrame(
        {"event_id": list(range(len(types))),
         "ts": [pd.Timestamp(dt.datetime(2024, 1, 1))] * len(types),
         "user_id": [1] * len(types), "event_type": types,
         "value": [0.0] * len(types), "props": ["{}"] * len(types)}
    )
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema), landing / "b0.parquet")

    stream = sev.read_events_stream(spark, str(landing), nanos_ts=False)
    sink = str(tmp_path / "hh2_sink")

    def _sink(bdf, bid):
        bdf.write.mode("append").parquet(sink)

    q = (
        sev.heavy_hitters_stream(stream, "event_type", k=8, n_groups=1)
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk2"))
        .trigger(availableNow=True)
        .foreachBatch(_sink)
        .start()
    )
    q.awaitTermination(180)
    got = {r["item"]: (r["count_lb"], r["max_undercount"])
           for r in spark.read.parquet(sink).collect()}
    assert got == {"a": (5, 0), "b": (3, 0), "c": (2, 0)}


def _protobuf_usable() -> bool:
    """True when google.protobuf imports AND decodes PySpark's state
    protocol — either a real install or the conftest _protoshim
    (App Engine runtime + relaxed gencode gate)."""
    try:
        from pyspark.sql.streaming.proto import StateMessage_pb2 as m

        req = m.StateRequest(version=1)
        out = m.StateRequest()
        out.ParseFromString(req.SerializeToString())
        return out.version == 1
    except Exception:
        return False


@pytest.mark.skipif(
    not _protobuf_usable(),
    reason="no usable google.protobuf runtime on this machine "
    "(no pip install, and the Cloud-SDK on-disk runtime is absent)",
)
def test_transform_with_state_accumulates_across_batches(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: ValueState survives batches."""
    import datetime as dt

    from big_data_in_agriculture_spark.streaming import events as sev

    land = tmp_path / "land"
    land.mkdir()
    t0 = dt.datetime(2024, 2, 1)

    def batch(name, rows):
        spark.createDataFrame(rows, sev.EVENTS_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(land / name))

    batch("b0", [(1, t0, 7, "click", 2.0, "{}"),
                 (2, t0, 7, "click", 5.0, "{}"),
                 (3, t0, 8, "click", 1.0, "{}")])
    batch("b1", [(4, t0, 7, "click", 3.0, "{}")])

    stream = sev.read_events_stream(
        spark, str(land) + "/*", nanos_ts=False, max_files_per_trigger=1
    )
    sink = str(tmp_path / "sink")
    # transformWithState keeps each state variable in its own column
    # family — only the RocksDB provider supports that (the default
    # HDFS-backed store refuses); runtime-settable, restored after.
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            sev.user_value_stats_stream(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "chk"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
    finally:
        if prev is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, prev)
    rows = spark.read.parquet(sink).collect()
    # last emitted row per user reflects the full accumulated state
    final = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r
    assert final[7]["n_events"] == 3
    assert final[7]["value_sum"] == 10.0
    assert final[7]["value_max"] == 5.0
    assert final[8]["n_events"] == 1


def test_drift_monitor_flags_flood_after_reference(spark, tmp_path):
    """5 stable batches establish the reference rate; a 10x flood batch
    must raise cusum_pos past threshold·μ and flag drifted — while the
    stable prefix never alarms."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    landing = tmp_path / "landing"
    landing.mkdir()
    schema = pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())]
    )
    t0 = dt.datetime(2024, 7, 1)
    eid = 0

    def land(name, n_events):
        nonlocal eid
        rows = {
            "event_id": list(range(eid, eid + n_events)),
            "ts": [pd.Timestamp(t0 + dt.timedelta(minutes=i)) for i in range(n_events)],
            "user_id": [1] * n_events,
            "event_type": ["click"] * n_events,
            "value": [1.0] * n_events,
            "props": ["{}"] * n_events,
        }
        eid += n_events
        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame(rows)).cast(schema),
            str(landing / name),
        )

    for b in range(5):
        land(f"b{b}.parquet", 4)  # reference: 4 events/batch
    land("b5.parquet", 40)  # flood

    stream = sev.read_events_stream(
        spark, str(landing), nanos_ts=False, max_files_per_trigger=1
    )
    # quiet_timeout disabled: this test replays a fixed batch sequence
    # and a wall-clock timeout tick would add a 7th, timing-dependent
    # row; the quiet-key path has its own test below.
    out = sev.drift_monitor_stream(
        stream, reference_batches=5, slack=0.5, threshold=5.0,
        quiet_timeout_ms=None,
    )
    chk = str(tmp_path / "chk")
    q = (
        out.writeStream.format("memory")
        .queryName("drift_t")
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM drift_t ORDER BY n_batches"
    ).collect()
    assert [r["n_batches"] for r in rows] == [1, 2, 3, 4, 5, 6]
    # stable prefix: no alarms, reference rate = 4
    for r in rows[:5]:
        assert not r["drifted"] and r["cusum_pos"] == 0.0
    assert rows[4]["reference_rate"] == 4.0
    # flood batch: deviation 36 − slack 2 = 34 > 5 × 4
    flood = rows[5]
    assert flood["drifted"] and flood["cusum_pos"] == 34.0
    assert flood["n_events"] == 60


def test_drift_monitor_alarms_on_fully_quiet_key(spark, tmp_path):
    """A key absent from every later micro-batch must still alarm: the
    processing-time timeout ticks it as a batch of 0 events, pushing
    S⁻ past threshold·μ."""
    import datetime as dt
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    landing = tmp_path / "landing"
    landing.mkdir()
    schema = pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())]
    )
    t0 = dt.datetime(2024, 8, 1)

    def land(name, typed_counts, base):
        rows = {"event_id": [], "ts": [], "user_id": [], "event_type": [],
                "value": [], "props": []}
        eid = base
        for etype, n in typed_counts:
            for i in range(n):
                rows["event_id"].append(eid)
                rows["ts"].append(pd.Timestamp(t0 + dt.timedelta(minutes=eid)))
                rows["user_id"].append(1)
                rows["event_type"].append(etype)
                rows["value"].append(1.0)
                rows["props"].append("{}")
                eid += 1
        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame(rows)).cast(schema),
            str(landing / name),
        )

    chk = str(tmp_path / "chk")
    sink = str(tmp_path / "sink")

    def run(n_rows):
        stream = sev.read_events_stream(
            spark, str(landing), nanos_ts=False, max_files_per_trigger=1
        )
        out = sev.drift_monitor_stream(
            stream, reference_batches=1, slack=0.5, threshold=0.25,
            quiet_timeout_ms=500,
        )
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(
                lambda bdf, _bid: bdf.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        # The quiet key's re-armed processing-time timer keeps firing
        # no-data batches, so this availableNow query never terminates
        # by itself (nor does processAllAvailable return): wait until
        # the newly landed rows have been processed, then stop it, so
        # the next run is the only live query on the checkpoint.
        deadline = time.monotonic() + 120
        try:
            while sum(p["numInputRows"] for p in q.recentProgress) < n_rows:
                if time.monotonic() > deadline:
                    raise TimeoutError(f"{n_rows} rows not processed")
                time.sleep(0.1)
        finally:
            q.stop()

    land("b0.parquet", [("alive", 4), ("ghost", 4)], 0)
    run(8)  # both keys establish reference rate 4/batch
    time.sleep(1.0)  # let ghost's 500ms quiet timer expire
    land("b1.parquet", [("alive", 4)], 100)
    run(4)  # alive updates normally; ghost ticks via timeout

    rows = spark.read.parquet(sink).collect()
    ghost_rows = sorted(
        (r for r in rows if r["event_type"] == "ghost"),
        key=lambda r: r["n_batches"],
    )
    alive_rows = sorted(
        (r for r in rows if r["event_type"] == "alive"),
        key=lambda r: r["n_batches"],
    )
    # THE contract under test: ghost received ONLY silence ticks after
    # its reference batch — n_events frozen at 4 — and must alarm:
    # each tick adds S⁻ += 4 − slack·4 = 2 > threshold·μ = 1. (Without
    # the processing-time timeout, ghost would never be re-evaluated
    # at all — zero post-reference rows — and never alarm.)
    assert all(r["n_events"] == 4 for r in ghost_rows)
    assert len(ghost_rows) >= 2  # at least one timeout tick happened
    assert any(r["drifted"] for r in ghost_rows[1:])
    assert ghost_rows[-1]["cusum_neg"] >= 2.0
    # alive's real data arrived (both batches counted). Its ALARM state
    # is timing-dependent here: wall-clock batches can exceed the tiny
    # 500ms test timer, giving alive legitimate silence ticks too — so
    # only the event accounting is asserted for it.
    assert alive_rows[-1]["n_events"] == 8
