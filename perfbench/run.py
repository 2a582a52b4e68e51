"""agrispark benchmark: one workload per process, closed loop, one session.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # all three

Run from the repo root.  The process launches one SparkSession on
``local[nproc]`` through ``session.get_spark``, restarts it
``SETUP_STARTS`` times to time the set-up, prepares the workload's inputs
from ``--seed``, runs the workload's unmeasured passes (the cold pass,
and on some workloads one more), then measured passes until
``--seconds`` have passed (at least ``MIN_MEASURED`` of them), and
checks every call's output.  With ``--trace 0`` it reports the end-to-end metrics;
with ``--trace 1`` it records spans and reports the per-layer metrics
instead (see ``perfbench/README.md``).  The last line of stdout is the
JSON result.  All working files live under ``.perfbench/`` in the repo
root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = [
    "__spark_entry__.py",
    "big_data_in_agriculture_spark/session.py",
    "scripts/fuzzdata.py",
    "scripts/selfcheck.py",
    "tests/_hdf5_writer.py",
]
#: BENCHMARK.json's workloads come first; ``--workload all``
#: runs these three in this order.
ALL = ["analytics_mix", "era5_etl_serve", "iterative_graph"]
#: Measured seconds per run; BENCHMARK.json's run_seconds.
RUN_SECONDS = 5
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
#: setup_s is the median of this many session starts in one run.
SETUP_STARTS = 5
#: Measured passes a run makes at least.  A traced run traces every second
#: one and compares it with the untraced ones around it for
#: trace.overhead_frac.
MIN_MEASURED = {0: 1, 1: 3}
#: job_tail_s is this percentile of per-job latency (see README.md).
TAIL_PCT = 80


def start_session(work: str, threads: int, traced: bool):
    from big_data_in_agriculture_spark.session import get_spark  # noqa: PLC0415

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage in the status store for the metrics
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
        })
    spark = get_spark(
        "perfbench", master=f"local[{threads}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ready(spark) -> None:
    """A one-row job: the session can schedule work."""
    spark.range(1).count()


def session_starts(work: str, threads: int, traced: bool):
    """Launch the session, then stop and restart it ``SETUP_STARTS`` times.

    Returns (session, seconds from process start to the first ready
    session, (wall, CPU) seconds of each restart until ready).
    """
    from harness import process_age_s, tree_cpu_s  # noqa: PLC0415

    spark = start_session(work, threads, traced)
    ready(spark)
    launch_s = process_age_s()
    starts = []
    for _ in range(SETUP_STARTS):
        spark.stop()
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        spark = start_session(work, threads, traced)
        ready(spark)
        starts.append((time.perf_counter() - t0, tree_cpu_s() - cpu0))
    return spark, launch_s, starts


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for every child to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    from harness import descendants  # noqa: PLC0415

    deadline = time.monotonic() + 30
    while len(descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


def percentile(values: list[float], pct: float) -> float:
    import numpy as np  # noqa: PLC0415

    return float(np.percentile(values, pct)) if values else 0.0


def in_passes(group: str | None, passes: set[int]) -> bool:
    return bool(group) and group.startswith("p") and int(group[1:].split("/", 1)[0]) in passes


def under(job_group: str, group: str) -> bool:
    return job_group == group or job_group.startswith(group + "/")


def job_seconds(job: dict) -> float:
    return (job["completionTime"] - job["submissionTime"]) / 1000.0


def warm_job_seconds(jobs: list[dict], warm: list[int]) -> list[float]:
    return [
        job_seconds(j) for j in jobs
        if j.get("completionTime") and in_passes(j.get("jobGroup"), set(warm))
    ]


def end_to_end(run, setup_s: float, warm: list[int]) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_cpu_s": (run.pass_seconds(0, "cpu"), "s"),
        "pass_cpu_s": (statistics.median(run.pass_seconds(k, "cpu") for k in warm), "s"),
    }


def wall(run, warm: list[int], jobs: list[dict], peak_rss: int) -> dict:
    """Wall-clock figures of the untraced passes.  They follow the load
    other tenants put on the host, so they carry no bound (README.md)."""
    durations = warm_job_seconds(jobs, warm)
    return {
        "wall.cold_pass_s": (run.pass_seconds(0), "s"),
        "wall.pass_s": (statistics.median(run.pass_seconds(k) for k in warm), "s"),
        "wall.job_p50_s": (percentile(durations, 50), "s"),
        "wall.job_tail_s": (percentile(durations, TAIL_PCT), "s"),
        "wall.peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


def per_layer(run, launch_s, traced, untraced, jobs, stages, pins_after_gc) -> dict:
    """Per-layer metrics, per traced warm pass unless stated otherwise."""
    from harness import union_s  # noqa: PLC0415
    from workloads import GRAPH, MIX, SERVE_KINDS, STREAM  # noqa: PLC0415

    n = len(traced)
    tset = set(traced)
    calls = [c for c in run.calls if c["pass"] in tset]
    pjobs = [j for j in jobs if j.get("completionTime") and in_passes(j.get("jobGroup"), tset)]
    stage_ids = {sid for j in pjobs for sid in j["stageIds"]}
    pstages = [s for s in stages if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]

    def per_pass(x: float) -> float:
        return x / n

    def dur(layer: str, name: str | None = None) -> float:
        return sum(
            s["end"] - s["start"] for s in run.tracer.spans
            if s["layer"] == layer and (name is None or s["name"] == name)
            and s.get("pass") in tset
        )

    gap = 0.0
    for c in calls:
        busy = [
            (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
            for j in pjobs if under(j["jobGroup"], c["group"])
        ]
        gap += c["s"] - union_s(busy)
    stage_sum = lambda key: sum(s[key] for s in pstages)  # noqa: E731
    run_ms, cpu_ms = stage_sum("executorRunTime"), stage_sum("executorCpuTime") / 1e6
    # Serve latencies come from the untraced warm passes of this run.
    uset = set(untraced)
    serve_calls = {
        k: [c["s"] * 1000 for c in run.calls if c["pass"] in uset and c["layer"] == "serve" and c["name"] == k]
        for k in SERVE_KINDS
    }
    serve_all = [x for v in serve_calls.values() for x in v]
    traced_serve = [c for c in calls if c["layer"] == "serve"]
    serve_jobs = sum(1 for j in pjobs for c in traced_serve if under(j["jobGroup"], c["group"]))
    extra = {k: sum(v) for k, v in run.extra.items()}
    stream_s = extra.get("stream.batch_ms", 0.0) / 1000.0
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    t_med = med([run.pass_seconds(k) for k in traced])
    u_med = med([run.pass_seconds(k) for k in untraced])
    n_era5 = len(run.extra.get("marts.bytes", [])) or 1

    m = {
        "session.start_s": (launch_s, "s"),
        "entry.build_s": (per_pass(dur("entry")), "s"),
        "entry.build_jobs": (per_pass(sum(1 for j in pjobs if j["jobGroup"].endswith("/entry"))), "count"),
        "plan.s": (per_pass(dur("plan")), "s"),
        "exec.jobs": (per_pass(len(pjobs)), "count"),
        "exec.driver_gap_ms": (per_pass(gap) * 1000, "ms"),
        "exec.stages": (per_pass(len(pstages)), "count"),
        "exec.tasks": (per_pass(stage_sum("numCompleteTasks")), "count"),
        "exec.task_run_ms": (per_pass(run_ms), "ms"),
        "exec.task_cpu_ms": (per_pass(cpu_ms), "ms"),
        "exec.non_jvm_ms": (per_pass(run_ms - cpu_ms), "ms"),
        "exec.gc_ms": (per_pass(stage_sum("jvmGcTime")), "ms"),
        "exec.shuffle_read_bytes": (per_pass(stage_sum("shuffleReadBytes")), "B"),
        "exec.shuffle_write_bytes": (per_pass(stage_sum("shuffleWriteBytes")), "B"),
        "exec.spill_bytes": (per_pass(stage_sum("diskBytesSpilled")), "B"),
        "pins.rdds_peak": (run.pin_peak, "count"),
        "pins.rdds_after_gc": (pins_after_gc[0], "count"),
        "pins.storage_bytes_after_gc": (pins_after_gc[1], "B"),
        "streaming.batches": (per_pass(extra.get("stream.batches", 0)), "count"),
        "streaming.trigger_s": (stream_s / extra["stream.batches"] if extra.get("stream.batches") else 0.0, "s"),
        "streaming.rows_per_s": (extra.get("stream.rows", 0) / stream_s if stream_s else 0.0, "1/s"),
        "sources.netcdf.decode_s": (extra.get("decode_s", 0.0), "s"),
        "sources.netcdf.decode_rows_per_s": (
            run.workload.grid_rows / extra["decode_s"] if extra.get("decode_s") else 0.0, "1/s"),
        "sources.marts.write_hourly_s": (per_pass(dur("sources.marts", "hourly_mart")), "s"),
        "sources.marts.write_daily_s": (per_pass(dur("sources.marts", "daily_mart")), "s"),
        "sources.marts.files_written": (extra.get("marts.files", 0) / n_era5, "count"),
        "sources.marts.bytes_written": (extra.get("marts.bytes", 0) / n_era5, "B"),
        "sources.upsert.s": (per_pass(dur("sources.upsert")), "s"),
        "sources.upsert.bytes_written": (extra.get("upsert.bytes", 0) / n_era5, "B"),
        "sources.write_amp": (med(run.extra.get("write_amp", [])), "ratio"),
        "operators.hourly.s": (extra.get("hourly_s", 0.0), "s"),
        "operators.daily.s": (extra.get("daily_s", 0.0), "s"),
        "serve.p50_ms": (percentile(serve_all, 50), "ms"),
        "serve.tail_ms": (percentile(serve_all, TAIL_PCT), "ms"),
        "serve.jobs_per_call": (serve_jobs / len(traced_serve) if traced_serve else 0.0, "count"),
        "serve.cache_hit_ratio": (
            run.serve_hits / run.serve_lookups if run.serve_lookups else 0.0, "ratio"),
        "error_rate": (run.failed / run.attempted, "ratio"),
        "trace.overhead_frac": (t_med / u_med - 1.0 if u_med else 0.0, "ratio"),
    }
    for k in SERVE_KINDS:
        m[f"serve.{k}_ms"] = (med(serve_calls[k]), "ms")
    for name in MIX + GRAPH + [STREAM]:
        m[f"job.{name}.s"] = (med([c["s"] for c in calls if c["name"] == name]), "s")
    return m


def run_all(args) -> int:
    """Each workload in its own process, one after the other."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in ALL:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"workload {name} exited with {out.returncode}", file=sys.stderr)
            return 1
        print(f"{name}: {lines[-1]}", flush=True)
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for metric, val in res["metrics"].items():
            merged["metrics"][f"{name}.{metric}"] = val
    print(json.dumps(merged))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path[:0] = [HERE, ROOT]
    from harness import RssSampler, StatusStore, cpu_calibration, nproc, pinned_after_gc  # noqa: PLC0415
    from workloads import WORKLOADS, Run  # noqa: PLC0415

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all", file=sys.stderr)
        return 2
    traced_run = bool(args.trace)
    threads = nproc()
    base = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(base, "cache")
    work = os.path.join(base, f"run-{os.getpid()}")
    for d in (cache, os.path.join(work, "tmp"), os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        # Python workers import the package (mapInPandas islands)
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = os.path.join(work, "tmp")

    try:
        with RssSampler() as rss:
            spark, launch_s, starts = session_starts(work, threads, traced_run)
            # CPU seconds, like the pass metrics: wall time follows the
            # time the host steals from the guest (README.md)
            setup_s = statistics.median(cpu for _, cpu in starts)
            try:
                stamp = {
                    "workload": args.workload, "seed": args.seed, "nproc": threads,
                    "master": spark.sparkContext.master, "launch_s": launch_s,
                    "setup_starts_wall_s": [w for w, _ in starts],
                    "setup_starts_cpu_s": [c for _, c in starts], **cpu_calibration(threads),
                }
                run = Run(spark, ROOT, work, args.seed, traced=traced_run, threads=threads)
                run.workload = wl = WORKLOADS[args.workload]()
                t0 = time.perf_counter()
                wl.prepare(run, cache)
                stamp["prepare_s"] = time.perf_counter() - t0
                stamp.update(getattr(wl, "sizes", {}))
                traced, untraced = [], []
                deadline = None
                k = 0
                while k < wl.warmup + MIN_MEASURED[args.trace] or time.monotonic() < deadline:
                    run.pass_index = run.tracer.pass_index = k
                    run.tracer.enabled = traced_run and k >= wl.warmup and (k - wl.warmup) % 2 == 1
                    wl.run_pass(run)
                    if k == wl.warmup - 1:
                        deadline = time.monotonic() + args.seconds
                    elif k >= wl.warmup:
                        (traced if run.tracer.enabled else untraced).append(k)
                    k += 1
                store = StatusStore(spark)
                jobs = store.jobs()
                stamp["warm_jobs"] = len(warm_job_seconds(jobs, untraced))
                figures = wall(run, untraced, jobs, rss.peak_bytes)
                if traced_run:
                    run.tracer.enabled = True
                    run.tracer.pass_index = None
                    pins = pinned_after_gc(spark)
                    if hasattr(wl, "probes"):
                        wl.probes(run)
                    metrics = per_layer(run, launch_s, traced, untraced, jobs, store.stages(), pins)
                    metrics.update(figures)
                    app_id = spark.sparkContext.applicationId
            finally:
                stop_session(spark)
        if traced_run:
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            tag = f"{args.workload}-seed{args.seed}"
            run.tracer.dump(os.path.join(traces, f"{tag}.spans.json"))
            for name in os.listdir(os.path.join(work, "eventlog")):
                if app_id in name:  # a file, or a directory of rolled files
                    src, dst = os.path.join(work, "eventlog", name), os.path.join(traces, f"{tag}.eventlog")
                    shutil.rmtree(dst, ignore_errors=True)
                    (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
        else:
            metrics = end_to_end(run, setup_s, untraced)
            figures["wall.peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
            stamp.update({name: v for name, (v, _) in figures.items()})
    finally:
        shutil.rmtree(work, ignore_errors=True)

    stamp["passes"] = k
    stamp["pass_s"] = [run.pass_seconds(i) for i in range(k)]
    stamp["pass_cpu_s"] = [run.pass_seconds(i, "cpu") for i in range(k)]
    stamp["calls"] = {}
    for c in run.calls:
        stamp["calls"].setdefault(c["name"], []).append(round(c["s"], 3))
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": v, "unit": u} for name, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
