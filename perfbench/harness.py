"""Measurement plumbing shared by the workloads.

Everything here observes the program from outside: spans recorded around
calls the benchmark makes, job groups the benchmark sets, Spark's own
status store (the data behind ``SparkContext.statusTracker``), and
``/proc`` for memory.  Nothing is patched into the package.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process was started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def cpu_calibration(threads: int) -> dict:
    """Fixed-work CPU stamp: md5 over 64 MiB on one thread, then on each of
    ``threads`` threads at once (md5 releases the GIL on large buffers)."""
    block = b"\xa5" * (1 << 20)

    def work(_: int = 0) -> None:
        h = hashlib.md5()
        for _ in range(64):
            h.update(block)

    t0 = time.perf_counter()
    work()
    t1 = time.perf_counter()
    with ThreadPoolExecutor(threads) as pool:
        list(pool.map(work, range(threads)))
    t2 = time.perf_counter()
    return {"calib_1t_s": t1 - t0, f"calib_{threads}t_s": t2 - t1}


def descendants(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for ``root`` and
    every process below it (field ``n`` of proc(5) is at index ``n - 3``)."""
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stats[int(entry)] = fh.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants, counting exited children their parents have reaped.
    Time the host steals from the guest is not counted."""
    return sum(
        sum(int(f[i]) for i in (11, 12, 13, 14)) for f in descendants(os.getpid()).values()
    ) / CLK_TCK


class RssSampler:
    """Peak summed RSS of this process and all its descendants
    (the gateway JVM and the Python workers it forks)."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * PAGE
            except (OSError, ValueError, IndexError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)


class Tracer:
    """Spans and job groups around every call the benchmark makes.

    Job groups are set in both modes so that Spark jobs can be attributed
    to passes and calls; spans and the extra per-call probes only run when
    ``enabled``.
    """

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.pass_index = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, group: str | None = None):
        """Time one call into ``layer``; ``group`` (if given) becomes the
        Spark job group of every job started inside the block."""
        if group is not None:
            self.sc.setJobGroup(group, name)
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "group": group,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "pass": self.pass_index,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class StatusStore:
    """Jobs and stages from Spark's in-memory status store, as JSON."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._jvm = jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala.__getattr__("MODULE$")
        )

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        raw = self._store.stageList(
            None, False, False, self._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        return json.loads(self._mapper.writeValueAsString(raw))


def pinned(spark) -> tuple[int, int]:
    """(persistent RDD count, bytes those RDDs hold in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    held = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    return n, held


def pinned_after_gc(spark, settle_s: float = 3.0) -> tuple[int, int]:
    """Python GC and JVM GC, then wait until the ContextCleaner stops
    unpersisting (two equal readings in a row, or ``settle_s``)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    last = pinned(spark)
    deadline = time.monotonic() + settle_s
    while time.monotonic() < deadline:
        time.sleep(0.25)
        cur = pinned(spark)
        if cur == last:
            break
        last = cur
    return last


def dir_bytes(root: str) -> tuple[int, int]:
    """(data files, bytes) under ``root``, ignoring checksum and marker files."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
