"""Outside-in tracing for the benchmark: timers around public calls, Spark
job groups, and a stdlib parser for the uncompressed Spark event log.

Nothing here touches program code. A layer's time comes either from a
wrapper around one of its public functions (eager calls: paging, commits,
watermark reads and writes) or from the difference between two prefixes of
the op run to the ``noop`` sink (lazy stages: staging, scan, merge).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame

STAT_KEYS = ("executor_run_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "jobs")


@contextmanager
def job_group(sc, group: str):
    """Run the enclosed Spark jobs under job group ``group``."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


class Spans:
    """Per-op wall time per span name, from wrapped public calls."""

    def __init__(self) -> None:
        self.t: dict[str, float] = defaultdict(float)

    def wrap(self, obj, attr: str, name: str, sc=None, group=None) -> None:
        """Shadow ``obj.attr`` with a timed call; ``group()``, when given,
        names the Spark job group its jobs run under."""
        inner = getattr(obj, attr)

        def timed(*a, **kw):
            with nullcontext() if group is None else job_group(sc, group()):
                t0 = time.perf_counter()
                try:
                    return inner(*a, **kw)
                finally:
                    self.t[name] += time.perf_counter() - t0

        setattr(obj, attr, timed)


def run_noop(df: DataFrame, sc, group: str) -> float:
    """Run ``df`` to the noop sink under job group ``group``; wall seconds."""
    with job_group(sc, group):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


class RecordingFetch:
    """``fetch_json`` wrapper that appends one line per request (url,
    response bytes, rows) to ``log_path``."""

    def __init__(self, inner, log_path: str) -> None:
        self.inner = inner
        self.log_path = log_path

    def __call__(self, url: str) -> dict:
        payload = self.inner(url)
        size = len(json.dumps(payload, separators=(",", ":")))
        line = f"{url}\t{size}\t{len(payload.get('results', ()))}\n"
        with open(self.log_path, "a", encoding="utf-8") as f:
            f.write(line)
        return payload


def read_requests(log_path: str) -> list[tuple[str, int, int]]:
    if not os.path.exists(log_path):
        return []
    out = []
    with open(log_path, encoding="utf-8") as f:
        for line in f:
            url, size, rows = line.rstrip("\n").split("\t")
            out.append((url, int(size), int(rows)))
    return out


def jvm_counters(spark) -> tuple[int, int]:
    """(cumulative JIT compile ms, cumulative GC ms) of the driver JVM."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    gc = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    return int(mf.getCompilationMXBean().getTotalCompilationTime()), int(gc)


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group → summed task metrics, from every event-log file under
    ``log_dir`` (JSON lines, uncompressed)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(STAT_KEYS, 0.0))
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(f)
    )
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    s = out[group]
                    s["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    rd = m.get("Shuffle Read Metrics") or {}
                    s["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    wr = m.get("Shuffle Write Metrics") or {}
                    s["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(out)


def combine(groups: dict[str, dict[str, float]], terms: list[tuple[str, int]]) -> dict[str, float]:
    """Signed sum of group stats (a layer = its prefix minus the shorter
    prefix), each metric clamped at 0."""
    acc = dict.fromkeys(STAT_KEYS, 0.0)
    for name, sign in terms:
        for k, v in groups.get(name, {}).items():
            acc[k] += sign * v
    return {k: max(0.0, v) for k, v in acc.items()}
