"""Closed-loop benchmark of the SRI sync engine and the dedup pipeline.

Usage (from the repository root):

    python3 perfbench/run.py --workload delta_sync --seed 1 --seconds 20 --trace 0

One client, one op at a time, on ``local[nproc]``. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` runs plain and traced ops alternately
with the Spark event log on and prints the per-layer metrics. The last
stdout line is the result JSON; the line before it holds per-run noise
diagnostics (machine probe, JIT and GC per op, every op's wall time).
Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_s_p50": "s",
    "records_per_s": "1/s",
    "ok_frac": "ratio",
    "driver_peak_rss_mib": "MiB",
    "jvm_peak_rss_mib": "MiB",
}

_STATS = {
    "executor_run_s": "s",
    "gc_s": "s",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "jobs": "count",
}
# Layers are named after the program's modules. A metric a workload does
# not exercise reads 0 there.
PER_LAYER_UNITS = {
    "sources.read_s": "s",
    "sources.server_s": "s",
    "sources.requests": "count",
    "sources.rows": "count",
    "sources.bytes": "B",
    "normalize.stage_s": "s",
    "lake.scan_s": "s",
    "lake.write_s": "s",
    "lake.commit_s": "s",
    "lake.bytes_written": "B",
    "lake.files_written": "count",
    "lake.write_amp": "ratio",
    "lake.stored_bytes_per_row": "B",
    "merge.merge_s": "s",
    "merge.rows_in": "count",
    "merge.rows_out": "count",
    "merge.dups_dropped": "count",
    "watermark.get_s": "s",
    "watermark.put_s": "s",
    "engine.self_s": "s",
    "dedup.signatures_s": "s",
    "dedup.lsh_s": "s",
    "dedup.cc_s": "s",
    "dedup.survivors_s": "s",
    "dedup.pairs": "count",
    "dedup.survivors": "count",
    "dedup.cc_jobs": "count",
    **{
        f"{layer}.{stat}": unit
        for layer in ("normalize", "lake", "merge", "watermark", "dedup")
        for stat, unit in _STATS.items()
    },
    "jvm.jit_ms_per_op": "ms",
    "jvm.gc_ms_per_op": "ms",
    "trace.overhead_s": "s",
    "op.tail_pct": "pct",
    "op.tail_s": "s",
    "op.samples": "count",
}


def peak_rss_mib(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(walls: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest whole percentile with at least ten
    samples beyond it; the median when there are fewer than 20 samples."""
    n = len(walls)
    pct = 50 if n < 20 else int(100 * (n - 10) / n)
    s = sorted(walls)
    return float(pct), s[min(n - 1, max(0, -(-pct * n // 100) - 1))]


def start_session(name: str, work: str, trace: bool):
    from sri2db_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                # zstd is the default codec and no Python reader for it is installed
                "spark.eventLog.compress": "false",
            }
        )
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name=f"perfbench-{name}", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it every Python worker) to
    exit; a later session in the same process then starts a fresh JVM."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def machine_probe(spark) -> dict:
    """Data-independent JVM fold and Python loop, plus load average: if
    these moved between two runs, so did the machine."""
    t0 = time.perf_counter()
    spark.range(50_000_000).selectExpr("sum(pmod(xxhash64(id), 1000))").collect()
    jvm_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i * i
    return {
        "jvm_sum_50m_s": round(jvm_s, 3),
        "py_loop_5m_s": round(time.perf_counter() - t0, 3),
        "loadavg_1m": os.getloadavg()[0],
    }


def measure(spark, w, seconds: float, trace: bool) -> tuple[dict, dict, dict]:
    from perfbench.trace import jvm_counters, parse_event_log
    from perfbench.workloads import layer_values

    diag: dict = {"warmup_s": [], "load_s": [], "op_s": [], "traced_op_s": [], "jit_ms": [], "gc_ms": []}
    ok_all = True
    for _ in range(w.LOADS):
        t0 = time.perf_counter()
        w.load()
        diag["load_s"].append(time.perf_counter() - t0)
    for _ in range(w.WARMUP):
        wall, _rec, ok = w.op()
        diag["warmup_s"].append(wall)
        ok_all &= ok
        spark.catalog.clearCache()
    t_first = time.perf_counter()
    loads = diag["load_s"]
    # the base load is repeated LOADS times and counted once, at its median
    setup_s = t_first - T0 - sum(loads) + (statistics.median(loads) if loads else 0.0)

    plain: list[tuple[float, int, bool]] = []
    traced: list[tuple[float, bool, dict]] = []
    while True:
        jit0, gc0 = jvm_counters(spark)
        plain.append(w.op())
        jit1, gc1 = jvm_counters(spark)
        diag["jit_ms"].append(jit1 - jit0)
        diag["gc_ms"].append(gc1 - gc0)
        spark.catalog.clearCache()
        if trace:
            traced.append(w.traced_op(len(traced)))
            spark.catalog.clearCache()
        if time.perf_counter() - t_first >= seconds:
            break
    t0 = time.perf_counter()
    ok_all &= w.final_check()
    diag["final_check_s"] = time.perf_counter() - t0
    walls = [p[0] for p in plain]
    diag["op_s"] = walls
    diag["traced_op_s"] = [t[0] for t in traced]
    t0 = time.perf_counter()
    diag["machine_probe"] = machine_probe(spark)
    diag["probe_s"] = time.perf_counter() - t0

    oks = [p[2] for p in plain] + [t[1] for t in traced]
    counts = {"attempted": len(oks), "failed": oks.count(False), "correct": ok_all and all(oks)}
    driver_rss = peak_rss_mib("self")
    jvm_rss = peak_rss_mib(spark._jvm.java.lang.ProcessHandle.current().pid())
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "op_s_p50": statistics.median(walls),
            "records_per_s": sum(p[1] for p in plain) / sum(walls),
            "ok_frac": oks.count(True) / len(oks),
            "driver_peak_rss_mib": driver_rss,
            "jvm_peak_rss_mib": jvm_rss,
        }
        return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}, counts, diag

    groups = parse_event_log(os.path.join(w.work, "eventlog"))
    rows = []
    for i, (wall, _ok, v) in enumerate(traced):
        row = dict(v)
        row["engine.self_s"] = wall - sum(
            x for k, x in v.items() if k.endswith("_s") and k != "sources.server_s"
        )
        row.update(layer_values(w.layers[i], groups))
        rows.append(row)
    pct, val = tail(walls)
    out = {
        "jvm.jit_ms_per_op": statistics.median(diag["jit_ms"]),
        "jvm.gc_ms_per_op": statistics.median(diag["gc_ms"]),
        "trace.overhead_s": statistics.median(diag["traced_op_s"]) - statistics.median(walls),
        "op.tail_pct": pct,
        "op.tail_s": val,
        "op.samples": float(len(walls)),
    }
    for name in PER_LAYER_UNITS:
        if name not in out:
            out[name] = statistics.median(r.get(name, 0.0) for r in rows)
    diag["traced_rows"] = rows
    return {k: {"value": out[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}, counts, diag


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sri2db_spark", "__init__.py")):
        print(f"perfbench: no sri2db_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM would otherwise write under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # any Python code Spark ships to executor workers resolves sri2db_spark
    # and perfbench from this checkout, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = local
    sys.path.insert(0, ROOT)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spark = start_session(args.workload, work, bool(args.trace))
    try:
        w = WORKLOADS[args.workload](spark, work, args.seed, bool(args.trace))
        metrics, counts, diag = measure(spark, w, args.seconds, bool(args.trace))
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
    diag["stop_s"] = time.perf_counter() - t0
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another workload's directory is still there
        pass
    print(json.dumps({"diagnostics": diag}, separators=(",", ":")))
    print(json.dumps({**counts, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
