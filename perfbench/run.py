"""Benchmark runner: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload etl_month --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The runner sizes Spark for the machine it
runs on (``local[nproc]``, a driver heap below physical RAM, spill and temp
files inside the checkout) and leaves every other setting at the program's
``get_spark`` defaults. It generates the workload's input from the seed,
runs the cold op, then warm ops until ``--seconds`` have passed (at least
``MIN_WARM_OPS``), checks every op's output, and prints one JSON object as
its last line of output: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# warm ops per run whatever --seconds says: the pass-rate metrics are
# medians over them
MIN_WARM_OPS = 2

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "rows_per_s": "1/s",
    "docs_per_s": "1/s",
    "p50_ms": "ms",
    "p90_ms": "ms",
    "cpu_s": "s",
}
LAYER_METRICS = {
    "build_ms": "ms", "exec_ms": "ms", "task_ms": "ms", "cpu_ms": "ms",
    "gc_ms": "ms", "jobs": "count", "tasks": "count",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "slot_util": "ratio",
}
EXTRA_LAYER_METRICS = {
    "sources.parquet.rows_scanned_per_row_returned": "ratio",
    "operators.dedup.pair_precision": "ratio",
    "operators.dedup.near_dup_recall": "ratio",
    "trace.bookkeeping_ms": "ms",
    "trace.exec_share": "ratio",
}


def per_layer_units() -> dict[str, str]:
    from spans import LAYERS

    units = {"session.build_ms": "ms", "session.peak_rss_mb": "MB"}
    for layer in LAYERS[1:]:
        for m, unit in LAYER_METRICS.items():
            units[f"{layer}.{m}"] = unit
    units.update(EXTRA_LAYER_METRICS)
    return units


# -- process accounting from /proc -------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()  # fields from 'state' on


def tree_cpu_s(root_pid: int) -> float:
    """utime+stime of ``root_pid`` and every live descendant, plus the
    children they have already reaped. Steal time is not in these counters."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                parent[int(name)] = int(st[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    ticks = 0
    for pid in tree:
        st = _stat(pid)
        if st:  # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            ticks += sum(int(x) for x in st[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError("no VmHWM")


def sandbox_env(work: str) -> None:
    """Size Spark for this machine; every temp and spill file goes under
    ``work`` inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    heap_mb = min(3072, mem_kb // 1024 // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # -UsePerfData: no hsperfdata file in /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TZ": "UTC",
        }
    )
    time.tzset()


def pctl(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    if not os.path.isdir(os.path.join(ROOT, "etdtransform_spark")):
        print("perfbench: etdtransform_spark not found next to perfbench/", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sandbox_env(work)
    spark = None
    try:
        from etdtransform_spark.session import get_spark
        from spans import Tracer

        extra = {"spark.ui.enabled": "true", "spark.ui.port": "0"} if args.trace else None
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        cores = int(os.environ["SPARK_GRAFT_CPUS"])

        tracer = Tracer(spark if args.trace else None)
        tracer.install()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        wl.setup()

        tracer.phase = "cold"
        cold = wl.op()
        setup_s = session_s + wl.setup_work_s

        tracer.phase = "timed"
        cpu0 = tree_cpu_s(jvm_pid)
        ops = []
        deadline = time.perf_counter() + args.seconds
        while len(ops) < MIN_WARM_OPS or time.perf_counter() < deadline:
            ops.append(wl.op())
        cpu1 = tree_cpu_s(jvm_pid)
        rss = peak_rss_mb(jvm_pid)
        tracer.phase = "finish"
        wl.finish()
        n = len(ops)
        pass_s = statistics.median(op.seconds for op in ops)
        # latency of the read queries where the workload runs them, else of
        # the passes
        lat = [q for op in ops for q in op.query_s] or [op.seconds for op in ops]

        if args.trace:
            metrics = layer_metrics(tracer, wl, session_s, rss, n, cores,
                                    sum(op.returned for op in ops))
            os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
            tracer.dump(
                os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "pass_ms": [op.seconds * 1e3 for op in ops],
                 "query_ms": [q * 1e3 for op in ops for q in op.query_s],
                 "metrics": metrics},
            )
            units = per_layer_units()
            values = {k: metrics[k] for k in units}
        else:
            values = {
                "setup_s": setup_s,
                "cold_pass_s": cold.seconds,
                "rows_per_s": ops[0].rows / pass_s,
                "docs_per_s": ops[0].docs / pass_s,
                "p50_ms": statistics.median(lat) * 1e3,
                "p90_ms": pctl(lat, 90) * 1e3,
                "cpu_s": (cpu1 - cpu0) / n,
            }
            units = END_TO_END
        print(
            f"[{args.workload}] seed={args.seed} cores={cores} warm_ops={n} "
            f"session_s={session_s:.2f} gen_s={statistics.median(wl.gen_s):.3f} "
            f"prep_s={wl.prep_s:.2f} cold_s={cold.seconds:.2f} "
            f"pass_s={[round(op.seconds, 2) for op in ops]} "
            f"query_ms={[round(q * 1e3) for op in ops for q in op.query_s]} "
            f"quality={wl.quality}",
            file=sys.stderr,
        )
        attempted = 1 + n
        failed = wl.op_failures
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work))

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


def layer_metrics(tracer, wl, session_s, rss_mb, n, cores, rows_returned) -> dict:
    """Per-layer figures per warm op, from the spans of the timed phase."""
    from spans import LAYERS

    tot = tracer.layer_totals("timed")
    out = {"session.build_ms": session_s * 1e3, "session.peak_rss_mb": rss_mb}
    for layer in LAYERS[1:]:
        m = tot[layer]
        for k in LAYER_METRICS:
            if k != "slot_util":
                out[f"{layer}.{k}"] = m[k] / n
        out[f"{layer}.slot_util"] = (
            m["task_ms"] / (m["exec_ms"] * cores) if m["exec_ms"] else 0.0
        )
    timed = [sp for sp in tracer.spans if sp.phase == "timed"]
    # rows the read queries scanned: the jobs their collect() ran
    scanned = sum(sp.counters.get("input_records", 0.0) for sp in timed
                  if sp.name.startswith("collect:"))
    out["sources.parquet.rows_scanned_per_row_returned"] = (
        scanned / rows_returned if rows_returned else 0.0
    )
    out["operators.dedup.pair_precision"] = wl.quality.get("precision", 0.0)
    out["operators.dedup.near_dup_recall"] = wl.quality.get("recall", 0.0)
    # the tracer's own calls only; the whole overhead of a traced run is its
    # op time minus an untraced run's on the same seed (see README.md)
    out["trace.bookkeeping_ms"] = sum(sp.book_ms for sp in timed) / n
    # the share of pass wall time (tracer calls excluded) inside exec spans;
    # read cycles are left out, their plan spans are build time on purpose
    by_id = {sp.id: sp for sp in tracer.spans}

    def top(sp):
        while sp.parent is not None:
            sp = by_id[sp.parent]
        return sp

    in_pass = [sp for sp in timed if top(sp).name.endswith("_pass")]
    wall = (sum(sp.ms for sp in in_pass if sp.parent is None)
            - sum(sp.book_ms for sp in in_pass if sp.parent is not None))
    out["trace.exec_share"] = sum(
        sp.self_ms for sp in in_pass if sp.layer != "op" and sp.kind == "exec") / wall
    return out


if __name__ == "__main__":
    sys.exit(main())
