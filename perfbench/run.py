"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ts_dashboard --seed 1 --seconds 15 --trace 0

Run from the repository root. Spark runs as ``local[<slots>]`` with as
many shuffle partitions, ``<slots>`` being half the cores. Set-up (JVM
start, generated tables, oracles, warm-up ops) is timed as ``setup_s``;
then the workload's ops run back to back, one client in a closed loop,
for as many whole cycles of the workload's op mix as ``--seconds`` holds
at the workload's nominal cycle time, each op checked against an
independent oracle.

``--trace 0`` prints the end-to-end metrics: ``round_ms``, the time of
one cycle of the op mix (each op kind's median latency times its count in
a cycle), and ``setup_s``. ``--trace 1`` runs a fixed number of ops,
alternately untraced and traced, and prints the per-layer metrics from
the traced ones (spans around each call into an engine layer, Spark job
counts per span, SQL plan metrics), with the tracing overhead as the
difference of the two halves' cycle times.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it,
prefixed ``# detail``, carries every metric by its workload-specific name
with unit and sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, "perfbench-out")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _slots() -> int:
    """Spark task slots: half the cores, so the tasks, the driver's
    planning thread, the JVM's GC and compiler threads and the Python
    workers never queue for a core behind each other."""
    return max(1, _cores() // 2)


def _tail(ms: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it (the
    median when there are fewer than 20), and that percentile."""
    n = len(ms)
    pct = max(50, int(100 * (n - 10) / n)) if n else 50
    s = sorted(ms)
    return s[min(n - 1, int(pct / 100 * n))], pct


def _tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        out.append(p)
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                frontier += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this Python process plus the Spark JVM and
    the Python workers it forks (sum of each one's VmHWM)."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in _tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f
                            if line.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return kb / 1024


def start_spark(run_dir: str):
    """The engine's own ``get_spark`` at local[slots], with every
    scratch path (Spark local dirs, JVM temp, warehouse) inside the run
    directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # no JVM performance-data file in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-XX:ParallelGCThreads={_slots()} -XX:ConcGCThreads=1'",
        "pyspark-shell",
    ])
    from hbase_taggregator_spark import get_spark

    n = _slots()
    spark = get_spark(master=f"local[{n}]", shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_op(wl, ctx, i: int):
    """One op, or None if it raised."""
    ctx.tracer.op = i
    try:
        return wl.op(ctx, i)
    except Exception:
        traceback.print_exc()
        return None


def rounds(wl, seconds: float) -> int:
    """Whole cycles of the op mix that fill ``seconds`` at the workload's
    nominal cycle time. Every run of a workload thus does the same work
    in the same order, so the JVM is as warm in a run on a slow host as
    in one on a fast host."""
    return max(1, round(seconds / wl.round_s))


def run_timed(wl, ctx, seconds: float):
    """Closed loop: :func:`rounds` cycles of the workload's op mix, ops
    back to back; returns (ops, wall time)."""
    t0 = time.perf_counter()
    ops = [run_op(wl, ctx, i) for i in range(rounds(wl, seconds) * wl.cycle)]
    return ops, time.perf_counter() - t0


def run_traced(wl, ctx, tracer):
    """``2 * wl.trace_ops`` ops in alternating cycles of the workload's op
    mix, untraced and traced, so both halves see the same mix and warm-up;
    returns (untraced, traced) ops."""
    untraced_tracer = ctx.tracer
    halves: tuple[list, list] = ([], [])
    for i in range(2 * wl.trace_ops):
        traced = (i // wl.cycle) % 2 == 1
        if traced:
            tracer.skip_untraced()
        ctx.tracer = tracer if traced else untraced_tracer
        halves[traced].append(run_op(wl, ctx, i))
    ctx.tracer = tracer
    return halves


def summarize(ops, wall_s: float, cycle: int) -> dict:
    """Latency and throughput of the ops that ran, overall and per op name
    (the workloads' ``detail`` names these per workload), and the time of
    one cycle of the op mix from each op name's median."""
    done = [op for op in ops if op is not None]
    cycles = max(1, len(ops) // cycle)
    d = {"wall_s": wall_s, "parts": {}}
    for name in dict.fromkeys(op.name for op in done):
        same = [op for op in done if op.name == name]
        ms = [op.ms for op in same]
        d["parts"][name] = {
            "ms": ms,
            "p50_ms": statistics.median(ms),
            "tail": _tail(ms),
            "items": sum(op.items for op in same),
            "n": len(ms),
        }
    d["round_ms"] = sum(p["p50_ms"] * p["n"] / cycles for p in d["parts"].values())
    return d


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hbase_taggregator_spark")):
        print("perfbench: no engine package (hbase_taggregator_spark/) beside "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()

    run_dir = os.path.join(ROOT, ".perfbench-run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir)
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, Tracer(spark, False), args.seed, run_dir)
        wl.setup(ctx)
        setup_s = time.perf_counter() - t0

        if args.trace:
            base_ops, ops = run_traced(wl, ctx, Tracer(spark, True))
            wall = 0.0
        else:
            base_ops = []
            ops, wall = run_timed(wl, ctx, args.seconds)
        all_ops = base_ops + ops
        failed = sum(op is None or not op.ok for op in all_ops)
        s = summarize(ops, wall, wl.cycle)
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        if args.trace:
            os.makedirs(OUT_DIR, exist_ok=True)
            ctx.tracer.dump(os.path.join(OUT_DIR, f"trace-{wl.name}-{args.seed}.jsonl"))
            metrics, extra = layers.per_layer(wl, ctx.tracer, s,
                                              summarize(base_ops, 0.0, wl.cycle), session_s)
        else:
            metrics = {
                "round_ms": {"value": s["round_ms"], "unit": "ms"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
            extra = {
                "rounds": {"value": len(ops) // wl.cycle, "unit": "count", "n": 1},
                **wl.detail(s),
            }
        detail = {
            "workload": wl.name, "seed": args.seed, "cores": _cores(), "slots": _slots(),
            "setup_s": setup_s, "setup_phases_s": dict(ctx.phases, session=session_s),
            "peak_rss_mb": rss,
            "failed_op_ratio": failed / max(1, len(all_ops)),
            "ops": len(ops), "metrics": extra,
        }
        print("# detail " + json.dumps(detail), flush=True)
        print(json.dumps({"correct": failed == 0, "attempted": len(all_ops),
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
