"""Repository benchmark: filings ingest and corpus build.

Usage (from the repository root):

    python3 etlbench/run.py --workload filings_etl --seed 1 --seconds 10 --trace 0

One closed-loop client in one process drives the engine for ``--seconds``
after an untimed, repeated set-up. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is a record of the run: host size and
load, input sizes, sample counts and tail percentiles. See README.md in
this directory for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("filings_etl", "corpus_build")

#: set-ups per run; setup_s is their median
N_SETUPS = 3
#: at most this many Spark cores (local[k]); never more than nproc
MAX_CORES = 4


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _environment(run_dir: str, cores: int) -> None:
    """Everything the JVM and the Python workers write goes under the run
    directory; the engine package is importable by the workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_INDEX_ROOT": os.path.join(run_dir, "index_store"),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            # a small heap fills to its cap on every run, which keeps the
            # JVM's share of peak_rss_mb from following GC heuristics
            "SPARK_DRIVER_MEMORY": "1g",
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf spark.ui.showConsoleProgress=false",
                    # the traced run reads jobs, stages and SQL executions
                    # back from the status store: retain all of them
                    "--conf spark.ui.retainedJobs=100000",
                    "--conf spark.ui.retainedStages=100000",
                    "--conf spark.sql.ui.retainedExecutions=100000",
                    f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
                    f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
                    "pyspark-shell",
                ]
            ),
        }
    )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process, the JVM and
    the Python workers: an upper bound on the tree's simultaneous peak,
    read once at the end so no sampler thread runs during timing."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(samples: list[float]) -> tuple[str, float] | None:
    """Highest percentile (of p90, p99, p999) with at least ten samples
    beyond it, or None when there are too few samples."""
    best = None
    for label, p in (("p90", 0.9), ("p99", 0.99), ("p999", 0.999)):
        if len(samples) * (1 - p) >= 10:
            s = sorted(samples)
            best = (label, s[min(len(s) - 1, math.ceil(p * len(s)) - 1)])
    return best


def _stop(spark) -> None:
    """Stop Spark, shut the JVM down and wait until every child process
    has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while descendants() and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def run(args, run_dir: str) -> tuple[dict, dict]:
    import spans
    import workloads
    from etl_financial_report_spark import io as eio
    from etl_financial_report_spark.session import get_spark
    from etl_financial_report_spark.sources import snapshots

    wl = workloads.WORKLOADS[args.workload](args.seed, run_dir)
    wl.prepare()

    spark = None
    setups, starts = [], []
    try:
        for n in range(N_SETUPS):
            # get_spark launches the JVM and the session the first time and
            # returns the running session after that
            t0 = time.perf_counter()
            spark = get_spark("etlbench")
            t1 = time.perf_counter()
            wl.setup(spark, n)
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
            if n == 0:
                spark.sparkContext.setLogLevel("ERROR")

        samples: dict[str, list[float]] = {op: [] for op in wl.ops}
        traced: dict[str, list[float]] = {op: [] for op in wl.ops}
        attempted = 0
        tracer = spans.NullTracer()

        def record(op, seconds):
            nonlocal attempted
            attempted += 1
            (traced if tracer.enabled else samples)[op].append(seconds)

        t_start = time.perf_counter()
        i = 0
        # --trace 1: the first half of the window untraced (the base of the
        # tracing overhead), the second half traced
        untraced_until = args.seconds / 2 if args.trace else args.seconds
        while True:
            elapsed = time.perf_counter() - t_start
            done = elapsed >= args.seconds and i >= wl.min_passes
            if done and (not args.trace or tracer.enabled):
                break
            if args.trace and not tracer.enabled and elapsed >= untraced_until and i > 0:
                tracer = spans.Tracer(spark, eio.INDEX_STORE_ROOT)
                tracer.install(eio, snapshots)
            try:
                wl.run_pass(spark, tracer, i, record)
            except Exception as e:  # noqa: BLE001 - count it, report it, stop
                wl.fail(("pass", i), f"pass {i} raised {type(e).__name__}: {e}")
                attempted += 1
                break
            i += 1
        if tracer.enabled:
            tracer.uninstall()
        peak_rss = tree_peak_rss_mb()
        wl.final_check()
    finally:
        _stop(spark)

    record_line = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": _nproc(),
        "spark_cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "loadavg": list(os.getloadavg()),
        "sizes": {**workloads.SIZES[args.workload], "input_bytes": wl.input_bytes},
        "setup_s": setups,
        "session_start_s": starts,
        "samples": {op: len(v) for op, v in samples.items()},
        "failures": wl.failures[:10],
    }
    for op, v in samples.items():
        t = tail(v)
        if t:
            record_line[f"{op}_s.{t[0]}"] = t[1]
    failed = min(attempted, len(wl.failed_ops))
    result = {"correct": not wl.failures, "attempted": max(1, attempted), "failed": failed}
    if args.trace:
        overhead = {
            op: _median(traced[op]) - _median(samples[op]) if traced[op] and samples[op] else 0.0
            for op in wl.ops
        }
        metrics = spans.layer_metrics(tracer, wl.ops, starts, overhead, wl)
        out_dir = os.path.join(ROOT, ".etlbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(
                {"record": record_line, "metrics": metrics, "self_s": tracer.self_times(),
                 "spans": tracer.spans},
                f,
                indent=1,
            )
        result["metrics"] = {k: {"value": v, "unit": spans.UNITS[k]} for k, v in metrics.items()}
    else:
        op1, op2 = wl.ops
        result["metrics"] = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            # an op type without samples only happens on a failed run
            "op1_s": {"value": _median(samples[op1]), "unit": "s"},
            "op2_s": {"value": _median(samples[op2]), "unit": "s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
            "stored_bytes_per_input_byte": {
                "value": wl.stored_bytes / wl.input_bytes if wl.input_bytes else 0.0,
                "unit": "ratio",
            },
        }
    return record_line, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "etl_financial_report_spark")):
        print(f"no engine package next to the benchmark under {ROOT}", file=sys.stderr)
        return 2
    cores = max(1, min(MAX_CORES, _nproc()))
    run_dir = os.path.join(ROOT, ".etlbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    _environment(run_dir, cores)
    sys.path.insert(0, ROOT)
    try:
        record_line, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(json.dumps({"record": record_line}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
