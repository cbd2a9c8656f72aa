"""Steadiness of repeated benchmark runs.

    python3 etlbench/steadiness.py OUT_DIR [OUT_DIR ...]

Each OUT_DIR holds one stdout capture per run, named
``<workload>-<seed>.out`` (the last line is the run's JSON result). For
every workload and end-to-end metric this prints the median of the runs
and their spread, the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, next to
the metric's bound from BENCHMARK.json. With two directories it also
prints how far the second set's median moved from the first's.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(out_dir: str) -> dict[str, dict[str, list[float]]]:
    runs: dict[str, dict[str, list[float]]] = {}
    for name in sorted(os.listdir(out_dir)):
        if not name.endswith(".out"):
            continue
        workload = name.rsplit("-", 1)[0]
        with open(os.path.join(out_dir, name)) as f:
            lines = f.read().strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        if not result.get("correct") or result.get("failed"):
            print(f"{out_dir}/{name}: not correct or failed ops", file=sys.stderr)
        for metric, v in result.get("metrics", {}).items():
            runs.setdefault(workload, {}).setdefault(metric, []).append(v["value"])
    return runs


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(dirs: list[str]) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    sets = [load(d) for d in dirs]
    print("| workload | metric | runs | median | spread | bound | bound/3 |"
          + (" second median moved |" if len(sets) > 1 else ""))
    print("| --- | --- | --- | --- | --- | --- | --- |" + (" --- |" if len(sets) > 1 else ""))
    for workload, metrics in sets[0].items():
        for metric, values in metrics.items():
            b = bounds[metric]
            row = (f"| {workload} | {metric} | {len(values)} | {statistics.median(values):.4g} "
                   f"| {spread(values):.3f} | {b} | {b / 3:.3f} |")
            if len(sets) > 1:
                other = sets[1].get(workload, {}).get(metric)
                if other:
                    moved = statistics.median(other) / statistics.median(values) - 1
                    row += f" {moved:+.3f} |"
            print(row)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
