"""Write ``perfbench/TRACED.md``: every per-layer metric of one traced run
per workload, beside the end-to-end metrics of untraced runs of the
same workload, and the tracing overhead (traced ``trace.wall_s`` minus
the median untraced ``wall_s``).

    python3 perfbench/table.py

Run it from the repository root; it runs ``perfbench/run.py`` once per
row, one run at a time.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEED = 1  # the traced run's seed, and the first of the untraced runs'
UNTRACED = 3  # untraced runs per workload
# the end-to-end metric each layer metric should move, and on which
# workload, written down before measuring (first matching prefix wins)
MOVES = (
    ("session.", "setup_s (all)"),
    ("driver.", "none: unbounded, G1 heap sizing moves it by half"),
    ("sources.", "query_p50_s (catalog_sweep)"),
    ("plans.construct_jobs", "query_p90_s (catalog_sweep)"),
    ("plans.", "query_p50_s (catalog_sweep), wall_s"),
    ("operators.peak_memory", "driver.peak_rss_mb (trace_chain)"),
    ("operators.spill", "driver.peak_rss_mb (trace_chain)"),
    ("operators.", "wall_s (all)"),
    ("kernels.", "wall_s, rows_per_s (trace_chain)"),
    ("run.", "wall_s (trace_chain)"),
    ("datapipe.", "query_p90_s (catalog_sweep)"),
    ("streaming.", "query_p90_s (catalog_sweep)"),
    ("box.", "none: box state, never a scale"),
    ("trace.", "none: tracing cost and self-check"),
)


def moves(metric: str) -> str:
    return next(m for prefix, m in MOVES if metric.startswith(prefix))


def bench(workload: str, seed: int, trace: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()
    result = json.loads(out[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: {out[-2]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def fmt(v: float) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main() -> None:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    traced, untraced = {}, {}
    for w in names:
        traced[w] = bench(w, SEED, 1, spec["run_seconds"])
        runs = [bench(w, SEED + i, 0, spec["run_seconds"]) for i in range(UNTRACED)]
        untraced[w] = {m: statistics.median(r[m] for r in runs) for m in runs[0]}
    lines = [
        "# Traced-run table",
        "",
        "Written by `python3 perfbench/table.py`:",
        f"one traced run (seed {SEED}) per workload, and the median of "
        f"{UNTRACED} untraced runs (seeds {SEED} to {SEED + UNTRACED - 1}).",
        "Times are in steal-corrected seconds (`perfbench/clock.py`). Operator, kernel and",
        "run-layer values are Spark's own SQL metrics, summed over the pass; a Python",
        "worker's start time is summed over tasks, so it can exceed the wall time.",
        "`trace.raw_wall_s` alone is raw wall time. A run's query percentiles rest on",
        "one pass: 8 latencies on trace_chain and 19 on catalog_sweep (`perfbench/README.md`).",
        "",
        "| metric | unit | moves | " + " | ".join(names) + " |",
        "|---|---|---|" + "---|" * len(names),
    ]
    for m in spec["end_to_end"]:
        lines.append(f"| {m['name']} (untraced median) | {m['unit']} | | "
                     + " | ".join(fmt(untraced[w][m["name"]]) for w in names) + " |")
    lines.append("| tracing overhead: trace.wall_s - wall_s | s | | "
                 + " | ".join(fmt(traced[w]["trace.wall_s"] - untraced[w]["wall_s"]) for w in names)
                 + " |")
    for m in spec["per_layer"]:
        lines.append(f"| {m['name']} | {m['unit']} | {moves(m['name'])} | "
                     + " | ".join(fmt(traced[w][m["name"]]) for w in names) + " |")
    with open(os.path.join(HERE, "TRACED.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
