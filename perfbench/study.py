"""Warm-up and thread-count study behind ``run.py``'s ``WARMUP`` and ``CPUS``.

For each workload and task-thread count, one driver process runs the cold
pass and then a fixed number of passes with no warm-up, recording every
pass wall.  The warm-up length suggested for a configuration is the
number of passes after the cold one that come before the first run of
three passes all within ``SETTLED`` of the median of the last half.

With ``ingest`` studied at two or more sizes (``--lines``), it also fits
the late pass wall against the input size, giving the fixed cost of a pass
and its share of a pass at the committed size.

Run from the root of a checkout (takes several minutes):

    python3 perfbench/study.py [--seed 1] [--cpus 3 4] [--workloads ingest ...]
        [--lines 100000 400000]

Writes ``perfbench/evidence/study.json`` and prints one line per
configuration.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

PASSES = {"ingest": 14, "curation": 8}
SETTLED = 0.10


def suggest_warmup(walls: list[float]) -> int:
    """Passes to skip after the cold one (``walls[0]``)."""
    tail = statistics.median(walls[len(walls) // 2:])
    for k in range(1, len(walls) - 2):
        if all(abs(w / tail - 1) <= SETTLED for w in walls[k:k + 3]):
            return k - 1
    return len(walls) - 3


def study(workload: str, cpus: int, seed: int, root: str, lines: int) -> dict:
    work = os.path.join(root, ".perfbench", "work", f"study-{workload}-{cpus}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = run.make_inputs(workload, seed, work, lines)
        pins, env = run.worker_env(work, cpus)
        spec = run.worker_spec(inputs, workload, work, 0, 0, 0, PASSES[workload])
        res, t_spawn = run.run_worker(spec, work, env, time.monotonic() + 900)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    walls = [p["wall"] for p in res["passes"]]
    late = walls[len(walls) // 2:]
    pins["SPARK_LOCAL_DIRS"] = os.path.relpath(pins["SPARK_LOCAL_DIRS"], root)
    return {
        "workload": workload, "cpus": cpus, "seed": seed, "pins": pins,
        "input_lines": inputs["input_lines"],
        "setup_s": res["t_ready"] - t_spawn, "pass_walls": walls,
        "late_median_s": statistics.median(late),
        "late_cv": statistics.stdev(late) / statistics.mean(late),
        "suggested_warmup": suggest_warmup(walls),
        "failed_ops": sum(not o["ok"] for o in res["ops"]),
    }


def fixed_cost(rows: list[dict]) -> list[dict]:
    """For each thread count with ``ingest`` studied at two or more sizes,
    the least-squares line ``late median = fixed + per_line * lines``, and
    the fixed part's share of a pass at the committed size."""
    out = []
    for cpus in sorted({r["cpus"] for r in rows if r["workload"] == "ingest"}):
        pts = [(r["input_lines"], r["late_median_s"]) for r in rows
               if r["workload"] == "ingest" and r["cpus"] == cpus]
        if len({n for n, _ in pts}) < 2:
            continue
        per_line, fixed = statistics.linear_regression(*zip(*pts))
        at = fixed + per_line * run.INGEST_LINES
        out.append({"cpus": cpus, "points": sorted(pts), "fixed_s": fixed,
                    "per_line_us": per_line * 1e6, "pass_s_at_committed": at,
                    "fixed_share_at_committed": fixed / at})
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cpus", type=int, nargs="+", default=[3, 4])
    ap.add_argument("--workloads", nargs="+", default=list(PASSES))
    ap.add_argument("--lines", type=int, nargs="+", default=[run.INGEST_LINES],
                    help="ingest sizes to study (raw log lines)")
    args = ap.parse_args()
    root = os.getcwd()
    rows = []
    for workload in args.workloads:
        for lines in args.lines if workload == "ingest" else [run.INGEST_LINES]:
            for cpus in args.cpus:
                r = study(workload, cpus, args.seed, root, lines)
                rows.append(r)
                print(f"{workload:>9} {r['input_lines']:>8} lines local[{cpus}]  "
                      f"cold {r['pass_walls'][0]:6.2f}s  "
                      f"late median {r['late_median_s']:6.3f}s  "
                      f"late cv {100 * r['late_cv']:4.1f}%  "
                      f"warm-up {r['suggested_warmup']}  "
                      f"failed {r['failed_ops']}", flush=True)
    # keep earlier configurations this invocation did not rerun
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "evidence", "study.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)

    def key(r):
        return r["workload"], r["cpus"], r["input_lines"]

    done = {key(r) for r in rows}
    if os.path.exists(path):
        with open(path) as f:
            rows = [r for r in json.load(f)["configs"] if key(r) not in done] + rows
    fits = fixed_cost(rows)
    for fit in fits:
        print(f"   ingest local[{fit['cpus']}]  fixed {fit['fixed_s']:.2f}s/pass  "
              f"{fit['per_line_us']:.2f}us/line  fixed share at "
              f"{run.INGEST_LINES} lines {100 * fit['fixed_share_at_committed']:.0f}%")
    with open(path, "w") as f:
        json.dump({"configs": rows, "ingest_fixed_cost": fits}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
