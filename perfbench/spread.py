"""Run-to-run spread of the end-to-end metrics, as the acceptance rule
measures it: run the benchmark once per seed, then for each metric take
the distance between the first and third quartile of its values
(``statistics.quantiles(values, n=4)``) as a share of their median, and
compare it with the metric's bound in ``BENCHMARK.json``.

Run from the root of a checkout:

    python3 perfbench/spread.py --workload ingest [--seeds 1 2 3 ...]

Prints one line per metric and appends every run's result to
``.perfbench/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(1, 11)))
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    log = os.path.join(".perfbench", f"spread-{args.workload}.jsonl")
    os.makedirs(".perfbench", exist_ok=True)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in args.seeds:
        t0 = time.monotonic()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, check=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, **result}) + "\n")
        for name, m in result["metrics"].items():
            values[name].append(m["value"])
        print(f"seed {seed}: correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              f"run {time.monotonic() - t0:.1f} s", flush=True)
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        flag = "ok" if spread < m["bound"] / 3 else (
            "within bound" if spread <= m["bound"] else "OVER BOUND")
        print(f"{m['name']:>14} median {med:12.4f} {m['unit']:<8} "
              f"spread {spread:6.3f}  bound {m['bound']:.2f}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
