"""Benchmark of the buildkite_logs_parquet_spark library.

Run from the root of a checkout:

    python3 perfbench/run.py --workload {ingest,curation} \\
        --seed N --seconds S --trace {0,1}

Generates the workload's inputs from the seed (pure Python, before any
timing), starts one Spark driver process (``perfbench/worker.py``) with a
pinned environment, and prints as its last line one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones listed in
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones.  Every pass
wall, the per-op records, the pinned settings and the load average before
and after the run go to an artefact under ``.perfbench/out/``.

Exits non-zero, printing no result, when the library is not in the
working directory, when a worker fails, or when the run would pass its
time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_logs  # noqa: E402
import gen_tables  # noqa: E402

#: task threads (local[N]); README.md, "Steadiness", has the local[3] and
#: local[4] runs behind the choice
CPUS = 3
#: driver heap, passed through the SPARK_DRIVER_MEMORY the session reads
DRIVER_MEMORY = "2g"
#: ingest: raw lines over the whole directory, and the file counts a seed
#: picks from (multiples of CPUS, so the per-file tasks fill whole waves)
INGEST_LINES = 400_000
INGEST_FILES = (3, 6)
#: rows the ingest check's tail call returns
TAIL_N = 50
#: passes after the cold pass that are not timed (README.md, "Steadiness")
WARMUP = {"ingest": 1, "curation": 1}
#: fewest timed passes (with tracing, half of them are traced)
MIN_PASSES = {"ingest": 3, "curation": 2}
#: the whole run must end within this
DEADLINE_S = 170
SELF_LAYERS = ("bench", "logs", "ingest", "parquet", "queries", "registry",
               "spark")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def make_inputs(workload: str, seed: int, work: str,
                lines: int = INGEST_LINES) -> dict:
    """Write the workload's inputs under ``work`` (``lines`` raw log lines
    for ``ingest``); return the worker's spec fields, including the ground
    truth it checks against."""
    os.makedirs(work, exist_ok=True)
    if workload == "ingest":
        logs = os.path.join(work, "logs")
        gen = gen_logs.generate_dir(logs, seed, lines, INGEST_FILES, TAIL_N)
        return {"logs": logs, "truth": gen["truth"], "tail_n": TAIL_N,
                "profile": gen["profile"], "input_lines": gen["truth"]["lines"]}
    tables = os.path.join(work, "tables")
    counts = gen_tables.generate_tables(tables)
    return {"tables": tables, "profile": counts,
            "input_lines": sum(counts.values())}


def worker_env(work: str, cpus: int) -> tuple[dict, dict]:
    """The pinned settings, and the worker's environment holding them.
    Temporary files of Python and the JVM go under ``work``."""
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONHASHSEED": "0",
    }
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no JVM performance-data file: it would go to /tmp whatever the tmpdir
    env = dict(os.environ, **pins, PYSPARK_PYTHON=sys.executable, TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    return pins, env


def worker_spec(inputs: dict, workload: str, work: str, seconds: float,
                trace: int, warmup: int, min_passes: int) -> dict:
    spec = {k: v for k, v in inputs.items() if k not in ("profile", "input_lines")}
    spec.update(workload=workload, work=work, seconds=seconds, trace=trace,
                warmup=warmup, min_passes=min_passes)
    return spec


def run_worker(spec: dict, work: str, env: dict,
               deadline: float) -> tuple[dict, float]:
    """Start one driver process and wait for it; returns its result and
    the monotonic time it was started.  The worker and everything it
    starts (the JVM, Python workers) share one process group, which is
    killed on timeout and checked empty afterwards."""
    spec_path = os.path.join(work, "spec.json")
    out_path = os.path.join(work, "out.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path, out_path],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap_group(proc)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError("worker " + ("timed out" if code is None
                                        else f"exited {code}"))
    with open(out_path) as f:
        return json.load(f), t_spawn


def _reap_group(proc: subprocess.Popen) -> None:
    """Stop whatever is left in the worker's process group and wait."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        end = time.monotonic() + 10
        while time.monotonic() < end and _group_alive(proc):
            time.sleep(0.05)
    proc.wait()


def _group_alive(proc: subprocess.Popen) -> bool:
    proc.poll()  # reap the leader, so only live members answer
    try:
        os.killpg(proc.pid, 0)
    except ProcessLookupError:
        return False
    return True


def _jvm_peak(res: dict, kind: str) -> float:
    """Sum of the per-pool peaks of one kind: "eden", "heap" (the heap
    pools other than eden) or "nonheap"."""
    return sum(res["jvm_mb"]["pools"][kind].values())


def end_to_end(res: dict, setup_s: float, input_lines: int) -> dict:
    passes = res["passes"]
    timed = [p["wall"] for p in passes if p["kind"] == "timed" and not p["traced"]]
    pass_s = statistics.median(timed)
    return {
        "setup_s": setup_s,
        "cold_pass_s": passes[0]["wall"],
        "pass_s": pass_s,
        "lines_per_s": input_lines / pass_s,
        "mem_mb": (res["rss_mb"]["python"] + _jvm_peak(res, "nonheap")
                   + res["jvm_mb"]["live_heap"]),
    }


def per_layer(res: dict) -> dict:
    passes = res["passes"]
    out = {k: _median(v) for k, v in res["layer"].items()}
    out["session.start_s"] = res["session_s"]
    out["jvm.jit_compile_s"] = res["extra"]["jit_through_cold_s"]
    out["jvm.gc_s"] = res["extra"]["gc_s"]
    layout = res["extra"].get("layout", {})
    for k in ("files", "row_groups", "bytes_per_input_byte"):
        out[f"parquet.{k}"] = layout.get(k, 0)
    out["driver.python_rss_mb"] = res["rss_mb"]["python"]
    out["driver.jvm_rss_mb"] = res["rss_mb"]["jvm"]
    out["jvm.heap_peak_mb"] = _jvm_peak(res, "heap")
    out["jvm.nonheap_peak_mb"] = _jvm_peak(res, "nonheap")
    out["jvm.live_heap_mb"] = res["jvm_mb"]["live_heap"]
    traced = [p["wall"] for p in passes if p["kind"] == "timed" and p["traced"]]
    untraced = [p["wall"] for p in passes if p["kind"] == "timed" and not p["traced"]]
    for layer in SELF_LAYERS:
        out[f"self.{layer}_s"] = res["self_s"].get(layer, 0.0) / len(traced)
    out["trace.pass_traced_s"] = statistics.median(traced)
    out["trace.pass_untraced_s"] = statistics.median(untraced)
    out["trace.overhead_pct"] = 100 * (out["trace.pass_traced_s"]
                                       / out["trace.pass_untraced_s"] - 1)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    root = os.getcwd()
    for need in ("buildkite_logs_parquet_spark/__init__.py", "__spark_entry__.py",
                 "tools/check_oracle.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found in {root}; run from the "
                  "root of a checkout", file=sys.stderr)
            return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    load_before = _loadavg()
    work = os.path.join(root, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t_gen = time.monotonic()
        inputs = make_inputs(args.workload, args.seed, work)
        gen_s = time.monotonic() - t_gen
        pins, env = worker_env(work, min(CPUS, os.cpu_count() or 1))
        spec = worker_spec(inputs, args.workload, work, args.seconds, args.trace,
                           WARMUP[args.workload], MIN_PASSES[args.workload])
        res, t_spawn = run_worker(spec, work, env, deadline)
    except Exception as exc:  # noqa: BLE001 -- report and fail the run
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        # a layer the workload never calls reads 0 (README.md, "Per-layer")
        values = dict.fromkeys((m["name"] for m in wanted), 0.0) | per_layer(res)
    else:
        values = end_to_end(res, res["t_ready"] - t_spawn, inputs["input_lines"])
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    attempted = len(res["ops"])
    failed = sum(not o["ok"] for o in res["ops"])
    artefact = {
        "args": vars(args), "pins": pins, "cpus_available": os.cpu_count(),
        "input_gen_s": gen_s, "profile": inputs["profile"],
        "input_lines": inputs["input_lines"],
        "loadavg_before": load_before, "loadavg_after": _loadavg(),
        "session_s": res["session_s"],
        "pass_walls": [[p["kind"], p["traced"], p["wall"]] for p in res["passes"]],
        "failed_ops_ratio": failed / attempted, "failures": res["failures"][:20],
        "conf": res["conf"], "rss_mb": res["rss_mb"],
        "jvm_mb": res["jvm_mb"], "oracle_s": res["extra"].get("oracle_s"),
        "oracle_stale": res["extra"].get("oracle_stale"),
        "metrics": values,
    }
    out_dir = os.path.join(root, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(artefact, f, indent=1)
    for m in wanted:
        print(f"{m['name']:>28} {values[m['name']]:.6g} {m['unit']}", file=sys.stderr)
    print(f"{'failed_ops_ratio':>28} {failed / attempted:.6g} ({failed}/{attempted} ops)",
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
