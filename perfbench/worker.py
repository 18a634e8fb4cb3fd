"""One benchmark run inside a single Spark driver process.

``run.py`` starts this file with the environment pinned and a spec file.
The worker builds a session, puts the workload's inputs in place, then
runs the cold pass, the warm-up passes and the timed passes, checks every
output against ground truth outside the timed regions, and writes its raw
measurements as JSON for ``run.py`` to reduce.

Everything is measured from outside the library: walls around calls into
``session``, ``sources.logs``, ``operators.ingest``, ``sources.parquet_io``,
``operators.queries`` and the ``__spark_entry__`` registry, plus Spark's
own in-process counters.  With tracing on, every other timed pass records
spans and counters (the passes between them stay untraced, so the run
measures its own tracing overhead).

Usage: python3 perfbench/worker.py SPEC_JSON OUT_JSON
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark import SparkContext  # noqa: E402

import __spark_entry__ as registry  # noqa: E402
from buildkite_logs_parquet_spark.operators.ingest import (  # noqa: E402
    entries_view,
    parse_log_lines,
)
from buildkite_logs_parquet_spark.operators.queries import (  # noqa: E402
    by_group_stats,
    filter_by_type,
    list_groups,
    processing_summary,
    seek,
    tail,
)
from buildkite_logs_parquet_spark.session import get_spark  # noqa: E402
from gen_logs import NO_GROUP  # noqa: E402
from oracle import CURATION_KEYS, comparator, digest, lookup  # noqa: E402
from buildkite_logs_parquet_spark.sources.logs import read_log_lines  # noqa: E402
from buildkite_logs_parquet_spark.sources.parquet_io import (  # noqa: E402
    file_info,
    read_entries,
    write_entries,
)

ENTRY_FIELDS = ("row_id", "timestamp", "content", "group", "has_timestamp",
                "is_command", "is_group", "is_progress")
EXEC_COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks",
                 "spark.shuffle_read_mb", "spark.shuffle_write_mb",
                 "spark.spill_mb", "spark.executor_run_s")


class Tracer:
    """Spans ``[name, layer, start, end, parent, pass_id]`` kept in memory.

    While disabled, ``span`` only yields, so an untraced pass pays one
    generator frame per call and records nothing."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.enabled = False
        self.pass_id: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [name, layer, time.monotonic(), None, parent, self.pass_id]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec[3] = time.monotonic()

    def self_seconds(self, pass_ids: set) -> dict[str, float]:
        """Per layer: span time not covered by child spans, summed over the
        spans of the given passes."""
        child = [0.0] * len(self.spans)
        for name, layer, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = {}
        for i, (name, layer, t0, t1, parent, pid) in enumerate(self.spans):
            if pid in pass_ids:
                out[layer] = out.get(layer, 0.0) + (t1 - t0) - child[i]
        return out


class Counters:
    """Spark's in-process counters, read through py4j: the app status
    store (jobs, stages, tasks, shuffle, spill, executor time), Catalyst's
    phase tracker, JMX (JIT and GC time) and ``/proc`` (peak RSS)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._cc = jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._pools = list(mf.getMemoryPoolMXBeans())
        self._mem = mf.getMemoryMXBean()
        self._system = jvm.java.lang.System
        self._last_job = -1
        self._last_stage = -1
        self._totals = dict.fromkeys(EXEC_COUNTERS, 0)
        self.jvm_pid = SparkContext._gateway.proc.pid

    def snapshot(self) -> dict[str, float]:
        """Cumulative work Spark has finished in this session.  Job and
        stage ids grow and the store lists newest first, so each call reads
        only the entries added since the previous one.  Jobs are counted
        app-wide, not by job group: pool threads that submit jobs do not
        inherit the caller's group."""
        self._sc.listenerBus().waitUntilEmpty()
        tot = self._totals
        top = self._last_job
        for job in self._cc.asJava(self._store.jobsList(None)):
            jid = job.jobId()
            if jid <= self._last_job:
                break
            top = max(top, jid)
            tot["spark.jobs"] += 1
        self._last_job = top
        top = self._last_stage
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        for st in self._cc.asJava(stages):
            sid = st.stageId()
            if sid <= self._last_stage:
                break
            top = max(top, sid)
            if str(st.status()) == "SKIPPED":
                continue
            tot["spark.stages"] += 1
            tot["spark.tasks"] += st.numCompleteTasks()
            tot["spark.shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            tot["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            tot["spark.spill_mb"] += (st.memoryBytesSpilled()
                                      + st.diskBytesSpilled()) / 2**20
            tot["spark.executor_run_s"] += st.executorRunTime() / 1000
        self._last_stage = top
        return dict(tot)

    def jvm_seconds(self) -> tuple[float, float]:
        """(JIT compilation, GC) time since JVM start."""
        gc = sum(b.getCollectionTime() for b in self._gcs)
        return self._jit.getTotalCompilationTime() / 1000, gc / 1000

    def jvm_peak_mb(self) -> dict[str, dict[str, float]]:
        """Peak used MB of each JVM memory pool since JVM start, grouped as
        eden, the rest of the heap, and non-heap.  Eden is kept apart: its
        peak is the young generation's size, which G1 sets from the heap
        size, not from the program."""
        out: dict[str, dict[str, float]] = {"eden": {}, "heap": {}, "nonheap": {}}
        for pool in self._pools:
            name = pool.getName()
            if "Eden" in name:
                kind = "eden"
            elif str(pool.getType()) == "Heap memory":
                kind = "heap"
            else:
                kind = "nonheap"
            out[kind][name] = pool.getPeakUsage().getUsed() / 2**20
        return out

    def live_heap_mb(self) -> float:
        """Heap in use after a full collection: what the program keeps."""
        self._system.gc()
        return self._mem.getHeapMemoryUsage().getUsed() / 2**20

    def catalyst_ms(self, df) -> dict[str, float]:
        phases = self._cc.asJava(df._jdf.queryExecution().tracker().phases())
        return {k: float(phases.get(k).durationMs())
                for k in ("analysis", "optimization", "planning")
                if phases.containsKey(k)}


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    """State shared by the workloads: session, tracer, counters and the
    per-pass and per-op records."""

    def __init__(self, spec: dict, spark) -> None:
        self.spec = spec
        self.spark = spark
        self.tracer = Tracer()
        self.counters = Counters(spark)
        self.passes: list[dict] = []
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.layer: dict[str, list[float]] = {}
        self.extra: dict = {}

    def note(self, key: str, value: float) -> None:
        """Record one sample of a per-layer value (traced passes only)."""
        if self.tracer.enabled:
            self.layer.setdefault(key, []).append(value)

    def op(self, name: str, fn, check) -> None:
        """Time ``fn`` as one user-visible call and check its result outside
        the timed region.  An exception or a mismatch counts as failed."""
        t0 = time.monotonic()
        try:
            with self.tracer.span(f"op.{name}", "bench"):
                result = fn()
            wall = time.monotonic() - t0
            problem = check(result)
        except Exception:  # noqa: BLE001 -- every failure is counted and reported
            wall = time.monotonic() - t0
            problem = traceback.format_exc(limit=3)
        self.ops.append({"op": name, "wall": wall, "pass": self.tracer.pass_id,
                         "ok": problem is None})
        if problem is not None:
            self.failures.append(f"{name}: {problem}")

    def action(self, df, act):
        """Run the action that hands rows to the user.  Traced, first force
        the physical plan, so planning and execution time apart, and read
        Catalyst's phase times."""
        if self.tracer.enabled:
            with self.tracer.span("plan", "spark"):
                t0 = time.monotonic()
                df._jdf.queryExecution().executedPlan()
                self.note("spark.plan_ms", (time.monotonic() - t0) * 1000)
            for phase, ms in self.counters.catalyst_ms(df).items():
                self.note(f"catalyst.{phase}_ms", ms)
        with self.tracer.span("exec", "spark"):
            t0 = time.monotonic()
            out = act(df)
            self.note("spark.exec_ms", (time.monotonic() - t0) * 1000)
        return out


# --------------------------------------------------------------------- ingest

class Ingest:
    """``read_log_lines`` -> ``parse_log_lines`` -> ``entries_view`` ->
    ``write_entries`` over the generated job-log directory.  After the timed
    passes, the CLI's query ops read the last output back once, as checks
    against the generator's truth."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.spec = run.spec
        self.truth = run.spec["truth"]
        self.k = 0
        self.last_out = None

    def one_pass(self) -> None:
        run, tr = self.run, self.run.tracer
        out = os.path.join(self.spec["work"], f"out{self.k % 2}")
        self.k += 1
        shutil.rmtree(out, ignore_errors=True)
        stats: dict = {}

        def ingest():
            with tr.span("read_log_lines", "logs"):
                t0 = time.monotonic()
                lines = read_log_lines(run.spark, self.spec["logs"], stats_out=stats)
                run.note("logs.read_s", time.monotonic() - t0)
            with tr.span("parse_log_lines+entries_view", "ingest"):
                t0 = time.monotonic()
                entries = entries_view(parse_log_lines(
                    lines, file_col="file", group_strategy="auto",
                    max_file_lines=max(stats.values())))
                run.note("ingest.build_s", time.monotonic() - t0)
            with tr.span("write_entries", "parquet"):
                t0 = time.monotonic()
                write_entries(entries, out)
                run.note("parquet.write_s", time.monotonic() - t0)
            return out

        def check(path):
            if sum(stats.values()) != self.truth["lines"]:
                return f"lines {sum(stats.values())} != {self.truth['lines']}"
            with tr.span("file_info", "parquet"):
                t0 = time.monotonic()
                info = file_info(path)
                run.note("parquet.file_info_ms", (time.monotonic() - t0) * 1000)
            want = self.truth["summary"]["total_entries"]
            if info["row_count"] != want:
                return f"rows {info['row_count']} != {want}"
            self.last_out, self.last_info = path, info
            return None

        run.op("ingest", ingest, check)

    def final_check(self) -> None:
        """The CLI query ops over the last output, each once, each checked:
        group statistics, summary, type filters, a by-group match count,
        ``tail`` contents and a ``seek`` count."""
        run, tr = self.run, self.run.tracer
        path = self.last_out
        if path is None:
            return
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        in_bytes = sum(os.path.getsize(os.path.join(self.spec["logs"], f))
                       for f in os.listdir(self.spec["logs"]))
        run.extra["layout"] = {
            "files": len(files),
            "row_groups": self.last_info["num_row_groups"],
            "bytes_per_input_byte": self.last_info["file_size_bytes"] / in_bytes,
        }
        summary, groups = self.truth["summary"], self.truth["groups"]
        named = [g for g in groups if g["name"] != NO_GROUP]
        pattern = max(named, key=lambda g: g["entry_count"])["name"].split(" ", 1)[1].lower()
        matched = sum(g["entry_count"] for g in groups if pattern in g["name"].lower())
        per_file = self.truth["files"]
        seek_at = min(f["lines"] for f in per_file) // 2
        seek_want = sum(f["lines"] - seek_at - sum(q >= seek_at for q in f["quarantined"])
                        for f in per_file)
        tail_pool = [tuple(r) for f in per_file for r in f["tail_rows"]]
        tail_n = self.spec["tail_n"]
        tail_ids = sorted(r[0] for r in tail_pool)[-tail_n:]
        tail_pool = set(tail_pool)

        def tail_check(got):
            if sorted(r[0] for r in got) != tail_ids:
                return "tail row_ids differ"
            if not all(r in tail_pool for r in got):
                return "tail rows differ from the logs' last entries"
            return None

        def expect(want):
            return lambda got: None if got == want else f"{got} != {want}"

        count = lambda df: df.count()  # noqa: E731
        checks = [
            ("list_groups", lambda e: list_groups(e, as_timestamp=False),
             lambda df: [r.asDict() for r in df.collect()],
             lambda got: None if got == groups else "group rows differ"),
            ("summary", processing_summary, lambda df: df.first().asDict(),
             expect(summary)),
            ("filter_command", lambda e: filter_by_type(e, "command"), count,
             expect(summary["commands"])),
            ("filter_progress", lambda e: filter_by_type(e, "progress"), count,
             expect(summary["progress"])),
            ("by_group", lambda e: by_group_stats(e, pattern), count,
             expect(matched)),
            ("tail", lambda e: tail(e, tail_n),
             lambda df: [tuple(r[f] for f in ENTRY_FIELDS) for r in df.collect()],
             tail_check),
            ("seek", lambda e: seek(e, seek_at), count, expect(seek_want)),
        ]
        tr.enabled = bool(self.spec["trace"])
        for name, build, act, check in checks:
            def call(build=build, act=act, name=name):
                with tr.span("read_entries", "parquet"):
                    t0 = time.monotonic()
                    entries = read_entries(run.spark, path, synthesize_row_id=True)
                    run.note("parquet.read_entries_ms", (time.monotonic() - t0) * 1000)
                with tr.span(name, "queries"):
                    df = build(entries)
                return run.action(df, act)

            t0 = time.monotonic()
            run.op(f"check.{name}", call, check)
            run.note(f"queries.{name}_ms", (time.monotonic() - t0) * 1000)
        tr.enabled = False


# ------------------------------------------------------------------- curation

class Curation:
    """The registered keys ``ngram_jaccard``, ``ann_topk`` and
    ``dedup_clusters``: ``queries()[key](spark, dir)`` plus a collect, with
    ``release_query_caches()`` between keys.  Each key's rows are digested
    with the repository's strict comparator (untimed) and the digests are
    checked against DuckDB running ``oracle_sql()`` once per run."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.spec = run.spec
        self.digests: dict[str, list[str]] = {k: [] for k in CURATION_KEYS}
        self.oracle = comparator()
        self.builders = registry.queries()

    def one_pass(self) -> None:
        run, tr = self.run, self.run.tracer
        tables = self.spec["tables"]
        for key in CURATION_KEYS:
            registry.release_query_caches()
            jobs0 = run.counters.snapshot()["spark.jobs"] if tr.enabled else 0

            def call(key=key):
                with tr.span(key, "registry"):
                    t0 = time.monotonic()
                    df = self.builders[key](run.spark, tables)
                    run.note(f"curation.{key}.build_s", time.monotonic() - t0)
                t0 = time.monotonic()
                rows = run.action(df, lambda d: d.collect())
                run.note(f"curation.{key}.collect_s", time.monotonic() - t0)
                if tr.enabled:
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    run.note(f"curation.{key}.plan_chars", len(plan))
                return df.columns, rows

            def check(res, key=key):
                self.digests[key].append(digest(self.oracle, *res))
                return None

            run.op(key, call, check)
            if tr.enabled:
                run.note(f"curation.{key}.jobs",
                         run.counters.snapshot()["spark.jobs"] - jobs0)
        registry.release_query_caches()

    def final_check(self) -> None:
        t0 = time.monotonic()
        want, stale = lookup(self.spec["tables"], registry.oracle_sql(),
                             CURATION_KEYS, self.oracle)
        self.run.extra["oracle_s"] = time.monotonic() - t0
        self.run.extra["oracle_stale"] = stale
        for key in CURATION_KEYS:
            # each call that returned rows left one digest, in call order
            done = [o for o in self.run.ops if o["op"] == key and o["ok"]]
            for rec, got in zip(done, self.digests[key]):
                if got != want[key]:
                    rec["ok"] = False
                    self.run.failures.append(f"{key}: rows differ from oracle_sql()")


WORKLOADS = {"ingest": Ingest, "curation": Curation}


# ----------------------------------------------------------------------- main

def run_passes(run: Run, wl, spec: dict) -> None:
    """Cold pass, warm-up passes, then timed passes for ``seconds`` and at
    least ``min_passes``.  With tracing on, every other timed pass is
    traced, starting with the first."""
    tr, counters = run.tracer, run.counters

    def one(kind: str, traced: bool) -> None:
        pid = len(run.passes)
        tr.pass_id, tr.enabled = pid, traced
        if traced:
            exec0 = counters.snapshot()
        t0 = time.monotonic()
        with tr.span("pass", "bench"):
            wl.one_pass()
        wall = time.monotonic() - t0
        rec = {"kind": kind, "traced": traced, "wall": wall}
        if traced:
            exec1 = counters.snapshot()
            for k in EXEC_COUNTERS:
                run.note(k, exec1[k] - exec0[k])
        run.passes.append(rec)
        tr.enabled = False

    one("cold", False)
    run.extra["jit_through_cold_s"] = counters.jvm_seconds()[0]
    for _ in range(spec["warmup"]):
        one("warmup", False)
    start = time.monotonic()
    k = 0
    while k < spec["min_passes"] or time.monotonic() - start < spec["seconds"]:
        one("timed", bool(spec["trace"]) and k % 2 == 0)
        k += 1
    tr.pass_id = None


def main(spec_path: str, out_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    t0 = time.monotonic()
    # a fixed heap size, so that GC sizing does not follow host speed
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.defaultJavaOptions": f"-Xms{heap}",
    })
    session_s = time.monotonic() - t0
    run = Run(spec, spark)
    wl = WORKLOADS[spec["workload"]](run)
    t_ready = time.monotonic()
    run_passes(run, wl, spec)
    # peak memory and GC time of the passes, before the checks add their own
    rss = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(run.counters.jvm_pid)}
    jvm_mb = {"pools": run.counters.jvm_peak_mb()}
    run.extra["gc_s"] = run.counters.jvm_seconds()[1]
    jvm_mb["live_heap"] = run.counters.live_heap_mb()
    wl.final_check()
    result = {
        "t_ready": t_ready,
        "session_s": session_s,
        "passes": run.passes,
        "ops": run.ops,
        "failures": run.failures,
        "layer": run.layer,
        "extra": run.extra,
        "self_s": run.tracer.self_seconds(
            {i for i, p in enumerate(run.passes) if p["traced"]}),
        "rss_mb": rss,
        "jvm_mb": jvm_mb,
        "conf": {k: spark.conf.get(k) for k in
                 ("spark.master", "spark.driver.memory",
                  "spark.sql.shuffle.partitions")},
    }
    with open(out_path, "w") as f:
        json.dump(result, f)
    stop(spark)
    return 0


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
