"""Guards for bench.py's measurement plumbing (not the timings
themselves): ``measure`` must cold-start every run and count every job a
run launches, the dedup_keep_best phase plans must stay consistent with
the registered key, and the host-calibration probes must return the
fields cross-round comparisons read."""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import bench as B  # noqa: E402

SF = "/root/testdata/sf0.001"
RUN_FIELDS = {"build_s", "exec_s", "build_jobs", "jobs", "stages", "tasks"}


def test_measure_cold_starts_every_run(spark):
    """A run that finds the previous run's persisted blocks skips their
    jobs, so equal job counts on a persisting key mean each run started
    cold.  A broken key is recorded and the next key still runs."""
    got = B.measure(spark, ["no_such_key", "dedup_keep_best"], SF, runs=2)
    assert got["no_such_key"] == {"error": "KeyError: 'no_such_key'", "runs": []}
    runs = got["dedup_keep_best"]["runs"]
    assert len(runs) == 2
    assert all(set(r) == RUN_FIELDS for r in runs)
    assert runs[0]["jobs"] == runs[1]["jobs"] > 0
    assert all(r["stages"] > 0 and r["tasks"] >= r["stages"] for r in runs)
    walls = [r["build_s"] + r["exec_s"] for r in runs]
    assert abs(got["dedup_keep_best"]["min"] - min(walls)) < 0.002


def test_measure_counts_overlap_pool_jobs(spark):
    """``_overlap``'s pool threads do not inherit the caller's job group,
    so a count by job group misses the jobs of ngram_jaccard's legs.
    ``measure`` must count them all: its count equals the app-wide job-id
    gap between two probe jobs around the call."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def probe_job_ids(group):
        sc.setJobGroup(group, group)
        sc.parallelize([1]).count()
        return tracker.getJobIdsForGroup(group)

    before = max(probe_job_ids("measure-before"))
    sc.setJobGroup("measure-run", "measure-run")
    got = B.measure(spark, ["ngram_jaccard"], SF, runs=1)["ngram_jaccard"]
    after = min(probe_job_ids("measure-after"))
    sc.setJobGroup(None, None)
    (run,) = got["runs"]
    assert set(run) == RUN_FIELDS
    assert run["jobs"] == after - before - 1
    assert len(tracker.getJobIdsForGroup("measure-run")) < run["jobs"]
    # the legs run inside the query function, so their jobs are build jobs
    assert 0 < run["build_jobs"] < run["jobs"]


def test_measure_build_jobs_zero_on_lazy_key(spark, monkeypatch):
    """A key that only composes a plan runs every job in the noop write.
    (Every registered key reads Parquet while it builds, and Spark's
    Parquet schema inference runs one job, so the key here is built over
    ``spark.range``.)"""
    from pyspark.sql import functions as F

    def lazy(spark, sf_dir):
        return spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()

    monkeypatch.setattr(B, "_all_queries", lambda: {"lazy": lazy})
    (run,) = B.measure(spark, ["lazy"], SF, runs=1)["lazy"]["runs"]
    assert set(run) == RUN_FIELDS
    assert run["build_jobs"] == 0 < run["jobs"]


def test_no_hard_coded_checkout_path():
    """Tools and tests find the checkout from ``__file__``: a hard-coded
    one makes a second checkout import the first one's modules."""
    pinned = re.compile(r"sys\.path\.insert\(0, [\"']/")
    bad = [
        str(p.relative_to(ROOT))
        for d in ("tools", "tests")
        for p in sorted((ROOT / d).rglob("*.py"))
        if str(ROOT) in p.read_text() or pinned.search(p.read_text())
    ]
    assert bad == []


def test_dedup_keep_best_phases_align_with_registered_key(spark):
    phases = B.PHASE_FNS["dedup_keep_best"](spark, SF)
    assert set(phases) == {"pairs_cc", "full"}
    full = phases["full"]
    import __spark_entry__ as E

    registered = E.queries()["dedup_keep_best"](spark, SF)
    # the 'full' phase IS the registered pipeline: same rows, same schema
    assert full.columns == registered.columns
    assert full.count() == registered.count()
    # pairs_cc is the CC stage: (doc_id, cluster) for clustered docs only
    cc = phases["pairs_cc"]
    assert {"doc_id", "cluster"} <= set(cc.columns)
    assert 0 < cc.count() <= full.count()


def test_host_calibration_shape(spark):
    cal = B._host_calibration(
        spark, py_iters=10_000, scan_rows=100_000, shuffle_rows=10_000
    )
    assert set(cal) == {"py_loop_s", "jvm_hash_sum_s", "jvm_shuffle_s"}
    for v in cal.values():
        assert isinstance(v, float) and v >= 0.0


def test_funnel_steps_usr_rows_equal_standalone_funnel_user_times(spark):
    """The round-10 rule-14b consolidation must be an identity: the
    'usr' rows riding the funnel_steps key are the standalone
    funnel_user_times relation, column-for-column (user id through the
    integer→VARCHAR device) — if the carrier's mapping drifts, this
    fails before the oracle does."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    merged = (
        E.queries()["funnel_steps"](spark, SF)
        .where(F.col("side") == "usr")
        .select(
            F.col("step").cast("long").alias("user_id"),
            F.col("a").alias("furthest_step"),
            F.col("b").alias("t_1"),
            F.col("c").alias("t_2"),
            F.col("d").alias("t_3"),
            F.col("e").alias("convert_ms"),
        )
    )
    standalone = E.q_funnel_user_times(spark, SF)
    assert merged.count() == standalone.count() > 0
    assert merged.exceptAll(standalone).count() == 0
    assert standalone.exceptAll(merged).count() == 0


def test_tokenizer_fertility_plan_is_one_partial_aggregate(spark):
    """The registered tokenizer_fertility key's 100 TB shape: ONE
    map-side-combined aggregate (partial then final HashAggregate), no
    Python UDF stage, scan reads only (source, text)."""
    import __spark_entry__ as E
    from buildkite_logs_parquet_spark.plans.checks import (
        explain_str,
        read_schema_columns,
    )

    import re

    df = E.queries()["tokenizer_fertility"](spark, SF)
    plan = explain_str(df)
    # one shuffle: the group-by (formatted mode names each node twice —
    # tree line + detail header — so count the detail headers)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_sum" in plan  # map-side combine materialized
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    cols = read_schema_columns(df)
    assert cols and all(set(c) <= {"source", "text"} for c in cols)


def test_overlap_legs_value_identical(spark):
    """The §2.6 overlap (round 12) must not change any query's rows: the
    eager localCheckpoint path and the lazy single-plan path are the
    same relation.  Checked on the two most leg-heavy touched keys at
    sf0.001 (events_agg: 8 legs incl. the driver-side percentile
    bisection; webgraph_rank: 4 legs over a shared persist)."""
    import __spark_entry__ as E

    for key in ("events_agg", "webgraph_rank"):
        rows = {}
        for flag in (True, False):
            E._OVERLAP_LEGS = flag
            E.release_query_caches()
            spark.catalog.clearCache()
            df = E.queries()[key](spark, SF)
            rows[flag] = sorted(map(tuple, df.collect()))
        E._OVERLAP_LEGS = True
        assert rows[True] == rows[False], key


def test_time_legs_rebuilds_lazy_shape(spark):
    """bench._time_legs must measure the LAZY plan (per-leg diagnostics)
    even while the headline path overlaps: the rebuild inside it toggles
    __spark_entry__._OVERLAP_LEGS off and restores it."""
    import __spark_entry__ as E

    assert E._OVERLAP_LEGS is True
    legs = B._time_legs(spark, E.queries()["events_agg"], SF, ("side", "|"))
    assert E._OVERLAP_LEGS is True
    assert set(legs) >= {"hourly", "pctl", "rollup"}
