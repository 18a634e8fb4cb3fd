"""Ingest pipeline tests: group propagation (both strategies), quarantine,
and full-pipeline equivalence against the sequential Python spec."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from buildkite_logs_parquet_spark.operators.ingest import (
    entries_view,
    parse_log_lines,
)
from tests import ref_semantics as SPEC

OSC = "\x1b_bk;t="
BEL = "\x07"

# 7-line script mirroring the reference's group_test.go golden shape:
# entries before any header get "", headers get themselves, following
# entries inherit, new header switches.
GOLDEN_SCRIPT = [
    f"{OSC}1745322209921{BEL}preamble line",
    f"{OSC}1745322209922{BEL}~~~ Running global environment hook",
    f"{OSC}1745322209923{BEL}\x1b[90m$\x1b[0m /buildkite/agent/hooks/environment",
    f"{OSC}1745322209924{BEL}--- :package: Build job checkout directory",
    f"{OSC}1745322209925{BEL}Cloning into '.'...",
    f"{OSC}1745322209926{BEL}+++ :hammer: Example tests",
    f"{OSC}1745322209927{BEL}$ make test",
]
GOLDEN_GROUPS = [
    "",
    "~~~ Running global environment hook",
    "~~~ Running global environment hook",
    "--- :package: Build job checkout directory",
    "--- :package: Build job checkout directory",
    "+++ :hammer: Example tests",
    "+++ :hammer: Example tests",
]


def _lines_df(spark, lines, file="f"):
    return spark.createDataFrame(
        [(file, i, l) for i, l in enumerate(lines)],
        "file string, line_no long, raw string",
    )


@pytest.mark.parametrize("strategy", ["window", "broadcast"])
def test_group_propagation_golden(spark, strategy):
    df = parse_log_lines(
        _lines_df(spark, GOLDEN_SCRIPT), file_col="file", group_strategy=strategy
    )
    got = [r["group"] for r in df.orderBy("line_no").select("group").collect()]
    assert got == GOLDEN_GROUPS


@pytest.mark.parametrize("strategy", ["window", "broadcast"])
def test_pipeline_matches_spec(spark, strategy):
    lines = GOLDEN_SCRIPT + [
        "no timestamp plain line",
        f"{OSC}bogus{BEL}~~~ evil header in error row",  # must NOT update group
        f"{OSC}1745322209930{BEL}after error",
        f"{OSC}1745322209931{BEL}remote: Counting objects: 50% (1/2)[K",
        f"{OSC}1745322209932{BEL}~~~ final group\r",
        f"{OSC}1745322209933{BEL}[0m[90mtrailing ansi[K",
    ]
    df = parse_log_lines(
        _lines_df(spark, lines), file_col="file", group_strategy=strategy
    )
    got = {r["line_no"]: r.asDict() for r in df.collect()}
    want = SPEC.run_pipeline(lines)
    for w in want:
        g = got[w["line_no"]]
        if w.get("parse_error") and "timestamp" not in w:
            assert g["parse_error"] is not None
            continue
        assert g["parse_error"] is None
        for k in (
            "timestamp",
            "content",
            "group",
            "has_timestamp",
            "is_command",
            "is_group",
            "is_progress",
        ):
            assert g[k] == w[k], f"line {w['line_no']} col {k}: {g[k]!r} != {w[k]!r}"


def test_no_timestamp_sentinel_parity(spark):
    """At-rest parity for untimestamped lines (parquet.go:63 writes
    UnixMilli of the in-flight time.Time):

    * non-OSC line → Go zero time → -62135596800000 ms, HasTimestamp false
    * ``t=0`` → time.Unix(0,0) is epoch 1970, a REAL instant → stores 0
      with HasTimestamp TRUE (not a sentinel)
    * a literal ``t=-62135596800000`` hits the zero instant → IsZero()
      true → HasTimestamp false even though the OSC parse succeeded
    """
    from buildkite_logs_parquet_spark.operators.ingest import (
        NO_TIMESTAMP_SENTINEL_MS,
    )

    lines = [
        "plain line, no OSC prefix",
        f"{OSC}0{BEL}x",
        f"{OSC}-62135596800000{BEL}x",
        f"{OSC}1745322209921{BEL}normal",
    ]
    df = parse_log_lines(_lines_df(spark, lines), file_col="file")
    got = {
        r["line_no"]: (r["timestamp"], r["has_timestamp"])
        for r in df.collect()
    }
    assert got[0] == (NO_TIMESTAMP_SENTINEL_MS, False)
    assert got[1] == (0, True)
    assert got[2] == (NO_TIMESTAMP_SENTINEL_MS, False)
    assert got[3] == (1745322209921, True)


def test_strategies_equivalent_multifile(spark):
    rows = []
    for f in range(3):
        for i, l in enumerate(GOLDEN_SCRIPT):
            rows.append((f"file{f}", i, l))
    df = spark.createDataFrame(rows, "file string, line_no long, raw string")
    a = (
        parse_log_lines(df, file_col="file", group_strategy="window")
        .select("file", "line_no", "group")
        .collect()
    )
    b = (
        parse_log_lines(df, file_col="file", group_strategy="broadcast")
        .select("file", "line_no", "group")
        .collect()
    )
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_auto_strategy_switches_on_file_size(spark):
    """strategy='auto' keeps the window for small files, abandons the
    single-task Window stage once the known line count crosses the
    threshold, stays off it when the count is unknown — and all routes
    produce identical groups."""
    df = _lines_df(spark, GOLDEN_SCRIPT)

    def plan(max_lines, **kw):
        out = parse_log_lines(
            df,
            file_col="file",
            group_strategy="auto",
            max_file_lines=max_lines,
            **kw,
        )
        return out, out._jdf.queryExecution().executedPlan().toString()

    small, small_plan = plan(len(GOLDEN_SCRIPT))
    assert "Window" in small_plan  # under threshold → window strategy
    big, big_plan = plan(10_000_000, auto_window_max_lines=1_000_000)
    # over threshold → broadcast segmented: the LINES never pass through
    # a global/per-file Window (the only window runs on the tiny bucket
    # table); assert no single-task window over the parse stream by
    # checking the broadcast join marker is present instead
    assert "BroadcastHashJoin" in big_plan
    unknown, unknown_plan = plan(None)
    assert "BroadcastHashJoin" in unknown_plan  # unknown size → safe path

    want = GOLDEN_GROUPS
    for out in (small, big, unknown):
        got = [r["group"] for r in out.orderBy("line_no").select("group").collect()]
        assert got == want


def test_default_strategy_is_scale_safe_auto(spark):
    """With NO strategy argument, parse_log_lines routes through auto:
    a known-small count engages the fast window, a count above the
    threshold OR an unknown size engages the broadcast segmented
    strategy — the single-giant-file foot-gun is off by default."""
    df = _lines_df(spark, GOLDEN_SCRIPT)

    def plan(**kw):
        out = parse_log_lines(df, file_col="file", **kw)
        return out, out._jdf.queryExecution().executedPlan().toString()

    small, small_plan = plan(max_file_lines=len(GOLDEN_SCRIPT))
    assert "Window" in small_plan
    big, big_plan = plan(
        max_file_lines=10_000_000, auto_window_max_lines=1_000_000
    )
    assert "BroadcastHashJoin" in big_plan
    unknown, unknown_plan = plan()
    assert "BroadcastHashJoin" in unknown_plan
    want = GOLDEN_GROUPS
    for out in (small, big, unknown):
        got = [r["group"] for r in out.orderBy("line_no").select("group").collect()]
        assert got == want


def test_reader_stats_feed_auto(spark, tmp_path):
    """read_log_lines(stats_out=...) exposes exact per-file line counts —
    the free input to the auto switch."""
    from buildkite_logs_parquet_spark.sources.logs import read_log_lines

    p1 = tmp_path / "a.log"
    p1.write_text("\n".join(f"line {i}" for i in range(37)) + "\n")
    p2 = tmp_path / "b.log"
    p2.write_text("\n".join(f"line {i}" for i in range(11)) + "\n")
    stats: dict = {}
    df = read_log_lines(spark, [str(p1), str(p2)], stats_out=stats)
    assert df.count() == 48
    by_name = {k.rsplit("/", 1)[-1]: v for k, v in stats.items()}
    assert by_name == {"a.log": 37, "b.log": 11}


def test_window_places_read_files_by_line_count(spark, tmp_path):
    """Files from ``read_log_lines`` reach the group window's tasks by line
    count, largest first onto the least-loaded task, whatever their paths
    hash to: with 4 tasks, the 20- and 10-line logs share one and the 30-
    and 5-line logs another.  Groups match the broadcast strategy."""
    from buildkite_logs_parquet_spark.sources.logs import read_log_lines

    sizes = {"a": 50, "b": 40, "c": 30, "d": 20, "e": 10, "f": 5}
    for name, n in sizes.items():
        (tmp_path / f"{name}.log").write_text(
            "".join(f"~~~ {name}{i}\n" if i % 7 == 0 else f"line {i}\n"
                    for i in range(n))
        )
    lines = read_log_lines(spark, str(tmp_path))
    window = parse_log_lines(lines, file_col="file", group_strategy="window")
    assert "_task" not in window.columns
    plan = window._jdf.queryExecution().executedPlan().toString()
    shuffles = [l for l in plan.splitlines() if "- Exchange " in l]
    assert len(shuffles) == 1, plan
    tasks: dict = {}
    for r in window.select("file", F.spark_partition_id().alias("p")).distinct().collect():
        tasks.setdefault(r["p"], set()).add(r["file"].rsplit("/", 1)[-1][0])
    assert sorted(map(sorted, tasks.values())) == [
        ["a"], ["b"], ["c", "f"], ["d", "e"]
    ]
    broadcast = parse_log_lines(lines, file_col="file", group_strategy="broadcast")
    cols = ["file", "line_no", "group"]
    assert window.select(cols).exceptAll(broadcast.select(cols)).count() == 0
    assert window.count() == broadcast.count() == sum(sizes.values())


def test_reader_drops_exactly_one_trailing_cr_byte(spark, tmp_path):
    """``bufio.ScanLines`` drops one ``\\r`` byte and keeps every byte
    before it, even a broken UTF-8 sequence."""
    from buildkite_logs_parquet_spark.sources.logs import read_log_lines

    p = tmp_path / "crlf.log"
    p.write_bytes(
        b"a\r\r\n" b"b\r\n" b"c\n" b"\xe2\x82\xac\r\n" b"d\xe2x\r\n" b"\r\n"
    )
    got = [
        r["h"]
        for r in read_log_lines(spark, str(p))
        .orderBy("line_no")
        .select(F.hex(F.col("raw").cast("binary")).alias("h"))
        .collect()
    ]
    assert got == ["610D", "62", "63", "E282AC", "64E278", ""]


def test_no_headers_at_all(spark):
    lines = ["plain one", "plain two"]
    for strategy in ("window", "broadcast"):
        df = parse_log_lines(
            _lines_df(spark, lines), file_col="file", group_strategy=strategy
        )
        assert [r["group"] for r in df.orderBy("line_no").collect()] == ["", ""]


def test_entries_view_drops_quarantined(spark):
    lines = [f"{OSC}bad{BEL}x", f"{OSC}123{BEL}ok line here"]
    parsed = parse_log_lines(_lines_df(spark, lines), file_col="file")
    ev = entries_view(parsed)
    assert ev.count() == 1
    assert parsed.where(F.col("parse_error").isNotNull()).count() == 1
    assert ev.columns == [
        "row_id",
        "timestamp",
        "content",
        "group",
        "has_timestamp",
        "is_command",
        "is_group",
        "is_progress",
    ]


_line_strategy = st.one_of(
    st.text(alphabet="abc $~+-[]K%;09\x1b\x07", max_size=20),
    st.builds(lambda sig, body: f"{sig} {body}", st.sampled_from(["~~~", "---", "+++", "$", ""]), st.text(alphabet="abc ", max_size=10)),
    st.builds(
        lambda ts, body: f"{OSC}{ts}{BEL}{body}",
        st.one_of(st.integers(0, 2**40).map(str), st.just("nope")),
        st.text(alphabet="abc $~+-[]K%\x1b", max_size=15),
    ),
)


@settings(max_examples=60, deadline=None)
@given(st.lists(_line_strategy, min_size=1, max_size=60))
def test_pipeline_property(spark, lines):
    df = parse_log_lines(_lines_df(spark, lines), file_col="file")
    got = {r["line_no"]: r.asDict() for r in df.collect()}
    want = SPEC.run_pipeline(lines)
    for w in want:
        g = got[w["line_no"]]
        if "timestamp" not in w:
            assert g["parse_error"] is not None
        else:
            assert g["parse_error"] is None
            assert g["group"] == w["group"]
            assert g["timestamp"] == w["timestamp"]
            assert g["content"] == w["content"]
