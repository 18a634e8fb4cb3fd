"""Reference query operator tests (list-groups, filters, tail/seek, summary)."""

import pytest
from pyspark.sql import functions as F

from buildkite_logs_parquet_spark.operators.ingest import entries_view, parse_log_lines
from buildkite_logs_parquet_spark.operators import queries as Q

OSC = "\x1b_bk;t="
BEL = "\x07"

LINES = [
    f"{OSC}1000{BEL}before any group",
    f"{OSC}2000{BEL}~~~ Running tests",
    f"{OSC}3000{BEL}$ make test",
    f"{OSC}4000{BEL}remote: Counting objects: 50% (1/2)[K",
    f"{OSC}5000{BEL}--- Environment",
    f"{OSC}6000{BEL}$ env",
    f"{OSC}7000{BEL}plain output",
]


@pytest.fixture(scope="module")
def entries(spark):
    lines = spark.createDataFrame(
        [("f", i, l) for i, l in enumerate(LINES)],
        "file string, line_no long, raw string",
    )
    return entries_view(parse_log_lines(lines, file_col="file")).cache()


def test_list_groups(spark, entries):
    rows = Q.list_groups(entries).collect()
    assert [r["name"] for r in rows] == [
        "<no group>",
        "~~~ Running tests",
        "--- Environment",
    ]
    by_name = {r["name"]: r for r in rows}
    ng = by_name["<no group>"]
    assert ng["entry_count"] == 1 and ng["commands"] == 0 and ng["progress"] == 0
    rt = by_name["~~~ Running tests"]
    assert rt["entry_count"] == 3 and rt["commands"] == 1 and rt["progress"] == 1
    assert rt["first_seen"].timestamp() == 2.0 and rt["last_seen"].timestamp() == 4.0
    env = by_name["--- Environment"]
    assert env["entry_count"] == 3 and env["commands"] == 1 and env["progress"] == 0


def test_list_groups_untimestamped_first_seen_is_null(spark):
    """An entry without a timestamp folds the year-1 sentinel into its
    group's min; ``as_timestamp=True`` must collect it as NULL instead of
    raising, while the ``_ms`` columns keep the sentinel for parity."""
    from buildkite_logs_parquet_spark.operators.ingest import (
        NO_TIMESTAMP_SENTINEL_MS,
    )

    lines = spark.createDataFrame(
        [("f", 0, "~~~ Untimed header"), ("f", 1, f"{OSC}5000{BEL}output")],
        "file string, line_no long, raw string",
    )
    e = entries_view(parse_log_lines(lines, file_col="file"))
    (g,) = Q.list_groups(e).collect()
    assert g["name"] == "~~~ Untimed header" and g["entry_count"] == 2
    assert g["first_seen"] is None
    assert g["last_seen"].timestamp() == 5.0
    (ms,) = Q.list_groups(e, as_timestamp=False).collect()
    assert ms["first_seen_ms"] == NO_TIMESTAMP_SENTINEL_MS
    assert ms["last_seen_ms"] == 5000


def test_filter_by_group(spark, entries):
    # case-insensitive substring
    assert Q.filter_by_group(entries, "running TESTS").count() == 3
    # the <no group> placeholder quirk: pattern "no group" matches unlabeled rows
    assert Q.filter_by_group(entries, "no group").count() == 1
    assert Q.filter_by_group(entries, "absent").count() == 0


def test_filter_by_type(spark, entries):
    assert Q.filter_by_type(entries, "command").count() == 2
    assert Q.filter_by_type(entries, "group").count() == 2
    assert Q.filter_by_type(entries, "section").count() == 2  # legacy alias
    assert Q.filter_by_type(entries, "progress").count() == 1
    assert Q.filter_by_type(entries, "unknown").count() == 7  # keeps all
    assert Q.filter_by_type(entries, "").count() == 7


def test_processing_summary(spark, entries):
    row = Q.processing_summary(entries).first()
    assert row["total_entries"] == 7
    assert row["entries_with_time"] == 7
    assert row["commands"] == 2
    assert row["sections"] == 2
    assert row["progress"] == 1
    assert row["regular"] == 7 - 2 - 2 - 1


def test_seek(spark, entries):
    got = Q.seek(entries, 5).orderBy("row_id").collect()
    assert [r["row_id"] for r in got] == [5, 6]
    with pytest.raises(ValueError, match="exceeds total rows"):
        Q.seek(entries, 7)
    with pytest.raises(ValueError):
        Q.seek(entries, 107)
    assert Q.seek(entries, 0).count() == 7


def test_tail(spark, entries):
    got = Q.tail(entries, 3).orderBy("row_id").collect()
    assert [r["row_id"] for r in got] == [4, 5, 6]
    assert Q.tail(entries, 100).count() == 7  # clamped to full file
    assert Q.tail(entries, 0).count() == 7  # default 10, clamped


def test_by_group_stats_limit(spark, entries):
    assert Q.by_group_stats(entries, "environment", limit=2).count() == 2
    assert Q.by_group_stats(entries, "environment").count() == 3


def test_log_templates_masks_variables_and_counts(spark):
    from buildkite_logs_parquet_spark.operators.queries import (
        log_templates,
        template_of,
    )
    from pyspark.sql import functions as F

    rows = [
        (1000, "retry 3 of 5 after 120ms", "setup"),
        (2000, "retry 4 of 5 after 95ms", "setup"),
        (3000, "retry 1 of 5 after 7ms", "tests"),
        (4000, "built sha 0d1f2a3b4c5d in 2.5s", "build"),
        (5000, "built sha aabbccddeeff in 1.1s", "build"),
        (6000, "unique line with no variables", "tests"),
    ]
    df = spark.createDataFrame(
        rows, "timestamp long, clean_content string, group string"
    )
    out = {r["template"]: r for r in log_templates(df).collect()}
    retry = out["retry <n> of <n> after <dur>"]
    assert retry["n_lines"] == 3 and retry["n_groups"] == 2
    assert (retry["first_ts"], retry["last_ts"]) == (1000, 3000)
    assert retry["example"] == "retry 1 of 5 after 7ms"
    built = out["built sha <hex> in <dur>"]
    assert built["n_lines"] == 2 and built["n_groups"] == 1
    assert out["unique line with no variables"]["n_lines"] == 1

    # masking order: a uuid is one token, not shredded by the hex/number rules
    one = spark.createDataFrame(
        [(1, "job 123e4567-e89b-12d3-a456-426614174000 took 3s", "g")],
        "timestamp long, clean_content string, group string",
    )
    got = one.select(template_of(F.col("clean_content")).alias("t")).first()["t"]
    assert got == "job <uuid> took <dur>"


def test_persisting_queries_release_previous_caches(spark):
    """Cache hygiene: each persisting registry query releases the
    PREVIOUS one's cached relations on entry, so a long session running
    many queries holds at most one query's persisted storage (round-6
    advisory: q_ann_topk/q_bm25_scores persisted and never unpersisted)."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    E.release_query_caches()
    df1 = E.queries()["ann_topk"](spark, sf)
    df1.count()
    first_batch = [d for _, d in E._QUERY_CACHES]
    assert first_batch, "ann_topk should register persisted relations"
    assert all(d.storageLevel.useMemory for d in first_batch)
    # a REPEAT of the same query keeps its own caches (bench min-of-runs
    # reuse: the identical re-persisted plan maps onto the same blocks)
    E.queries()["ann_topk"](spark, sf).count()
    assert all(d.storageLevel.useMemory for d in first_batch)
    df2 = E.queries()["bm25_scores"](spark, sf)
    df2.count()
    # ann_topk's relations were released when a DIFFERENT query entered
    assert all(not d.storageLevel.useMemory for d in first_batch)
    assert E._QUERY_CACHES and all(
        d.storageLevel.useMemory for _, d in E._QUERY_CACHES
    )
    E.release_query_caches()
    assert not E._QUERY_CACHES
