"""Scale smoke: a 200k-line single-file ingest through the full pipeline.

Not a micro-benchmark — a correctness check at a volume where partitioning
actually matters (the file splits across tasks), proving the distributed
line numbering, both group-propagation strategies, and the aggregate results
agree with closed-form expectations derived from the generator.
"""

import pytest
from pyspark.sql import functions as F

from buildkite_logs_parquet_spark.operators.ingest import entries_view, parse_log_lines
from buildkite_logs_parquet_spark.operators.queries import list_groups, processing_summary
from buildkite_logs_parquet_spark.sources.logs import read_log_lines

OSC = "\x1b_bk;t="
BEL = "\x07"

N_LINES = 200_000
GROUP_EVERY = 1_000  # a header every 1000 lines → 200 groups


def _write_big_log(path):
    # mirrors the reference's synthetic generator idea
    # (parser_bench_test.go:11-56): cycled line varieties, deterministic
    with open(path, "w") as f:
        for i in range(N_LINES):
            ts = 1700000000000 + i
            if i % GROUP_EVERY == 0:
                f.write(f"{OSC}{ts}{BEL}~~~ section {i // GROUP_EVERY}\n")
            elif i % 7 == 1:
                f.write(f"{OSC}{ts}{BEL}$ step {i}\n")
            elif i % 7 == 2:
                f.write(f"{OSC}{ts}{BEL}remote: Counting objects: 50% ({i}/100)\x1b[K\n")
            else:
                f.write(f"{OSC}{ts}{BEL}output line {i}\n")


@pytest.fixture(scope="module")
def big_log(tmp_path_factory):
    p = tmp_path_factory.mktemp("scale") / "big.log"
    _write_big_log(str(p))
    return str(p)


@pytest.mark.parametrize("strategy", ["window", "broadcast"])
def test_full_pipeline_200k_lines(spark, big_log, strategy):
    lines = read_log_lines(spark, big_log)
    assert lines.rdd.getNumPartitions() >= 2, "file must split across tasks"
    entries = entries_view(
        parse_log_lines(lines, file_col="file", group_strategy=strategy)
    )

    s = processing_summary(entries).first()
    n_headers = N_LINES // GROUP_EVERY
    # generator counts: i%7==1 → command unless it's a header line
    n_cmds = sum(
        1 for i in range(N_LINES) if i % 7 == 1 and i % GROUP_EVERY != 0
    )
    n_prog = sum(
        1 for i in range(N_LINES) if i % 7 == 2 and i % GROUP_EVERY != 0
    )
    assert s["total_entries"] == N_LINES
    assert s["entries_with_time"] == N_LINES
    assert s["sections"] == n_headers
    assert s["commands"] == n_cmds
    assert s["progress"] == n_prog

    groups = list_groups(entries, as_timestamp=False)
    assert groups.count() == n_headers  # no "<no group>": header at line 0
    first = groups.orderBy("first_seen_ms").first()
    assert first["name"] == "~~~ section 0"
    assert first["entry_count"] == GROUP_EVERY

    # spot-check the boundary rows: last row of section k, first of k+1
    b = entries.where(F.col("row_id").isin(GROUP_EVERY - 1, GROUP_EVERY)).orderBy(
        "row_id"
    ).collect()
    assert b[0]["group"] == "~~~ section 0"
    assert b[1]["group"] == "~~~ section 1"
