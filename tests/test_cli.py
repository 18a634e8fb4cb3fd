"""CLI surface tests (bklog-equivalent parse/query commands).

Runs in-process (main(argv)) against the reference's committed testdata;
stdout captured via capsys.
"""

import json
import os

import pytest

from buildkite_logs_parquet_spark.cli import main

LOG = "/root/reference/testdata/bash-example.log"
PARQUET = "/root/reference/testdata/bash-example.parquet"

needs_ref = pytest.mark.skipif(
    not os.path.exists(LOG), reason="reference testdata not present"
)


@needs_ref
def test_parse_to_parquet_and_query_roundtrip(spark, tmp_path, capsys):
    out = str(tmp_path / "parsed.parquet")
    rc = main(["parse", "-file", LOG, "-output", out, "-summary"])
    assert rc == 0
    err = capsys.readouterr().err
    assert "Total entries: 212" in err
    assert "Commands: 15" in err

    rc = main(["query", out, "-op", "list-groups"])
    assert rc == 0
    text = capsys.readouterr().out
    assert "Groups found: 13" in text
    assert "~~~ Running script" in text


@needs_ref
def test_query_reference_file_json(spark, capsys):
    rc = main(["query", PARQUET, "-op", "list-groups", "-format", "json"])
    assert rc == 0
    data = json.loads(capsys.readouterr().out)
    assert len(data["groups"]) == 13
    names = [g["name"] for g in data["groups"]]
    assert "~~~ Running global environment hook" in names


@needs_ref
def test_query_info(spark, capsys):
    rc = main(["query", PARQUET, "-op", "info", "-format", "json"])
    assert rc == 0
    info = json.loads(capsys.readouterr().out)
    assert info["row_count"] == 212 and info["num_row_groups"] == 1


@needs_ref
def test_query_tail_and_seek(spark, capsys):
    rc = main(["query", PARQUET, "-op", "tail", "-tail", "3"])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l]
    assert len(lines) == 3

    rc = main(["query", PARQUET, "-op", "seek", "-seek-row", "100000"])
    assert rc == 1
    assert "exceeds total rows" in capsys.readouterr().err


@needs_ref
def test_query_by_group_requires_pattern(spark, capsys):
    rc = main(["query", PARQUET, "-op", "by-group"])
    assert rc == 2


def test_parse_requires_exactly_one_source(spark, capsys):
    assert main(["parse"]) == 2
    assert (
        main(["parse", "-file", "x.log", "-org", "o", "-pipeline", "p", "-build", "1", "-job", "j"])
        == 2
    )


OSC = "\x1b_bk;t="
BEL = "\x07"


@pytest.mark.parametrize("partitioned", [False, True])
def test_parse_summary_counts_quarantined_lines(spark, tmp_path, capsys, partitioned):
    """``parse -output -summary`` on a generated log with one
    invalid-timestamp line: the printed totals cover the six entries, the
    quarantine line counts the seventh raw line, and the written Parquet
    holds exactly the entries."""
    from buildkite_logs_parquet_spark.sources.parquet_io import read_entries

    log = tmp_path / "job.log"
    log.write_text(
        f"{OSC}1000{BEL}~~~ Setup\n"
        f"{OSC}1001{BEL}$ make\n"
        "plain output\n"
        f"{OSC}12ab{BEL}bad timestamp\n"
        f"{OSC}1003{BEL}--- Build\n"
        f"{OSC}1004{BEL}$ make test\n"
        f"{OSC}1005{BEL}done\n"
    )
    out = str(tmp_path / "parsed.parquet")
    argv = ["parse", "-file", str(log), "-output", out, "-summary"]
    assert main(argv + (["-partitioned"] if partitioned else [])) == 0
    err = capsys.readouterr().err
    for want in (
        "Total entries: 6",
        "Entries with timestamps: 5",
        "Commands: 2",
        "Sections: 2",
        "Progress updates: 0",
        "Regular output: 2",
        "Quarantined lines (invalid timestamp): 1",
    ):
        assert want in err, (want, err)
    back = read_entries(spark, out)
    assert back.count() == 6
    assert back.where("content = 'bad timestamp'").count() == 0
    if not partitioned:
        assert len([f for f in os.listdir(out) if f.endswith(".parquet")]) == 1
