"""Golden-vector + property tests for the scalar log-text expressions.

Vectors re-derived from the reference behaviors catalogued in FIXTURES.md §1
(parser_test.go / scanner_test.go families).  The property test checks the
Spark regex implementations against the pure-Python byte-machine spec in
ref_semantics.py over adversarial generated inputs.
"""

import string

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from buildkite_logs_parquet_spark.functions import log_text as LT
from buildkite_logs_parquet_spark.operators.ingest import parse_log_lines
from tests import ref_semantics as SPEC

OSC = "\x1b_bk;t="
BEL = "\x07"
ESC = "\x1b"


# ---------------------------------------------------------------- OSC parse

PARSE_VECTORS = [
    # (raw, expected_ts_or_None, expected_content, expect_error)
    (f"{OSC}1745322209921{BEL}~~~ Running tests", 1745322209921, "~~~ Running tests", False),
    (f"{OSC}1745322209921{BEL}{ESC}[90m$\x1b[0m hooks/env", 1745322209921, "\x1b[90m$\x1b[0m hooks/env", False),
    ("regular log line without timestamp", None, "regular log line without timestamp", False),
    (f"{OSC}1745322209921{BEL}", 1745322209921, "", False),
    (f"{OSC}invalid{BEL}content", None, None, True),
    ("", None, "", False),
    ("a", None, "a", False),
    (f"{OSC}123456", None, f"{OSC}123456", False),  # no BEL → plain line
    (f"{OSC}123{BEL}content{BEL}more", 123, f"content{BEL}more", False),  # first BEL wins
    (f"{OSC}9999999999999{BEL}content", 9999999999999, "content", False),  # 13-digit
    # 9 bytes: under the reference's `len < 10` guard → whole line is content
    # (scanner.go:22's comment claims this is the minimum OSC line; the code
    # disagrees — the guard wins)
    (f"{OSC}1{BEL}", None, f"{OSC}1{BEL}", False),
    (f"{OSC}12{BEL}", 12, "", False),  # 10 bytes — true minimum OSC line
    (f"{OSC}{BEL}x", None, f"{OSC}{BEL}x", False),  # 9 bytes → plain again
    (f"{OSC}{BEL}xx", None, None, True),  # 10 bytes, empty ts span → error
    (f"{OSC}+42{BEL}x", 42, "x", False),  # ParseInt sign tolerance
    (f"{OSC}99999999999999999999{BEL}x", None, None, True),  # int64 overflow
]


def _parse_one(spark, raw):
    df = spark.createDataFrame([(raw,)], "raw string")
    osc = LT.is_osc_line(F.col("raw"))
    ts_str = LT.osc_timestamp_str(F.col("raw"))
    row = df.select(
        osc.alias("osc"),
        F.when(osc, ts_str).alias("ts_str"),
        LT.osc_content(F.col("raw")).alias("content"),
    ).first()
    return row


@pytest.mark.parametrize("raw,ts,content,err", PARSE_VECTORS)
def test_parse_vectors(spark, raw, ts, content, err):
    want_ts, want_content, want_err = SPEC.parse_line(raw)
    # the spec itself must agree with the vector table
    assert (want_err is not None) == err
    if not err:
        assert want_ts == ts and want_content == content

    row = _parse_one(spark, raw)
    if err:
        assert row["osc"], "error vectors are OSC lines with bad ts"
        ts_ok = row["ts_str"] is not None and __import__("re").fullmatch(
            r"[+-]?[0-9]+", row["ts_str"]
        )
        in_range = ts_ok and -(2**63) <= int(row["ts_str"]) < 2**63
        assert not in_range
    elif ts is None:
        assert not row["osc"]
        assert row["content"] == content
    else:
        assert row["osc"]
        assert int(row["ts_str"]) == ts
        assert row["content"] == content


# ---------------------------------------------------------------- ANSI strip

STRIP_VECTORS = [
    ("\x1b[31mred text\x1b[0m", "red text"),
    ("[90m$[0m /buildkite/agent/hooks/environment", "$ /buildkite/agent/hooks/environment"),
    ("remote: Counting objects:  50% (27/54)[K", "remote: Counting objects:  50% (27/54)"),
    ("no ansi here", "no ansi here"),
    ("", ""),
    ("\x1b[1;32mbold green\x1b[0m and \x1b[4munderline\x1b[0m", "bold green and underline"),
    ("[K", ""),
    ("[12345678K max 8 digits", " max 8 digits"),  # letter at i+9: last in-lookahead slot
    ("[123456789K stays: 9 digits", "[123456789K stays: 9 digits"),  # letter at i+10 → kept
    ("[hello", "ello"),  # ESC-less branch treats 'h' as final char (ref behavior)
    ("tail esc \x1b", "tail esc \x1b"),  # lone ESC at EOS kept
    ("tail csi \x1b[", "tail csi "),  # ESC[ at EOS stripped
    ("tail csi \x1b[12", "tail csi "),  # unterminated CSI swallowed to EOS
    ("a\x1b[31mred\x1b[0m [K b[hello", "ared  bello"),
    ("[\x1b[m9m", "[9m"),  # interleaving: ESC-less [ invalid (next is ESC), CSI stripped
]


@pytest.mark.parametrize("content,expected", STRIP_VECTORS)
def test_strip_vectors(spark, content, expected):
    assert SPEC.strip_ansi(content) == expected  # spec agrees with table
    df = spark.createDataFrame([(content,)], "c string")
    got = df.select(LT.strip_ansi(F.col("c")).alias("s")).first()["s"]
    assert got == expected


# ------------------------------------------------------------ classification

CLASSIFY_VECTORS = [
    # (content, is_command, is_group, is_progress)
    ("$ npm test", True, False, False),
    ("\x1b[90m$\x1b[0m make build", True, False, False),
    ("$no space", False, False, False),
    ("~~~ Running tests", False, True, False),
    ("--- :package: checkout", False, True, False),
    ("+++ :hammer: tests", False, True, False),
    ("\x1b[1m~~~ wrapped header\x1b[0m", False, True, False),
    ("~~ not a header", False, False, False),
    ("remote: Counting objects:  50% (27/54)[K", False, False, True),
    ("remote: Resolving deltas: 100%[K", False, False, True),
    ("[K only erase, no keywords", False, False, False),
    ("objects without erase", False, False, False),
    ("plain output line", False, False, False),
    ("100% done [K", False, False, True),
]


@pytest.mark.parametrize("content,cmd,grp,prog", CLASSIFY_VECTORS)
def test_classify_vectors(spark, content, cmd, grp, prog):
    assert SPEC.is_command(content) == cmd
    assert SPEC.is_group(content) == grp
    assert SPEC.is_progress(content) == prog
    df = spark.createDataFrame([(content,)], "c string")
    clean = LT.strip_ansi(F.col("c"))
    row = df.select(
        LT.is_command(clean).alias("cmd"),
        LT.is_group_header(clean).alias("grp"),
        LT.is_progress(F.col("c"), clean).alias("prog"),
    ).first()
    assert (row["cmd"], row["grp"], row["prog"]) == (cmd, grp, prog)


# ------------------------------------------------------- property: machine ≡ regex

_alphabet = (
    string.ascii_letters + string.digits + " ;%$~+-[]()" + "\x1b\x07\r"
)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.text(alphabet=_alphabet, max_size=30), min_size=1, max_size=40))
def test_strip_ansi_matches_machine(spark, contents):
    df = spark.createDataFrame([(c,) for c in contents], "c string")
    got = [r["s"] for r in df.select(LT.strip_ansi(F.col("c")).alias("s")).collect()]
    want = [SPEC.strip_ansi(c) for c in contents]
    assert got == want


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.text(alphabet=_alphabet, max_size=40),
            st.builds(
                lambda ts, body: f"\x1b_bk;t={ts}\x07{body}",
                st.one_of(
                    st.integers(min_value=-(2**64), max_value=2**64).map(str),
                    st.text(alphabet="0123456789abc+-_ ", max_size=12),
                ),
                st.text(alphabet=_alphabet, max_size=30),
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_parse_matches_machine(spark, lines):
    df = spark.createDataFrame([(l,) for l in lines], "raw string")
    osc = LT.is_osc_line(F.col("raw"))
    ts_str = LT.osc_timestamp_str(F.col("raw"))
    ts_ok = ts_str.rlike(LT.TS_DIGITS_PATTERN)
    ts_val = ts_str.try_cast("long")
    rows = df.select(
        F.col("raw"),
        osc.alias("osc"),
        F.when(osc & ts_ok & ts_val.isNotNull(), ts_val).alias("ts"),
        (osc & (~ts_ok | ts_val.isNull())).alias("err"),
        LT.osc_content(F.col("raw")).alias("content"),
    ).collect()
    by_raw = {}
    for r in rows:
        by_raw.setdefault(r["raw"], r)
    for line in lines:
        want_ts, want_content, want_err = SPEC.parse_line(line)
        r = by_raw[line]
        if want_err is not None:
            assert r["err"], f"expected quarantine for {line!r}"
        else:
            assert not r["err"]
            assert r["ts"] == want_ts
            assert r["content"] == want_content


_no_bracket = "".join(c for c in _alphabet if c != "[")
_body = st.one_of(
    st.text(alphabet=_no_bracket, max_size=30),  # no ANSI sequence possible
    st.builds(
        lambda a, b: f"{a}[{b}",
        st.text(alphabet=_alphabet, max_size=15),
        st.text(alphabet=_alphabet, max_size=15),
    ),
    st.sampled_from(
        ["~~~ Build", "--- :pipeline: up", "$ make", f"{ESC}[90m$ {ESC}[0mls",
         "Receiving objects: 10%[K", "[2K+++ deps"]
    ),
)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.one_of(
            _body,
            st.builds(
                lambda ts, body: f"{OSC}{ts}{BEL}{body}",
                st.one_of(
                    st.integers(min_value=-(2**64), max_value=2**64).map(str),
                    st.text(alphabet="0123456789abc+-_ ", max_size=12),
                ),
                _body,
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_parse_log_lines_matches_pipeline(spark, lines):
    """The production parse, not the helpers one by one, against the
    sequential reference pipeline (group propagation included)."""
    df = spark.createDataFrame(
        [("f", i, l) for i, l in enumerate(lines)],
        "file string, line_no long, raw string",
    )
    got = {
        r["line_no"]: r
        for r in parse_log_lines(df, file_col="file", group_strategy="window").collect()
    }
    for want in SPEC.run_pipeline(lines):
        r = got[want["line_no"]]
        if want["parse_error"] is not None:
            line = lines[want["line_no"]]
            assert r["parse_error"] == "invalid timestamp: " + line[7 : line.index(BEL)]
            continue
        assert r["parse_error"] is None
        for k in ("timestamp", "content", "group", "has_timestamp",
                  "is_command", "is_group", "is_progress"):
            assert r[k] == want[k], (k, lines[want["line_no"]])


def test_truncate_string(spark):
    df = spark.createDataFrame([("x" * 50,), ("short",)], "c string")
    got = [
        r["t"] for r in df.select(LT.truncate_string(F.col("c"), 40).alias("t")).collect()
    ]
    assert got[0] == "x" * 37 + "..." and len(got[0]) == 40
    assert got[1] == "short"
