"""Guard the guard: the local oracle comparator must actually detect
mismatches (a vacuous-pass bug here would make every local gate green)."""

from __future__ import annotations

import datetime
import decimal
import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.check_oracle import canon, rows_to_multiset  # noqa: E402


def test_canon_floats_and_specials():
    assert canon(1.5) == repr(1.5)
    assert canon(float("nan")) == "NaN"
    assert canon(None) == "NULL"
    assert canon(True) == "True"
    # decimal compares through its float image (both engines render the
    # same decimal; the driver hashes strings, we canon via float repr)
    assert canon(decimal.Decimal("1.250")) == repr(1.25)
    assert canon(datetime.date(2026, 1, 2)) == "2026-01-02"


def test_multiset_is_order_insensitive_in_rows_and_columns():
    a = rows_to_multiset(["x", "y"], [(1, 2), (3, 4)])
    b = rows_to_multiset(["y", "x"], [(4, 3), (2, 1)])
    assert a == b


def test_multiset_detects_value_mismatch():
    a = rows_to_multiset(["x"], [(1,), (2,)])
    b = rows_to_multiset(["x"], [(1,), (3,)])
    assert a != b


def test_multiset_detects_duplicate_count_mismatch():
    a = rows_to_multiset(["x"], [(1,), (1,)])
    b = rows_to_multiset(["x"], [(1,)])
    assert a != b


def test_multiset_detects_float_last_ulp():
    x = 0.1 + 0.2
    y = 0.3
    assert x != y  # the classic
    a = rows_to_multiset(["x"], [(x,)])
    b = rows_to_multiset(["x"], [(y,)])
    assert a != b  # repr-based canon preserves the distinction


def test_strict_canon_is_tighter_than_driver_canon():
    from tools.check_oracle import canon_strict

    # decimal scale differences are invisible to the lossy canon but
    # MUST be visible to strict (a driver hashing rendered strings would
    # see them)
    a, b = decimal.Decimal("1.5"), decimal.Decimal("1.500000000")
    assert canon(a) == canon(b)
    assert canon_strict(a) != canon_strict(b)
    # float bit patterns: equal doubles canon equal, 1-ulp apart differ
    x = 0.1 + 0.2
    assert canon_strict(x) != canon_strict(0.3)
    assert canon_strict(x) == canon_strict(x)
    # type tags: int 1, float 1.0, bool True, string "1" all distinct
    tags = {canon_strict(v) for v in (1, 1.0, True, "1")}
    assert len(tags) == 4
    assert canon_strict(None) == "NULL"
    assert canon_strict(float("nan")) == "f:NaN"


def test_oracle_lint_is_clean():
    """Every release-sensitive construct in oracle SQL is either fixed
    or an argued allowlist entry (tools/lint_oracles.py) — the round-5
    driver hash-mismatch class cannot re-enter silently."""
    from tools.lint_oracles import ALLOWLIST, PATTERNS, main

    assert main() == 0
    # the allowlist only names real queries (no stale entries)
    import __spark_entry__ as E

    names = set(E.oracle_sql())
    stale = [q for q, _ in ALLOWLIST if q not in names]
    assert stale == [], f"allowlist names unknown queries: {stale}"
    # the round-5 root-cause pattern is among the lint's patterns
    assert any(n == "digit-strip" for n, _ in PATTERNS)

def test_no_oracle_output_type_mangles_under_dataframe_fetch():
    """DETERMINISM rule 15 (round-7 root cause of the round-4..6 driver
    reds): DuckDB promotes sum()/`//` chains to HUGEINT, and a HUGEINT
    OUTPUT column fetches as float64 (pandas) or decimal128 (arrow) while
    the matching Spark column stays a plain long — so any driver that
    hashes a dataframe fetch mismatches on every row even when fetchall()
    values are bit-identical.  Exactly the three HUGEINT-columned oracles
    (lr_classifier, webgraph_rank, table_profile) were driver-red for
    three rounds while strict-green locally.  Relation types resolve at
    plan time, so this sweeps all 50 oracles without executing them."""
    import duckdb

    import __spark_entry__ as E
    from tools.check_oracle import duck_output_type_problems

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    offenders = {}
    for name, sql in E.oracle_sql().items():
        bad = duck_output_type_problems(con.sql(sql))
        if bad:
            offenders[name] = bad
    assert offenders == {}, f"mangling output types: {offenders}"


def test_hugeint_output_mangles_in_pandas_fetch():
    """The failure mechanism itself, pinned: the same value fetched as
    BIGINT vs HUGEINT canonicalizes differently through a pandas fetch."""
    import duckdb

    from tools.check_oracle import canon

    con = duckdb.connect()
    big = con.sql("SELECT CAST(1000000000001 AS BIGINT) AS v").df()["v"][0]
    huge = con.sql(
        "SELECT sum(v) AS v FROM (SELECT CAST(1000000000001 AS BIGINT) AS v)"
    ).df()["v"][0]
    assert canon(big) != canon(huge)  # int64 "1000000000001" vs float64
    # and the rule-15 cast repairs it
    fixed = con.sql(
        "SELECT CAST(sum(v) AS BIGINT) AS v"
        " FROM (SELECT CAST(1000000000001 AS BIGINT) AS v)"
    ).df()["v"][0]
    assert canon(big) == canon(fixed)


def test_lint_rejects_hugeint_output_oracle():
    """Rule 15 enforcement moved UP to authoring time (round-8, judge's
    ask): tools/lint_oracles.py plans every oracle and fails on any
    mangling OUTPUT type, so a HUGEINT-columned oracle dies at lint —
    not three driver rounds later.  A deliberately-HUGEINT oracle must
    be rejected, a rule-15-cast one accepted, and an unplannable one
    reported rather than skipped."""
    from tools.lint_oracles import lint_output_types

    findings = dict(
        lint_output_types(
            {
                "bad_hugeint": (
                    "SELECT sum(v) AS v"
                    " FROM (SELECT CAST(1000000000001 AS BIGINT) AS v)"
                ),
                "good_bigint": (
                    "SELECT CAST(sum(v) AS BIGINT) AS v"
                    " FROM (SELECT CAST(1000000000001 AS BIGINT) AS v)"
                ),
                "bad_decimal": "SELECT CAST(1.5 AS DECIMAL(8,4)) AS v",
                "does_not_bind": "SELECT definitely_not_a_function(1) AS v",
            }
        )
    )
    assert "bad_hugeint" in findings and "HUGEINT" in findings["bad_hugeint"]
    assert "bad_decimal" in findings and "DECIMAL" in findings["bad_decimal"]
    assert "does_not_bind" in findings
    assert "good_bigint" not in findings


def test_registry_is_exactly_fifty_and_oracle_aligned():
    """The driver's correctness harness checks the FIRST 50 queries()
    entries only (observed round 2: 55 registered -> exactly 50 rows in
    CORRECTNESS). A key past position 50 silently falls OUT of the gate
    window, and an oracle without a query (or vice versa) is a rotation
    mistake — both must fail loudly here, not at the driver."""
    import __spark_entry__ as E

    qs = E.queries()
    oracles = E.oracle_sql()
    assert len(qs) == 50, (
        f"registry holds {len(qs)} keys — the driver gates exactly the "
        "first 50; consolidate (rule 14b) before adding"
    )
    assert set(qs) == set(oracles), (
        sorted(set(qs) ^ set(oracles))
    )
    for name, fn in qs.items():
        assert callable(fn), name
