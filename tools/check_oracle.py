#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every ``__spark_entry__.queries()`` entry and its ``oracle_sql()``
against the same sf directory, compares row count + column names + an
order-insensitive value multiset (exact equality — the driver hashes), and
prints a per-query verdict.  Exit code 1 on any mismatch.

Two comparator modes (round-6 hardening after the round-5 driver
hash-mismatches that were invisible locally):

* default — driver-equivalent lossy canonicalization
  (``repr(float(v))``): what the harness has always done;
* ``--strict`` — a comparator STRICTLY TIGHTER than any plausible driver
  hash: floats compare by IEEE bit pattern (``float.hex``), decimals by
  exact scale-preserving string (``str(Decimal)``, so ``1.5`` ≠
  ``1.500000``), everything else by type-tagged repr.  A query that
  passes strict mode cannot be failed by ANY value-level hash of the
  same rows — if the driver still flags it, the divergence is the
  driver's DuckDB release producing different VALUES, which only the
  rule-13 integer-arithmetic discipline (DETERMINISM.md) can prevent.

Usage: python tools/check_oracle.py [--strict] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

# the checkout this script lives in, wherever it is
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-equivalent: repr of the double bits
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    if v is None:
        return "NULL"
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def canon_strict(v):
    """Type-tagged, bit-exact canonicalization — no two distinct values
    (or representations) canonicalize equal."""
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        return f"f:{v.hex()}"
    if isinstance(v, int):
        return f"i:{v}"
    if v is None:
        return "NULL"
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return f"d:{v}"  # scale-preserving: 1.5 != 1.500000
    if isinstance(v, (datetime.datetime, datetime.date)):
        return f"t:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(canon_strict(x) for x in v) + "]"
    return f"s:{v}"


def rows_to_multiset(cols, rows, c=canon):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(c(r[i]) for i in order) for r in rows)


# DuckDB output types whose PANDAS/ARROW representation differs from the
# equivalent Spark column's: HUGEINT/UHUGEINT fetch as float64 (pandas) or
# decimal128 (arrow) while Spark's long stays int64 — so a hash computed
# over a dataframe fetch (the driver's plausible implementation) mismatches
# on every row even when fetchall() values are identical.  This was the
# round-4..6 driver-red cause: exactly the keys with HUGEINT output columns
# (lr_classifier, webgraph_rank, table_profile) failed hash_match while
# bit-exact under fetchall comparison.
_MANGLED_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER")


def duck_output_type_problems(rel) -> list[str]:
    """Columns whose DuckDB type cannot survive a dataframe fetch
    unchanged.  DECIMAL outputs are also flagged: duckdb fetches Decimal
    objects / arrow decimal128 while Spark's toPandas yields Decimal too,
    but the driver hash treatment of Decimal-vs-str/float is unknowable —
    registered oracles render decimals as strings instead (rule 14a)."""
    out = []
    for col, t in zip(rel.columns, [str(t) for t in rel.types]):
        if t.startswith(_MANGLED_DUCK_TYPES) or t.startswith("DECIMAL"):
            out.append(f"{col}:{t}")
    return out


def main() -> int:
    argv = list(sys.argv[1:])
    strict = "--strict" in argv
    if strict:
        argv.remove("--strict")
    c = canon_strict if strict else canon
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import duckdb

    import __spark_entry__ as E
    from buildkite_logs_parquet_spark.session import get_spark

    spark = get_spark(
        app_name="oracle-check",
        extra_conf={"spark.driver.memory": "8g"},
    )

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    print(f"comparator: {'STRICT (bit-exact)' if strict else 'driver-lossy'}"
          f"  duckdb={duckdb.__version__}")
    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle — rows-only check)")
            continue
        try:
            ocur = con.sql(oracles[name])
            ocols = [d[0] for d in ocur.description]
            orows = ocur.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        problems = []
        bad_types = duck_output_type_problems(ocur)
        if bad_types:
            problems.append(
                f"oracle OUTPUT types mangle under dataframe fetch: {bad_types}"
                " (cast to BIGINT / render as string — DETERMINISM rule 15)"
            )
        if len(srows) != len(orows):
            problems.append(f"row count {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            a = rows_to_multiset(scols, srows, c)
            b = rows_to_multiset(ocols, orows, c)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y]
                problems.append(
                    f"value mismatch ({len(diff)} differing sorted rows; first: "
                    f"{diff[0] if diff else (a[-1], b[-1])})"
                )
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok    {name}: {len(srows)} rows hash-equal")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries match their oracles")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
