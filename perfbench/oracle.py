"""Expected digests of the ``curation`` keys, from DuckDB running
``oracle_sql()`` on the fixed curation tables.

DuckDB needs about 20 s for the three keys on the fixed tables (7.6 s for
``ngram_jaccard``, 12.7 s for ``dedup_clusters``, 0.3 s for ``ann_topk``
on a 4-vCPU virtual machine), a third of a whole ``curation`` run.  So
the digests are committed in ``oracle_digests.json``.  Each entry's key
hashes the DuckDB version, the key's SQL text and the bytes of the input
tables, so a committed digest is used only when DuckDB would be given
exactly the same query on exactly the same data.  Any other case (a new
``oracle_sql()``, new tables or another DuckDB) runs DuckDB in the run
itself, and ``lookup`` reports it as stale.

Refresh the committed file from the root of a checkout with:

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DIGESTS = os.path.join(HERE, "oracle_digests.json")
TABLES = ("documents", "embeddings")
CURATION_KEYS = ("ngram_jaccard", "ann_topk", "dedup_clusters")


def comparator():
    """The repository's oracle comparator (``tools/check_oracle.py``)."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod
    finally:
        sys.path[:] = saved


def digest(check_oracle, cols, rows) -> str:
    """Order-free digest of a result under the strict comparator."""
    ms = check_oracle.rows_to_multiset(cols, rows, check_oracle.canon_strict)
    return hashlib.sha256(repr((sorted(cols), ms)).encode()).hexdigest()


def _input_key(tables: str, sql: str) -> str:
    import duckdb

    h = hashlib.sha256(duckdb.__version__.encode())
    for t in TABLES:
        with open(os.path.join(tables, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    h.update(sql.encode())
    return h.hexdigest()


def duckdb_digests(tables: str, sql: dict[str, str], keys, check_oracle) -> dict:
    """Run each key's SQL in DuckDB over ``tables``; digest per key."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables, t + '.parquet')}'")
        out = {}
        for key in keys:
            cur = con.sql(sql[key])
            out[key] = digest(check_oracle, [d[0] for d in cur.description],
                              cur.fetchall())
        return out
    finally:
        con.close()


def lookup(tables: str, sql: dict[str, str], keys, check_oracle) -> tuple[dict, list]:
    """Per key, the DuckDB digest: committed when its input key matches,
    computed otherwise.  Returns the digests and the keys computed."""
    try:
        with open(DIGESTS) as f:
            committed = json.load(f)
    except FileNotFoundError:
        committed = {}
    out = {}
    for key in keys:
        entry = committed.get(key)
        if entry is not None and entry["input"] == _input_key(tables, sql[key]):
            out[key] = entry["digest"]
    stale = [k for k in keys if k not in out]
    out.update(duckdb_digests(tables, sql, stale, check_oracle))
    return out, stale


def main() -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import __spark_entry__ as registry
    import gen_tables

    sql = registry.oracle_sql()
    with tempfile.TemporaryDirectory(dir=ROOT) as tables:
        gen_tables.generate_tables(tables)
        digests = duckdb_digests(tables, sql, CURATION_KEYS, comparator())
        entries = {k: {"input": _input_key(tables, sql[k]), "digest": digests[k]}
                   for k in CURATION_KEYS}
    with open(DIGESTS, "w") as f:
        json.dump(entries, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {os.path.relpath(DIGESTS, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
