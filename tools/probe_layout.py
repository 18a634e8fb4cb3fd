#!/usr/bin/env python3
"""Spark-side environment-sensitivity probe.

The driver's correctness harness passes its OWN SparkSession to
``queries()`` — nothing guarantees it matches ``session.get_spark``'s
config (UTC timezone, shuffle=cpus, AQE, Arrow...).  A query whose
OUTPUT VALUES depend on any session config is local-green / driver-red
even with a byte-identical DuckDB.

This script runs the named queries under ONE config variant (one
process per variant — Spark sessions are JVM singletons) and prints a
sha256 of the strict (bit-exact) sorted value multiset per query, so a
shell loop can diff hashes across variants.

Usage: python tools/probe_layout.py VARIANT [sf_dir] [query ...]
Variants: base, small, defaults, tz, noaqe, noarrow, ansi_off, shuffle7
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

VARIANTS = {
    # our local gate's config
    "base": {"master": "local[32]", "conf": {}},
    # fewer cores + Spark's default shuffle partition count
    "small": {
        "master": "local[4]",
        "conf": {"spark.sql.shuffle.partitions": "200"},
    },
    # a driver that sets NOTHING: stock SparkSession.builder defaults
    # (system timezone, shuffle=200, no nanosAsLong, arrow off)
    "defaults": {"master": "local[8]", "conf": None},
    "tz": {
        "master": "local[32]",
        "conf": {"spark.sql.session.timeZone": "America/New_York"},
    },
    "noaqe": {
        "master": "local[32]",
        "conf": {"spark.sql.adaptive.enabled": "false"},
    },
    "noarrow": {
        "master": "local[32]",
        "conf": {"spark.sql.execution.arrow.pyspark.enabled": "false"},
    },
    "ansi_off": {
        "master": "local[32]",
        "conf": {"spark.sql.ansi.enabled": "false"},
    },
    "shuffle7": {
        "master": "local[32]",
        "conf": {"spark.sql.shuffle.partitions": "7"},
    },
}


def main() -> int:
    variant = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    names = sys.argv[3:]

    import __spark_entry__ as E
    from tools.check_oracle import canon_strict, rows_to_multiset

    spec = VARIANTS[variant]
    if spec["conf"] is None:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(spec["master"])
            .appName(f"probe-{variant}")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "8g")
            # nanosAsLong kept: without it the events read ERRORS rather
            # than changing values, which is a different (visible) failure
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        from buildkite_logs_parquet_spark.session import get_spark

        conf = dict(spec["conf"])
        conf.setdefault("spark.driver.memory", "8g")
        spark = get_spark(
            app_name=f"probe-{variant}", master=spec["master"], extra_conf=conf
        )

    qs = E.queries()
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
            ms = rows_to_multiset(sdf.columns, sdf.collect(), canon_strict)
            digest = hashlib.sha256(
                "\n".join("|".join(t) for t in ms).encode()
            ).hexdigest()[:16]
            print(f"PROBE {variant} {name} rows={len(ms)} hash={digest}")
        except Exception as exc:  # noqa: BLE001
            print(f"PROBE {variant} {name} ERROR {type(exc).__name__}: {exc}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
