"""bklog-equivalent CLI over the Spark engine.

Covers the reference CLI surface (cmd/bklog/main.go + query_cli.go):

  parse  — raw log (file or Buildkite API) → Parquet / text / JSON
  query  — list-groups | by-group | info | tail | seek over a Parquet file

Formatting parity notes (presentation layer, driver-side by design —
S10-S12 in SURVEY.md §2.1): text timestamps ``yyyy-MM-dd HH:mm:ss.SSS``,
JSON timestamps RFC3339-ms, group table truncates names to 40 chars with
``...``, ``<no group>`` placeholder for unlabeled rows.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import DataFrame


def _fmt_ts_ms(ms: int) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )[:-3]


def _fmt_ts_rfc3339(ms: int) -> str:
    from datetime import datetime, timezone

    return (
        datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%S.%f"
        )[:-3]
        + "Z"
    )


def _truncate(s: str, n: int) -> str:
    return s if len(s) <= n else s[: n - 3] + "..."


def _entries_text(rows, show_group: bool, strip: bool) -> None:
    from buildkite_logs_parquet_spark.functions.log_text import ANSI_PATTERN
    import re

    ansi = re.compile(ANSI_PATTERN)
    for r in rows:
        content = r["content"]
        if strip:
            content = ansi.sub("", content)
        # main.go:373-383: the timestamp prefix appears only for entries
        # with HasTimestamp — untimestamped lines print bare (no sentinel
        # rendering, no "[no timestamp]" placeholder)
        ts = f"[{_fmt_ts_ms(r['timestamp'])}] " if r["has_timestamp"] else ""
        grp = f"[{r['group']}] " if show_group and r["group"] else ""
        print(f"{ts}{grp}{content}")


def _entries_json(rows) -> None:
    out = []
    for r in rows:
        item = {
            "timestamp": (
                _fmt_ts_rfc3339(r["timestamp"]) if r["has_timestamp"] else None
            ),
            "content": r["content"],
            "has_timestamp": bool(r["has_timestamp"]),
        }
        if r["group"]:
            item["group"] = r["group"]
        out.append(item)
    json.dump(out, sys.stdout, indent=2)
    print()


def cmd_parse(args: argparse.Namespace) -> int:
    from buildkite_logs_parquet_spark.operators.ingest import (
        entries_view,
        parse_log_lines,
    )
    from buildkite_logs_parquet_spark.operators.queries import (
        filter_by_type,
        processing_summary,
    )
    from buildkite_logs_parquet_spark.session import get_spark
    from buildkite_logs_parquet_spark.sources.logs import (
        BuildkiteAPIClient,
        read_log_lines,
    )
    from buildkite_logs_parquet_spark.sources.parquet_io import write_entries

    if bool(args.file) == bool(args.org):  # XOR: exactly one source
        print("error: exactly one of -file or API params (-org ...) required", file=sys.stderr)
        return 2
    path = args.file
    if not path:
        client = BuildkiteAPIClient(args.api_token or "")
        path = client.fetch_job_log(args.org, args.pipeline, args.build, args.job)

    spark = get_spark(app_name="bklog-parse")
    stats: dict = {}
    lines = read_log_lines(spark, path, stats_out=stats)
    parsed = parse_log_lines(
        lines,
        file_col="file",
        group_strategy="auto",
        max_file_lines=max(stats.values(), default=None),
    )
    entries = entries_view(parsed)
    if args.filter:
        entries = filter_by_type(entries, args.filter)

    if args.output:
        write_entries(entries, args.output, single_file=not args.partitioned)
    rows = None
    if args.format in ("text", "json") and not args.output:
        rows = entries.orderBy("row_id").collect()
        if args.format == "json":
            _entries_json(rows)
        else:
            _entries_text(rows, show_group=args.show_group, strip=args.strip_ansi)
    if args.summary:
        s = processing_summary(entries_view(parsed)).first()
        # every raw line is either an entry or quarantined
        err = sum(stats.values()) - s["total_entries"]
        print("\n--- Processing Summary ---", file=sys.stderr)
        print(f"Total entries: {s['total_entries']}", file=sys.stderr)
        print(f"Entries with timestamps: {s['entries_with_time']}", file=sys.stderr)
        print(f"Commands: {s['commands']}", file=sys.stderr)
        print(f"Sections: {s['sections']}", file=sys.stderr)
        print(f"Progress updates: {s['progress']}", file=sys.stderr)
        print(f"Regular output: {s['regular']}", file=sys.stderr)
        if err:
            print(f"Quarantined lines (invalid timestamp): {err}", file=sys.stderr)
    return 0


def _groups_table(groups) -> None:
    print(f"Groups found: {len(groups)}\n")
    if not groups:
        print("No groups found.")
        return
    print(
        f"{'GROUP NAME':<40} {'ENTRIES':>8} {'COMMANDS':>8} {'PROGRESS':>8} "
        f"{'FIRST SEEN':>19} {'LAST SEEN':>19}"
    )
    print("-" * 120)
    for g in groups:
        first = _fmt_ts_ms(g["first_seen_ms"])[:19]
        last = _fmt_ts_ms(g["last_seen_ms"])[:19]
        print(
            f"{_truncate(g['name'], 40):<40} {g['entry_count']:>8} "
            f"{g['commands']:>8} {g['progress']:>8} {first:>19} {last:>19}"
        )


def cmd_query(args: argparse.Namespace) -> int:
    from buildkite_logs_parquet_spark.operators.queries import (
        by_group_stats,
        list_groups,
        seek,
        tail,
    )
    from buildkite_logs_parquet_spark.session import get_spark
    from buildkite_logs_parquet_spark.sources.parquet_io import file_info, read_entries

    spark = get_spark(app_name="bklog-query")
    start = time.monotonic()

    if args.op == "info":
        info = file_info(args.parquet_file)
        if args.format == "json":
            json.dump(info, sys.stdout, indent=2)
            print()
        else:
            print("Parquet File Information:")
            print(f"  File:         {args.parquet_file}")
            print(f"  Rows:         {info['row_count']}")
            print(f"  Columns:      {info['column_count']}")
            print(
                f"  File Size:    {info['file_size_bytes']} bytes "
                f"({info['file_size_bytes'] / (1024 * 1024):.2f} MB)"
            )
            print(f"  Row Groups:   {info['num_row_groups']}")
        return 0

    # synthesize_row_id: reference-written files lack the row_id column;
    # positional order is derived from split offsets, not a global window
    entries = read_entries(spark, args.parquet_file, synthesize_row_id=True)

    def emit(df: DataFrame, stats_name: str) -> None:
        df = df.orderBy("row_id")
        if args.limit:
            df = df.limit(args.limit)
        rows = df.collect()
        if args.format == "json":
            _entries_json(rows)
        else:
            _entries_text(rows, show_group=True, strip=False)
        if args.stats:
            qt = (time.monotonic() - start) * 1000
            print(
                f"\n{stats_name}: matched {len(rows)} entries "
                f"in {qt:.2f} ms",
                file=sys.stderr,
            )

    if args.op == "list-groups":
        out = list_groups(entries, as_timestamp=False).collect()
        if args.format == "json":
            groups = [
                {
                    "name": g["name"],
                    "entry_count": g["entry_count"],
                    "first_seen": _fmt_ts_rfc3339(g["first_seen_ms"]),
                    "last_seen": _fmt_ts_rfc3339(g["last_seen_ms"]),
                    "commands": g["commands"],
                    "progress": g["progress"],
                }
                for g in out
            ]
            json.dump({"groups": groups}, sys.stdout, indent=2)
            print()
        else:
            _groups_table(out)
    elif args.op == "by-group":
        if not args.group:
            print("error: -group pattern required for by-group", file=sys.stderr)
            return 2
        emit(by_group_stats(entries, args.group, limit=args.limit or 0), "by-group")
    elif args.op == "tail":
        emit(tail(entries, args.tail or 10), "tail")
    elif args.op == "seek":
        try:
            emit(seek(entries, args.seek_row or 0), "seek")
        except ValueError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 1
    else:
        print(f"error: unknown operation: {args.op}", file=sys.stderr)
        return 2
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="bklog-spark")
    sub = p.add_subparsers(dest="command", required=True)

    pp = sub.add_parser("parse", help="parse a Buildkite log")
    pp.add_argument("-file")
    pp.add_argument("-org")
    pp.add_argument("-pipeline")
    pp.add_argument("-build")
    pp.add_argument("-job")
    pp.add_argument("-api-token", dest="api_token")
    pp.add_argument("-output", help="Parquet output path")
    pp.add_argument("-partitioned", action="store_true")
    pp.add_argument("-format", choices=["text", "json"], default="text")
    pp.add_argument("-filter", choices=["command", "group", "section", "progress", ""], default="")
    pp.add_argument("-summary", action="store_true")
    pp.add_argument("-show-group", dest="show_group", action="store_true")
    pp.add_argument("-strip-ansi", dest="strip_ansi", action="store_true")
    pp.set_defaults(fn=cmd_parse)

    qp = sub.add_parser("query", help="query a Parquet log file")
    qp.add_argument("parquet_file")
    qp.add_argument("-op", default="list-groups",
                    choices=["list-groups", "by-group", "info", "tail", "seek"])
    qp.add_argument("-group")
    qp.add_argument("-format", choices=["text", "json"], default="text")
    qp.add_argument("-stats", action="store_true")
    qp.add_argument("-limit", type=int, default=0)
    qp.add_argument("-tail", type=int, default=10)
    qp.add_argument("-seek-row", dest="seek_row", type=int, default=0)
    qp.set_defaults(fn=cmd_query)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
