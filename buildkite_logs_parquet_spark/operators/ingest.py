"""Ingest pipeline: raw log lines → canonical entries DataFrame.

Reference pipeline (parser.go:41-56 + scanner.go + parquet.go:61-69): per
line, extract the OSC timestamp and content, strip ANSI for classification,
classify (command / group header / progress), and propagate a running
"current group" — the last group header seen at or before the line.

Divergence from the reference (documented, deliberate): an OSC line whose
timestamp span is non-numeric is a *hard error* that aborts the reference's
export (scanner.go:55-58, parquet.go:262-264).  A distributed engine must
not abort a 100 TB ingest on one bad line, so such lines are quarantined via
a non-null ``parse_error`` column and excluded from the canonical entries
view; callers can count/inspect them.

Scale design: group propagation is a running ``last(..., ignorenulls)``.
State never crosses file boundaries (the reference runs one parser per
file), so the window partitions by source file — files parallelize across
executors, placed on tasks by line count when the reader recorded the
counts (``FILE_LINES_METADATA``).  For a *single* giant file, the window
degenerates to one task; ``propagate_groups(strategy="broadcast")``
instead builds a (tiny) per-bucket header table, broadcast-joins it to
lines on (file, bucket) and picks each line's group in-row — no global
sort and no single-task stage.  Both strategies are equivalence-tested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from buildkite_logs_parquet_spark.functions.log_text import (
    bel_position,
    is_command,
    is_group_header,
    is_osc_line,
    is_progress,
    osc_content,
    osc_timestamp_str,
    strip_ansi,
    TS_DIGITS_PATTERN,
)

#: At-rest timestamp for lines without an OSC timestamp: the reference
#: writes ``entry.Timestamp.UnixMilli()`` (parquet.go:63) and a non-OSC
#: line leaves ``Timestamp`` as Go's zero ``time.Time`` — January 1 of
#: year 1 — whose UnixMilli is this value.  A literal ``t=0`` OSC line is
#: NOT sentinel: ``time.Unix(0,0)`` (epoch 1970) is a real instant, so it
#: stores 0 with ``has_timestamp = true``.  ``has_timestamp`` therefore
#: equals ``timestamp != sentinel`` — the exact image of the reference's
#: ``!Timestamp.IsZero()`` (parser.go:138-140), including the pathological
#: ``t=-62135596800000`` line which Go would also classify timestamp-less.
NO_TIMESTAMP_SENTINEL_MS = -62135596800000

#: Canonical at-rest schema, reference parquet.go:17-27 (7 columns), plus the
#: engine's stable ordering column ``row_id`` (required for tail/seek — the
#: reference gets positional order implicitly from single-file row order).
CANONICAL_COLUMNS = [
    "timestamp",
    "content",
    "group",
    "has_timestamp",
    "is_command",
    "is_group",
    "is_progress",
]


#: Above this many lines in a single file, strategy="auto" abandons the
#: one-task window for the broadcast segmented strategy.  A few million
#: rows through a running `last()` is seconds of single-task work — fine;
#: a 1 TB file (billions of lines) through one task is the foot-gun the
#: auto switch removes.  The window is 3-4× faster at bench scale, so the
#: threshold errs high.
AUTO_WINDOW_MAX_LINES = 4_000_000

#: Metadata key on a lines frame's file column: ``{file: line count}``,
#: recorded by ``read_log_lines``.  The window strategy uses it to place
#: files on its tasks.
FILE_LINES_METADATA = "line_counts"
#: Most files ``read_log_lines`` records and the window places itself.
#: Each line looks its file up in a literal map, a linear scan that costs
#: about 10 ns per file per line (one 4-vCPU host); above this, hashing
#: the path spreads files well enough.
PLACED_FILES_MAX = 32


def parse_log_lines(
    lines: DataFrame,
    raw_col: str = "raw",
    order_col: str = "line_no",
    file_col: str | None = None,
    group_strategy: str = "auto",
    max_file_lines: int | None = None,
    auto_window_max_lines: int = AUTO_WINDOW_MAX_LINES,
) -> DataFrame:
    """Parse ordered raw lines into the canonical entries shape.

    ``lines`` must carry ``raw_col`` (the raw line, ``\\n`` removed, one
    trailing ``\\r`` removed by the line reader — bufio.ScanLines parity) and
    ``order_col`` (0-based position within the file).  ``file_col`` marks
    per-file boundaries for multi-file ingest.

    Output columns: ``line_no``(= order_col), canonical 7 (CANONICAL_COLUMNS),
    plus ``clean_content`` and nullable ``parse_error``.  All expressions are
    built-in (whole-stage codegen); no Python UDFs.

    The DEFAULT ``group_strategy="auto"`` is scale-safe: it takes the
    (faster at moderate size) one-task-per-file window only when
    ``max_file_lines`` — free from ``read_log_lines(stats_out=...)`` —
    proves every file fits under ``auto_window_max_lines``, and the
    no-single-task broadcast segmented strategy otherwise, INCLUDING
    when no count was supplied (an unknown-size file is exactly the
    single-giant-file foot-gun).  Pass ``group_strategy="window"`` to
    force the fast path for known-small inputs without counting.
    """
    return propagate_groups(
        parse_columns(lines, raw_col),
        order_col=order_col,
        file_col=file_col,
        strategy=group_strategy,
        max_file_lines=max_file_lines,
        auto_window_max_lines=auto_window_max_lines,
    )


def parse_columns(lines: DataFrame, raw_col: str = "raw") -> DataFrame:
    """The per-line scalar parse, with no window: ``lines`` plus
    ``parse_error``, ``timestamp``, ``content``, ``clean_content``,
    ``has_timestamp`` and the three classification flags.

    Shared by the batch ``parse_log_lines`` and the streaming
    ``parse_lines_stream``.  The first BEL's position and the timestamp
    span are columns of their own, so each line scans for its BEL once:
    Catalyst does not inline a non-trivial expression into a projection
    that references it more than once.  Each ``withColumns`` adds every
    column whose inputs are ready, in output order: each DataFrame call
    is analysed again on every pass, at tens of ms each.
    """
    raw = F.col(raw_col)
    bel = F.col("_bel")
    osc = F.col("_osc")
    ts_str = F.col("_ts")
    ts_val = ts_str.try_cast("long")  # null on int64 overflow / malformed
    content = F.col("content")
    clean = F.col("clean_content")
    parse_error = F.when(
        osc & (~ts_str.rlike(TS_DIGITS_PATTERN) | ts_val.isNull()),
        F.concat(F.lit("invalid timestamp: "), ts_str),
    )
    timestamp = F.when(osc & F.col("parse_error").isNull(), ts_val).otherwise(
        F.lit(NO_TIMESTAMP_SENTINEL_MS).cast("long")
    )
    return (
        lines.withColumn("_bel", bel_position(raw))
        .withColumns(
            {"_osc": is_osc_line(raw, bel), "_ts": osc_timestamp_str(raw, bel)}
        )
        .withColumn("parse_error", parse_error)
        .withColumns({"timestamp": timestamp, "content": osc_content(raw, osc, bel)})
        .withColumn("clean_content", strip_ansi(content))
        .withColumns(
            {
                "has_timestamp": F.col("timestamp") != NO_TIMESTAMP_SENTINEL_MS,
                "is_command": is_command(clean),
                "is_group": is_group_header(clean),
                "is_progress": is_progress(content, clean),
            }
        )
        .drop("_bel", "_osc", "_ts")
    )


def propagate_groups(
    parsed: DataFrame,
    order_col: str = "line_no",
    file_col: str | None = None,
    strategy: str = "auto",
    bucket_size: int = 8192,
    max_file_lines: int | None = None,
    auto_window_max_lines: int = AUTO_WINDOW_MAX_LINES,
) -> DataFrame:
    """Assign the running group (parser.go:41-56) to every row.

    A row's group is the ``clean_content`` of the last *valid* group-header
    row at or before it (the header row itself included); ``""`` before any
    header.  Quarantined rows never update group state (the reference drops
    them before its group logic runs).

    ``strategy="auto"`` picks per ingest: the (faster at moderate size)
    one-task-per-file window when the largest file's line count — known
    for free from the reader's split-offset stats
    (``read_log_lines(stats_out=...)``) — stays under
    ``auto_window_max_lines``, else the broadcast segmented strategy that
    has no single-task stage.  With no count supplied, auto stays on the
    safe broadcast path (never silently serializes an unknown-size file).
    """
    header = F.when(
        F.col("is_group") & F.col("parse_error").isNull(), F.col("clean_content")
    )
    if strategy == "auto":
        small = (
            max_file_lines is not None and max_file_lines <= auto_window_max_lines
        )
        strategy = "window" if small else "broadcast"
    if strategy == "window":
        keys = [file_col] if file_col else []
        placed = _place_files(parsed, header, file_col) if file_col else None
        if placed is not None:
            parsed, header, keys = placed, F.col("_hdr"), ["_task", file_col]
        w = (
            Window.partitionBy(*keys)
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = parsed.withColumn(
            "group", F.coalesce(F.last(header, ignorenulls=True).over(w), F.lit(""))
        )
        return out if placed is None else out.drop("_hdr", "_task")
    if strategy == "broadcast":
        return _propagate_groups_broadcast(
            parsed, header, order_col, file_col, bucket_size
        )
    raise ValueError(f"unknown group propagation strategy: {strategy}")


def _place_files(
    parsed: DataFrame, header: Column, file_col: str
) -> DataFrame | None:
    """``parsed`` shuffled so that the window's tasks get even shares of
    lines, with the row's ``header`` as ``_hdr`` and its task as
    ``_task``; ``None`` when the file column carries no
    ``FILE_LINES_METADATA``, lists more than ``PLACED_FILES_MAX`` files,
    or Spark has no ``repartitionById`` (before 4.1).

    Hashing the path would place files by the text of their path, so two
    logs share a task, and the other tasks idle, on some runs and not on
    others.  Here the largest file goes first to the least-loaded task
    (ties by path), over ``min(files, spark.sql.shuffle.partitions)``
    tasks.  A file missing from the map gets a NULL task, which still
    keeps each file's rows in one window partition.  The header is taken
    before the shuffle, so ``clean_content`` need not cross it when the
    caller drops it.
    """
    meta = next((f.metadata for f in parsed.schema if f.name == file_col), {})
    counts = meta.get(FILE_LINES_METADATA)
    if not counts or len(counts) > PLACED_FILES_MAX or not hasattr(
        parsed, "repartitionById"
    ):
        return None
    spark = parsed.sparkSession
    n = min(len(counts), int(spark.conf.get("spark.sql.shuffle.partitions")))
    load = [0] * n
    task: dict[str, int] = {}
    for file, lines in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        task[file] = load.index(min(load))
        load[task[file]] += lines
    to_task = F.create_map(*[F.lit(x) for kv in task.items() for x in kv])
    return parsed.withColumns(
        {"_hdr": header, "_task": to_task[F.col(file_col)]}
    ).repartitionById(n, "_task")


def _propagate_groups_broadcast(
    parsed: DataFrame,
    header: Column,
    order_col: str,
    file_col: str | None,
    bucket_size: int,
) -> DataFrame:
    """Scale path for a single giant file: no global-order window.

    Two-level segmented design.  Lines hash to coarse buckets of
    ``bucket_size`` positions.  Level 1 (tiny): per (file, bucket), the
    sorted in-bucket header list and — via a window over the BUCKET table
    ordered by bucket id — the carry-in header (the last header of any
    earlier bucket).  Level 2: lines broadcast-equi-join that bucket table
    on ``(file, bucket)`` alone (no range residual, no cross join of any
    kind) and resolve their group in-row: the greatest header start ≤ the
    line's position from carry-in ∪ in-bucket headers, via
    ``array_max(filter(...))`` — all codegen scalar work.

    Cost: the level-1 table is total_lines / bucket_size rows (122k rows
    at 10^9 lines) — its window is effectively free, and headers are
    characteristically rare (hundreds per multi-million-line CI log), so
    the broadcast stays small.  Lines before any header see an empty
    candidate array → ``""``.
    """
    file_cols = [file_col] if file_col else []
    lines = parsed.withColumn("_bucket", F.floor(F.col(order_col) / bucket_size))
    headers = lines.withColumn("_rhdr", header).where(F.col("_rhdr").isNotNull())

    hdr_by_bucket = headers.groupBy(*file_cols, "_bucket").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col(order_col).alias("_start"), F.col("_rhdr"))
            )
        ).alias("_hdrs")
    )
    line_buckets = lines.select(*file_cols, "_bucket").distinct()
    buckets = line_buckets.join(
        hdr_by_bucket, on=[*file_cols, "_bucket"], how="left"
    )
    # carry-in: last header of any STRICTLY earlier bucket (window over the
    # tiny bucket table — partitioned per file, ~n/bucket_size rows)
    wprev = (
        Window.partitionBy(*file_cols)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_in_bucket = F.element_at(F.col("_hdrs"), -1)  # sorted → max start
    buckets = buckets.withColumn(
        "_carry", F.last(last_in_bucket, ignorenulls=True).over(wprev)
    ).select(
        *file_cols,
        "_bucket",
        F.concat(
            F.when(F.col("_carry").isNotNull(), F.array(F.col("_carry"))).otherwise(
                F.array().cast("array<struct<_start:long,_rhdr:string>>")
            ),
            F.coalesce(
                F.col("_hdrs"),
                F.array().cast("array<struct<_start:long,_rhdr:string>>"),
            ),
        ).alias("_cands"),
    )
    pos = F.col(order_col)
    applicable = F.filter(F.col("_cands"), lambda h: h["_start"] <= pos)
    joined = lines.join(F.broadcast(buckets), on=[*file_cols, "_bucket"])
    return joined.select(
        *parsed.columns,
        F.coalesce(F.array_max(applicable)["_rhdr"], F.lit("")).alias("group"),
    )


def entries_view(parsed: DataFrame, row_id_col: str = "line_no") -> DataFrame:
    """Canonical entries projection: quarantined rows dropped, 7 canonical
    columns + ``row_id`` (stable file position, feeds tail/seek)."""
    return parsed.where(F.col("parse_error").isNull()).select(
        F.col(row_id_col).cast("long").alias("row_id"), *CANONICAL_COLUMNS
    )
