"""Reference query operators over the canonical entries DataFrame.

Each function is a declarative plan builder — Catalyst handles predicate
pushdown / column pruning / limit pushdown that the reference lacks
(query.go:146 always reads all columns and rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from buildkite_logs_parquet_spark.operators.ingest import NO_TIMESTAMP_SENTINEL_MS

#: empty group placeholder, reference query_cli.go:66-68 / query.go:343-346
NO_GROUP = "<no group>"


def _group_name() -> F.Column:
    return F.when(F.col("group") == "", F.lit(NO_GROUP)).otherwise(F.col("group"))


def list_groups(entries: DataFrame, as_timestamp: bool = True) -> DataFrame:
    """Group statistics ordered by first appearance (query_cli.go:55-118).

    Per group (empty name → ``<no group>``): entry count, first/last seen
    (min/max entry time — entries without timestamps participate with the
    year-1 sentinel ``ingest.NO_TIMESTAMP_SENTINEL_MS``, matching the
    reference which folds the Go zero ``time.Time`` of such entries into
    min/max), command count, progress count.  The ``_ms`` columns of
    ``as_timestamp=False`` keep that sentinel for parity; the
    ``first_seen`` / ``last_seen`` timestamps of ``as_timestamp=True`` map
    it to NULL, since ``collect()`` cannot turn the year-1 instant into a
    Python ``datetime`` (``ValueError: year 0 is out of range``).

    Spark plan: hash aggregate with map-side partial aggregation, then a
    (small) sort — the reference's O(n^2) bubble sort (query_cli.go:107-114)
    becomes a shuffle sort over #groups rows.
    """
    first_ms = F.min("timestamp").alias("first_seen_ms")
    last_ms = F.max("timestamp").alias("last_seen_ms")
    out = (
        entries.groupBy(_group_name().alias("name"))
        .agg(
            F.count("*").alias("entry_count"),
            first_ms,
            last_ms,
            F.sum(F.col("is_command").cast("long")).alias("commands"),
            F.sum(F.col("is_progress").cast("long")).alias("progress"),
        )
        .orderBy("first_seen_ms", "name")
    )
    if as_timestamp:
        def seen(ms: str) -> F.Column:
            return F.when(
                F.col(ms) != NO_TIMESTAMP_SENTINEL_MS, F.timestamp_millis(F.col(ms))
            )

        first, last = seen("first_seen_ms"), seen("last_seen_ms")
        out = out.select(
            "name", "entry_count", first.alias("first_seen"),
            last.alias("last_seen"), "commands", "progress",
        )
    return out


def filter_by_group(entries: DataFrame, pattern: str) -> DataFrame:
    """Case-insensitive substring match on the group name with the
    ``<no group>`` placeholder substituted first (query.go:333-355) — so a
    pattern like ``"no group"`` matches unlabeled rows.  Quirk kept."""
    target = F.lower(_group_name())
    return entries.where(target.contains(pattern.lower()))


def filter_by_type(entries: DataFrame, entry_type: str) -> DataFrame:
    """CLI ``-filter`` semantics (cmd/bklog/main.go:390-401): keep rows of
    one classification; unknown/empty filter keeps everything."""
    col = {
        "command": "is_command",
        "group": "is_group",
        "section": "is_group",  # backward-compat alias
        "progress": "is_progress",
    }.get(entry_type)
    return entries.where(F.col(col)) if col else entries


def processing_summary(entries: DataFrame) -> DataFrame:
    """Single-row global aggregation (cmd/bklog/main.go:427-476).

    ``regular`` is derived as total − commands − sections − progress at
    print time in the reference (main.go:471) — an entry that is both a
    command and progress would be double-subtracted; parity keeps that.
    """
    out = entries.agg(
        F.count("*").alias("total_entries"),
        F.sum(F.col("has_timestamp").cast("long")).alias("entries_with_time"),
        F.sum(F.col("is_command").cast("long")).alias("commands"),
        F.sum(F.col("is_group").cast("long")).alias("sections"),
        F.sum(F.col("is_progress").cast("long")).alias("progress"),
    )
    return out.withColumn(
        "regular",
        F.col("total_entries")
        - F.col("commands")
        - F.col("sections")
        - F.col("progress"),
    )


def seek(entries: DataFrame, start_row: int, row_col: str = "row_id") -> DataFrame:
    """Rows from file position ``start_row`` (0-based) to EOF.

    Raises ``ValueError`` when ``start_row`` is out of bounds, matching the
    reference's error (query.go:429-433).  The bounds check is one cheap
    count action; the returned plan is a pushed-down range predicate on the
    ``row_id`` column (row-group min/max pruning on files written in
    position order — the Spark analog of ``RecordReader.SeekToRow``).
    """
    total = entries.count()
    if start_row >= total:
        raise ValueError(f"start row {start_row} exceeds total rows {total}")
    return entries.where(F.col(row_col) >= start_row)


def tail(entries: DataFrame, n: int, row_col: str = "row_id") -> DataFrame:
    """Last ``n`` rows by file position (query_cli.go:311-348).

    ``n <= 0`` defaults to 10 like the CLI.  Planned as order-by-desc +
    limit → Spark's TakeOrderedAndProject (per-partition top-n, no full
    shuffle), then re-sorted ascending to present file order.  Unlike a
    ``row_id >= count - n`` predicate this stays exact when ``row_id`` has
    quarantine gaps, and it needs no extra count job.
    """
    if n <= 0:
        n = 10
    return entries.orderBy(F.col(row_col).desc()).limit(n).orderBy(row_col)


def by_group_stats(entries: DataFrame, pattern: str, limit: int = 0) -> DataFrame:
    """``by-group`` CLI op (query_cli.go:120-152): matching rows with an
    optional limit (early termination → Catalyst CollectLimit).

    The reference's stats path double-counts matched rows into
    ``totalEntries`` (query_cli.go:132 + :143-147) — a latent bug we do not
    reproduce; callers get exact counts via ``.count()``.
    """
    matched = filter_by_group(entries, pattern)
    return matched.limit(limit) if limit > 0 else matched


#: variable-masking rules for log template mining, applied in order —
#: most-specific first so a UUID is not half-eaten by the number rule.
#: Patterns live in the RE2 ∩ Java-regex subset (the pii_scrub
#: discipline) so the chain replays identically in other engines.
TEMPLATE_MASKS: list[tuple[str, str]] = [
    # UUIDs
    (
        r"\b[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
        r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\b",
        "<uuid>",
    ),
    # long hex ids (commit SHAs, build hashes)
    (r"\b[0-9a-f]{7,40}\b", "<hex>"),
    # durations and sizes with units
    (r"\b\d+(\.\d+)?(ms|s|m|h)\b", "<dur>"),
    (r"\b\d+(\.\d+)?\s?(B|KB|MB|GB|KiB|MiB|GiB)\b", "<size>"),
    # bare numbers (line numbers, counts, ports)
    (r"\b\d+(\.\d+)?\b", "<n>"),
]


def template_of(content: Column) -> Column:
    """Mask the variable parts of a log line, leaving its TEMPLATE — the
    Drain-style normalization that makes 'retry 3 of 5 after 120ms' and
    'retry 4 of 5 after 95ms' the same line class."""
    out = content
    for pat, repl in TEMPLATE_MASKS:
        out = F.regexp_replace(out, pat, repl)
    return out


def log_templates(
    entries: DataFrame,
    content_col: str = "clean_content",
    min_count: int = 1,
) -> DataFrame:
    """Mine line TEMPLATES from a log corpus: mask variables
    (``template_of``), group, and report per-template frequency, spread
    (distinct groups), first/last timestamps, and a deterministic
    example line (the lexicographic minimum of the originals).

    This is the "what is this CI actually printing" query — the top
    templates ARE the log's vocabulary, and a template whose count
    explodes between builds is the regression signal.  One narrow
    masking projection + ONE template-keyed aggregate; at 100 TB the
    shuffle carries (template, partial stats), bounded by template
    cardinality (log vocabularies are tiny relative to line counts).
    Filter with ``min_count`` to drop one-off lines.
    """
    t = template_of(F.col(content_col)).alias("template")
    agg = (
        entries.select(
            t,
            F.col(content_col).alias("_orig"),
            "timestamp",
            _group_name().alias("_grp"),
        )
        .groupBy("template")
        .agg(
            F.count("*").alias("n_lines"),
            F.countDistinct("_grp").alias("n_groups"),
            F.min("timestamp").alias("first_ts"),
            F.max("timestamp").alias("last_ts"),
            F.min("_orig").alias("example"),
        )
    )
    if min_count > 1:
        agg = agg.where(F.col("n_lines") >= min_count)
    return agg.orderBy(F.col("n_lines").desc(), F.col("template"))
