"""Parquet sink/source with the reference's schema contract.

Write side (reference parquet.go:101-341): zstd compression, 7-column
schema.  The reference *declares* Parquet sorting columns (timestamp, group)
but physically writes rows in file order (parquet.go:124-127 sets metadata
only) — positional ops (tail/seek) depend on that.  Each write task sorts
its partition by ``row_id`` and rolls part-files over in that order, so
every file covers a contiguous ``row_id`` range per log and row-group
min/max stats prune seek/tail.  ``row_id`` rides along as an extra column,
which the reference reader tolerates (it ignores unknown columns,
query.go:203-233 — its own testdata has a legacy 8th column).

Read side: tolerant, name-based resolution (query.go:203-233):
``timestamp`` and ``content`` required; ``group`` defaults to ``""``;
booleans default to false; unknown extra columns ignored; string columns
accepted as utf8 or binary (query.go:282-291).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from buildkite_logs_parquet_spark.operators.ingest import CANONICAL_COLUMNS
from buildkite_logs_parquet_spark.sources.logs import attach_split_positions

_REQUIRED = ("timestamp", "content")
_STRING_DEFAULTS = {"content": "", "group": ""}
_BOOL_COLUMNS = ("has_timestamp", "is_command", "is_group", "is_progress")


def write_entries(
    entries: DataFrame,
    path: str,
    filter_expr=None,
    single_file: bool = False,
    target_rows_per_partition: int = 4_000_000,
) -> None:
    """Write canonical entries (+ ``row_id``) as zstd Parquet in one job.

    ``filter_expr`` mirrors the reference's filtered export
    (parquet.go:290-341): a Column predicate or SQL string applied before
    the write.  ``single_file=True`` gives parity-style single-file output
    for small job logs.  The default adds no count and no shuffle: it keeps
    the ingest plan's per-log, position-ordered partitions, sorts each by
    ``row_id``, and caps every part-file at ``target_rows_per_partition``
    rows (the writer's ``maxRecordsPerFile``).
    """
    df = entries
    if filter_expr is not None:
        df = df.where(filter_expr)
    cols = (["row_id"] if "row_id" in df.columns else []) + CANONICAL_COLUMNS
    df = df.select(*cols)
    if single_file:
        df = df.coalesce(1)
    if "row_id" in df.columns:
        df = df.sortWithinPartitions("row_id")
    # maxRecordsPerFile 0 = no cap: single_file stays one file at any size
    df.write.mode("overwrite").option("compression", "zstd").option(
        "maxRecordsPerFile", 0 if single_file else target_rows_per_partition
    ).parquet(path)


def _attach_positional_row_id(df: DataFrame) -> DataFrame:
    """Synthesize ``row_id`` = physical file position for files that lack
    the column (reference-written parquet) WITHOUT a global-order window.

    ``logs.attach_split_positions`` numbers the scan with one running
    count across part-files, which order lexicographically by path (the
    reference's files are single-file, where this is vacuous).
    """
    positioned, _ = attach_split_positions(
        df, F.col("_metadata.file_path"), "_file", "row_id", per_file=False
    )
    return positioned.drop("_file")


def read_entries(
    spark: SparkSession, path: str, synthesize_row_id: bool = False
) -> DataFrame:
    """Tolerant canonical read of a Parquet entries table.

    Accepts files written by this engine *or* by the reference (including
    its legacy 8-column file).  Raises ``ValueError`` when a required
    column is missing, matching mapColumns (query.go:228-230).  With
    ``synthesize_row_id`` a file lacking ``row_id`` gets one derived from
    physical position (see ``_attach_positional_row_id``) so positional
    ops (seek/tail) work on reference-written files.
    """
    df = spark.read.parquet(path)
    present = {f.name: f.dataType for f in df.schema.fields}
    for req in _REQUIRED:
        if req not in present:
            raise ValueError(f"required column not found: {req}")
    if "row_id" not in present and synthesize_row_id:
        df = _attach_positional_row_id(df)
        present["row_id"] = T.LongType()

    def _as_string(name: str) -> F.Column:
        col = F.col(name)
        if isinstance(present[name], T.BinaryType):
            col = col.cast("string")  # query.go:282-291 accepts utf8 or binary
        return F.coalesce(col, F.lit(_STRING_DEFAULTS.get(name, "")))

    out = [F.coalesce(F.col("timestamp").cast("long"), F.lit(0)).alias("timestamp")]
    out.append(_as_string("content").alias("content"))
    out.append(
        (_as_string("group") if "group" in present else F.lit("")).alias("group")
    )
    for b in _BOOL_COLUMNS:
        # present columns are read raw (canonical files write them
        # non-nullable — both this engine and the reference), keeping
        # classification predicates eligible for parquet pushdown; a
        # coalesce wrapper here would block PushedFilters entirely
        col = F.col(b) if b in present else F.lit(False)
        out.append(col.alias(b))
    if "row_id" in present:
        out.insert(0, F.col("row_id").cast("long").alias("row_id"))
    return df.select(*out)


def write_log_lake(
    entries: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("org", "pipeline", "build"),
) -> None:
    """Multi-job lake layout: one canonical entries table partitioned by
    CI coordinates (the reference is strictly one file per job log; this is
    the 100 TB layout).

    Hive-style partition directories give Spark partition *pruning* — a
    query filtered on org/pipeline/build never touches other jobs' files —
    and each partition keeps rows in ``row_id`` order for positional ops.
    """
    missing = [c for c in partition_cols if c not in entries.columns]
    if missing:
        raise ValueError(f"partition columns missing from entries: {missing}")
    (
        entries.repartition(*[F.col(c) for c in partition_cols])
        .sortWithinPartitions(*partition_cols, "row_id")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def read_log_lake(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned lake; partition columns come back as columns
    and filters on them prune directories before any file is opened."""
    return spark.read.parquet(path)


def file_info(path: str) -> dict:
    """Parquet metadata without reading data (query.go:358-396): row count,
    column count, file size, row-group count.  Uses footer metadata only;
    sums across part-files when ``path`` is a directory (the reference is
    single-file; a directory is this engine's scale-out layout)."""
    import pyarrow.parquet as pq

    files: list[str]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(".")
        )
    else:
        files = [path]
    if not files:
        raise ValueError(f"no parquet files at {path}")
    rows = 0
    row_groups = 0
    size = 0
    ncols = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        row_groups += md.num_row_groups
        ncols = md.num_columns
        size += os.path.getsize(f)
    return {
        "row_count": rows,
        "column_count": ncols,
        "file_size_bytes": size,
        "num_row_groups": row_groups,
    }


def schema_evolution_report(old, new) -> list[dict]:
    """Compatibility report between two schemas (StructType or
    DataFrame) — the gate a lake runs before accepting a producer's new
    drop: one dict per change with ``kind`` ∈ added / dropped /
    type_changed / nullability_changed and ``breaking`` (dropped
    columns and type changes break readers; additions and
    nullable-loosening don't).  Nested structs compare by their DDL
    string (a nested change reports as type_changed on the top-level
    column — precise enough to fail the gate, which is its job)."""
    from pyspark.sql import DataFrame as _DF

    os_ = old.schema if isinstance(old, _DF) else old
    ns_ = new.schema if isinstance(new, _DF) else new
    of = {f.name: f for f in os_.fields}
    nf = {f.name: f for f in ns_.fields}
    out: list[dict] = []
    for name in sorted(of.keys() | nf.keys()):
        if name not in nf:
            out.append(
                {"column": name, "kind": "dropped", "breaking": True,
                 "old": of[name].dataType.simpleString(), "new": None}
            )
        elif name not in of:
            out.append(
                {"column": name, "kind": "added", "breaking": False,
                 "old": None, "new": nf[name].dataType.simpleString()}
            )
        else:
            o, n = of[name], nf[name]
            if o.dataType != n.dataType:
                out.append(
                    {"column": name, "kind": "type_changed",
                     "breaking": True,
                     "old": o.dataType.simpleString(),
                     "new": n.dataType.simpleString()}
                )
            elif o.nullable != n.nullable:
                out.append(
                    {"column": name, "kind": "nullability_changed",
                     # required→nullable LOOSENS a guarantee readers may
                     # rely on (breaking); nullable→required tightens it
                     "breaking": (not o.nullable) and n.nullable,
                     "old": str(o.nullable), "new": str(n.nullable)}
                )
    return out


def column_size_report(spark: SparkSession, path: str) -> DataFrame:
    """Per-column storage accounting for a parquet lake — footers only,
    no data IO: one task per file reads its metadata and emits per-column
    compressed/uncompressed byte totals; the aggregate is one
    column-keyed combine.  The "what is eating my 100 TB" question —
    a lake's cost usually concentrates in one or two fat columns whose
    encoding (or very presence downstream) deserves attention.

    Output: ``(column, n_files, n_row_groups, compressed_bytes,
    uncompressed_bytes, ratio100)`` — ratio as an exact ×100 integer.
    """
    import glob as _glob
    import os as _os

    files = sorted(
        _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    if _os.path.isfile(path):
        files = [path]
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    sc = spark.sparkContext

    def _one(fp: str):
        import pyarrow.parquet as pq

        md = pq.ParquetFile(fp).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                yield (
                    c.path_in_schema,
                    fp,
                    c.total_compressed_size,
                    c.total_uncompressed_size,
                )

    rows = sc.parallelize(files, min(len(files), 64)).flatMap(_one)
    df = spark.createDataFrame(
        rows, "column string, file string, comp long, uncomp long"
    )
    return (
        df.groupBy("column")
        .agg(
            F.count_distinct("file").alias("n_files"),
            F.count("*").alias("n_row_groups"),
            F.sum("comp").alias("compressed_bytes"),
            F.sum("uncomp").alias("uncompressed_bytes"),
        )
        .select(
            "column",
            "n_files",
            "n_row_groups",
            "compressed_bytes",
            "uncompressed_bytes",
            F.expr(
                "case when compressed_bytes > 0 then"
                " uncompressed_bytes * 100 div compressed_bytes"
                " else 0 end"
            ).alias("ratio100"),
        )
    )
