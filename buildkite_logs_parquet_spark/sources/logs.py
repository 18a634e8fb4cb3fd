"""Log line sources: local files (distributed scan) and the Buildkite API.

Line-splitting parity: the reference uses ``bufio.Scanner`` with
``ScanLines`` (parser.go:72) — split on ``\\n`` ONLY, then drop one trailing
``\\r``.  Hadoop's default ``LineRecordReader`` also splits on bare ``\\r``,
which would shred the multi-OSC progress lines real Buildkite logs embed
(one ``\\n``-line containing many ``\\x1b_bk;t=…\\x07…\\r`` segments — see
the reference's bash-example.log, 212 scanner-lines but 600+ CR-separated
segments).  We therefore pin ``textinputformat.record.delimiter=\\n`` and
strip exactly one trailing ``\\r`` ourselves.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from buildkite_logs_parquet_spark.operators.ingest import (
    FILE_LINES_METADATA,
    PLACED_FILES_MAX,
)


def drop_trailing_cr(value: Column) -> Column:
    """The line without one trailing ``\\r`` byte (``bufio.ScanLines``
    parity).

    The cut is made on the bytes, as the reference makes it.  A character
    substring would need ``length(value)``, a walk over the whole line that
    costs more than the rest of the read, and on a malformed UTF-8 tail it
    would also drop the bytes of the broken sequence before the ``\\r``.
    """
    return F.when(
        value.endswith("\r"),
        F.substr(value.cast("binary"), F.lit(1), F.octet_length(value) - 1)
        .cast("string"),
    ).otherwise(value)


def attach_split_positions(
    scan: DataFrame,
    file: Column,
    file_col: str,
    pos_col: str,
    per_file: bool,
) -> tuple[DataFrame, dict[str, int]]:
    """Number the rows of a file scan by physical position, with no
    global-order window and no Python row path.

    ``scan`` must be a file-source scan with no shuffle above it.  Adds
    ``file`` as ``file_col`` and the 0-based position as ``pos_col``:
    restarting at 0 in each file with ``per_file``, else running on across
    files in path order.  Also returns each file's row count.

    Spark documents ``monotonically_increasing_id`` as partition-id in the
    upper bits and a *contiguous* 0-based record number within each
    partition in the lower 33 bits, and file sources expose each row's
    split byte offset as ``_metadata.file_block_start``.  Splits of a file
    are ordered by that byte offset — documented metadata, NOT the
    scheduler's split-packing order — so one metadata-sized aggregation of
    ``(file, block_start) → (first id, row count)`` yields exact cumulative
    offsets.  They are built on the driver as a pyarrow table, so they
    plan as a ``LocalTableScan`` and no Python worker deserialises the
    rows, and join back by broadcast.  A runtime
    guard asserts id-contiguity per split (``max − min + 1 == count``) and
    fails loudly if a Spark upgrade ever changes the id layout, rather
    than silently misnumbering rows.
    """
    import pyarrow as pa

    tagged = scan.select(
        "*",
        file.alias(file_col),
        F.col("_metadata.file_block_start").alias("_bstart"),
        F.monotonically_increasing_id().alias("_mid"),
    )
    # metadata-sized: one row per (file, split)
    stats = (
        tagged.groupBy(file_col, "_bstart")
        .agg(
            F.min("_mid").alias("_first"),
            F.max("_mid").alias("_last"),
            F.count("*").alias("_cnt"),
        )
        .collect()
    )
    rows: list[dict] = []
    counts: dict[str, int] = {}
    acc = 0
    for r in sorted(stats, key=lambda r: (r[file_col], r["_bstart"])):
        if r["_last"] - r["_first"] + 1 != r["_cnt"]:
            raise RuntimeError(
                "monotonically_increasing_id is not contiguous within a "
                f"file split (file={r[file_col]} block_start={r['_bstart']}: "
                f"ids span {r['_last'] - r['_first'] + 1} for {r['_cnt']} "
                "rows) — positions would be wrong; the Spark id layout "
                "this numbering relies on has changed"
            )
        if per_file and r[file_col] not in counts:
            acc = 0
        rows.append(
            {file_col: r[file_col], "_bstart": r["_bstart"],
             "_first": r["_first"], "_base": acc}
        )
        acc += r["_cnt"]
        counts[r[file_col]] = counts.get(r[file_col], 0) + r["_cnt"]
    offsets = pa.schema(
        [(file_col, pa.string())]
        + [(c, pa.int64()) for c in ("_bstart", "_first", "_base")]
    )
    bases = scan.sparkSession.createDataFrame(
        pa.Table.from_pylist(rows, schema=offsets)
    )
    positioned = (
        tagged.join(F.broadcast(bases), on=[file_col, "_bstart"])
        .withColumn(pos_col, F.col("_base") + (F.col("_mid") - F.col("_first")))
        .drop("_bstart", "_mid", "_first", "_base")
    )
    return positioned, counts


def read_log_lines(
    spark: SparkSession,
    path: str | list[str],
    stats_out: dict | None = None,
) -> DataFrame:
    """Read raw log file(s) into ``(file, line_no, raw)`` with a stable
    0-based per-file line number — entirely JVM-side.

    Splitting uses the text source with ``lineSep="\\n"`` (bare ``\\r`` is
    NOT a separator) and strips exactly one trailing ``\\r``: byte-for-byte
    ``bufio.ScanLines`` parity.

    Line numbers come from ``attach_split_positions``: one metadata-sized
    aggregation job over the scan, whose per-split offsets join back as a
    local relation, so a pass runs two streaming scans (offsets + main),
    both columnar/whole-stage-codegen.  ``stats_out`` receives each file's
    line count, free from that aggregation.  For up to
    ``PLACED_FILES_MAX`` files the same counts ride on the ``file``
    column's metadata (``FILE_LINES_METADATA``), where the group window
    reads them to spread files evenly over its tasks.
    """
    text = spark.read.option("lineSep", "\n").text(path)
    lines, counts = attach_split_positions(
        text, F.input_file_name(), "file", "line_no", per_file=True
    )
    if stats_out is not None:
        # callers feed these to propagate_groups(strategy="auto") so the
        # single-task window never meets a too-large file
        stats_out.update(counts)
    placed = {FILE_LINES_METADATA: counts} if len(counts) <= PLACED_FILES_MAX else {}
    return lines.select(
        F.col("file").alias("file", metadata=placed),
        "line_no",
        drop_trailing_cr(F.col("value")).alias("raw"),
    )


def read_log_dir(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Multi-file read with per-file line numbering (one distributed scan;
    the group-propagation window partitions by ``file``)."""
    if not paths:
        raise ValueError("no paths given")
    return read_log_lines(spark, paths)


class BuildkiteAPIClient:
    """Driver-side fetch of a job log from the Buildkite REST API, parity
    with the reference client (buildkite_api.go:21-92).

    The reference streams a single HTTP body — inherently not a distributed
    scan — so we fetch to a local spool file and hand it to the distributed
    text reader.  Network use is gated: tests stub ``_urlopen``.
    """

    BASE = "https://api.buildkite.com/v2"

    def __init__(self, api_token: str, timeout: float = 30.0):
        if not api_token:
            raise ValueError("API token is required")
        self.api_token = api_token
        self.timeout = timeout

    @staticmethod
    def validate_params(org: str, pipeline: str, build: str, job: str) -> None:
        # buildkite_api.go:71-92 — each parameter required, checked in order.
        for name, val in (
            ("organization", org),
            ("pipeline", pipeline),
            ("build", build),
            ("job", job),
        ):
            if not val:
                raise ValueError(f"{name} is required")

    def log_url(self, org: str, pipeline: str, build: str, job: str) -> str:
        return (
            f"{self.BASE}/organizations/{org}/pipelines/{pipeline}"
            f"/builds/{build}/jobs/{job}/log"
        )

    def _urlopen(self, url: str):
        import urllib.request

        req = urllib.request.Request(
            url,
            headers={
                "Authorization": f"Bearer {self.api_token}",
                "Accept": "text/plain",
                "User-Agent": "buildkite-logs-parquet-spark/0.1",
            },
        )
        return urllib.request.urlopen(req, timeout=self.timeout)

    def fetch_job_log(
        self, org: str, pipeline: str, build: str, job: str, spool_dir: str | None = None
    ) -> str:
        """Fetch the raw log to a local spool file; returns the path."""
        self.validate_params(org, pipeline, build, job)
        url = self.log_url(org, pipeline, build, job)
        with self._urlopen(url) as resp:
            status = getattr(resp, "status", 200)
            if status != 200:
                raise RuntimeError(f"API request failed with status {status}")
            fd, spath = tempfile.mkstemp(
                suffix=".log", prefix="bk_job_", dir=spool_dir
            )
            with os.fdopen(fd, "wb") as out:
                while True:
                    chunk = resp.read(1 << 20)
                    if not chunk:
                        break
                    out.write(chunk)
        return spath
