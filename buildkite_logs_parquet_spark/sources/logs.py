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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LINES_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("line_no", T.LongType(), False),
        T.StructField("raw", T.StringType(), False),
    ]
)


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

    Line numbering without any Python row path: Spark documents
    ``monotonically_increasing_id`` as partition-id in the upper bits and a
    *contiguous* 0-based record number within each partition in the lower
    33 bits, and file sources expose each row's split byte offset as
    ``_metadata.file_block_start``.  Splits of a file are ordered by that
    byte offset — documented metadata, NOT the scheduler's split-packing
    order — so one metadata-sized aggregation of ``(file, block_start) →
    (first id, row count)`` yields exact per-file cumulative offsets,
    broadcast back as a tiny join.  Two streaming scans total (offsets +
    main), both columnar/whole-stage-codegen; the Python process never
    sees a row.  A runtime guard asserts id-contiguity per split
    (``max − min + 1 == count``) and fails loudly if a Spark upgrade ever
    changes the id layout, rather than silently misnumbering lines.
    """
    text = spark.read.option("lineSep", "\n").text(path)

    tagged = text.select(
        F.input_file_name().alias("file"),
        F.col("_metadata.file_block_start").alias("_bstart"),
        F.monotonically_increasing_id().alias("_mid"),
        F.col("value"),
    )
    # metadata-sized: one row per (file, split)
    stats = (
        tagged.groupBy("file", "_bstart")
        .agg(
            F.min("_mid").alias("_first"),
            F.max("_mid").alias("_last"),
            F.count("*").alias("_cnt"),
        )
        .collect()
    )
    per_file: dict[str, list] = {}
    for r in stats:
        if r["_last"] - r["_first"] + 1 != r["_cnt"]:
            raise RuntimeError(
                "monotonically_increasing_id is not contiguous within a "
                f"file split (file={r['file']} block_start={r['_bstart']}: "
                f"ids span {r['_last'] - r['_first'] + 1} for {r['_cnt']} "
                "rows) — line numbering would be wrong; the Spark id "
                "layout this source relies on has changed"
            )
        per_file.setdefault(r["file"], []).append(r)
    bases = []
    for file, rows in per_file.items():
        acc = 0
        for r in sorted(rows, key=lambda r: r["_bstart"]):
            bases.append((file, r["_bstart"], r["_first"], acc))
            acc += r["_cnt"]
        if stats_out is not None:
            # per-file line counts fall out of the offset scan for free —
            # callers feed them to propagate_groups(strategy="auto") so the
            # single-task window never meets a too-large file
            stats_out[file] = acc
    base_df = spark.createDataFrame(
        bases, "file string, _bstart long, _first long, _base long"
    )
    raw = F.when(
        F.col("value").endswith("\r"),
        F.col("value").substr(F.lit(1), F.length("value") - 1),
    ).otherwise(F.col("value"))
    return (
        tagged.join(F.broadcast(base_df), on=["file", "_bstart"])
        .select(
            "file",
            (F.col("_base") + (F.col("_mid") - F.col("_first"))).alias("line_no"),
            raw.alias("raw"),
        )
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
