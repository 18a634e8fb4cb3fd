"""Structured Streaming ingest — "tail -f" of a growing log directory.

The reference is batch-only (its "streaming" is constant-memory pull
iteration, README.md:672-681); this module is the Spark-native extension:
new log files landing in a directory are parsed incrementally with the same
scalar semantics and appended to a Parquet sink.

Group propagation is inherently sequential per file, so the streaming path
classifies lines and tags group *headers*; full running-group assignment is
a batch concern (or a ``applyInPandasWithState`` follow-up) — noted in the
returned schema by ``group`` being the header content only on header rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from buildkite_logs_parquet_spark.operators.ingest import parse_columns
from buildkite_logs_parquet_spark.sources.logs import drop_trailing_cr


def follow_log_dir(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming DataFrame of parsed entries from text files under ``path``.

    Use ``.writeStream.trigger(availableNow=True)`` for catch-up batch runs
    or a processing-time trigger for live follow.  Event time =
    ``event_ts`` (derived from the OSC timestamp) enables watermarked
    windowed aggregation downstream.  ``max_files_per_trigger`` bounds
    batch size by *file count* — the file source never splits one file
    across micro-batches, a guarantee the sink's row numbering relies on.
    Lines split as in ``read_log_lines``: on ``\\n`` only, then one
    trailing ``\\r`` dropped, so a progress line's bare ``\\r`` segments
    stay one entry.
    """
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.option("lineSep", "\n").text(path).select(
        drop_trailing_cr(F.col("value")).alias("raw"),
        F.input_file_name().alias("file"),
    )
    return parse_lines_stream(lines)


def parse_lines_stream(lines: DataFrame) -> DataFrame:
    """Streaming-safe parse of a ``(raw, file)`` lines DataFrame — the
    window-free core of ``follow_log_dir``, exposed so ANY lines stream
    composes (the built-in file stream, the ``tail_text`` live-tail
    source, a Kafka value stream after a select)."""
    return (
        parse_columns(lines)
        .withColumn(
            "group",
            F.when(F.col("is_group"), F.col("clean_content")).otherwise(F.lit("")),
        )
        .withColumn("event_ts", F.timestamp_millis(F.col("timestamp")))
    )


def follow_with_groups(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Follow-mode ingest with *stateful* running-group propagation.

    The batch engine's group window needs the whole file; the streaming
    equivalent keeps one state cell per source file (the current group —
    parser.go:20-23's ``currentGroup`` made durable across micro-batches)
    via ``applyInPandasWithState`` keyed by file name.

    Ordering assumption (documented, asserted in tests): Spark's text file
    source reads each file sequentially within a partition, and rows of one
    file arrive in file order within each micro-batch for that group key.
    This matches the reference's one-parser-per-file model.
    """
    return propagate_groups_stream(follow_log_dir(spark, path))


def propagate_groups_stream(parsed: DataFrame) -> DataFrame:
    """Stateful running-group propagation over any PARSED entry stream
    (``follow_log_dir`` / ``parse_lines_stream`` output) — one state cell
    per source file via ``applyInPandasWithState``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "file string, timestamp long, content string, clean_content string, "
        "group string, has_timestamp boolean, is_command boolean, "
        "is_group boolean, is_progress boolean"
    )
    state_schema = "current_group string"

    def assign(key, pdfs, state):
        import pandas as pd

        (file,) = key
        (current,) = state.get if state.exists else ("",)
        out = []
        for pdf in pdfs:
            groups = []
            for is_group, clean, err in zip(
                pdf["is_group"], pdf["clean_content"], pdf["parse_error"]
            ):
                if bool(is_group) and err is None:
                    current = clean
                groups.append(current)
            res = pdf[
                [
                    "timestamp",
                    "content",
                    "clean_content",
                    "has_timestamp",
                    "is_command",
                    "is_group",
                    "is_progress",
                ]
            ].copy()
            res.insert(0, "file", file)
            res["group"] = groups
            out.append(res)
        state.update((current,))
        yield from out

    return (
        parsed.groupBy("file")
        .applyInPandasWithState(
            assign,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_to_lake(
    spark: SparkSession,
    log_dir: str,
    lake_path: str,
    checkpoint: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """End-to-end streaming ingest: follow a log directory with stateful
    group propagation and write canonical entries into a Parquet lake.

    Delivery: ``foreachBatch`` alone is at-least-once — a batch retried
    after a partial write would duplicate rows under a blind append.  The
    write is made idempotent with *dynamic partition overwrite* keyed by
    ``file``: a replayed batch overwrites exactly the file partitions it
    already touched, so replays converge instead of duplicating.  This is
    sound because the file source assigns each source file wholly to one
    micro-batch (``maxFilesPerTrigger`` limits file count, never splits a
    file), so no lake partition ever holds rows from two batches.

    Per-file ``row_id`` is the line position within the micro-batch for
    that file — equal to the absolute line position in the source file
    under the same whole-file-per-batch guarantee (no offset bookkeeping
    exists or is needed).  Both assumptions are pinned by
    ``test_streaming.py::test_lake_positions_with_max_files_per_trigger``
    and ``test_lake_batch_replay_is_idempotent``.
    """
    from pyspark.sql import Window as W

    stream = follow_with_groups(spark, log_dir, max_files_per_trigger)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = W.partitionBy("file").orderBy(F.monotonically_increasing_id())
        out = batch_df.withColumn(
            "row_id", F.row_number().over(w).cast("long") - 1
        ).select(
            "file",
            "row_id",
            "timestamp",
            "content",
            "group",
            "has_timestamp",
            "is_command",
            "is_group",
            "is_progress",
        )
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).option("compression", "zstd").partitionBy("file").parquet(lake_path)

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    trigger = {"availableNow": True} if available_now else {"processingTime": "10 seconds"}
    return writer.trigger(**trigger).start()


def stream_dedup(
    entries: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop re-delivered entries whose key has been
    seen within the watermark horizon.

    Key default: the content fingerprint (md5 of the cleaned line) plus
    the file — the re-delivery signature of at-least-once log shippers.
    Built on ``dropDuplicatesWithinWatermark`` so the dedup state is
    GC'd as the watermark advances: state size is bounded by the horizon's
    key cardinality, not the stream's lifetime — the property that keeps
    this runnable forever on a 1000-executor cluster.  Rows without an
    event time still dedup (their sentinel timestamp is far in the past,
    so their state is dropped at the first watermark advance — duplicates
    of such rows are only caught within one batch; documented trade-off).
    """
    keyed = entries.withColumn(
        "_dedup_key",
        F.md5(F.concat_ws("\x00", F.col("file"), F.col("content"))),
    )
    had_event_ts = "event_ts" in keyed.columns
    if not had_event_ts:
        keyed = keyed.withColumn(
            "event_ts", F.timestamp_millis(F.col("timestamp"))
        )
    cols = key_cols or ["_dedup_key"]
    out = (
        keyed.withWatermark("event_ts", watermark)
        .dropDuplicatesWithinWatermark(cols)
        .drop("_dedup_key")
    )
    return out if had_event_ts else out.drop("event_ts")


def windowed_counts(entries: DataFrame, window: str = "1 minute") -> DataFrame:
    """Watermarked tumbling-window counts by classification — the standard
    late-data-tolerant streaming aggregation over the follow stream.

    Rows without an OSC timestamp are excluded up front: their
    ``event_ts`` would be the year-1 sentinel, which the advancing
    watermark would silently drop as late data — an explicit filter makes
    the exclusion a
    documented semantic (event-time aggregation is only defined for rows
    that *have* an event time) instead of a watermark accident.  The batch
    ``processing_summary`` remains the count of every line.
    """
    return (
        entries.where(F.col("has_timestamp"))
        .withWatermark("event_ts", "5 minutes")
        .groupBy(F.window("event_ts", window))
        .agg(
            F.count("*").alias("entries"),
            F.sum(F.col("is_command").cast("long")).alias("commands"),
            F.sum(F.col("is_group").cast("long")).alias("groups"),
            F.sum(F.col("is_progress").cast("long")).alias("progress"),
        )
    )


def session_counts(
    entries: DataFrame,
    gap: str = "30 minutes",
    key_col: str | None = None,
    watermark: str = "5 minutes",
    ts_col: str = "event_ts",
) -> DataFrame:
    """Gap-based sessionization with Spark's native ``session_window`` —
    works identically on a stream (watermarked, state GC'd as sessions
    close) and on a batch DataFrame (merge-overlapping-windows semantics).

    A session is a maximal run of events where consecutive gaps stay
    under ``gap``; ``session_window`` merges overlapping candidate
    windows in-state, which is exactly the ``lag``-based flagging the
    batch sessionizer computes (equivalence is property-tested in
    tests/test_streaming.py).

    100 TB / streaming shape: state is one (key, open-session) row per
    active key, GC'd when the watermark passes a session's close; batch
    mode is one shuffle keyed by (key) with the merge running inside the
    aggregation — no self-join, no global sort.
    """
    keys = [F.session_window(F.col(ts_col), gap)]
    if key_col is not None:
        keys.append(F.col(key_col))
    base = entries
    if entries.isStreaming:
        base = base.withWatermark(ts_col, watermark)
    out = base.groupBy(*keys).agg(
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("first_event"),
        F.max(ts_col).alias("last_event"),
    )
    cols = [
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "first_event",
        "last_event",
    ]
    if key_col is not None:
        cols.insert(0, F.col(key_col))
    return out.select(*cols)


def stream_append_dedup_against_lake(
    stream: DataFrame,
    lake_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    output_mode_trigger_available_now: bool = True,
):
    """Exactly-once-style corpus growth: append each micro-batch to a
    parquet lake, dropping rows whose key already exists in the lake OR
    earlier in the same batch — cross-HISTORY dedup, complementing
    ``stream_dedup`` (which only bounds state to a watermark horizon).

    Built on ``foreachBatch``: the batch anti-joins the CURRENT lake on
    ``key_cols`` (the lake side is projected to the key columns only —
    at scale this is a digest-column scan, prunable and broadcastable
    when small), dedups within the batch with a CONTENT-deterministic
    survivor (per key, the row whose non-key column tuple is smallest —
    a min aggregation over a struct, so the same batch contents produce
    the same survivor on any retry/replay or partition layout; "batch
    order" is not a stable notion in a shuffled micro-batch), and
    appends survivors. foreachBatch re-delivery (a batch replayed after a
    crash) is idempotent BECAUSE of the anti-join: replayed rows find
    their keys already in the lake and drop out.

    Returns the started ``StreamingQuery``.
    """

    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        from pyspark.errors.exceptions.captured import AnalysisException

        other = [c for c in batch.columns if c not in key_cols]
        if other:
            fresh = (
                batch.groupBy(*key_cols)
                .agg(F.min(F.struct(*[F.col(c) for c in other])).alias("_row"))
                .select(
                    *key_cols,
                    *[F.col(f"_row.{c}").alias(c) for c in other],
                )
                .select(*batch.columns)
            )
        else:
            fresh = batch.dropDuplicates(key_cols)
        try:
            lake_raw = spark.read.parquet(lake_path)
        except AnalysisException as e:
            # first batch: the lake does not exist yet — ONLY that case
            # skips the anti-join; schema/storage errors must surface
            cond = (
                e.getCondition()
                if hasattr(e, "getCondition")
                else e.getErrorClass()
            )
            if (cond or "") != "PATH_NOT_FOUND":
                raise
            lake_raw = None
        if lake_raw is not None:
            existing = lake_raw.select(*key_cols).distinct()
            fresh = fresh.join(existing, on=key_cols, how="left_anti")
        fresh.write.mode("append").parquet(lake_path)

    writer = stream.writeStream.foreachBatch(upsert).option(
        "checkpointLocation", checkpoint_dir
    )
    if output_mode_trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_drift_monitor(
    stream_df: DataFrame,
    reference: DataFrame | None,
    metrics_path: str,
    checkpoint: str,
    cat_cols: list[str] | None = None,
    num_cols: list[str] | None = None,
    n_bins: int = 10,
    available_now: bool = True,
    reference_state: str | None = None,
):
    """Streaming corpus-quality monitor: for every arriving micro-batch,
    compute its Population Stability Index against a FIXED reference
    snapshot (``profiling.corpus_drift``) and append per-column summary
    rows to a metrics lake — the watchdog a pipeline runs while a new
    crawl lands, catching language-mix or length-profile shift batch by
    batch instead of after the fact.

    Per batch the work is bucket-count sized (the drift op never
    shuffles corpus rows), so the monitor adds negligible load to the
    ingest it watches.  Replay-safe: each batch overwrites its OWN
    ``batch_id`` partition via dynamic partition overwrite, so
    at-least-once redelivery converges (the ``stream_to_lake``
    discipline).  Empty micro-batches write nothing.

    Prefer ``reference_state`` (path of a ``profiling.
    build_drift_reference`` table): the watchdog then reads the
    metadata-sized state rows per batch — frozen binning included — and
    the reference corpus itself is never rescanned and may be deleted
    once frozen.  Passing the live ``reference`` DataFrame instead
    recomputes its bucket counts EVERY batch (and re-derives combined
    bounds, so binning can shift batch to batch) — kept for ad-hoc use.
    """
    from buildkite_logs_parquet_spark.operators.profiling import (
        corpus_drift,
        corpus_drift_from_state,
        drift_summary,
    )

    if (reference is None) == (reference_state is None):
        raise ValueError(
            "pass exactly one of reference / reference_state"
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if reference_state is not None:
            state = batch_df.sparkSession.read.parquet(reference_state)
            drift = corpus_drift_from_state(
                batch_df, state, cat_cols=cat_cols, num_cols=num_cols
            )
        else:
            drift = corpus_drift(
                batch_df, reference, cat_cols=cat_cols, num_cols=num_cols,
                n_bins=n_bins,
            )
        out = drift_summary(drift).select(
            F.lit(int(batch_id)).alias("batch_id"),
            "column",
            F.col("psi").cast("double").alias("psi"),
            "n_buckets",
        )
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(metrics_path)

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    trigger = (
        {"availableNow": True}
        if available_now
        else {"processingTime": "30 seconds"}
    )
    return writer.trigger(**trigger).start()


def stream_sketch_state(
    stream_df: DataFrame,
    state_path: str,
    checkpoint: str,
    distinct_cols: list[str] | None = None,
    quantile_cols: list[str] | None = None,
    set_key: str | None = None,
    lg_k: int = 12,
    kll_k: int = 200,
    available_now: bool = True,
):
    """Streaming writer for the mergeable-sketch state tables: every
    micro-batch aggregates ONCE into a single KB-sized row — HLL
    sketches for ``distinct_cols``, KLL quantile sketches for
    ``quantile_cols``, a theta set sketch over ``set_key`` — tagged with
    its ``batch_id`` and appended to the state lake.

    This is the streaming half of the incremental-profiling pattern
    (profiling.build_*_sketches): the raw stream is never stored, yet
    any-range distinct counts / percentiles / set overlaps over the
    ingest history remain answerable from O(batches·KB) of state via the
    ``merge_*`` / ``set_overlap`` query halves.  Replay-safe the same
    way as ``stream_drift_monitor``: each batch overwrites its OWN
    ``batch_id`` partition, so at-least-once redelivery converges.
    """
    from pyspark.sql import functions as SF

    distinct_cols = distinct_cols or []
    quantile_cols = quantile_cols or []
    if not (distinct_cols or quantile_cols or set_key):
        raise ValueError("nothing to sketch")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        aggs = [SF.count("*").alias("n_rows")]
        for c in distinct_cols:
            aggs.append(
                SF.hll_sketch_agg(
                    SF.col(c).cast("string"), SF.lit(int(lg_k))
                ).alias(f"sketch_{c}")
            )
        for c in quantile_cols:
            aggs.append(
                SF.kll_sketch_agg_double(
                    SF.col(c).cast("double"), SF.lit(int(kll_k))
                ).alias(f"kll_{c}")
            )
        if set_key is not None:
            aggs.append(
                SF.theta_sketch_agg(
                    SF.col(set_key).cast("string"), SF.lit(int(lg_k))
                ).alias("theta")
            )
        row = batch_df.agg(*aggs).select(
            SF.lit(int(batch_id)).alias("batch_id"), "*"
        )
        row.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(state_path)

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    trigger = (
        {"availableNow": True}
        if available_now
        else {"processingTime": "30 seconds"}
    )
    return writer.trigger(**trigger).start()


def stream_token_budget(
    stream: DataFrame,
    key_col: str,
    token_col: str,
    budget: int,
    order_col: str,
):
    """Streaming per-key token-budget admission — a custom stateful
    operator on ``applyInPandasWithState``.

    State per key is ONE long: the total token mass seen so far.  Each
    micro-batch sorts its rows by ``order_col`` (total order within a
    key — within-batch determinism), adds the carried total, and admits
    a row iff the inclusive running total stays within ``budget`` — the
    SAME prefix-sum rule as the batch twin
    (``curation.domain_token_budget``), so a stream processed in any
    batch split equals the batch result on the concatenation (tested).
    Cross-batch arrival order is the stream's order, as with any
    streaming quota.

    100 TB shape: state is 8 bytes per key (domains, not documents),
    rows flow through Arrow batches, and emitted output is only the
    admitted rows with their running totals.  Returns a DataFrame to
    start with ``writeStream`` (append mode).

    (Spark 4's ``transformWithStateInPandas`` would be the natural API
    here, but its driver worker needs protobuf, absent in this
    environment — the ``applyInPandasWithState`` form is semantically
    identical for a single value state.)
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    in_schema = stream.schema
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in in_schema.fields
    )
    out_schema = f"{out_fields}, cum_tokens bigint"
    cols = [f.name for f in in_schema.fields]

    def admit(key, pdfs, state):
        (base,) = state.get if state.exists else (0,)
        base = int(base)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(order_col, kind="mergesort")
        cum = base + batch[token_col].astype("int64").cumsum()
        batch = batch.assign(cum_tokens=cum)
        state.update((int(cum.iloc[-1]) if len(cum) else base,))
        out = batch[batch["cum_tokens"] <= int(budget)]
        if len(out):
            yield out[cols + ["cum_tokens"]]

    return stream.groupBy(key_col).applyInPandasWithState(
        admit,
        outputStructType=out_schema,
        stateStructType="seen bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_neardup_filter(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    lake_table: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 8,
):
    """Streaming NEAR-duplicate admission: each micro-batch probes the
    banded-signature lake (``dedup.incremental_near_dups`` — history
    side never reshuffles), keeps only documents with no near-dup in
    history OR earlier in the batch (batch-internal pairs resolve
    min-id-first, the dedup_clusters canonical rule), appends the
    survivors to ``out_path`` AND their signatures to the lake — so the
    next batch dedups against everything admitted so far.

    Exactly-once note (the ``stream_append_dedup_against_lake``
    contract): the lake/output appends are idempotent per batch only if
    the upstream ids are stable across retries; a replayed batch
    re-probes the NOW-UPDATED lake, so its documents dedup against
    their own first delivery — re-admission is suppressed by content,
    which is the semantics a dedup sink wants under at-least-once.

    State lives in the LAKE, not in streaming state: bounded by corpus
    signatures (id + band longs), never raw text, and shared with the
    batch pipeline — one dedup index for both worlds.
    """
    from buildkite_logs_parquet_spark.operators import dedup as D

    def admit(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return
        batch = batch.select(id_col, text_col).dropDuplicates([id_col])
        batch.persist()
        try:
            lake_exists = spark.catalog.tableExists(lake_table)
            if lake_exists:
                pairs = D.incremental_near_dups(
                    batch, id_col, text_col, lake_table,
                    num_perm=num_perm, bands=bands, shingle_k=shingle_k,
                    threshold=threshold,
                )
            else:
                # first batch bootstraps the lake: only batch-internal
                # near-dups exist (minhash_near_duplicates is the same
                # pair semantics incremental_near_dups' batch side uses)
                pairs = D.minhash_near_duplicates(
                    batch, id_col, text_col,
                    num_perm=num_perm, bands=bands, shingle_k=shingle_k,
                    threshold=threshold,
                ).select("id_a", "id_b", F.lit("batch").alias("side"))
            # drop anything matching history; within the batch keep the
            # min id of each pair (the dedup_clusters canonical rule)
            hist_hit = pairs.where(F.col("side") == "history").select(
                F.col("id_a").alias(id_col)
            )
            batch_hit = pairs.where(F.col("side") == "batch").select(
                F.greatest("id_a", "id_b").alias(id_col)
            )
            drop = hist_hit.unionByName(batch_hit).distinct()
            kept = batch.join(drop, id_col, "left_anti")
            kept.persist()
            kept.write.mode("append").parquet(out_path)
            D.write_signature_lake(
                kept, id_col, text_col, lake_table,
                num_perm=num_perm, bands=bands, shingle_k=shingle_k,
                mode="append" if lake_exists else "overwrite",
            )
            kept.unpersist()
        finally:
            batch.unpersist()

    return (
        docs.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def stream_funnel(
    stream: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_ms",
    window_ms: int | None = None,
):
    """Streaming ordered-funnel tracker — a custom stateful operator on
    ``applyInPandasWithState`` keyed by user.

    State per user is THREE longs: the furthest step reached, that
    step's earliest-completion timestamp, and (windowed variant) the
    step-1 deadline.  Each micro-batch advances the batch operator's
    earliest-completion chain (``operators/funnel.py::funnel_steps``:
    ``t_i = min ts of step-i events with ts >= t_{i-1}``) by per-step
    min-scans over the batch — NOT a single ordered pass, so same-
    timestamp events complete in funnel order regardless of how their
    type names sort, and an event at exactly ``t_{i-1}`` can satisfy
    step ``i`` just as the batch twin's ``_ts >= _t`` allows.  The
    chain is INCREMENTAL: as long as a user's events arrive in
    timestamp order across batches, any batch split of the stream
    emits exactly the batch twin's transitions (tested over 3 splits
    and a same-timestamp case).  Out-of-order arrivals degrade exactly
    like any streaming funnel: an event older than the state's
    frontier cannot retroactively complete a step.

    Emits one APPEND row per step transition:
    ``(user, step_idx, step, ts_ms)`` — the per-user completion stream
    that downstream windowed aggregation turns into live conversion
    dashboards.

    100 TB shape: state is 24 bytes per user; rows flow through Arrow
    batches; emitted output is transitions only (≤ |steps| rows per
    user, ever).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    k = len(steps)

    def track(key, pdfs, state):
        if state.exists:
            furthest, t_cur, dl = state.get
        else:
            furthest, t_cur, dl = 0, 0, -1
        batch = pd.concat(list(pdfs), ignore_index=True)
        types = batch[type_col]
        ts_vals = batch[ts_col].astype("int64")
        out = []
        # per-step min-scan: t_i = min ts of step-i events with
        # ts >= t_{i-1} (and <= deadline) — the batch twin's chain
        while furthest < k:
            want = steps[furthest]
            sel = types == want
            if furthest > 0:
                sel &= ts_vals >= t_cur
                if dl >= 0:
                    sel &= ts_vals <= dl
            if not sel.any():
                break
            furthest += 1
            t_cur = int(ts_vals[sel].min())
            if furthest == 1 and window_ms is not None:
                dl = t_cur + int(window_ms)
            out.append((key[0], furthest, want, t_cur))
        state.update((int(furthest), int(t_cur), int(dl)))
        if out:
            yield pd.DataFrame(
                out, columns=["user", "step_idx", "step", "ts"]
            ).rename(
                columns={
                    "user": user_col,
                    "step_idx": "step_idx",
                    "step": "step",
                    "ts": ts_col,
                }
            )

    return stream.groupBy(user_col).applyInPandasWithState(
        track,
        outputStructType=(
            f"{user_col} long, step_idx long, step string, {ts_col} long"
        ),
        stateStructType="furthest bigint, t_cur bigint, dl bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_cohort_activity(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    period_ms: int = 86_400_000,
    max_offsets: int = 63,
):
    """Streaming cohort-activity tracker — the stream twin of
    ``operators/funnel.py::cohort_retention``'s cell feed, on
    ``applyInPandasWithState`` keyed by user.

    State per user is TWO longs: the cohort period (first-activity
    period ever seen) and a BITMASK of offsets already emitted — so a
    user's state is 16 bytes regardless of event volume, bounded to
    ``min(max_offsets, 63)`` periods of observation (offsets ≥ the
    mask width are dropped with the documented streaming-horizon
    semantics; 63 daily offsets ≈ two months of live dashboard).  The
    hard cap is 63, not 64: the state column is a SIGNED bigint, and
    bit 63 would overflow it — offsets 0..62 use bits 0..62, whose
    full mask 2^63−1 is exactly the bigint maximum.

    Emits one APPEND row per (user, offset) FIRST activation:
    ``(user, cohort_period, offset)``.  Counting those rows per
    (cohort_period, offset) downstream reproduces the batch
    ``cohort_retention`` matrix exactly for in-order streams (tested
    over batch splits).

    Caveat shared with every streaming cohort: a user whose true first
    activity arrives late (older period in a later batch) is cohorted
    at their first SEEN period — the batch operator remains the
    source of truth for backfills.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    w = int(period_ms)
    if w < 1:
        raise ValueError("period_ms must be >= 1")
    # signed-bigint mask: bits 0..62 only (1 << 63 overflows the state
    # column's long at Arrow serialization) — reject a wider ask instead
    # of silently truncating the caller's observation horizon
    horizon = int(max_offsets)
    if horizon > 63:
        raise ValueError(
            "max_offsets must be <= 63: the per-user activity mask is one "
            "signed BIGINT state column (bits 0..62); for longer horizons "
            "widen period_ms or use the batch cohort_retention operator"
        )

    def track(key, pdfs, state):
        if state.exists:
            cohort, mask = state.get
        else:
            cohort, mask = -1, 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        periods = (batch[ts_col].astype("int64") // w).tolist()
        out = []
        for p in sorted(periods):
            if cohort < 0:
                cohort = p
            off = p - cohort
            if off < 0 or off >= horizon:
                continue
            bit = 1 << off
            if not (mask & bit):
                mask |= bit
                out.append((key[0], cohort, off))
        state.update((int(cohort), int(mask)))
        if out:
            yield pd.DataFrame(
                out, columns=[user_col, "cohort_period", "offset"]
            )

    return stream.groupBy(user_col).applyInPandasWithState(
        track,
        outputStructType=(
            f"{user_col} long, cohort_period long, offset long"
        ),
        stateStructType="cohort bigint, mask bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_transitions(
    stream: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_ms",
):
    """Streaming event-transition feed — the stream twin of
    ``operators/funnel.py::event_transitions``'s pair stage, on
    ``applyInPandasWithState`` keyed by user.

    State per user is the LAST event type seen (one short string).
    Each micro-batch sorts its rows by ``(ts, type)`` and emits one
    append row per consecutive pair, chaining across batches through
    the carried state — so for in-order streams whose same-timestamp
    events don't split across micro-batches the emitted multiset
    equals the batch operator's pair relation (tested over splits; a
    same-ts tie split across a boundary is already committed to pair
    order when the later event arrives — the shared streaming-horizon
    caveat); counting per (from, to) downstream gives the live
    transition matrix.

    Output rows: ``(user, from_type, to_type, ts_ms)`` (the ts of the
    TO event).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def track(key, pdfs, state):
        last = state.get[0] if state.exists else None
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values([ts_col, type_col], kind="mergesort")
        out = []
        for typ, ts in zip(batch[type_col], batch[ts_col]):
            if last is not None:
                out.append((key[0], last, typ, int(ts)))
            last = typ
        state.update((last if last is not None else "",))
        if out:
            yield pd.DataFrame(
                out, columns=[user_col, "from_type", "to_type", ts_col]
            )

    return stream.groupBy(user_col).applyInPandasWithState(
        track,
        outputStructType=(
            f"{user_col} long, from_type string, to_type string, "
            f"{ts_col} long"
        ),
        stateStructType="last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_attribution(
    stream: DataFrame,
    conversion_type: str,
    channel_types: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_ms",
    id_col: str = "event_id",
):
    """Streaming last-touch conversion attribution — the stream twin of
    ``operators/funnel.py::attribute_conversions(mode='last_touch')``,
    on ``applyInPandasWithState`` keyed by user.

    State per user is the current best touch as THREE values
    ``(tts, tid, tch)``: the latest channel timestamp, the highest
    event id within that millisecond (the batch twin's (user, ms) slot
    resolves same-ms channel ties by ``max_by(type, event_id)`` —
    rule-6 parity), and its channel.  Each micro-batch merges touches
    and conversions in timestamp order: before a conversion at ``cts``
    is attributed, every batch touch with ``tts <= cts`` has been
    folded into the state — so a touch in the SAME millisecond as the
    conversion is credited, exactly like the batch twin's
    ``s.tts <= c.cts``.

    Emits one APPEND row per conversion event:
    ``(conversion_id, user, conv_ts_ms, channel, touch_ts_ms)`` with
    NULL channel for unattributed conversions.  A replayed conversion
    row re-emits a VALUE-IDENTICAL attribution (state only advances on
    touches with a higher (ts, id)), so downstream consumers dedup by
    conversion_id without coordination.

    Out-of-order caveat (shared with every streaming attributor): a
    touch arriving AFTER its conversion's micro-batch cannot
    retro-attribute; the batch operator is the backfill source of
    truth.

    100 TB shape: state is two longs + one short string per user; rows
    flow through Arrow batches; output is conversions-sized.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    chans = set(channel_types)

    def track(key, pdfs, state):
        if state.exists:
            tts, tid, tch = state.get
            # '' is the Arrow-state spelling of "no touch yet" — decode
            # it back to None so a restored empty sentinel can never be
            # emitted as a real (truthy-checked) channel
            if tch == "":
                tch = None
        else:
            tts, tid, tch = -1, -1, None
        batch = pd.concat(list(pdfs), ignore_index=True)
        rows = sorted(
            zip(
                batch[ts_col].astype("int64"),
                batch[id_col].astype("int64"),
                batch[type_col],
            )
        )
        touches = [(t, i, c) for (t, i, c) in rows if c in chans]
        out = []
        ti = 0
        for t, i, c in rows:
            if c != conversion_type:
                continue
            while ti < len(touches) and touches[ti][0] <= t:
                nt, ni, nc = touches[ti]
                if nt > tts or (nt == tts and ni > tid):
                    tts, tid, tch = nt, ni, nc
                ti += 1
            if tch is not None and tts <= t:
                out.append((i, key[0], t, tch, tts))
            else:
                out.append((i, key[0], t, None, None))
        # fold any remaining touches (after the last conversion) so the
        # carried state reflects the whole batch
        while ti < len(touches):
            nt, ni, nc = touches[ti]
            if nt > tts or (nt == tts and ni > tid):
                tts, tid, tch = nt, ni, nc
            ti += 1
        state.update((int(tts), int(tid), tch if tch is not None else ""))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "conversion_id", user_col, "conv_ts_ms", "channel",
                    "touch_ts_ms",
                ],
            )

    return stream.groupBy(user_col).applyInPandasWithState(
        track,
        outputStructType=(
            f"conversion_id long, {user_col} long, conv_ts_ms long, "
            "channel string, touch_ts_ms long"
        ),
        stateStructType="tts bigint, tid bigint, tch string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_paths(
    stream: DataFrame,
    depth: int = 3,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_ms",
):
    """Streaming event-path feed — the stream twin of
    ``operators/funnel.py::top_paths``'s depth-gram stage, on
    ``applyInPandasWithState`` keyed by user.

    State per user is the last ``depth − 1`` event types (short
    strings).  Each micro-batch sorts its rows by ``(ts, type)`` — the
    batch operator's window order — and emits one APPEND row per
    completed depth-gram, chaining across batches through the carried
    history; counting per path downstream and ranking (count desc, lex)
    reproduces the batch top-k for streams where a user's
    SAME-TIMESTAMP events never split across micro-batches (in-batch
    ties sort exactly like the batch window; a tie split across a batch
    boundary is already committed to gram order when the later event
    arrives, so its grams can differ from the batch twin's — the same
    horizon class as every caveat above: the batch operator is the
    backfill source of truth).

    Output rows: ``(user, step_1 .. step_{depth}, ts_ms)`` (the ts of
    the last step).

    CONTRACT: event types must be NON-EMPTY strings.  ``""`` is the
    no-history sentinel in the carried state (emission is gated on
    ``all(hist)``), so a genuine empty-string event type would be
    conflated with missing history and suppress grams the batch
    ``top_paths`` counts.  Filter or map empty types upstream.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    if depth < 2:
        raise ValueError("depth must be >= 2")
    h = depth - 1
    step_cols = [f"step_{i}" for i in range(1, depth + 1)]

    def track(key, pdfs, state):
        hist = list(state.get) if state.exists else [""] * h
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values([ts_col, type_col], kind="mergesort")
        out = []
        for typ, ts in zip(batch[type_col], batch[ts_col]):
            if all(hist):
                out.append((key[0], *hist, typ, int(ts)))
            hist = hist[1:] + [typ]
        state.update(tuple(hist))
        if out:
            yield pd.DataFrame(
                out, columns=[user_col, *step_cols, ts_col]
            )

    return stream.groupBy(user_col).applyInPandasWithState(
        track,
        outputStructType=(
            f"{user_col} long, "
            + ", ".join(f"{c} string" for c in step_cols)
            + f", {ts_col} long"
        ),
        stateStructType=", ".join(f"h{i} string" for i in range(h)),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
