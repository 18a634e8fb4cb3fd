"""Conversation (SFT / chat) data operations: parse, validate, render,
and loss-mask multi-turn conversations — the instruction-tuning side of a
training-data pipeline, complementary to the pre-training ops in
``curation``/``packing``.

Data model: a conversation is one row with a ``turns`` column of type
``array<struct<role:string, content:string>>`` (the de-facto JSONL chat
interchange shape).  Everything here is pure Catalyst expression work —
``from_json`` / ``transform`` / ``filter`` / ``aggregate`` folds — so the
operators are narrow, zero-shuffle, whole-stage-codegen'd maps: at 100 TB
they inherit the scan's partitioning and cost one pass.

Pipeline shape::

    parse_conversations      JSONL string -> typed turns (+ quarantine flag)
    conversation_stats       per-row structural metrics (counts, alternation)
    filter_conversations     structural validity gate
    render_chat_template     turns -> single training text (role-tagged)
    assistant_spans          char spans of assistant content in the render
    explode_turns            per-turn rows (for turn-level dedup/quality)

Rendered text then feeds the existing pre-training machinery: exact/near
dedup on the render digest (``dedup``), tokenize (``text_analysis``/
``wordpiece``), pack (``packing.pack_sequences``) — the spans
from ``assistant_spans`` travel alongside to become the loss mask after
tokenization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TURNS_SCHEMA = "array<struct<role:string,content:string>>"


def parse_conversations(
    df: DataFrame,
    json_col: str = "conversation",
    out_col: str = "turns",
    corrupt_col: str = "_corrupt",
) -> DataFrame:
    """Parse a JSON conversation column (``[{"role": ..., "content": ...},
    ...]``) into typed turns.

    Malformed JSON (or JSON of the wrong shape) yields a NULL ``out_col``
    and ``corrupt_col = true`` — the quarantine-don't-abort discipline of
    ``sources/csv_source.py``: one bad record in a 100 TB crawl must not
    kill the job, and the flag keeps the bad rows auditable.  Extra object
    keys are ignored by ``from_json``; missing keys read as NULL struct
    fields (caught later by ``filter_conversations``'s nonempty check).
    """
    parsed = F.from_json(F.col(json_col), TURNS_SCHEMA)
    return df.withColumn(out_col, parsed).withColumn(
        corrupt_col,
        F.col(json_col).isNotNull() & F.col(out_col).isNull(),
    )


def _role_counts(turns: Column, role: str) -> Column:
    return F.size(F.filter(turns, lambda t: t["role"] == F.lit(role)))


def conversation_stats(
    df: DataFrame,
    turns_col: str = "turns",
) -> DataFrame:
    """Append per-conversation structural metrics:

    * ``n_turns``, ``n_user``, ``n_assistant``, ``n_system`` — turn counts;
    * ``content_chars`` — total content length (chars);
    * ``first_role`` / ``last_role``;
    * ``valid_alternation`` — after an OPTIONAL leading system turn, the
      body must be non-empty, start with ``user``, strictly alternate
      ``user``/``assistant`` (no other roles), and every content non-null:
      the canonical SFT well-formedness check.

    All expression-level (``filter``/``zip_with``/``forall`` folds): one
    narrow pass, no shuffle, arbitrarily wide conversations stay row-local.
    """
    turns = F.col(turns_col)
    head_role = F.try_element_at(turns, F.lit(1))["role"]
    # optional leading system turn is not part of the alternation body
    body = F.when(
        head_role == "system",
        F.expr(f"slice({turns_col}, 2, greatest(size({turns_col}) - 1, 0))"),
    ).otherwise(turns)
    roles_ok = F.forall(
        body, lambda t: t["role"].isin("user", "assistant") & t["content"].isNotNull()
    )
    # adjacent roles differ; zip_with null-pads the shifted side, and a
    # NULL right neighbour (the last turn) vacuously passes
    alternates = F.forall(
        F.zip_with(
            body,
            F.slice(body, 2, F.greatest(F.size(body) - 1, F.lit(0))),
            lambda a, b: b.isNull() | (a["role"] != b["role"]),
        ),
        lambda x: x,
    )
    valid = (
        turns.isNotNull()
        & (F.size(body) >= 2)
        & (F.try_element_at(body, F.lit(1))["role"] == F.lit("user"))
        & roles_ok
        & alternates
    )
    return (
        df.withColumn("n_turns", F.coalesce(F.size(turns), F.lit(-1)))
        .withColumn("n_user", _role_counts(turns, "user"))
        .withColumn("n_assistant", _role_counts(turns, "assistant"))
        .withColumn("n_system", _role_counts(turns, "system"))
        .withColumn(
            "content_chars",
            F.aggregate(
                turns,
                F.lit(0).cast("long"),
                lambda acc, t: acc + F.coalesce(F.length(t["content"]), F.lit(0)),
            ),
        )
        .withColumn("first_role", head_role)
        .withColumn("last_role", F.try_element_at(turns, F.lit(-1))["role"])
        .withColumn("valid_alternation", F.coalesce(valid, F.lit(False)))
    )


def filter_conversations(
    df: DataFrame,
    turns_col: str = "turns",
    min_turns: int = 2,
    max_turns: int | None = None,
    require_alternation: bool = True,
    require_ends_assistant: bool = True,
) -> DataFrame:
    """Structural validity gate for SFT corpora: keeps conversations that
    alternate correctly (see ``conversation_stats``), end on an assistant
    turn (a trailing unanswered user turn trains nothing), and fall inside
    the turn-count bounds.  Pure predicate — pushes past joins/unions and
    into the scan like any other filter."""
    if "valid_alternation" not in df.columns:
        df = conversation_stats(df, turns_col)
    cond = F.col("n_turns") >= F.lit(min_turns)
    if max_turns is not None:
        cond = cond & (F.col("n_turns") <= F.lit(max_turns))
    if require_alternation:
        cond = cond & F.col("valid_alternation")
    if require_ends_assistant:
        cond = cond & (F.col("last_role") == F.lit("assistant"))
    return df.where(cond)


def render_chat_template(
    df: DataFrame,
    turns_col: str = "turns",
    out_col: str = "text",
    open_l: str = "<|",
    open_r: str = "|>",
    close: str = "<|end|>",
    bos: str = "",
    eos: str = "",
) -> DataFrame:
    """Flatten turns into ONE training string:
    ``bos + Σ_i (open_l + role_i + open_r + content_i + close) + eos`` —
    the chat-template render (ChatML-shaped by default; every marker is a
    parameter, so Llama/Zephyr-style templates are a call-site choice).

    One ``aggregate`` fold per row — string concat inside codegen, no
    UDF, no shuffle.  Deterministic: byte-identical re-renders make the
    rendered text safe to use as a dedup key (``dedup.exact_dedup_stats``
    on the render digest is turn-order-sensitive exact conversation
    dedup).
    """
    rendered = F.concat(
        F.lit(bos),
        F.aggregate(
            F.col(turns_col),
            F.lit("").cast("string"),
            lambda acc, t: F.concat(
                acc,
                F.lit(open_l),
                F.coalesce(t["role"], F.lit("")),
                F.lit(open_r),
                F.coalesce(t["content"], F.lit("")),
                F.lit(close),
            ),
        ),
        F.lit(eos),
    )
    return df.withColumn(out_col, rendered)


def assistant_spans(
    df: DataFrame,
    turns_col: str = "turns",
    out_col: str = "assistant_spans",
    open_l: str = "<|",
    open_r: str = "|>",
    close: str = "<|end|>",
    bos: str = "",
) -> DataFrame:
    """Character spans ``[span_start, span_end)`` of every ASSISTANT
    turn's content inside the ``render_chat_template`` output (same
    marker parameters) — the supervision mask: after tokenization, loss
    is computed only inside these spans (plus the turn terminator, a
    trainer-side choice).

    One ``aggregate`` fold carrying ``(offset, spans)`` through the
    turns: each turn advances the offset by its full rendered length and
    assistant turns append their content interval.  Expression-only,
    exact by construction against the renderer (shared arithmetic, same
    defaults) — property-tested in ``tests/test_chat.py`` by slicing the
    rendered string with the spans.
    """
    olen = len(open_l) + len(open_r)
    clen = len(close)
    zero = F.named_struct(
        F.lit("off"),
        F.lit(len(bos)).cast("long"),
        F.lit("spans"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )

    def step(acc: Column, t: Column) -> Column:
        role_len = F.coalesce(F.length(t["role"]), F.lit(0)).cast("long")
        content_len = F.coalesce(F.length(t["content"]), F.lit(0)).cast("long")
        start = acc["off"] + F.lit(olen) + role_len
        end = start + content_len
        new_off = end + F.lit(clen)
        span = F.named_struct(
            F.lit("span_start"), start, F.lit("span_end"), end
        ).cast("struct<span_start:long,span_end:long>")
        new_spans = F.when(
            t["role"] == F.lit("assistant"),
            F.concat(acc["spans"], F.array(span)),
        ).otherwise(acc["spans"])
        return F.named_struct(
            F.lit("off"), new_off, F.lit("spans"), new_spans
        ).cast("struct<off:long,spans:array<struct<span_start:long,span_end:long>>>")

    folded = F.aggregate(
        F.col(turns_col), zero, step, lambda acc: acc["spans"]
    )
    return df.withColumn(out_col, folded)


def spans_to_token_mask(
    df: DataFrame,
    text_col: str = "text",
    spans_col: str = "assistant_spans",
    out_col: str = "loss_mask",
) -> DataFrame:
    """Project character spans onto whitespace tokens: ``out_col`` is an
    ``array<int>`` with one 0/1 per token of ``split(text, '\\s+')``,
    1 where the token's character interval overlaps ANY span — the step
    that turns ``assistant_spans`` into the per-token loss mask a
    trainer consumes after tokenization.

    Token character offsets are reconstructed from the token lengths
    themselves (position of token i = Σ len(tok_j) + i separators for
    j < i), which is exact when the renderer's separator is a single
    space per boundary — true for ``render_chat_template``'s output as
    long as roles/contents carry no leading/trailing whitespace; for
    texts with multi-space runs the mask is conservative-left (offsets
    drift early), so normalize whitespace upstream if masks must be
    byte-exact.  One ``transform``+``aggregate`` fold per row —
    expression-only, zero shuffle, inherits the scan's partitioning.

    Overlap rule: token [t0, t1) overlaps span [s0, s1) iff
    ``t0 < s1 AND s0 < t1`` (half-open on both sides).
    """
    toks = F.split(F.col(text_col), r"\s+")
    # starts[i] = Σ_{j<i} (len+1): an inclusive running sum shifted by
    # one step — build with aggregate carrying (offset, starts)
    zero = F.named_struct(
        F.lit("off"),
        F.lit(0).cast("long"),
        F.lit("starts"),
        F.array().cast("array<long>"),
    )
    folded = F.aggregate(
        toks,
        zero,
        lambda acc, t: F.named_struct(
            F.lit("off"),
            acc["off"] + F.length(t) + F.lit(1),
            F.lit("starts"),
            F.concat(acc["starts"], F.array(acc["off"])),
        ).cast("struct<off:long,starts:array<long>>"),
        lambda acc: acc["starts"],
    )
    mask = F.zip_with(
        toks,
        folded,
        lambda t, t0: F.exists(
            F.col(spans_col),
            lambda s: (t0 < s["span_end"])
            & (s["span_start"] < t0 + F.length(t)),
        ).cast("int"),
    )
    return df.withColumn(out_col, mask)


def explode_turns(
    df: DataFrame,
    id_col: str,
    turns_col: str = "turns",
) -> DataFrame:
    """Per-turn rows ``(id, turn_idx, role, content)`` — the shape for
    turn-level work: per-turn dedup (boilerplate assistant openers),
    per-turn quality/PII (``curation.pii_scrub`` on ``content``), role
    histograms.  ``posexplode`` keeps the in-conversation index so turns
    re-assemble losslessly (``collect_list(struct(turn_idx, ...))`` after
    a groupBy — the only shuffle, and only if re-assembly is needed)."""
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.col(turns_col)).alias("turn_idx", "_t"),
    )
    return ex.select(
        id_col,
        "turn_idx",
        F.col("_t")["role"].alias("role"),
        F.col("_t")["content"].alias("content"),
    )
