#!/usr/bin/env python3
"""Measure how query wall time scales with input size (sf0.001 → sf0.1).

Evidence for the 100 TB claim that `.explain` alone can't give: if a
query's time grows far SLOWER than its input (ratio << input ratio), the
small-scale cost is fixed Spark overhead and the plan's per-row cost is
healthy; a query whose time tracked or exceeded the input ratio would be
the one to re-plan.  Writes SCALING.md.

Each point is the min of ``bench.measure``'s cold runs.

Usage: python tools/scaling_probe.py [runs_per_point]
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

#: queries whose INPUT tables actually scale across the sf range
#: (lineitem/orders ×100, events ×100; documents/embeddings only ×10 at
#: the top — annotated so the table is honest about each input ratio)
PROBES = [
    # (query, input tables, rows at sf0.001 -> sf0.1 multiplier)
    ("revenue_rankings", "lineitem⋈orders⋈customer(+nation star, +running window leg r8.2)", 100),
    ("orders_discount_audit", "orders⋈lineitem (+q1 pricing leg r9)", 100),
    ("events_agg", "events (hourly+pctl+rollup+sess+native+asof legs)", 100),
    ("funnel_steps", "events (3-step ordered funnel + cohort rows r10)", 100),
    ("skew_report", "orders (key-count agg + top-k)", 100),
    ("scd2_snapshot", "orders (init -> merge -> two as-of reads)", 100),
    ("preference_pairs", "documents as scored pool (pairs + audit legs)", 10),
    ("dedup_keep_best", "documents (LSH pairs -> CC -> argmax survivor)", 10),
    # round-8: corpus_shuffle rides corpus_select, substring_dedup rides
    # segment_dedup (proven-key consolidations); the probes now measure
    # the consolidated keys plus the six new oracle keys
    ("segment_dedup", "documents (segment+paragraph+substr+winnow+exact legs)", 10),
    ("corpus_overlap", "documents (exact source-pair shingle matrix)", 10),
    ("dedup_clusters", "documents", 10),
    ("setsim_join", "documents %8 sample, exact jaccard>=0.7 words (+simhash sh: legs r9)", 10),
    ("entity_linkage", "documents + planted 2-edit twins (block->lev->resolve->audit) — OUTPUT grows 10.0x (564->5643 rows: 302->2985 gated pairs + 261->2657 resolutions), so the wall is SUB-output-linear", 10),
    ("domain_boilerplate", "documents + planted header/footer lines", 10),
    ("bm25_scores", "documents⋈embeddings (rrf leg)", 10),
    ("table_profile", "documents (profile + drift legs + kanon row r9)", 10),
    ("ngram_jaccard", "documents (pairs + eval legs; sh: legs -> setsim_join r9)", 10),
    ("ann_topk", "embeddings probe path only r9 (exact+ivf+batch+sq+pq+ivfpq+bq legs)", 10),
    ("corpus_select", "documents (sample+split+wsample+budget+diff legs)", 10),
    ("lr_classifier", "documents (2-step integer-grid GD + score + calibration)", 10),
    ("x_lr_train3", "documents (hashed feats, 3 GD epochs + score)", 10),
    ("x_html_extract", "documents as WARC-response HTML (8 gz shards) — input verified consumed in full: 10.0x records, 9.9x decompressed bytes, row-count-asserted vs documents (test_crawl_pipeline.py)", 10),
    ("x_sketch_state", "events (HLL+KLL+theta build/merge cycles)", 100),
    ("x_text_normalize", "documents (mojibake+NFKC+collapse, digested)", 10),
    ("bpe_encode", "documents (bpe + wordpiece longest-match legs)", 10),
    ("lm_perplexity", "documents (bucket LM + CCNet split + KN train/score + dsir legs r9)", 10),
    ("x_cdc_dedup", "documents (content-defined chunk dedup)", 10),
    ("x_pagerank", "lineitem⋈orders host graph, 3 damped rounds", 100),
    ("x_harmonic", "host graph + reverse edges, HyperBall radius 3", 100),
    ("doc_chunks", "documents (chunks + chat + aug/neg legs)", 10),
    ("webgraph_rank", "documents planted-URL host graph, 2 exact PR rounds (+dom legs r9, +tri legs r10)", 10),
    ("crawl_bitext", "documents (robots audit + bitext mining)", 10),
    ("x_preference_pairs", "documents as scored pool -> pairs -> 5 BT rounds", 10),
    ("x_entity_resolution", "documents + typo plants (block->lev->resolve->audit) — MATCH SPACE grows 10.5x (228->2402 gated pairs, 193->2060 resolutions; the templated corpus's clique sizes), so the wall is sub-output-linear", 10),
    ("x_setsim_join", "documents half-sample, exact jaccard>=0.9 — OUTPUT grows 110x (2.1k->236k true pairs, clique-quadratic corpus): wall is sub-output-linear", 10),
    ("x_doremi_mix", "documents scored pool -> EG loop -> mix", 10),
    ("x_quality_dedup", "documents x planted clusters, keep-best survivor", 10),
    # round-9 oracle keys
    ("semantic_dedup", "embeddings (sem cells + pqcode/pqtrain one-time legs r9)", 10),
    ("containment_join", "documents %32 probe vs full table, t=0.9 words — OUTPUT grows 107x at 10x docs (2.4k->262k containment pairs, gate-counted; clique-heavy corpus): the wall is sub-output-linear", 10),
    ("event_transitions", "events (user-keyed lag window + types^2 aggregate)", 100),
    ("conversion_attribution", "events (as-of last-touch + struct-min first-touch)", 100),
    ("top_paths", "events (two lags, vocab^3 aggregate, top-20)", 100),
    # funnel_user_times rides funnel_steps as 'usr' rows since round 10
    ("tokenizer_fertility", "documents (one map-side-combined byte/word/sub-word aggregate)", 10),
    ("vocab_coverage", "documents (src0 vocab broadcast membership)", 10),
    ("version_drift", "orders published as two catalog versions -> PSI buckets", 100),
    # round-10 oracle keys (cohort_retention/fill_gaps/triangle_counts
    # ride their carriers above after the r10 consolidation)
    ("truncation_recall", "embeddings (3 dims x 8 literal queries, 4-dp rank)", 10),
    ("group_advantages", "documents as GRPO response pool (64 prompt groups)", 10),
    ("split_leakage", "documents (90/5/5 hash split, 8-perm LSH cross-split pairs)", 10),
    # full-probe containment (round-9 verdict #2): the registered key's
    # doc_id%32 probe thinning cannot hide a probe-side plan regression
    ("x_containment_join", "documents %20 probe vs full table, t=0.9 words — the round-8 unthinned-probe shape vs the registered %32 slice; output is probe-linear", 10),
]

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main() -> None:
    import bench as B
    from buildkite_logs_parquet_spark.session import get_spark

    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = get_spark(app_name="scaling-probe")
    results: dict[str, list[float]] = {}
    for name, _tables, _mult in PROBES:
        results[name] = [B.measure(spark, [name], d, runs)[name]["min"] for d in SFS]
        print(name, results[name], flush=True)

    lines = [
        "# SCALING — measured wall time vs input size",
        "",
        "`tools/scaling_probe.py`: min-of-%d cold-start noop-sink wall seconds"
        % runs,
        "per scale point on %s.  `input ×` is how much the query's input grows"
        % spark.sparkContext.master,
        "sf0.001 → sf0.1; `time ×` is how much its wall time grew.  time × far",
        "below input × means the small-scale cost is fixed per-query overhead",
        "(session, planning, task dispatch) and the per-row cost is healthy —",
        "the plan, not the constant, is what survives a 100× scale-up.",
        "",
        "| query | input (tables) | input × | sf0.001 s | sf0.01 s | sf0.1 s | time × |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, tables, mult in PROBES:
        t = results[name]
        ratio = t[2] / t[0] if t[0] else float("nan")
        lines.append(
            f"| {name} | {tables} | {mult}× | {t[0]} | {t[1]} | {t[2]} | {ratio:.1f}× |"
        )
    lines.append("")
    # preserve hand-written analysis sections (e.g. measured dead ends)
    # appended after the generated table: everything from the first
    # second-level heading onward survives regeneration
    try:
        old = (ROOT / "SCALING.md").read_text()
        idx = old.find("\n## ")
        if idx != -1:
            lines.append(old[idx + 1 :])
    except FileNotFoundError:
        pass
    with open(ROOT / "SCALING.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
