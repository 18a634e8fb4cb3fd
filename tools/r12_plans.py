#!/usr/bin/env python3
"""Round-11 optimization evidence: dump full `.explain("formatted")` for
the named queries into plans/r12/<query>_<tag>.txt.

Usage: python tools/r12_plans.py <before|after> [query ...]
Defaults to the round-11 and round-12 target list when no queries are
given.  The lazy (non-overlapped) operator tree is what gets dumped.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
OUT = ROOT / "plans" / "r12"

TARGETS = [
    # registered keys (oracle-gated)
    "lm_perplexity",
    "entity_linkage",
    "ngram_jaccard",
    "semantic_dedup",
    "ann_topk",
    "dedup_keep_best",
    "lr_classifier",
    "embedding_label_centroid_sim",
    "containment_join",
    "corpus_overlap",
    "webgraph_rank",
    "events_agg",
    "dedup_clusters",
    "segment_dedup",
    "setsim_join",
    "truncation_recall",
    # bench-only entries
    "x_setsim_join",
    "x_harmonic",
    "x_containment_join",
    "x_entity_resolution",
    "x_pagerank",
    "x_preference_pairs",
    "x_kmeans_fit5",
    "x_margin_mine",
    # round-12 additions
    "bm25_scores",
    "table_profile",
    "corpus_select",
    "doc_chunks",
    "funnel_steps",
    "revenue_rankings",
    "x_split_leakage",
    "x_flac_ingest",
    "x_audio_fingerprint",
]


def main() -> None:
    import bench
    import __spark_entry__ as E
    from buildkite_logs_parquet_spark.plans.checks import explain_str
    from buildkite_logs_parquet_spark.session import get_spark

    tag = sys.argv[1]
    names = sys.argv[2:] or TARGETS
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r12-plans")
    # round-12: capture the LAZY operator tree — the §2.6 overlap path
    # localCheckpoints leg results and the returned plan would collapse
    # to a union of RDD scans; the lazy tree is the comparable evidence
    # (the overlapped shape is dumped separately with suffix _eager)
    if hasattr(E, "_OVERLAP_LEGS"):
        E._OVERLAP_LEGS = False
    qs = bench._all_queries()
    OUT.mkdir(parents=True, exist_ok=True)
    for name in names:
        try:
            spark.catalog.clearCache()
            E.release_query_caches()
            df = qs[name](spark, sf_dir)
            plan = explain_str(df, "formatted")
        except Exception as exc:  # noqa: BLE001 — record and continue
            plan = f"ERROR building plan: {type(exc).__name__}: {exc}"
        path = OUT / f"{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
