#!/usr/bin/env python3
"""Static lint for engine-release-sensitive constructs in oracle SQL.

The round-5 driver run hash-flagged three keys that were value-exact
under local DuckDB: the divergence lived in constructs whose OUTPUT
depends on the DuckDB release rather than on arithmetic — decimal/double
→ VARCHAR renderings (scale propagation and formatting are not pinned),
``round(double, n)`` (half-case mode and the ×10^n→÷10^n ULP profile
changed across releases), and interpolated quantiles (interior float
formula changed across releases).  DETERMINISM.md rule 13 bans these
from hashed values; this lint enforces the ban mechanically over every
``oracle_sql()`` entry so a regression cannot reach the driver unseen.

Each finding is (query, pattern, excerpt).  Known-safe instances are
allowlisted EXPLICITLY below with the reason they cannot diverge; a new
hit fails the lint (exit 1) until it is either rewritten in integer/
decimal arithmetic or consciously allowlisted.

Run: python tools/lint_oracles.py   (also wired into tests/test_entry.py)
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

# the checkout this script lives in, wherever it is
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

#: (pattern name, compiled regex).  Case-insensitive; heuristic on
#: purpose — over-flagging is handled by the allowlist, under-flagging
#: by review.
PATTERNS = [
    # decimal/double rendered to text: hashes the engine's formatter
    ("decimal-render", re.compile(
        r"CAST\s*\(\s*(?:round|ln|log|exp|sqrt|pow)\s*\(", re.I)),
    # the round-5 root cause: digit-strip of a rendered decimal
    ("digit-strip", re.compile(
        r"replace\s*\(\s*CAST\s*\([^)]*AS\s+VARCHAR\s*\)\s*,\s*'\.'", re.I)),
    # engine round() on a double expression (n-arg form)
    ("round-double", re.compile(r"\bround\s*\([^()]*(?:\([^()]*\)[^()]*)*,", re.I)),
    # interpolated quantiles: interior float math changed across releases
    ("quantile", re.compile(r"\bquantile_(?:cont|disc)\s*\(", re.I)),
    # boolean -> string cast: 'true'/'false' rendering is engine-owned
    ("bool-render", re.compile(r"CAST\s*\(\s*NOT\b[^)]*AS\s+(?:VARCHAR|STRING)", re.I)),
    # transcendentals anywhere (ln/log/exp/pow): libm ULPs are unpinned
    ("transcendental", re.compile(r"\b(?:ln|exp|pow)\s*\(", re.I)),
]

#: {(query, pattern): reason} — every entry is an argued exception.
ALLOWLIST = {
    # dsir LUT: round(ln(x), 9) where x is a ratio of exact integers.
    # ln runs on bit-identical integer-derived doubles in both engines;
    # driver-green rounds 1-5 across the release the driver runs and
    # local 1.0.0.  The rounded value enters a DECIMAL(28,9) whose SUM
    # is hashed via DuckDB's decimal renderer — also stable r1-r5.
    # Kept (proven in the field), but no NEW oracle may copy this:
    # derive new log-ratios on an integer grid instead (rule 13).
    # (round 9: the dsir construct now lives nested inside lm_perplexity
    # after the consolidation — lm_perplexity's entries below cover it)
    # lm_perplexity: ln on exact-integer-derived doubles, result rounded
    # to 9dp and decimal-summed (rule 5); driver-green r3-r5.
    ("lm_perplexity", "transcendental"): "proven r3-r5 driver-green; rule-5 round-then-decimal-sum",
    ("lm_perplexity", "round-double"): "same construct; see above",
    # weighted-sample key: round(ln(u)/w, 12) with u an md5-derived
    # uniform — the log-domain A-ES key; driver-green r5 (corpus_select).
    ("corpus_select", "transcendental"): "A-ES key ln(u)/w; proven r5 driver-green",
    ("corpus_select", "round-double"): "same construct; see above",
    # tfidf: round(ln(ratio), 9) then decimal sum; driver-green r3-r5.
    # (round 9: the tfidf construct now lives nested inside bm25_scores
    # after the consolidation — bm25_scores' entries below cover it)
    # bm25: ln on exact integers (idf), round-then-decimal-sum (rule 10);
    # driver-green r4-r5.
    ("bm25_scores", "transcendental"): "proven r4-r5 driver-green; rule-10 discipline",
    ("bm25_scores", "round-double"): "same construct; see above",
    # doc_quality / curation_pipeline: gopher quality cut uses
    # round(·, 4) on IEEE-exact ratios of small integers (rule 4
    # decision-rounding, both engines see identical doubles);
    # driver-green r2-r5.
    ("doc_quality", "round-double"): "rule-4 decision rounding on exact-integer ratios; proven r2-r5",
    ("curation_pipeline", "round-double"): "same construct as doc_quality; proven r2-r5",
    ("quality_classifier", "round-double"): "rule-4 decision rounding; proven r2-r5",
    # similarity tier: round(cosine, 4/6) as the DECISION value (rule 4),
    # sequential-fold dot products bit-identical both engines;
    # driver-green r2-r5.
    ("ann_topk", "round-double"): "rule-4 decision rounding on fold-exact cosines; proven r2-r5",
    ("semantic_dedup", "round-double"): "rule-4; proven r2-r5",
    # round-9: the pqtrain digest (round-then-decimal-sum on fold-exact
    # codeword doubles) moved here from ann_topk byte-identically — the
    # same construct ann_topk's decimal-render entry argues, proven on
    # that key rounds 5-8
    ("semantic_dedup", "decimal-render"): "pqtrain round-then-decimal-sum (rule 5), moved from ann_topk round 9; proven r5-r8",
    ("embedding_label_centroid_sim", "round-double"): "rule-4; proven r2-r5 (cent leg) / r2-r6 (lshpair leg, merged round 7)",
    # (round 9: kmeans_step rides embedding_label_centroid_sim, whose
    # round-double entry above covers the merged 'km' legs)
    ("ngram_jaccard", "round-double"): "rule-4 on exact ratio; proven r1-r5",
    # events_asof merged onto events_agg round 8.2; its round(click_value,4)
    # now lives inside the events_agg nested SQL (events_agg round-double
    # entry below covers it)
    # events_agg pctl leg: value is a 2-dp double column, so value*100
    # lands within 4e-12 of an integer (measured over all of sf0.1) —
    # never near a half-case, so EVERY engine's round(·, 0) returns the
    # same integer; the rest of the interpolation is pure BIGINT.
    ("events_agg", "decimal-render"): "round(2dp-double*100, 0): 4e-12 from integer, no half-case exists; measured sf0.1",
    ("events_agg", "round-double"): "same construct; see above",
    # version_drift: the SAME v100 device over o_totalprice (TPC-H money,
    # exactly 2-dp — verified 0 rows off-integer at sf0.01/sf0.1), so
    # round(price*100, 0) is never near a half-case; the result is CAST
    # to BIGINT and every downstream bucket/share is pure integer
    # arithmetic (HUGEINT bucket index, half-up scale-9 shares).
    ("version_drift", "decimal-render"): "events_agg v100 device on exactly-2-dp o_totalprice; integer lineage after the cast",
    ("version_drift", "round-double"): "same construct; see above",
    # doc_quality: quantile_cont at EXACTLY q=0.5 over an integer column
    # is release-proof by arithmetic: the result is lo, or (lo+hi)/2 of
    # two integers ≤ 2^52 — exact in IEEE under ANY interior formula
    # (lo + (hi-lo)*0.5 and lo*0.5 + hi*0.5 are both exact here), so no
    # release can change the double.  Do NOT copy for q != 0.5 or
    # non-integer columns — use the BIGINT interpolation device instead.
    ("doc_quality", "quantile"): "q=0.5 over integers: (lo+hi)/2 exact under any formula",
    # ann_topk: round(e, 9) where e is a rule-5 sequential-fold value
    # bit-identical in both engines; the rounded value feeds a decimal
    # SUM (never rendered).  Half-cases: a binary double is never
    # exactly on a 9-dp midpoint unless it has ≤ 9 decimal digits, and
    # these are irrational-shaped products.  Proven r2-r5.
    ("ann_topk", "decimal-render"): "round-then-decimal-sum (rule 5) on fold-exact doubles; proven r2-r5",
    # quality_classifier: prob_keep = round(sigmoid(logit), 4) IS hashed
    # and carries exp() — the KNOWN-WEAKEST legacy construct (the GD
    # classifier exists precisely because this diverged at 6 dp; at 4 dp
    # it has held r2-r5).  The keep DECISION is transcendental-free
    # (logit >= 0).  Frozen: any new scoring oracle must use the
    # hard-sigmoid integer grid (classifier.py).
    ("quality_classifier", "transcendental"): "legacy 4-dp sigmoid render, held r2-r5; decision path is exp-free; frozen, superseded by lr_classifier",
    ("lm_perplexity", "decimal-render"): "CAST(round(ln..) AS DECIMAL) feeds a decimal sum (rule 5), not a render; proven r3-r5",
    ("bm25_scores", "decimal-render"): "round-then-decimal-sum (rule 10); proven r4-r5",
    # group_advantages (round 10): advantage is round(x, 9) where x is
    # derived from EXACT-integer group sums (Σr, Σr² ≤ 8e13 < 2^53) via
    # an identical IEEE op sequence in both engines — identical bits in,
    # identical 9-dp grid out; adv9 = round(advantage·10⁹, 0) then lands
    # within ULPs of an integer (a 9-dp-rounded value times 10⁹), never
    # near a half-case — the events_agg v100 device one scale up.
    ("group_advantages", "round-double"): "9-dp grid on integer-derived IEEE-identical doubles; v100-device argument at 1e9",
    ("group_advantages", "decimal-render"): "CAST(round(adv·1e9, 0) AS BIGINT): integer landing, no render of engine formatting",
}


def lint_output_types(
    oracles: dict[str, str], sf_dir: str = "/root/testdata/sf0.001"
) -> list[tuple[str, str]]:
    """DETERMINISM rule 15 at LINT time: plan (never execute) every
    oracle in DuckDB and reject any whose OUTPUT relation carries a
    type that mangles under a dataframe fetch (HUGEINT→float64,
    DECIMAL→object/decimal128).  The plan-time check in
    ``tools/check_oracle.py`` catches this too, but only when the gate
    runs — this catches it the moment the oracle is authored (the three
    HUGEINT-output keys cost rounds 4-6 before rule 15 existed).

    Returns [(query, 'col:TYPE,...')] findings; binding errors are
    reported as findings too (an unplannable oracle is a lint failure,
    not a pass)."""
    import duckdb

    from tools.check_oracle import duck_output_type_problems

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    findings = []
    for name, sql in oracles.items():
        try:
            rel = con.sql(sql)  # binds + plans; nothing executes
        except Exception as exc:  # noqa: BLE001
            findings.append((name, f"does not bind: {exc}"))
            continue
        bad = duck_output_type_problems(rel)
        if bad:
            findings.append((name, ",".join(bad)))
    return findings


def main() -> int:
    import __spark_entry__ as E

    oracles = E.oracle_sql()
    findings = []
    for name, sql in oracles.items():
        for pat_name, rx in PATTERNS:
            for m in rx.finditer(sql):
                if (name, pat_name) in ALLOWLIST:
                    continue
                line = sql[: m.start()].count("\n") + 1
                excerpt = sql[m.start() : m.start() + 70].replace("\n", " ")
                findings.append((name, pat_name, line, excerpt))
                break  # one finding per (query, pattern) is enough
    for name, pat, line, excerpt in findings:
        print(f"HIT  {name} [{pat}] line {line}: {excerpt}")
    type_findings = lint_output_types(oracles)
    for name, detail in type_findings:
        print(f"TYPE {name}: output mangles under dataframe fetch "
              f"(rule 15): {detail}")
    if findings or type_findings:
        print(f"\n{len(findings) + len(type_findings)} un-allowlisted "
              "release-sensitive constructs")
        return 1
    print("oracle lint clean (allowlist: "
          f"{len(ALLOWLIST)} argued exceptions; output types rule-15 clean)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
