#!/usr/bin/env python3
"""One more decade of scaling evidence for the heavy keys (round-9
verdict #6): generate a deterministic sf1-equivalent input set (10× the
sf0.1 documents/embeddings/lineitem/orders rows) under
``bench_sf1/`` (bench-generated, gitignored — the ``bench_warc_html_*``
precedent), time the heavy keys there (the eight >5s round-9 keys plus
the round-10 verdict's 4.8-7.4s tier), and rewrite the
"## sf1-equivalent decade" section of SCALING.md with wall AND measured
output-row denominators.

Generation is content-derived and seed-free (pure id/hash arithmetic),
so the inputs are bit-reproducible:

- documents: 10 variants per doc.  Variant 0 is the original; variant
  k>0 rotates the text by k words and appends a variant-tagged md5
  token, so shingle mass scales ~10× while each variant still
  near-dups its siblings — the clique structure the dedup keys must
  survive, not a trivially-disjoint copy.  doc_id offset by
  k·10·max_id keeps the %2/%4/%8/%32 content-stable samples sampling
  every variant the way they sample the originals.
- embeddings: 10 variants; variant k>0 perturbs each component by a
  bounded deterministic offset derived from (vec_id, k, dim) — the
  geometry (cells, neighbors) stays realistic instead of 10 exact
  copies collapsing every ANN cell.  vec_id=0 (the ann query anchor)
  keeps exactly one copy in variant 0's id range.
- lineitem/orders: 10 disjoint graph copies (all keys offset per
  variant) — nodes ×10, edges ×10, same degree distribution; the
  honest "the web got 10× bigger" shape for pagerank/harmonic.

Usage: python tools/scaling_sf1.py [runs_per_point]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SRC = "/root/testdata/sf0.1"
DST = str(ROOT / "bench_sf1")
COPIES = 10

#: (key, output-relation description) — the eight >5s keys from the
#: round-9 bench plus the round-10 verdict's next tier (#5: the
#: 4.8–7.4s keys not yet in the decade), each with its measured output
#: rows recorded so a superlinear-looking wall can be read against
#: output growth.
HEAVY = [
    ("x_setsim_join", "exact pairs @ jaccard>=0.9 (clique-quadratic)"),
    ("ann_topk", "probe top-k legs (output fixed per corpus)"),
    ("ngram_jaccard", "DF-capped pair + eval legs"),
    ("x_pagerank", "host ranks (nodes)"),
    ("lm_perplexity", "scored docs (source != src0)"),
    ("dedup_keep_best", "per-doc survivor map"),
    ("x_harmonic", "host centralities (nodes)"),
    ("semantic_dedup", "sem rows + pq codes + trained codewords"),
    ("x_entity_resolution", "blocked matches + resolution + cap audit"),
    ("x_preference_pairs", "BT strengths + pair audit (prompt-bounded)"),
    ("x_margin_mine", "mutual-best margin pairs"),
]

SECTION = "## sf1-equivalent decade (bench-generated, rounds 10-11)"


def generate(spark) -> None:
    from pyspark.sql import functions as F

    os.makedirs(DST, exist_ok=True)
    k = F.col("_k")

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    max_doc = docs.agg(F.max("doc_id")).first()[0]
    doc_stride = 10 * int(max_doc + 1)
    copies = spark.range(COPIES).select(F.col("id").cast("int").alias("_k"))
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    rot = F.concat_ws(
        " ",
        F.flatten(
            F.array(
                F.slice(words, (k % n) + 1, n),
                F.slice(words, 1, k % n),
            )
        ),
        F.concat(
            F.lit("v"),
            k.cast("string"),
            F.lit(" "),
            F.substring(
                F.md5(F.concat(k.cast("string"), F.lit(":"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
        ),
    )
    big_docs = docs.crossJoin(F.broadcast(copies)).select(
        (F.col("doc_id") + k.cast("long") * doc_stride).alias("doc_id"),
        F.when(k == 0, F.col("text")).otherwise(rot).alias("text"),
        "lang",
        "source",
        F.col("n_chars"),
    )
    big_docs.repartition(32).write.mode("overwrite").parquet(
        f"{DST}/documents.parquet"
    )

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    max_vec = emb.agg(F.max("vec_id")).first()[0]
    vec_stride = 10 * int(max_vec + 1)
    # bounded deterministic perturbation in [-0.05, 0.05): xxhash of
    # (vec_id, k, dim) — zero for variant 0 so the originals survive
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: x
        + F.when(k == 0, F.lit(0.0)).otherwise(
            (
                F.pmod(
                    F.xxhash64(F.col("vec_id"), k, i), F.lit(1000)
                ).cast("double")
                / 10000.0
                - 0.05
            ).cast("float")
        ),
    )
    big_emb = emb.crossJoin(F.broadcast(copies)).select(
        (F.col("vec_id") + k.cast("long") * vec_stride).alias("vec_id"),
        pert.alias("embedding"),
        "label",
    )
    big_emb.repartition(32).write.mode("overwrite").parquet(
        f"{DST}/embeddings.parquet"
    )

    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    max_ok = orders.agg(F.max("o_orderkey")).first()[0]
    max_ck = orders.agg(F.max("o_custkey")).first()[0]
    max_sk = li.agg(F.max("l_suppkey")).first()[0]
    ok_stride = 10 * int(max_ok + 1)
    ck_stride = 10 * int(max_ck + 1)
    sk_stride = 10 * int(max_sk + 1)
    big_orders = orders.crossJoin(F.broadcast(copies)).select(
        (F.col("o_orderkey") + k.cast("long") * ok_stride).alias("o_orderkey"),
        (F.col("o_custkey") + k.cast("long") * ck_stride).alias("o_custkey"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    big_orders.repartition(32).write.mode("overwrite").parquet(
        f"{DST}/orders.parquet"
    )
    big_li = li.crossJoin(F.broadcast(copies)).select(
        (F.col("l_orderkey") + k.cast("long") * ok_stride).alias("l_orderkey"),
        "l_partkey",
        (F.col("l_suppkey") + k.cast("long") * sk_stride).alias("l_suppkey"),
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    )
    big_li.repartition(32).write.mode("overwrite").parquet(
        f"{DST}/lineitem.parquet"
    )


def main() -> None:
    import bench as B
    from buildkite_logs_parquet_spark.session import get_spark

    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = get_spark(app_name="scaling-sf1")
    if not os.path.exists(f"{DST}/documents.parquet"):
        print("generating bench_sf1 ...", flush=True)
        generate(spark)

    qs = B._all_queries()
    rows_out: dict[str, tuple[float, float, int, int]] = {}
    for name, _desc in HEAVY:
        walls = [B.measure(spark, [name], d, runs)[name]["min"] for d in (SRC, DST)]
        outs = [qs[name](spark, d).count() for d in (SRC, DST)]
        rows_out[name] = (walls[0], walls[1], outs[0], outs[1])
        print(name, rows_out[name], flush=True)

    lines = [
        SECTION,
        "",
        "`tools/scaling_sf1.py`: the heavy keys (eight >5s round-9 keys +",
        "the round-10 4.8-7.4s tier) timed one decade past",
        "the committed testdata — 10× sf0.1 inputs generated",
        "deterministically under `bench_sf1/` (rotated-variant documents",
        "that preserve near-dup cliques, perturbed-variant embeddings that",
        "preserve ANN geometry, 10 disjoint graph copies; see the tool",
        f"docstring).  min-of-{runs} cold-start noop-sink walls on",
        f"{spark.sparkContext.master}; output",
        "rows measured so superlinear walls read against output growth.",
        "",
        "| key | output relation | sf0.1 s | sf1 s | wall × | out rows sf0.1 | out rows sf1 | out × |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, desc in HEAVY:
        w0, w1, o0, o1 = rows_out[name]
        wx = w1 / w0 if w0 else float("nan")
        ox = o1 / o0 if o0 else float("nan")
        lines.append(
            f"| {name} | {desc} | {w0} | {w1} | {wx:.1f}× | {o0} | {o1} | {ox:.1f}× |"
        )
    lines.append("")
    block = "\n".join(lines)

    path = ROOT / "SCALING.md"
    old = open(path).read()
    # strip the previous decade section whichever round named it
    for sec in (SECTION, "## sf1-equivalent decade (bench-generated, round 10)"):
        if sec in old:
            start = old.index(sec)
            nxt = old.find("\n## ", start + len(sec))
            old = old[:start] + old[nxt + 1 :] if nxt != -1 else old[:start]
    if not old.endswith("\n"):
        old += "\n"
    open(path, "w").write(old + block)
    print("updated SCALING.md section")


if __name__ == "__main__":
    main()
