"""WordPiece tokenization (Schuster & Nakajima 2012; Wu et al. 2016 —
the BERT tokenizer family), next to BPE
(``text_analysis.learn_bpe``/``bpe_encode``).

Two halves, mirroring the BPE module's structure:

* **Induction** (``learn_wordpiece``): greedy agglomerative merging over
  a word/frequency symbol table, but scored by LIKELIHOOD rather than
  raw count — merge the pair maximizing ``count(ab) / (count(a) ·
  count(b))``, the wordpiece objective (it prefers units whose parts
  rarely occur apart, where BPE prefers merely frequent ones).  Symbols
  carry the ``##`` continuation prefix from the start (``word`` →
  ``w, ##o, ##r, ##d``), so the learned vocabulary IS the encode
  vocabulary.
* **Encoding** (``wordpiece_encode``): per word, greedy LONGEST-match-
  first against the vocabulary (not merge-order replay — the defining
  difference from BPE encode); a word with any unmatchable position
  becomes one ``[UNK]`` token whole (BERT semantics).

Reference parity note: the reference engine (wolfeidau/
buildkite-logs-parquet) has no tokenizer surface; this module is part
of the training-data extension tier.

100 TB shape: induction state is the vocabulary-sized word table (the
corpus is scanned ONCE by ``word_symbol_table``); each merge round is
two bounded aggregations (pair counts + symbol counts) and a driver-side
top-1 row.  Encoding is an Arrow-batched ``mapInPandas`` narrow map with
a per-batch word cache (Zipf makes the hit rate high), no shuffle —
the same honest-Python-case shape as ``bpe_encode``.

Determinism: likelihood scores compare as exact DECIMAL divisions of
integer counts (no float argmax), ties break lexicographically; encode
is a pure function of (vocab, word).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UNK = "[UNK]"
CONT = "##"


def wordpiece_symbol_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``word_symbol_table`` with WordPiece continuation marking: the
    word ``play`` starts as symbols ``[p, ##l, ##a, ##y]``."""
    from buildkite_logs_parquet_spark.operators.text_analysis import (
        word_symbol_table,
    )

    base = word_symbol_table(df, text_col)
    marked = F.transform(
        F.col("symbols"),
        lambda s, i: F.when(i == 0, s).otherwise(F.concat(F.lit(CONT), s)),
    )
    return base.withColumn("symbols", marked)


def _merge_symbol(a: str, b: str) -> str:
    """Merged unit: the right part drops its continuation prefix."""
    return a + (b[len(CONT) :] if b.startswith(CONT) else b)


def wordpiece_merge_step(
    words: DataFrame,
    symbols_col: str = "symbols",
    freq_col: str = "freq",
) -> tuple[DataFrame, tuple[str, str] | None, float]:
    """ONE likelihood-scored merge round.  Pair score = ``n_ab / (n_a ·
    n_b)`` over the CURRENT symbol table (both aggregations are bounded
    by the live symbol/pair vocabulary — map-side combined, driver sees
    one row).  Returns ``(merged_words, best_pair, score)``."""
    sym_counts = (
        words.select(freq_col, F.explode(symbols_col).alias("s"))
        .groupBy("s")
        .agg(F.sum(freq_col).alias("ns"))
    )
    pairs = words.select(
        F.col(freq_col),
        F.explode(
            F.when(
                F.size(F.col(symbols_col)) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(F.col(symbols_col)) - 1),
                    lambda i: F.struct(
                        F.element_at(F.col(symbols_col), i).alias("a"),
                        F.element_at(F.col(symbols_col), i + 1).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("p"),
    )
    pair_counts = pairs.groupBy("p").agg(F.sum(freq_col).alias("n"))
    # score as exact decimal: integer counts in, deterministic compare
    scored = (
        pair_counts.join(sym_counts.withColumnRenamed("s", "_a"), F.col("p.a") == F.col("_a"))
        .join(sym_counts.withColumnRenamed("s", "_b").withColumnRenamed("ns", "nsb"), F.col("p.b") == F.col("_b"))
        .select(
            "p",
            "n",
            (
                F.col("n").cast("decimal(38,0)")
                / (F.col("ns") * F.col("nsb")).cast("decimal(38,0)")
            ).cast("decimal(38,18)").alias("score"),
        )
    )
    top = (
        scored.orderBy(F.col("score").desc(), F.col("p.a"), F.col("p.b"))
        .limit(1)
        .collect()
    )
    if not top:
        return words, None, 0.0
    a, b = top[0]["p"]["a"], top[0]["p"]["b"]
    merged_sym = _merge_symbol(a, b)
    # same pending-fold merge as bpe_merge_step, with the wordpiece
    # merged-symbol spelling
    merged = F.aggregate(
        F.col(symbols_col),
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("pend"),
        ),
        lambda acc, s: F.when(
            acc["pend"].isNull(),
            F.struct(acc["out"].alias("out"), s.alias("pend")),
        ).when(
            (acc["pend"] == F.lit(a)) & (s == F.lit(b)),
            F.struct(
                F.concat(acc["out"], F.array(F.lit(merged_sym))).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(
            F.struct(
                F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                s.alias("pend"),
            )
        ),
        lambda acc: F.when(
            acc["pend"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pend"]))),
    )
    return words.withColumn(symbols_col, merged), (a, b), float(top[0]["score"])


def learn_wordpiece(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    checkpoint: bool = True,
) -> tuple[list[str], DataFrame]:
    """WordPiece vocabulary induction: symbol table once, then
    ``n_merges`` likelihood-scored rounds.  Returns ``(vocab,
    final_word_table)`` where vocab = initial symbols + each round's
    merged unit, ready for ``wordpiece_encode``.  ``checkpoint``
    truncates the growing lineage every few rounds (the iterative-
    algorithm discipline used by ``learn_bpe`` / ``dedup_clusters``)."""
    words = wordpiece_symbol_table(df, text_col)
    base_syms = [
        r["s"]
        for r in words.select(F.explode("symbols").alias("s")).distinct().collect()
    ]
    vocab = sorted(base_syms)
    for _ in range(n_merges):
        if checkpoint:
            # EVERY round: unlike BPE's single-pipeline step, this step
            # reads the word table twice (symbol counts + pair counts),
            # so an un-truncated lineage is recomputed 2x per round and
            # the loop goes quadratic; the table is vocabulary-sized, so
            # the checkpoint write is cheap (measured 19s -> ~4s at
            # sf0.1 for 6 rounds)
            words = words.localCheckpoint(eager=False)
        words, pair, _score = wordpiece_merge_step(words)
        if pair is None:
            break
        vocab.append(_merge_symbol(*pair))
    return vocab, words


def wordpiece_tokenize_word(word: str, vocab: set) -> list[str]:
    """Driver-side twin of the executor encode loop (greedy longest
    match; whole-word [UNK] on any unmatchable position)."""
    toks: list[str] = []
    pos = 0
    while pos < len(word):
        end = len(word)
        hit = None
        while end > pos:
            cand = word[pos:end] if pos == 0 else CONT + word[pos:end]
            if cand in vocab:
                hit = cand
                break
            end -= 1
        if hit is None:
            return [UNK]
        toks.append(hit)
        pos = end
    return toks


def wordpiece_encode(
    df: DataFrame,
    vocab: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy longest-match WordPiece encode — Arrow-batched
    ``mapInPandas`` with a per-batch word cache; output ``(id, n_tokens,
    tokens array<string>)``, the ``bpe_encode`` contract."""
    vset = set(vocab)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        cache: dict = {}
        for pdf in batches:
            out = []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                toks: list = []
                for w in str(text).lower().split():
                    got = cache.get(w)
                    if got is None:
                        got = wordpiece_tokenize_word(w, vset)
                        cache[w] = got
                    toks.extend(got)
                out.append({id_col: rid, "n_tokens": len(toks), "tokens": toks})
            yield pd.DataFrame(out, columns=[id_col, "n_tokens", "tokens"])

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, n_tokens long, tokens array<string>"
    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(run, schema=schema)
