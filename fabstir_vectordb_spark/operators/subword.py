"""Subword (BPE-style) tokenization — the token-budget contract of an
LLM data pipeline expressed Spark-first.

Whitespace token counts misestimate subword counts by a corpus-dependent
1.2-1.5x, and every budgeted stage downstream (sequence packing, mixture
budgets, chunk sizing) inherits that error.  This module provides the
classic byte-pair-encoding procedure (Sennrich, Haddow & Birch, "Neural
Machine Translation of Rare Words with Subword Units", ACL 2016) in the
shape that scales on Spark:

* **Training** never touches the corpus twice: one aggregation builds the
  distinct-WORD frequency table (Zipf-bounded — corpus-size-independent
  past a few GB, the same reason BM25's postings stay tractable), the top
  ``max_train_words`` rows come to the driver, and the merge loop runs
  locally over that word-frequency dict exactly as the reference BPE
  trainers do.  This mirrors the package's PQ/k-means pattern: bounded
  driver-side fit, distributed apply.

* **Encoding** is per-DISTINCT-word: tokenize each distinct word once
  with greedy longest-match against the merge vocabulary (the WordPiece
  inference rule — with every unmatched single character counting as one
  token, the byte-fallback analogue, so every word is always encodable),
  then broadcast-join per-word token counts back onto documents.  At
  100 TB the expensive kernel runs over the vocabulary-bounded distinct
  words, not the token stream; the corpus itself sees one explode ->
  map-side broadcast join -> per-doc sum (shuffle keyed on doc id only).

The greedy matcher is deliberately chosen over iterative merge-replay at
inference time because it is SQL-expressible (a recursive scan over
(word, position) with a longest-prefix lookup), which is what makes the
token counts oracle-certifiable — see __spark_entry__'s text_stats
``n_subword`` column, replayed in DuckDB with the same literal vocab.

No reference counterpart (the reference engine has no text surface);
extension-axis per SURVEY §2's LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fabstir_vectordb_spark.functions.text import whitespace_tokens

__all__ = [
    "learn_bpe",
    "bpe_word_tokens",
    "subword_token_counts",
]


def learn_bpe(
    docs: DataFrame | None = None,
    num_merges: int = 200,
    text_col: str = "text",
    max_train_words: int = 50_000,
    lowercase: bool = True,
    word_counts: DataFrame | None = None,
) -> list[str]:
    """Learn a BPE merge vocabulary; returns the multi-char subwords in
    merge order (earlier = more frequent).  Deterministic: pair ties
    break lexicographically, the word table is frequency-then-word
    ordered before the cap.

    The distributed part is ONE aggregation (distinct words + counts);
    the merge loop is driver-local over that dict — the standard BPE
    trainer formulation, which operates on word frequencies, never the
    running text.  Pass ``word_counts`` — any (w, cnt) frame, e.g.
    keyword.vocab_stats over an existing postings artifact with tf as
    cnt — to skip even that single corpus scan (the same
    no-double-scan contract bm25's stats keep)."""
    if word_counts is not None:
        # honor ``lowercase`` here too: a cased count frame would train
        # cased merges the (lowercasing-by-default) encoder can never
        # match, silently degrading every capitalized word to the
        # per-character fallback.  Re-aggregate after folding so cased
        # variants of one word pool their counts.
        wcol = F.col("w").cast("string")
        wc = word_counts.select(
            (F.lower(wcol) if lowercase else wcol).alias("w"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        if lowercase:
            wc = wc.groupBy("w").agg(F.sum("cnt").alias("cnt"))
        words = (
            wc.orderBy(F.desc("cnt"), "w").limit(max_train_words).collect()
        )
    else:
        if docs is None:
            raise ValueError("need docs or word_counts")
        toks = whitespace_tokens(text_col)
        w = F.explode(toks).alias("w")
        words = (
            docs.select(w)
            .select((F.lower("w") if lowercase else F.col("w")).alias("w"))
            .filter(F.length("w") > 0)
            .groupBy("w").agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), "w")
            .limit(max_train_words)
            .collect()
        )
    # word -> (symbol tuple, count); start from characters
    freq: dict[tuple[str, ...], int] = {}
    for r in words:
        freq[tuple(r["w"])] = freq.get(tuple(r["w"]), 0) + int(r["cnt"])

    merges: list[str] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, cnt in freq.items():
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                pairs[p] = pairs.get(p, 0) + cnt
        if not pairs:
            break
        # deterministic argmax: highest count, then lexicographically
        # smallest pair
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break
        merged = best[0] + best[1]
        merges.append(merged)
        new_freq: dict[tuple[str, ...], int] = {}
        for sym, cnt in freq.items():
            out = []
            i = 0
            while i < len(sym):
                if (
                    i < len(sym) - 1
                    and sym[i] == best[0]
                    and sym[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            t = tuple(out)
            new_freq[t] = new_freq.get(t, 0) + cnt
        freq = new_freq
    return merges


def bpe_word_tokens(word: str, vocab: set[str], max_len: int) -> int:
    """Greedy longest-match token count for one word: at each position
    take the longest vocab subword (length >= 2) starting there, else
    consume one character as one token (the always-succeeds fallback)."""
    n = 0
    pos = 0
    L = len(word)
    while pos < L:
        step = 1
        for l in range(min(max_len, L - pos), 1, -1):
            if word[pos : pos + l] in vocab:
                step = l
                break
        n += 1
        pos += step
    return n


def subword_token_counts(
    docs: DataFrame,
    vocab: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "n_subword",
    lowercase: bool = True,
) -> DataFrame:
    """(id_col, out_col): per-document subword token count under the
    greedy longest-match rule over ``vocab`` (multi-char subwords only;
    single chars are the implicit fallback).

    Scale shape: the greedy kernel runs once per DISTINCT word
    (vocabulary-bounded, Arrow-batched mapInPandas); documents then pay
    one explode -> broadcast join -> per-doc sum, so the only corpus
    shuffle is keyed on the doc id.  Empty/whitespace-only docs emit 0."""
    import pandas as pd

    spark = docs.sparkSession
    vset = set(v for v in vocab if len(v) >= 2)
    max_len = max((len(v) for v in vset), default=2)
    bc = spark.sparkContext.broadcast((vset, max_len))

    toks = whitespace_tokens(text_col)
    dw = (
        docs.select(F.explode(toks).alias("w"))
        .select((F.lower("w") if lowercase else F.col("w")).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
    )

    def enc(batches):
        vs, ml = bc.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "n_sub": [
                        bpe_word_tokens(w, vs, ml) for w in pdf["w"]
                    ],
                }
            )

    word_counts = dw.mapInPandas(enc, "w string, n_sub int")

    per_word = (
        docs.select(F.col(id_col).alias("id"), F.explode(toks).alias("w"))
        .select(
            "id", (F.lower("w") if lowercase else F.col("w")).alias("w")
        )
        .filter(F.length("w") > 0)
        .join(F.broadcast(word_counts), "w")
    )
    counted = per_word.groupBy("id").agg(
        F.sum("n_sub").cast("long").alias(out_col)
    )
    ids = docs.select(F.col(id_col).alias("id"))
    return ids.join(counted, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col(out_col), F.lit(0).cast("long")).alias(out_col),
    )

