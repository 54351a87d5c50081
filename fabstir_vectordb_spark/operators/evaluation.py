"""Retrieval evaluation: recall / precision / MRR / nDCG against a
relevance-judgment (qrels) table.

The reference evaluates recall only against its own brute-force run
(ivf/operations.rs:329-391, surfaced as ``IVFIndex.evaluate_recall`` /
the HNSW twin).  This module is the general form every retrieval
experiment needs: rankings from ANY source (exact kNN, IVF, HNSW,
BM25, fused, MaxSim) scored against ANY qrels table — binary or
graded — with the standard IR metrics:

  recall@k     relevant retrieved / total relevant for the query
  precision@k  relevant retrieved / k (the CUTOFF, not the number of
               rows the system happened to return — trec_eval's
               reading: returning fewer than k rows does not inflate
               precision)
  mrr@k        1 / rank of the first relevant result (0 when none)
  ndcg@k       DCG@k / IDCG@k with the standard log2(rank+1)
               discount; graded qrels use their grades, binary qrels
               grade 1.0.  IDCG ranks the query's OWN grades
               descending (capped at k), so ndcg == 1 iff the top of
               the ranking is a best-possible ordering.

Plan: one equality join of the (≤ k per query) result rows against
qrels on (query, doc) — results are tiny by construction, qrels
shuffle once on the same key; per-query ideal DCG folds the query's
grade list JVM-side (sort_array + slice + zip_with the discount
sequence — no UDF anywhere).  Queries present in qrels but retrieving
nothing relevant still score (zeros); queries absent from qrels are
dropped — they are unjudged, and scoring them 0 would poison macro
averages (trec_eval's convention).

Reference parity: generalizes §2 #42 (recall/precision
self-evaluation, ivf/operations.rs:329-391) from
"this index vs brute force" to arbitrary rankings vs arbitrary
judgments; certified cross-engine in the knn_metrics eval_* parts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["evaluate_retrieval"]


def evaluate_retrieval(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "id",
    rank_col: str = "rank",
    grade_col: str | None = None,
) -> DataFrame:
    """Per-query IR metrics (module docstring for definitions).

    ``results``  (query_col, id_col, rank_col) — rank 1 = best; rows
                 with rank > k are ignored (pass pre-cut rankings or
                 full ones, same answer).
    ``qrels``    (query_col, id_col[, grade_col]) — the judged
                 relevant documents; ``grade_col`` None means binary
                 (grade 1.0).  Non-positive grades are dropped (they
                 mean "judged irrelevant" in graded sets and
                 contribute to neither DCG nor the relevant count).
    Output: one row per judged query —
    (query_col, n_relevant, hits, ``recall``, ``precision``, ``mrr``,
    ``ndcg``), all metrics in [0, 1] (pinned by test).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    g = (
        F.col(grade_col).cast("double")
        if grade_col
        else F.lit(1.0)
    )
    # both inputs deduped on (query, doc): duplicate judgments keep the
    # MAX grade, duplicate result rows keep the MIN (best) rank — without
    # this, repeated pairs inflate hits/recall/DCG (hits could exceed k)
    # and break the [0, 1] metric contract.  Both frames are small (≤ k
    # rows per query; qrels are judgments) and the extra exchange keys
    # subsume into the per-query aggregates that follow.
    qr = (
        qrels.select(F.col(query_col), F.col(id_col), g.alias("__g"))
        .groupBy(query_col, id_col)
        .agg(F.max("__g").alias("__g"))
        .filter(F.col("__g") > 0)
    )
    res = (
        results.filter(F.col(rank_col) <= k)
        .select(
            F.col(query_col), F.col(id_col), F.col(rank_col).alias("__rk")
        )
        .groupBy(query_col, id_col)
        .agg(F.min("__rk").alias("__rk"))
    )
    # per-query judgment profile: relevant count + the ideal DCG from
    # the query's own grades sorted descending, capped at k — a pure
    # column fold, no UDF
    discounted = F.zip_with(
        F.slice(F.sort_array("__gs", asc=False), 1, k),
        F.sequence(F.lit(1), F.least(F.size("__gs"), F.lit(k))),
        lambda grade, i: grade / F.log2(i.cast("double") + 1.0),
    )
    prof = qr.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("n_relevant"),
        F.collect_list("__g").alias("__gs"),
    ).select(
        query_col,
        "n_relevant",
        F.aggregate(
            discounted, F.lit(0.0), lambda acc, x: acc + x
        ).alias("__idcg"),
    )
    # hits: judged-relevant rows the ranking retrieved inside the cut
    hits = res.join(qr, [query_col, id_col]).groupBy(query_col).agg(
        F.count(F.lit(1)).alias("hits"),
        (1.0 / F.min("__rk")).alias("__mrr"),
        F.sum(
            F.col("__g") / F.log2(F.col("__rk").cast("double") + 1.0)
        ).alias("__dcg"),
    )
    out = prof.join(hits, query_col, "left")
    return out.select(
        query_col,
        "n_relevant",
        F.coalesce("hits", F.lit(0)).alias("hits"),
        (
            F.coalesce("hits", F.lit(0)).cast("double")
            / F.col("n_relevant")
        ).alias("recall"),
        (
            F.coalesce("hits", F.lit(0)).cast("double") / F.lit(float(k))
        ).alias("precision"),
        F.coalesce("__mrr", F.lit(0.0)).alias("mrr"),
        F.coalesce(
            F.col("__dcg") / F.col("__idcg"), F.lit(0.0)
        ).alias("ndcg"),
    )

