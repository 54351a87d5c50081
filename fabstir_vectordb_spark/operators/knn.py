"""Brute-force exact k-NN — the distance join at the heart of the engine.

Parity target: the reference's exhaustive scan (bindings/wasm/src/index.rs:122-161,
src/core/vector_ops.rs:310-346) and the recall ground truth
(src/ivf/operations.rs:329-391).  This operator is both the small-data
search path (the reference's "HNSW-only mode" below the IVF training
threshold, src/hybrid/core.rs:262-269) and the correctness oracle for the
approximate IVF path.

Two physical strategies, same semantics:

``impl="expr"`` — vectors ⋈ broadcast(queries) cross join, distance as a
whole-stage-codegen column expression, windowed top-k.  Simple, fully
declarative; the cross-join output is Q*N rows, so use it when Q is tiny
or a metadata pre-filter makes N small.

``impl="kernel"`` — ``ExactScorer`` over operators/scan.py's broadcast
delivery: each input partition computes distances for all queries with
BLAS and emits only its per-partition top-k per query (a map-side
partial reduction — no Q*N shuffle).  A final window over
Q * num_partitions * k rows picks the exact global top-k.  This is the
100 TB path: the only shuffle is the tiny partial-result set.

Both strategies rank by (round(distance, 6), id) — see operators/topk.py
for why that makes results deterministic across engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fabstir_vectordb_spark.functions import distance as D
from fabstir_vectordb_spark.operators.scan import (
    Scorer,
    broadcast_scan,
    hash_block_scan,
)
from fabstir_vectordb_spark.operators.topk import topk_per_query

_METRICS = ("l2", "cosine", "dot")


def distance_column(metric: str, a, b) -> Column:
    if metric == "l2":
        return D.l2_distance(a, b)
    if metric == "cosine":
        return D.cosine_distance(a, b)
    if metric == "dot":
        # max inner product ranking expressed as an ascending distance
        return -D.dot(a, b)
    raise ValueError(f"unknown metric {metric!r}; one of {_METRICS}")


def _kernel_distances(metric: str, V: np.ndarray, q: np.ndarray) -> np.ndarray:
    if metric == "l2":
        # direct (V - q) form: bitwise-compatible with the sequential fold
        # after round(6); the |V|^2 + |q|^2 - 2V.q expansion is faster but
        # loses precision for near-duplicate vectors.
        diff = V - q
        return np.sqrt(np.einsum("ij,ij->i", diff, diff))
    if metric == "cosine":
        vn = np.linalg.norm(V, axis=1)
        qn = np.linalg.norm(q)
        denom = vn * qn
        sim = np.divide(V @ q, denom, out=np.zeros(len(V)), where=denom != 0.0)
        return 1.0 - sim
    if metric == "dot":
        return -(V @ q)
    raise ValueError(f"unknown metric {metric!r}")


class ExactScorer(Scorer):
    """Exact l2 / cosine / dot distances for operators/scan.py.

    One GEMM (``Q @ V.T``) per query chunk SCREENS candidates; the
    survivors' distances are then recomputed with the exact per-query
    arithmetic of ``_kernel_distances``, so values and tie-breaks match
    a plain per-query scan while the O(Q*N*dim) work runs as BLAS.

    The screening band is padded for (a) the round(6) tie window the
    exact selection honours (absolute 1e-6 on the distance scale) and
    (b) the numeric gap between the GEMM expansion and the direct form
    (~dim*eps*|v||q|, covered by the 1e-9 absolute + relative pads), so
    no true top-k member can be screened out."""

    def __init__(self, metric: str):
        if metric not in _METRICS:
            raise ValueError(f"unknown metric {metric!r}; one of {_METRICS}")
        self.metric = metric

    def scan(self, V: np.ndarray, Q: np.ndarray, k: int):
        metric = self.metric
        nq, n = len(Q), len(V)
        if n == 0 or nq == 0:
            return
        if metric == "l2":
            vn2 = np.einsum("ij,ij->i", V, V)
        elif metric == "cosine":
            vn = np.linalg.norm(V, axis=1)

        # One reused GEMM buffer (allocated once per block, in-place score
        # arithmetic, per-ROW kth extraction) keeps the fresh-page footprint
        # at one ~16 MB buffer per worker instead of ~100 MB of temporaries
        # per chunk — first-touch page faults are the dominant cost of naive
        # full-matrix scoring on slow-fault hosts, not the FLOPs.
        qchunk = min(nq, max(16, 2_000_000 // max(n, 1)))
        G = np.empty((qchunk, n), dtype=np.float64)
        for qs in range(0, nq, qchunk):
            Qc = Q[qs : qs + qchunk]
            m = len(Qc)
            Gm = G[:m]
            np.dot(Qc, V.T, out=Gm)  # the only O(q*N*dim) op
            if metric == "l2":
                qn2 = np.einsum("ij,ij->i", Qc, Qc)
                Gm *= -2.0
                Gm += vn2[None, :]
                Gm += qn2[:, None]
                np.maximum(Gm, 0.0, out=Gm)
            elif metric == "cosine":
                qn = np.linalg.norm(Qc, axis=1)
            else:  # dot
                np.negative(Gm, out=Gm)

            for j in range(m):
                if metric == "cosine":
                    denom = vn * qn[j]
                    row = 1.0 - np.divide(
                        Gm[j], denom, out=np.zeros(n), where=denom != 0.0
                    )
                else:
                    row = Gm[j]
                kth = np.partition(row, k - 1)[k - 1] if n > k else row.max()
                if metric == "l2":
                    # band in SQUARED space: (d_k + round(6) tie window)^2
                    # + expansion-error pad
                    band = (np.sqrt(kth) + 2e-6) ** 2 + 1e-9 + kth * 1e-12
                else:
                    band = kth + 2e-6 + 1e-9 * abs(kth) + 1e-12
                cand = np.flatnonzero(row <= band)
                # exact distances in the original form
                yield qs + j, cand, _kernel_distances(metric, V[cand], Qc[j])


def knn_join(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Declarative cross-join kNN (impl="expr")."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vector_col).alias("__qvec"),
    )
    joined = vectors.crossJoin(F.broadcast(q))
    dist = distance_column(metric, F.col(vector_col), F.col("__qvec"))
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("id"),
        dist.alias("distance"),
    )
    return topk_per_query(scored, k)


def knn_kernel(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    query_rows: list | None = None,
) -> DataFrame:
    """Partial-reduction numpy kNN (impl="kernel"): the query set is
    collected (the small side, as for the expr path's broadcast) and
    broadcast into one Arrow pass over the vectors.  ``query_rows``
    optionally supplies that collect's result (rows of (query_id,
    vector), the shape `queries.select(query_id_col, query_vector_col)`
    yields), so a caller building several searches can run the collects
    concurrently instead of one sequential driver job per search."""
    scorer = ExactScorer(metric)
    qrows = (
        query_rows
        if query_rows is not None
        else queries.select(query_id_col, query_vector_col).collect()
    )
    rows = vectors.select(F.col(id_col).alias("id"), F.col(vector_col).alias("__v"))
    return broadcast_scan(
        rows, scorer, k, qrows, queries.schema[query_id_col].dataType
    )


def knn_bulk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    vector_blocks: int | None = None,
) -> DataFrame:
    """Bulk exact similarity join: BOTH sides are DataFrames — no driver
    collect, no broadcast of the query set (reference analogue:
    parallel_search, src/hybrid/search_integration.rs:125-211, whose
    clients loop per query; this is the set-at-a-time version).

    Vectors hash into ``vector_blocks`` blocks and shuffle once; the
    query table is replicated per block (scan.hash_block_scan).  Each
    block emits only its local top-k, so the final shuffle is
    Q * blocks * k partial rows, never Q * N.  Size the block count so
    one block's vectors fit a task's memory (N/VB * dim * 8B).

    Output: (query_id, id, distance) ascending, k rows per query.
    """
    return hash_block_scan(
        vectors, id_col, vector_col, queries, query_id_col, query_vector_col,
        ExactScorer(metric), k, vector_blocks,
    )


def brute_force_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    impl: str = "kernel",
    **cols,
) -> DataFrame:
    """Exact top-k similarity join.  Output: (query_id, id, distance) asc.

    Apply metadata predicates to ``vectors`` BEFORE calling — the filter
    then reaches the parquet scan (pushdown), which supersedes the
    reference's k*3 oversampling post-filter (src/hybrid/core.rs:513-549).
    """
    fn = {"kernel": knn_kernel, "expr": knn_join}.get(impl)
    if fn is None:
        raise ValueError(f"unknown impl {impl!r}")
    return fn(vectors, queries, k, metric=metric, **cols)


def range_search(
    vectors: DataFrame,
    queries: DataFrame,
    radius: float,
    metric: str = "l2",
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Exact radius query: ALL vectors within ``radius`` of each query,
    no k (the unbounded companion of the thresholded top-k — the
    reference expresses this as score >= t over an oversized k,
    session.rs:287-293; a true range query has no k to size).

    Declarative shape: broadcast the query side, distance as a codegen
    column, filter on the ROUNDED distance (the cross-engine contract).
    At archive scale compose with the IVF probe first (probed clusters
    bound the candidate set) — the radius filter itself is a post-scan
    predicate and cannot prune files.

    Output: (query_id, id, distance) ascending per query, every row with
    round(distance, 6) <= radius.
    """
    from fabstir_vectordb_spark.operators.topk import rounded

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vector_col).alias("__qv"),
    )
    v = vectors.select(
        F.col(id_col).alias("id"), F.col(vector_col).alias("__v")
    )
    d = distance_column(metric, F.col("__v"), F.col("__qv"))
    return (
        v.crossJoin(F.broadcast(q))
        .select("query_id", "id", d.alias("distance"))
        .filter(rounded("distance") <= radius)
    )
