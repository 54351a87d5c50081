"""Partition-local top-k with one global merge: the scan every
vector-search family (exact, IVF, PQ/ADC, IVFPQ, binary) runs on.

A search is a (scorer, delivery) pair.  The scorer holds one family's
arithmetic: how to decode a row payload, how to turn raw query vectors
into query-side state (the vectors, ADC lookup tables, packed sign
words), and how to score one block of rows against that state.  The
delivery decides how queries meet rows:

* ``broadcast_scan``: the query set is collected and broadcast, and the
  rows stream through one ``mapInArrow`` pass.  An optional probe map
  (block -> query indices) restricts each block, e.g. an IVF cluster, to
  the queries that probed it.
* ``cogroup_scan``: rows and queries both carry a ``__blk`` key and meet
  in ``cogroup(...).applyInArrow``; nothing is collected.

Either way each (query, block) emits at most k rows under the total
order (round(distance, 6), id), so ``topk_per_query`` over the partials
is the exact global top-k (REPOSE, ICDE 2021).  Row frames are
(id, __v[, __blk]); query frames are (query_id, __qv, __blk).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from fabstir_vectordb_spark.operators.topk import ROUND_DECIMALS, topk_per_query

# Query sets up to this many rows are collected and broadcast by searches
# that pick their delivery at run time (IVFPQIndex.search_bulk); larger
# sets stay DataFrames and take the cogroup plan.
MAX_BROADCAST_QUERIES = 65_536
# Query-side state up to this size is built once on the driver and
# broadcast; above it each task builds it from the raw query vectors.
DRIVER_PREPARE_BYTES = 64 << 20


# ------------------------------------------------------------ selection


def select_topk(d: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Positions of the k best entries of ``d`` under (round(d, 6), id);
    integer distances rank as they are.  An O(n) partition finds the
    k-th value, then only the tie set at or below it is lexsorted."""
    dr = d if d.dtype.kind in "iu" else np.round(d, ROUND_DECIMALS)
    # `> k > 0`: k=0 takes the empty lexsort[:0] branch
    if len(d) > k > 0:
        thresh = np.partition(dr, k - 1)[k - 1]
        keep = np.flatnonzero(dr <= thresh)
        return keep[np.lexsort((ids[keep], dr[keep]))][:k]
    return np.lexsort((ids, dr))[:k]


# ---------------------------------------------------------- Arrow decode


def column(t: pa.Table | pa.RecordBatch, name: str) -> pa.Array:
    """One contiguous array from a batch or table column."""
    c = t.column(name)
    return c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c


def matrix(arr: pa.Array, dtype=np.float64) -> np.ndarray:
    """(n, dim) array from an Arrow list column, read from its flat
    value buffer (no per-row Python)."""
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    return flat.reshape(len(arr), -1) if len(arr) else flat.reshape(0, 0)


def sort_keys(ids: pa.Array) -> np.ndarray:
    """Ids as a lexsort-able array: string ids become fixed-width
    unicode, whose order is Spark's string order for ASCII."""
    a = ids.to_numpy(zero_copy_only=False)
    return a.astype(str) if a.dtype == object else a


# -------------------------------------------------------- partial emit


def partial_schema(
    qid_type: T.DataType, id_type: T.DataType, integer: bool = False
) -> T.StructType:
    """(query_id, id, distance): the rows every scan emits."""
    dist_type = T.LongType() if integer else T.DoubleType()
    return T.StructType(
        [
            T.StructField("query_id", qid_type, False),
            T.StructField("id", id_type, False),
            T.StructField("distance", dist_type, False),
        ]
    )


def _cat(parts: list, dtype) -> np.ndarray:
    return np.concatenate(parts) if parts else np.empty(0, dtype)


def emit(schema: pa.Schema, qids: pa.Array, q_pos, ids: pa.Array, r_pos, dists):
    """Partial rows (qids[q_pos], ids[r_pos], dists) as one batch; ids
    are taken from their own Arrow arrays, so their type is kept."""
    return pa.record_batch(
        [
            qids.take(pa.array(q_pos, pa.int64())),
            ids.take(pa.array(r_pos, pa.int64())),
            pa.array(dists, schema.field("distance").type),
        ],
        schema=schema,
    )


# -------------------------------------------------------------- scorers


class Scorer:
    """One family's arithmetic; the defaults suit float vectors.

    ``scan(X, P, k)`` yields ``(j, cand, d)`` per query j of the prepared
    batch ``P``: ``d`` holds the distances of rows ``cand`` (``None``:
    every row of ``X``).  ``d`` may be a reused buffer, valid until the
    next item is drawn."""

    integer = False  # distances are integers: no rounding, LongType out
    per_block = False  # query-side state depends on the block key

    def decode(self, arr: pa.Array) -> np.ndarray:
        return matrix(arr, np.float64)

    def prepare(self, Q: np.ndarray, blk=None):
        return Q

    def prepare_on_driver(self, nq: int) -> bool:
        return True

    def scan(self, X: np.ndarray, P, k: int):
        raise NotImplementedError


def _block_topk(scorer: Scorer, X, keys, P, k, q_index=None):
    """(query positions, row positions, distances) of every query's
    top-k over one block of rows."""
    qp, rp, ds = [], [], []
    for j, cand, d in scorer.scan(X, P, k):
        keep = select_topk(d, keys if cand is None else keys[cand], k)
        qp.append(np.full(len(keep), j if q_index is None else q_index[j]))
        rp.append(keep if cand is None else cand[keep])
        ds.append(d[keep])
    dtype = np.int64 if scorer.integer else np.float64
    return _cat(qp, np.int64), _cat(rp, np.int64), _cat(ds, dtype)


# ----------------------------------------------------------- deliveries


def broadcast_scan(
    rows: DataFrame,
    scorer: Scorer,
    k: int,
    qrows: list,
    qid_type: T.DataType,
    probes: dict | None = None,
) -> DataFrame:
    """Global top-k of collected queries ``qrows`` ((query_id, vector)
    rows) over ``rows`` (id, __v[, __blk]) in one ``mapInArrow`` pass.

    ``probes`` maps a block key to the indices (into ``qrows``) of the
    queries that scan it; rows of unprobed blocks are skipped.  Without
    it every query scans every row; a ``per_block`` scorer needs it.
    An empty query set returns an empty, typed frame."""
    spark = rows.sparkSession
    schema = partial_schema(qid_type, rows.schema["id"].dataType, scorer.integer)
    if not qrows:
        return spark.createDataFrame([], schema)
    arrow_schema = to_arrow_schema(schema)
    qids = pa.array([r[0] for r in qrows], arrow_schema.field("query_id").type)
    Q = np.asarray([np.asarray(r[1], dtype=np.float64) for r in qrows])
    P = (
        scorer.prepare(Q)
        if not scorer.per_block and scorer.prepare_on_driver(len(Q))
        else None
    )
    bc = spark.sparkContext.broadcast(
        (scorer, qids, Q if P is None else None, P, probes)
    )

    def kernel(batches):
        scorer, qids, Q, P_all, probes = bc.value
        cache: dict = {}

        def prepared(blk):
            # built once per task; per-block state once per probed block
            nonlocal P_all
            if P_all is None and not scorer.per_block:
                P_all = scorer.prepare(Q)
            if blk is None:
                return P_all
            if blk not in cache:
                qidx = probes[blk]
                cache[blk] = (
                    scorer.prepare(Q[qidx], blk) if scorer.per_block else P_all[qidx]
                )
            return cache[blk]

        for b in batches:
            if b.num_rows == 0:
                continue
            ids = column(b, "id")
            keys = sort_keys(ids)
            X = scorer.decode(column(b, "__v"))
            if probes is None:
                groups = [(None, slice(None))]
            else:  # a batch may span blocks: score each probed one
                blk = column(b, "__blk").to_numpy(zero_copy_only=False)
                groups = [
                    (int(c), np.flatnonzero(blk == c))
                    for c in np.unique(blk)
                    if int(c) in probes
                ]
            parts = []
            for c, r in groups:
                qp, rp, ds = _block_topk(
                    scorer, X[r], keys[r], prepared(c), k,
                    None if c is None else probes[c],
                )
                parts.append((qp, rp if c is None else r[rp], ds))
            if parts:
                qp, rp, ds = (np.concatenate(p) for p in zip(*parts))
                yield emit(arrow_schema, qids, qp, ids, rp, ds)

    return topk_per_query(rows.mapInArrow(kernel, schema), k)


def cogroup_scan(
    rows: DataFrame, queries: DataFrame, scorer: Scorer, k: int
) -> DataFrame:
    """Global top-k of ``queries`` (query_id, __qv, __blk) over ``rows``
    (id, __v, __blk): each block meets its own queries in one cogroup
    group, and nothing is collected.  The caller decides what a block
    is: a hash bucket, an IVF cluster or a sub-block of one."""
    schema = partial_schema(
        queries.schema["query_id"].dataType, rows.schema["id"].dataType,
        scorer.integer,
    )
    arrow_schema = to_arrow_schema(schema)

    def kernel(key, rt: pa.Table, qt: pa.Table) -> pa.Table:
        if rt.num_rows == 0 or qt.num_rows == 0:
            return arrow_schema.empty_table()
        ids = column(rt, "id")
        P = scorer.prepare(matrix(column(qt, "__qv")), key[0].as_py())
        qp, rp, ds = _block_topk(
            scorer, scorer.decode(column(rt, "__v")), sort_keys(ids), P, k
        )
        return pa.Table.from_batches(
            [emit(arrow_schema, column(qt, "query_id"), qp, ids, rp, ds)]
        )

    partials = (
        rows.groupBy("__blk")
        .cogroup(queries.groupBy("__blk"))
        .applyInArrow(kernel, schema)
    )
    return topk_per_query(partials, k)


def hash_block_scan(
    rows: DataFrame,
    id_col: str,
    payload_col: str,
    queries: DataFrame,
    query_id_col: str,
    query_vector_col: str,
    scorer: Scorer,
    k: int,
    vector_blocks: int | None = None,
) -> DataFrame:
    """``cogroup_scan`` over hash blocks: rows hash into ``vector_blocks``
    blocks and shuffle once, and the query set is replicated per block
    (Q x blocks rows).  The default block count is one block per scan
    split of ``rows``, capped at the cluster's parallelism: a split is
    already sized to task memory, and a small input does not pay for
    more query replicas than it can fill.  Block count never changes
    results."""
    from fabstir_vectordb_spark.operators._plan import scan_partitions

    spark = rows.sparkSession
    VB = vector_blocks or max(
        1, min(spark.sparkContext.defaultParallelism, scan_partitions(rows))
    )
    v = rows.select(
        F.col(id_col).alias("id"),
        F.col(payload_col).alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(VB)).cast("int").alias("__blk"),
    )
    blocks = spark.range(VB).select(F.col("id").cast("int").alias("__blk"))
    qrep = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vector_col).alias("__qv"),
    ).crossJoin(blocks)
    return cogroup_scan(v, qrep, scorer, k)


# --------------------------------------------------------------- rerank


def exact_rerank(
    cand: DataFrame,
    queries: DataFrame,
    rerank_vectors: DataFrame | None,
    k: int,
    id_col: str = "vec_id",
    rerank_vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Exact L2 re-rank of an over-fetched candidate set: true distances
    on only the Q*k*oversample candidate rows, then top-k.  With
    ``rerank_vectors=None`` the candidates are returned unchanged.

    ``cand`` is the small side of both joins.  The query table gets no
    broadcast hint here (it may be big); a caller whose query set is
    known to be small passes ``F.broadcast(queries)``."""
    from fabstir_vectordb_spark.functions import distance as D

    if rerank_vectors is None:
        return cand
    vecs = rerank_vectors.select(
        F.col(id_col).alias("id"),
        F.col(rerank_vector_col).alias("__rv_vec"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vector_col).alias("__rv_q"),
    )
    exact = (
        cand.drop("distance")
        .join(vecs, "id")
        .join(q, "query_id")
        .select(
            "query_id",
            "id",
            D.l2_distance("__rv_vec", "__rv_q").alias("distance"),
        )
    )
    return topk_per_query(exact, k)
