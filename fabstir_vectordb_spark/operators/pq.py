"""Product quantization — optional compression feature (SURVEY §2.1).

Parity target: ProductQuantizer (src/core/vector_ops.rs:390-578): train =
per-subspace k-means over sliced vectors, encode = nearest centroid per
subspace (codes), decode = concatenate looked-up centroids.  Plus ADC
(asymmetric distance) scoring, the standard PQ search trick the reference
leaves implicit in its quantized-distance helpers.

Spark design: training samples to the driver and runs tiny per-subspace
k-means fits (sklearn-free Lloyd's in numpy — M fits of K centroids on a
bounded `train_size` sample is driver-scale work, exactly like the
reference's train()).  Encode/decode run distributed as Arrow-batched
mapInPandas kernels with the codebooks broadcast; ADC search is
``ADCScorer`` over operators/scan.py's deliveries — at 100 TB the codes
table is the only thing that moves (M bytes/vector vs 4*dim).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fabstir_vectordb_spark.operators._kmeans import kmeans_fit as _kmeans_fit
from fabstir_vectordb_spark.operators.scan import (
    DRIVER_PREPARE_BYTES,
    Scorer,
    broadcast_scan,
    exact_rerank,
    hash_block_scan,
    matrix,
)


def _adc_tables(books: "np.ndarray", Q: "np.ndarray", M: int, sub: int,
                chunk: int = 512) -> "np.ndarray":
    """(nq, M, K) ADC lookup tables for an (already rotated / residual-
    shifted) query batch, ONE einsum per <= ``chunk`` queries.  Values
    do not depend on the batch: einsum('qmkj,qmkj->qmk') reduces j in
    the same sequential order for each (q, m).  ``chunk`` bounds the
    (chunk, M, K, sub) broadcast temporary to a few MB."""
    nq = len(Q)
    out = np.empty((nq, M, books.shape[1]), dtype=np.float64)
    Qr = Q.reshape(nq, M, 1, sub)
    for s in range(0, nq, chunk):
        D = books[None, :, :, :] - Qr[s : s + chunk]
        out[s : s + chunk] = np.einsum("qmkj,qmkj->qmk", D, D)
    return out


def _rotate(Q: np.ndarray, rot: np.ndarray | None) -> np.ndarray:
    """Rows of ``Q`` through the OPQ rotation, one dgemv per row, so a
    query's tables do not depend on the batch it arrives in."""
    if rot is None or not len(Q):
        return Q
    return np.stack([q @ rot for q in Q])


class ADCScorer(Scorer):
    """Asymmetric-distance scoring of PQ codes for operators/scan.py:
    per query an (M, K) lookup table, then each row's distance is M
    table lookups — no decode, no full-width math.

    ``centroids`` (IVFADC residual mode) makes the tables per block: the
    codes of cluster c encode x - centroid[c], so a query is shifted by
    the same centroid before its table is built.  ``rotation`` (OPQ)
    rotates the (shifted) query so table space matches code space."""

    def __init__(self, books, rotation=None, centroids=None):
        self.books, self.rotation, self.centroids = books, rotation, centroids
        self.M, self.K, self.sub = books.shape
        self.per_block = centroids is not None
        self._buf = None

    def decode(self, arr):
        return matrix(arr, np.int64)

    def prepare_on_driver(self, nq: int) -> bool:
        return nq * self.M * self.K * 8 <= DRIVER_PREPARE_BYTES

    def prepare(self, Q, blk=None):
        if self.centroids is not None:
            Q = Q - self.centroids[blk][None, :]
        Q = _rotate(Q, self.rotation)
        return _adc_tables(self.books, Q, self.M, self.sub).reshape(len(Q), -1)

    def scan(self, codes, P, k):
        n = len(codes)
        # flat LUT index (m*K + code_m), shared by every query
        flat_idx = codes + (np.arange(self.M, dtype=np.int64) * self.K)[None, :]
        # one gather/sum scratch per task: a fresh (n, M) temporary per
        # query was the dominant first-touch page cost of this kernel
        if self._buf is None or len(self._buf[1]) < n:
            self._buf = (np.empty((n, self.M)), np.empty(n))
        g, dv = self._buf[0][:n], self._buf[1][:n]
        for j in range(len(P)):
            np.take(P[j], flat_idx, out=g)
            np.sum(g, axis=1, out=dv)
            yield j, None, np.sqrt(dv, out=dv)


class ProductQuantizer:
    """codebooks: (M, K, sub_dim) float64 array.

    ``rotation``: optional (dim, dim) orthonormal OPQ pre-rotation
    (operators/opq.py).  When set, codes quantize ``x @ R`` and every
    query LUT is built from ``q @ R`` — distances are preserved exactly
    (R^T R = I), so all downstream contracts (rerank, dominance,
    thresholds) are unchanged; only code quality improves."""

    def __init__(
        self,
        n_subspaces: int,
        n_centroids: int,
        dim: int,
        codebooks: np.ndarray,
        rotation: np.ndarray | None = None,
    ):
        if dim % n_subspaces != 0:
            raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
        self.n_subspaces = n_subspaces
        self.n_centroids = n_centroids
        self.dim = dim
        self.sub_dim = dim // n_subspaces
        self.codebooks = codebooks
        self.rotation = rotation

    # ------------------------------------------------------------- train

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        n_subspaces: int = 4,
        n_centroids: int = 16,
        train_size: int = 10_000,
        iters: int = 25,
        seed: int = 42,
        vector_col: str = "embedding",
        opq: bool | str | None = False,
    ) -> "ProductQuantizer":
        """Sample `train_size` vectors (deterministic) and fit M per-subspace
        codebooks (vector_ops.rs:415-447; defaults mirror train_size=10000,
        25 iters from ivf/core.rs:50-60).

        ``opq``: learn an orthonormal pre-rotation first (operators/
        opq.py) — True for the full non-parametric alternating solver,
        "pca" for the eigenvalue-balanced PCA rotation only.  The
        rotation is kept ONLY if it strictly reduces reconstruction MSE
        on the training sample vs the unrotated fit — opq=True is
        therefore never worse than opq=False on the sample by
        construction (the auto-fallback a default must have)."""
        sample = [
            np.asarray(r[0], dtype=np.float64)
            for r in df.select(vector_col).limit(train_size).collect()
        ]
        if len(sample) < n_centroids:
            raise ValueError(
                f"need >= {n_centroids} training vectors, got {len(sample)}"
            )
        X = np.asarray(sample)
        dim = X.shape[1]
        if dim % n_subspaces != 0:
            raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
        sub = dim // n_subspaces

        def _books(Xs: np.ndarray) -> np.ndarray:
            rng = np.random.RandomState(seed)
            return np.stack(
                [
                    _kmeans_fit(Xs[:, m * sub : (m + 1) * sub], n_centroids, iters, rng)
                    for m in range(n_subspaces)
                ]
            )

        books = _books(X)
        if not opq:
            return cls(n_subspaces, n_centroids, dim, books)

        from fabstir_vectordb_spark.operators.opq import (
            fit_rotation,
            pca_balanced_rotation,
            train_mse,
        )

        R = (
            pca_balanced_rotation(X, n_subspaces)
            if opq == "pca"
            else fit_rotation(X, n_subspaces, n_centroids, seed=seed)
        )
        rot_books = _books(X @ R)
        if train_mse(X, rot_books, R) < train_mse(X, books, None):
            return cls(n_subspaces, n_centroids, dim, rot_books, rotation=R)
        return cls(n_subspaces, n_centroids, dim, books)

    # ------------------------------------------------------------ encode

    def encode(
        self, df: DataFrame, vector_col: str = "embedding", code_col: str = "pq_codes"
    ) -> DataFrame:
        """vector -> array<int> of M centroid indices (vector_ops.rs:449-485)."""
        bc = df.sparkSession.sparkContext.broadcast((self.codebooks, self.rotation))
        M, sub = self.n_subspaces, self.sub_dim
        out_schema = T.StructType(
            list(df.schema) + [T.StructField(code_col, T.ArrayType(T.IntegerType()), True)]
        )

        def kernel(batches):
            books, rot = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                V = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vector_col]]
                )
                if rot is not None:
                    V = V @ rot
                codes = np.empty((len(V), M), dtype=np.int32)
                for m in range(M):
                    Xm = V[:, m * sub : (m + 1) * sub]
                    # (n, k) distance matrix via |x|^2 - 2xC + |C|^2
                    d = (
                        np.einsum("ij,ij->i", Xm, Xm)[:, None]
                        - 2.0 * Xm @ books[m].T
                        + np.einsum("ij,ij->i", books[m], books[m])[None, :]
                    )
                    codes[:, m] = d.argmin(axis=1)
                yield pdf.assign(**{code_col: [c.tolist() for c in codes]})

        return df.mapInPandas(kernel, out_schema)

    # ------------------------------------------------------------ decode

    def decode(
        self, df: DataFrame, code_col: str = "pq_codes", out_col: str = "decoded"
    ) -> DataFrame:
        """codes -> reconstructed vector in the ORIGINAL space
        (vector_ops.rs:487-511): with an OPQ rotation the lookup
        reconstructs the rotated vector, so it is rotated back
        (R^T = R^{-1} for orthonormal R)."""
        bc = df.sparkSession.sparkContext.broadcast((self.codebooks, self.rotation))
        out_schema = T.StructType(
            list(df.schema) + [T.StructField(out_col, T.ArrayType(T.DoubleType()), True)]
        )

        def kernel(batches):
            books, rot = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                recon = [
                    np.concatenate([books[m][c[m]] for m in range(len(c))])
                    for c in pdf[code_col]
                ]
                if rot is not None:
                    recon = [r @ rot.T for r in recon]
                yield pdf.assign(**{out_col: [r.tolist() for r in recon]})

        return df.mapInPandas(kernel, out_schema)

    # --------------------------------------------------------- ADC search

    def scorer(self, centroids: np.ndarray | None = None) -> ADCScorer:
        """ADC scorer over this quantizer's codes; ``centroids`` for codes
        of residuals (IVFADC)."""
        return ADCScorer(self.codebooks, self.rotation, centroids)

    def adc_knn(
        self,
        codes_df: DataFrame,
        queries: DataFrame,
        k: int,
        id_col: str = "vec_id",
        code_col: str = "pq_codes",
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
        rerank_vectors: DataFrame | None = None,
        rerank_vector_col: str = "embedding",
        oversample: int = 4,
    ) -> DataFrame:
        """Asymmetric-distance kNN over PQ codes with the query set
        collected and broadcast (scan.broadcast_scan): per query one
        (M, K) subspace distance table, then each row's approximate L2
        is M table lookups.

        With `rerank_vectors` (the full-precision table), ADC over-fetches
        k*oversample candidates and re-ranks them exactly — the standard
        PQ accuracy recovery: the expensive full-width math runs on only
        Q*k*oversample rows, never the whole table."""
        fetch = k * oversample if rerank_vectors is not None else k
        qrows = queries.select(query_id_col, query_vector_col).collect()
        rows = codes_df.select(
            F.col(id_col).alias("id"), F.col(code_col).alias("__v")
        )
        cand = broadcast_scan(
            rows, self.scorer(), fetch, qrows,
            queries.schema[query_id_col].dataType,
        )
        # the query set was just collected: broadcasting it is safe
        return exact_rerank(
            cand, F.broadcast(queries), rerank_vectors, k,
            id_col=id_col, rerank_vector_col=rerank_vector_col,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )

    def adc_knn_bulk(
        self,
        codes_df: DataFrame,
        queries: DataFrame,
        k: int,
        id_col: str = "vec_id",
        code_col: str = "pq_codes",
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
        vector_blocks: int | None = None,
        rerank_vectors: DataFrame | None = None,
        rerank_vector_col: str = "embedding",
        oversample: int = 4,
    ) -> DataFrame:
        """ADC kNN with the QUERY SET as a DataFrame — no driver collect,
        the bulk companion to ``adc_knn``: codes hash into blocks that
        meet the replicated query set in a cogroup
        (scan.hash_block_scan).  Same scorer as ``adc_knn``, so both
        return the same rows for the same fitted quantizer."""
        fetch = k * oversample if rerank_vectors is not None else k
        cand = hash_block_scan(
            codes_df, id_col, code_col, queries, query_id_col, query_vector_col,
            self.scorer(), fetch, vector_blocks,
        )
        return exact_rerank(
            cand, queries, rerank_vectors, k,
            id_col=id_col, rerank_vector_col=rerank_vector_col,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )

    # -------------------------------------------------------- persistence

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        meta = {
            "n_subspaces": self.n_subspaces,
            "n_centroids": self.n_centroids,
            "dim": self.dim,
            "codebooks": self.codebooks.tolist(),
        }
        if self.rotation is not None:
            # the rotation is part of the code geometry: codes saved
            # without it would decode/search wrong after reload
            meta["rotation"] = self.rotation.tolist()
        with open(os.path.join(path, "pq.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, path: str) -> "ProductQuantizer":
        with open(os.path.join(path, "pq.json")) as f:
            meta = json.load(f)
        rot = meta.get("rotation")
        return cls(
            meta["n_subspaces"],
            meta["n_centroids"],
            meta["dim"],
            np.asarray(meta["codebooks"]),
            rotation=None if rot is None else np.asarray(rot),
        )
