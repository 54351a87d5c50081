"""Binary (sign-bit) vector sketches with Hamming-distance search.

The third quantization tier next to scalar u8 (functions/distance.py)
and PQ/IVFPQ (operators/pq.py, ivfpq.py): project each vector onto
``bits`` random hyperplanes and keep only the SIGN — the classic
hyperplane LSH / SimHash construction (Charikar, STOC 2002) that every
production vector store ships as "binary quantization".  At 32 bytes per
256-bit signature the full sketch table of a 100 TB float corpus is
~1 TB; candidate generation is a linear scan of THAT, with xor+popcount
per comparison, followed by exact float rerank on the k*oversample
survivors — cheap coarse scan, expensive math only on the shortlist.

Two deliberate engineering choices make this path *hash-exact* across
engines (unlike PQ, whose k-means codebooks force contract-style
certification):

* **Rademacher planes over quantized components.**  Planes are +-1
  (seeded), and each embedding component is ``trunc(x * scale)`` before
  projection (trunc, not round: numpy rounds half-to-even, SQL engines
  half-away — truncation toward zero is the one quantizer both engines
  define identically) — every dot product is exact INTEGER arithmetic, so a sign
  bit can never flip between numpy's pairwise summation and a SQL
  engine's sequential list_sum.  Sign random projections are a standard
  hyperplane-LSH variant (Achlioptas, JCSS 2003 database-friendly
  projections).
* **32-bit words in BIGINT columns.**  Signatures pack little-endian
  (bit j of word w = plane 32w+j) into values < 2^32 — positive in both
  Spark's and DuckDB's signed 64-bit type, so xor/bit_count replay
  without sign-bit edge cases.

Distances are integers (no rounding discipline needed anywhere); ties
break on id exactly like every other kNN path in the package.

Scale shape: encode is one Arrow-batched map pass (the PQ-encode
pattern); search is ``HammingScorer`` over operators/scan.py's
deliveries — broadcast for the point path, hash-block cogroup for the
bulk path (<= k rows per block per query cross the shuffle).  No
reference counterpart (vector_ops.rs has scalar u8 + PQ only);
extension-axis.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fabstir_vectordb_spark.operators.scan import (
    Scorer,
    broadcast_scan,
    exact_rerank,
    hash_block_scan,
    matrix,
)

__all__ = ["BinarySketch"]

_WORD = 32  # bits packed per BIGINT column element


# 64 KiB table: popcount of every uint16 (numpy<2 has no bitwise_count;
# a halfword lookup materializes 2 bytes/word vs unpackbits' 32 — the
# difference between 48 and ~15 ms/query on the 2M-vector scan)
_POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)


def _popcount(x: np.ndarray) -> np.ndarray:
    """Per-row popcount of an (n, W) uint32 array."""
    return _POP16[x.view(np.uint16)].sum(axis=1, dtype=np.int64)


def _pack_words(
    V: np.ndarray, planes: np.ndarray, scale: int
) -> np.ndarray:
    """(n, dim) floats -> (n, W) uint32 packed sign words.  The ONE
    copy of the trunc/project/shift/pack arithmetic — every encode path
    and every query-side LUT must call this, or corpus and query
    signatures (and the SQL oracle) silently desynchronize."""
    bits = planes.shape[0]
    S = np.trunc(V * scale)  # integer-valued float64, exact
    proj = S @ planes.T.astype(np.float64)  # integer-valued
    b = (proj > 0).astype(np.uint32)
    shifts = (np.arange(bits, dtype=np.uint32) % _WORD).astype(np.uint32)
    return np.bitwise_or.reduce(
        (b << shifts).reshape(len(V), bits // _WORD, _WORD), axis=2
    ).astype(np.uint32)


class HammingScorer(Scorer):
    """xor + popcount over packed sign words for operators/scan.py;
    queries are signed with the same ``_pack_words`` as the corpus."""

    integer = True

    def __init__(self, planes: np.ndarray, scale: int):
        self.planes, self.scale = planes, scale

    def decode(self, arr):
        return matrix(arr, np.uint32)

    def prepare(self, Q, blk=None):
        return _pack_words(Q, self.planes, self.scale)

    def scan(self, W, Qw, k):
        for j in range(len(Qw)):
            yield j, None, _popcount(np.bitwise_xor(W, Qw[j][None, :]))


class BinarySketch:
    """``planes``: (bits, dim) int8 matrix of +-1 hyperplane signs."""

    def __init__(self, planes: np.ndarray, scale: int = 1000):
        bits, dim = planes.shape
        if bits % _WORD != 0:
            raise ValueError(f"bits {bits} not a multiple of {_WORD}")
        self.planes = np.asarray(planes, dtype=np.int8)
        self.bits = bits
        self.dim = dim
        self.words = bits // _WORD
        self.scale = int(scale)

    # ------------------------------------------------------------- fit

    @classmethod
    def fit(cls, dim: int, bits: int = 128, seed: int = 42, scale: int = 1000) -> "BinarySketch":
        """Data-independent: planes are seeded Rademacher draws, no
        training scan at all (the signature is a pure function of the
        vector — what makes the whole path SQL-replayable)."""
        rng = np.random.RandomState(seed)
        planes = rng.choice(np.array([-1, 1], dtype=np.int8), size=(bits, dim))
        return cls(planes, scale=scale)

    # ----------------------------------------------------------- encode

    def encode(
        self, df: DataFrame, vector_col: str = "embedding", sig_col: str = "sig"
    ) -> DataFrame:
        """Input columns + ``sig_col`` array<bigint> of packed words."""
        bc = df.sparkSession.sparkContext.broadcast((self.planes, self.scale))

        out_schema = T.StructType(
            list(df.schema) + [T.StructField(sig_col, T.ArrayType(T.LongType()), True)]
        )

        def kernel(batches):
            planes, scale = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                V = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vector_col]]
                )
                packed = _pack_words(V, planes, scale)
                yield pdf.assign(
                    **{sig_col: [w.astype(np.int64).tolist() for w in packed]}
                )

        return df.mapInPandas(kernel, out_schema)

    # ----------------------------------------------------------- search

    def hamming_knn(
        self,
        sigs: DataFrame,
        queries: DataFrame,
        k: int,
        id_col: str = "vec_id",
        sig_col: str = "sig",
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
        rerank_vectors: DataFrame | None = None,
        rerank_vector_col: str = "embedding",
        oversample: int | None = None,
    ) -> DataFrame:
        """Top-k by Hamming distance over the signature table, query set
        collected and broadcast (scan.broadcast_scan).  With
        ``rerank_vectors`` the Hamming scan over-fetches k*oversample
        and exact float L2 re-ranks — coarse integer scan, exact math on
        the shortlist.  ``oversample=None`` consumes the planner default
        (plans/tuning.tune_binary — 4, the certified depth)."""
        fetch = k * self._oversample(oversample, k) if rerank_vectors is not None else k
        qrows = queries.select(query_id_col, query_vector_col).collect()
        rows = sigs.select(F.col(id_col).alias("id"), F.col(sig_col).alias("__v"))
        cand = broadcast_scan(
            rows, self.scorer(), fetch, qrows,
            queries.schema[query_id_col].dataType,
        )
        return exact_rerank(
            cand, queries, rerank_vectors, k,
            id_col=id_col, rerank_vector_col=rerank_vector_col,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )

    def hamming_knn_bulk(
        self,
        sigs: DataFrame,
        queries: DataFrame,
        k: int,
        id_col: str = "vec_id",
        sig_col: str = "sig",
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
        vector_blocks: int | None = None,
        rerank_vectors: DataFrame | None = None,
        rerank_vector_col: str = "embedding",
        oversample: int | None = None,
    ) -> DataFrame:
        """Bulk companion (query set stays a DataFrame end-to-end):
        signatures hash into blocks that meet the replicated query set
        in a cogroup (scan.hash_block_scan), each group signing its own
        queries.  Same scorer, so the same rows as ``hamming_knn``."""
        fetch = k * self._oversample(oversample, k) if rerank_vectors is not None else k
        cand = hash_block_scan(
            sigs, id_col, sig_col, queries, query_id_col, query_vector_col,
            self.scorer(), fetch, vector_blocks,
        )
        return exact_rerank(
            cand, queries, rerank_vectors, k,
            id_col=id_col, rerank_vector_col=rerank_vector_col,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )

    def _oversample(self, oversample: int | None, k: int) -> int:
        if oversample is not None:
            return oversample
        from fabstir_vectordb_spark.plans.tuning import tune_binary

        return tune_binary(self.dim, k).oversample

    def scorer(self) -> "HammingScorer":
        return HammingScorer(self.planes, self.scale)

    # ------------------------------------------------------ persistence

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "binary_sketch.json"), "w") as f:
            json.dump(
                {"planes": self.planes.tolist(), "scale": self.scale}, f
            )

    @classmethod
    def load(cls, path: str) -> "BinarySketch":
        with open(os.path.join(path, "binary_sketch.json")) as f:
            meta = json.load(f)
        return cls(np.asarray(meta["planes"], dtype=np.int8), scale=meta["scale"])
