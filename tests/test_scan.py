"""operators/scan.py parity: every (scorer x delivery x id type) returns
the numpy reference top-k under (round(d, 6), id), including k > n,
k = 0, empty input partitions and blocks without rows or queries."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fabstir_vectordb_spark.operators.binary import HammingScorer, _pack_words
from fabstir_vectordb_spark.operators.knn import ExactScorer
from fabstir_vectordb_spark.operators.pq import ADCScorer
from fabstir_vectordb_spark.operators.scan import broadcast_scan, cogroup_scan

N, NQ, DIM, BLOCKS = 30, 4, 8, 3
RNG = np.random.RandomState(21)
V = RNG.normal(size=(N, DIM))
V[5] = V[4]  # exact ties: the id must break them
Q = RNG.normal(size=(NQ, DIM))
Q[0] = V[7]  # a zero distance
BLK = np.arange(N) % BLOCKS
# ADC: 2 subspaces x 4 centroids, so many rows share a code (ties)
BOOKS = RNG.normal(size=(2, 4, DIM // 2))
CODES = RNG.randint(0, 4, size=(N, 2))
CENTS = RNG.normal(size=(BLOCKS, DIM))
ROT = np.linalg.qr(RNG.normal(size=(DIM, DIM)))[0]
PLANES = RNG.choice(np.array([-1, 1], dtype=np.int8), size=(64, DIM))
SIGS = _pack_words(V, PLANES, 1000)


def _ref_exact(metric):
    def d(i, q):
        v = V[i]
        if metric == "l2":
            return float(np.sqrt(((v - q) ** 2).sum()))
        if metric == "cosine":
            return 1.0 - float(v @ q) / (np.linalg.norm(v) * np.linalg.norm(q))
        return -float(v @ q)

    return d


def _ref_adc(rot, cents):
    def d(i, q):
        if cents is not None:
            q = q - cents[BLK[i]]
        if rot is not None:
            q = q @ rot
        recon = np.concatenate([BOOKS[m][CODES[i][m]] for m in range(2)])
        return float(np.sqrt(((q - recon) ** 2).sum()))

    return d


def _ref_hamming(i, q):
    qw = _pack_words(q[None, :], PLANES, 1000)[0]
    return sum(bin(int(x)).count("1") for x in np.bitwise_xor(SIGS[i], qw))


SCORERS = {
    "exact_l2": (lambda: ExactScorer("l2"), _ref_exact("l2"), V),
    "exact_cosine": (lambda: ExactScorer("cosine"), _ref_exact("cosine"), V),
    "exact_dot": (lambda: ExactScorer("dot"), _ref_exact("dot"), V),
    "adc_raw": (lambda: ADCScorer(BOOKS), _ref_adc(None, None), CODES),
    "adc_residual_rotated": (
        lambda: ADCScorer(BOOKS, ROT, CENTS), _ref_adc(ROT, CENTS), CODES
    ),
    "hamming": (lambda: HammingScorer(PLANES, 1000), _ref_hamming, SIGS),
}


def _id(i, kind):
    return int(i) if kind == "long" else f"v{i}"  # "v10" < "v2": string order


def _reference(dist, k, kind):
    out = []
    for qi in range(NQ):
        ranked = sorted(
            (round(dist(i, Q[qi]), 6), _id(i, kind), dist(i, Q[qi]))
            for i in range(N)
        )
        out += [(_id(qi, kind), rid, d) for _, rid, d in ranked[:k]]
    return out


def _frames(spark, payload, kind):
    id_t = "bigint" if kind == "long" else "string"
    elem = "double" if payload.dtype.kind == "f" else "bigint"
    schema = f"id {id_t}, __v array<{elem}>, __blk int"
    data = [(_id(i, kind), payload[i].tolist(), int(BLK[i])) for i in range(N)]
    # two populated input partitions and two empty ones
    rows = spark.createDataFrame(
        spark.sparkContext.parallelize(data, 2), schema
    ).union(spark.createDataFrame(spark.sparkContext.parallelize([], 2), schema))
    # queries also meet block 7, which has no rows
    queries = spark.createDataFrame(
        [
            (_id(qi, kind), Q[qi].tolist(), b)
            for qi in range(NQ)
            for b in list(range(BLOCKS)) + [7]
        ],
        f"query_id {id_t}, __qv array<double>, __blk int",
    )
    qrows = [(_id(qi, kind), Q[qi].tolist()) for qi in range(NQ)]
    return rows, queries, qrows


def _scan(scorer, delivery, k, frames):
    rows, queries, qrows = frames
    if delivery == "cogroup":
        return cogroup_scan(rows, queries, scorer, k)
    probes = (
        {b: np.arange(NQ) for b in range(BLOCKS)} if scorer.per_block else None
    )
    return broadcast_scan(
        rows, scorer, k, qrows, queries.schema["query_id"].dataType, probes
    )


KS = (3, N + 5, 0)  # k < n, k > n, k = 0


@pytest.mark.parametrize("kind", ["long", "string"])
@pytest.mark.parametrize("delivery", ["broadcast", "cogroup"])
@pytest.mark.parametrize("name", list(SCORERS))
def test_scan_matches_numpy_reference(spark, name, delivery, kind):
    make, dist, payload = SCORERS[name]
    frames = _frames(spark, payload, kind)
    results = [
        _scan(make(), delivery, k, frames).withColumn("k", F.lit(k)) for k in KS
    ]
    want_t = T.LongType() if name == "hamming" else T.DoubleType()
    assert results[0].schema["distance"].dataType == want_t
    rows = results[0].unionByName(results[1]).unionByName(results[2]).collect()
    for k in KS:
        got = sorted(
            (r["query_id"], r["id"], r["distance"]) for r in rows if r["k"] == k
        )
        want = sorted(_reference(dist, k, kind))
        assert [g[:2] for g in got] == [w[:2] for w in want], (name, k)
        assert np.allclose([g[2] for g in got], [w[2] for w in want],
                           rtol=0, atol=1e-9)


@pytest.mark.parametrize("delivery", ["broadcast", "cogroup"])
def test_empty_query_set_gives_typed_empty_frame(spark, delivery):
    rows, queries, _ = _frames(spark, SIGS, "long")
    scorer = HammingScorer(PLANES, 1000)
    res = (
        broadcast_scan(rows, scorer, 5, [], T.LongType())
        if delivery == "broadcast"
        else cogroup_scan(rows, queries.limit(0), scorer, 5)
    )
    assert res.collect() == []
    assert [f.dataType for f in res.schema] == [T.LongType()] * 3
