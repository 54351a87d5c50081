"""evaluate_retrieval: the joined-fold plan must reproduce a pure-
Python reference of the standard IR formulas (recall/precision@k,
MRR@k, nDCG@k with log2 discounts) on random rankings and qrels —
binary and graded — and every metric must stay in [0, 1]."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators.evaluation import evaluate_retrieval


def _reference(results, qrels, k):
    """{q: (nrel, hits, recall, precision, mrr, ndcg)}."""
    out = {}
    for q in {q for q, _, _ in qrels}:
        rel = {d: g for qq, d, g in qrels if qq == q and g > 0}
        if not rel:
            continue
        ranked = sorted(
            [(r, d) for qq, d, r in results if qq == q and r <= k]
        )
        hit_ranks = [(r, rel[d]) for r, d in ranked if d in rel]
        hits = len(hit_ranks)
        mrr = 1.0 / hit_ranks[0][0] if hit_ranks else 0.0
        dcg = sum(g / math.log2(r + 1) for r, g in hit_ranks)
        ideal = sorted(rel.values(), reverse=True)[:k]
        idcg = sum(g / math.log2(i + 2) for i, g in enumerate(ideal))
        out[q] = (
            len(rel), hits, hits / len(rel), hits / k, mrr,
            dcg / idcg if idcg else 0.0,
        )
    return out


_q = st.integers(0, 2)
_d = st.integers(0, 9)
_qrels = st.lists(
    st.tuples(_q, _d, st.sampled_from([0.0, 1.0, 2.0, 3.0])),
    min_size=1, max_size=15, unique_by=lambda t: (t[0], t[1]),
)
_res = st.lists(st.tuples(_q, _d), min_size=1, max_size=20,
                unique_by=lambda t: (t[0], t[1]))


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(qrels=_qrels, res=_res, k=st.integers(1, 6),
       graded=st.booleans())
def test_eval_matches_reference(spark, qrels, res, k, graded):
    if not graded:
        qrels = [(q, d, 1.0 if g > 0 else 0.0) for q, d, g in qrels]
    ranked = []
    by_q = {}
    for q, d in res:
        by_q.setdefault(q, []).append(d)
    for q, ds in by_q.items():
        ranked += [(q, d, r) for r, d in enumerate(sorted(ds), start=1)]
    rdf = spark.createDataFrame(ranked, "query_id long, id long, rank long")
    qdf = spark.createDataFrame(qrels, "query_id long, id long, g double")
    got = {
        r["query_id"]: (r["n_relevant"], r["hits"], r["recall"],
                        r["precision"], r["mrr"], r["ndcg"])
        for r in evaluate_retrieval(rdf, qdf, k=k,
                                    grade_col="g").collect()
    }
    want = _reference(ranked, qrels, k)
    assert set(got) == set(want)
    for q in want:
        for a, b in zip(got[q], want[q]):
            assert a == pytest.approx(b, rel=1e-9), (q, got[q], want[q])
        assert all(0.0 <= x <= 1.0
                   for x in got[q][2:]), got[q]


def test_eval_binary_default_and_validation(spark):
    rdf = spark.createDataFrame(
        [(0, 5, 1), (0, 6, 2), (0, 7, 3)], "query_id long, id long, rank long"
    )
    qdf = spark.createDataFrame(
        [(0, 6), (0, 9), (1, 3)], "query_id long, id long"
    )
    rows = {r["query_id"]: r for r in
            evaluate_retrieval(rdf, qdf, k=3).collect()}
    r0 = rows[0]
    assert (r0["n_relevant"], r0["hits"]) == (2, 1)
    assert r0["recall"] == 0.5 and r0["precision"] == pytest.approx(1 / 3)
    assert r0["mrr"] == 0.5
    # dcg = 1/log2(3); idcg = 1/log2(2) + 1/log2(3)
    import math
    assert r0["ndcg"] == pytest.approx(
        (1 / math.log2(3)) / (1.0 + 1 / math.log2(3))
    )
    # judged query that retrieved nothing scores zeros, stays present
    r1 = rows[1]
    assert (r1["hits"], r1["recall"], r1["mrr"], r1["ndcg"]) == (0, 0.0, 0.0, 0.0)
    with pytest.raises(ValueError, match="k must be"):
        evaluate_retrieval(rdf, qdf, k=0)


def test_eval_plan_no_udf(spark):
    rdf = spark.createDataFrame([(0, 1, 1)], "query_id long, id long, rank long")
    qdf = spark.createDataFrame([(0, 1)], "query_id long, id long")
    plan = evaluate_retrieval(rdf, qdf)._jdf.queryExecution()\
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_eval_dedupes_duplicate_pairs(spark):
    """Duplicate (query, doc) rows — in results inside the cut, or in
    qrels — must not inflate hits/recall/DCG: results keep the MIN
    rank, qrels the MAX grade (r9 advice).  hits can never exceed k or
    n_relevant, and every metric stays in [0, 1]."""
    res = spark.createDataFrame(
        [(0, 5, 1), (0, 5, 2), (0, 5, 3), (0, 7, 4)],
        "query_id long, id long, rank int",
    )
    qrels = spark.createDataFrame(
        [(0, 5, 1.0), (0, 5, 3.0), (0, 7, 0.0), (0, 7, 2.0), (0, 9, 1.0)],
        "query_id long, id long, grade double",
    )
    row = evaluate_retrieval(
        res, qrels, k=5, grade_col="grade"
    ).collect()[0]
    # judged relevant: {5 (grade max 3), 7 (grade max 2), 9} -> n_rel 3
    assert row["n_relevant"] == 3
    # retrieved relevant within the cut: {5 at rank 1, 7 at rank 4}
    assert row["hits"] == 2
    assert row["recall"] == pytest.approx(2 / 3)
    assert row["precision"] == pytest.approx(2 / 5)
    assert row["mrr"] == pytest.approx(1.0)
    dcg = 3.0 / math.log2(2) + 2.0 / math.log2(5)
    idcg = 3.0 / math.log2(2) + 2.0 / math.log2(3) + 1.0 / math.log2(4)
    assert row["ndcg"] == pytest.approx(dcg / idcg)
    for m in ("recall", "precision", "mrr", "ndcg"):
        assert 0.0 <= row[m] <= 1.0
