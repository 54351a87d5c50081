"""Batch search API + backup/restore/verify tests."""

import datetime as dt

import pytest

from fabstir_vectordb_spark.session import VectorDbSession
from fabstir_vectordb_spark.sources import backup as B


@pytest.fixture(scope="module")
def sess(spark):
    s = VectorDbSession(spark)
    s.add_vectors(
        [
            {"id": f"v{i}", "vector": [float(i), 0.0], "metadata": {"even": i % 2 == 0}}
            for i in range(10)
        ]
    )
    return s


def test_search_batch_matches_single(spark, sess):
    """search_batch agrees with per-query search() across the router's
    cases: exact and trained, unfiltered and filtered, k below and above
    the live row count."""
    trained = VectorDbSession(spark)
    trained.add_vectors(
        [
            {"id": f"v{i}", "vector": [float(i), 0.0], "metadata": {"even": i % 2 == 0}}
            for i in range(10)
        ]
    )
    trained.train_index(n_clusters=2)
    assert trained._index.is_trained
    qs = (("qa", [0.0, 0.0]), ("qb", [9.0, 0.0]))
    even = {"even": True}
    cases = [(sess, None, 3), (sess, even, 20), (trained, None, 3),
             (trained, None, 20), (trained, even, 20)]
    for s, flt, k in cases:
        batch = s.search_batch(
            [{"id": qid, "vector": vec} for qid, vec in qs], k=k, filter=flt
        )
        assert set(batch) == {"qa", "qb"}
        for qid, vec in qs:
            single = s.search(vec, k=k, filter=flt)
            assert len(single) == min(k, 10 if flt is None else 5)
            assert [r["id"] for r in batch[qid]] == [r["id"] for r in single]
            assert [r["distance"] for r in batch[qid]] == pytest.approx(
                [r["distance"] for r in single]
            )
            assert [r["metadata"] for r in batch[qid]] == [r["metadata"] for r in single]
    # metadata travels
    first = sess.search_batch([{"id": "qa", "vector": [0.0, 0.0]}], k=3)["qa"][0]
    assert first["metadata"] == {"even": True}


def test_search_batch_filtered(sess):
    out = sess.search_batch([{"id": "q", "vector": [0.0, 0.0]}], k=5,
                            filter={"even": True})
    assert [r["id"] for r in out["q"]] == ["v0", "v2", "v4", "v6", "v8"]


def test_backup_restore_verify(spark, sess, tmp_path):
    src = str(tmp_path / "t")
    sess.save(src)
    bak = str(tmp_path / "bak")
    rep = B.backup(src, bak)
    assert rep["files"] > 0
    assert B.verify_backup(spark, src, bak)["ok"]

    with pytest.raises(ValueError):
        B.backup(src, bak)  # target exists

    dst = str(tmp_path / "restored")
    B.restore(bak, dst)
    s2 = VectorDbSession.load(spark, dst)
    assert [r["id"] for r in s2.search([0.0, 0.0], k=2)] == ["v0", "v1"]


def test_incremental_backup(spark, tmp_path):
    s = VectorDbSession(spark)
    t0 = dt.datetime(2026, 1, 1)
    t1 = dt.datetime(2026, 2, 1)
    s.add_vectors([{"id": "old", "vector": [1.0]}], timestamp=t0)
    s.add_vectors([{"id": "new", "vector": [2.0]}], timestamp=t1)
    src = str(tmp_path / "t2")
    s.save(src)
    inc = str(tmp_path / "inc")
    rep = B.incremental_backup(spark, src, inc, since=dt.datetime(2026, 1, 15))
    assert rep["rows"] == 1
    rows = spark.read.parquet(f"{inc}/vectors").collect()
    assert [r["id"] for r in rows] == ["new"]
