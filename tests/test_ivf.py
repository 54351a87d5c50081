"""IVF index: recall harness (FIXTURES.md §6), probe-all == brute force,
small-data bypass, cluster stats, persistence roundtrip."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators.ivf import IVFIndex, read_clustered, write_clustered
from fabstir_vectordb_spark.operators.knn import brute_force_knn

K = 10
N_CLUSTERS = 8


@pytest.fixture(scope="module")
def index(embeddings):
    return IVFIndex.fit(
        embeddings, n_clusters=N_CLUSTERS, seed=42, id_col="vec_id", vector_col="embedding"
    )


@pytest.fixture(scope="module")
def assigned(index, embeddings):
    return index.assign(embeddings).cache()


@pytest.fixture(scope="module")
def queries(embeddings):
    return embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )


def test_fit_produces_centroids(index, embeddings):
    assert index.is_trained
    assert index.centroids.shape == (N_CLUSTERS, 64)


def test_assign_is_nearest_centroid(index, assigned):
    rows = assigned.select("embedding", "cluster_id").limit(50).collect()
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        d = np.linalg.norm(index.centroids - v, axis=1)
        assert r["cluster_id"] == int(d.argmin())


def test_probe_all_equals_brute_force(index, assigned, queries):
    ann = index.search(assigned, queries, K, n_probe=N_CLUSTERS)
    exact = brute_force_knn(
        assigned, queries, K, id_col="vec_id", vector_col="embedding"
    )
    a = sorted((r["query_id"], r["id"], round(r["distance"], 6)) for r in ann.collect())
    b = sorted((r["query_id"], r["id"], round(r["distance"], 6)) for r in exact.collect())
    assert a == b


def test_recall_reasonable_with_partial_probe(index, assigned, queries):
    m = index.evaluate_recall(assigned, queries, K, n_probe=4)
    # 4 of 8 clusters probed: recall@10 should be high on clusterable data
    assert m["avg_recall"] >= 0.5
    m_full = index.evaluate_recall(assigned, queries, K, n_probe=N_CLUSTERS)
    assert m_full["avg_recall"] == 1.0 and m_full["avg_precision"] == 1.0


def test_small_data_bypass(spark):
    tiny = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(5)], "id int, vector array<float>"
    )
    idx = IVFIndex.fit(tiny, n_clusters=4)
    assert not idx.is_trained  # below MIN_TRAINING_SIZE => brute-force mode
    q = spark.createDataFrame([(0, [1.2, 0.0])], "query_id int, vector array<float>")
    res = idx.search(idx.assign(tiny), q, 2)
    assert [r["id"] for r in res.collect()] == [1, 2]


def test_cluster_stats(index, assigned, embeddings):
    stats = index.cluster_stats(assigned)
    assert stats["n_clusters"] == N_CLUSTERS
    assert stats["total_vectors"] == embeddings.count()
    assert stats["avg_cluster_size"] > 0
    assert 0 <= stats["empty_clusters"] < N_CLUSTERS


def test_persistence_roundtrip(tmp_path, spark, index, embeddings, queries):
    path = str(tmp_path / "ivf")
    write_clustered(embeddings, index, path)
    df2, idx2 = read_clustered(spark, path)
    assert df2.count() == embeddings.count()
    np.testing.assert_allclose(idx2.centroids, index.centroids)
    # search distances preserved after roundtrip (persistence.rs:897-971)
    before = index.search(index.assign(embeddings), queries, K, n_probe=4)
    after = idx2.search(df2, queries, K, n_probe=4)
    a = sorted((r["query_id"], r["id"], round(r["distance"], 6)) for r in before.collect())
    b = sorted((r["query_id"], r["id"], round(r["distance"], 6)) for r in after.collect())
    assert a == b


def test_retrain_changes_k(index, embeddings):
    idx2 = index.retrain(embeddings, n_clusters=4)
    assert idx2.n_clusters == 4


def test_search_bulk_matches_search(spark):
    import numpy as np
    from fabstir_vectordb_spark.operators.ivf import IVFIndex

    rows = [(i, [float((i * 7) % 13), float((i * 3) % 5), float(i % 2)]) for i in range(80)]
    vecs = spark.createDataFrame(rows, "id bigint, vector array<float>")
    idx = IVFIndex.fit(vecs, n_clusters=4, seed=1)
    assigned = idx.assign(vecs).cache()
    queries = vecs.filter("id < 10").selectExpr("id as query_id", "vector")

    key = lambda r: (r["query_id"], r["id"], round(r["distance"], 6))
    for n_probe in (2, 4):
        bulk = idx.search_bulk(assigned, queries, 5, n_probe=n_probe)
        point = idx.search(assigned, queries, 5, n_probe=n_probe)
        assert sorted(map(key, bulk.collect())) == sorted(map(key, point.collect()))
    # both methods take the same metrics, trained or not (the untrained
    # index searches exactly), and agree row for row at full probe
    small = vecs.filter("id < 8")
    untrained = IVFIndex.fit(small, n_clusters=4, seed=1)
    assert idx.is_trained and not untrained.is_trained
    for ix, table in ((idx, assigned), (untrained, untrained.assign(small))):
        for metric in ("l2", "cosine", "dot"):
            bulk = ix.search_bulk(table, queries, 5, n_probe=4, metric=metric)
            point = ix.search(table, queries, 5, n_probe=4, metric=metric)
            got = sorted(map(key, bulk.collect()))
            assert got and got == sorted(map(key, point.collect())), metric
        for method in (ix.search_bulk, ix.search):
            with pytest.raises(ValueError, match="unknown metric"):
                method(table, queries, 5, n_probe=4, metric="angular")
    # sub-block splitting (the giant-cluster memory knob) must not change
    # results: top-k over block partials is exact for any partitioning
    split = idx.search_bulk(assigned, queries, 5, n_probe=4, sub_blocks=3)
    point = idx.search(assigned, queries, 5, n_probe=4)
    assert sorted(map(key, split.collect())) == sorted(map(key, point.collect()))
