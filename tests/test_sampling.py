"""Deterministic split/sample: reproducibility, growth stability,
proportions, and partition independence."""

import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators.sampling import (
    assign_split,
    sample_keep,
)


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(10_000).select(F.col("id").alias("doc_id"))


def test_split_proportions_and_determinism(ids):
    out = assign_split(ids)
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] / 10_000 == pytest.approx(0.9, abs=0.02)
    assert counts["val"] / 10_000 == pytest.approx(0.05, abs=0.01)
    assert counts["test"] / 10_000 == pytest.approx(0.05, abs=0.01)
    again = {r["doc_id"]: r["split"] for r in assign_split(ids).collect()}
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    assert first == again


def test_split_growth_stable(spark, ids):
    """Adding documents must never reassign existing ones."""
    small = assign_split(ids.filter("doc_id < 1000"))
    big = assign_split(ids)
    s = {r["doc_id"]: r["split"] for r in small.collect()}
    b = {r["doc_id"]: r["split"] for r in big.filter("doc_id < 1000").collect()}
    assert s == b


def test_split_partition_independent(ids):
    a = {r["doc_id"]: r["split"] for r in assign_split(ids.repartition(1)).collect()}
    b = {r["doc_id"]: r["split"] for r in assign_split(ids.repartition(17)).collect()}
    assert a == b


def test_split_custom_weights_and_validation(ids):
    out = assign_split(ids, weights=[("a", 1.0), ("b", 3.0)])
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert counts["b"] / 10_000 == pytest.approx(0.75, abs=0.02)
    with pytest.raises(ValueError):
        assign_split(ids, weights=[])
    with pytest.raises(ValueError):
        assign_split(ids, weights=[("a", 0.0)])
    with pytest.raises(ValueError, match="nonnegative"):
        assign_split(ids, weights=[("a", 1.5), ("b", -0.5)])


def test_deterministic_sample(ids):
    kept = ids.filter(sample_keep("doc_id", 0.25))
    n = kept.count()
    assert n / 10_000 == pytest.approx(0.25, abs=0.02)
    # a sample of a superset contains the sample of the subset
    sub = ids.filter("doc_id < 1000").filter(sample_keep("doc_id", 0.25))
    assert sub.count() == kept.filter("doc_id < 1000").count()
    # disjoint salts give (near-)independent draws, same salt identical
    again = set(r["doc_id"] for r in ids.filter(sample_keep("doc_id", 0.25)).collect())
    assert again == set(r["doc_id"] for r in kept.collect())
    with pytest.raises(ValueError):
        sample_keep("doc_id", 1.5)


# ------------------------------------------------------------------- packing

def test_pack_sequences_layout(spark):
    from fabstir_vectordb_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [
            (1, "a " * 60),     # 60 tokens (trailing space trimmed)
            (2, "b " * 100),    # crosses the first boundary
            (3, ""),            # empty text still tokenizes to ['']
            (4, "d " * 300),    # spans 3+ windows on its own
        ],
        "doc_id long, text string",
    )
    out = pack_sequences(docs, 128, id_col="doc_id").collect()
    rows = sorted((r["id"], r["bin_id"], r["start_tok"], r["tokens_in_bin"]) for r in out)
    # doc1: tokens 0..59; doc2: 60..159 (spans bins 0,1); doc3: 1 token at
    # 160; doc4: 161..460 (spans bins 1,2,3)
    assert rows == [
        (1, 0, 0, 60),
        (2, 0, 60, 68),
        (2, 1, 60, 32),
        (3, 1, 160, 1),
        (4, 1, 161, 95),
        (4, 2, 161, 128),
        (4, 3, 161, 77),
    ]
    # every bin except the last is exactly full
    from collections import defaultdict

    fill = defaultdict(int)
    for _, b, _, t in rows:
        fill[b] += t
    bins = sorted(fill)
    assert all(fill[b] == 128 for b in bins[:-1])
    assert fill[bins[-1]] <= 128


def test_pack_sequences_deterministic_across_partitioning(spark):
    from fabstir_vectordb_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, "tok " * (i % 37 + 1)) for i in range(200)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, pack_sequences(docs, 64).collect()))
    b = sorted(map(tuple, pack_sequences(docs.repartition(7), 64, range_partitions=3).collect()))
    assert a == b


def test_pack_sequences_precomputed_counts(spark):
    from fabstir_vectordb_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 0)], "doc_id long, n long"
    )
    out = sorted(
        map(tuple, pack_sequences(docs, 16, n_tokens_col="n").collect())
    )
    assert out == [(1, 0, 0, 10), (2, 0, 10, 6), (2, 1, 10, 14)]


def test_pack_sequences_rejects_bad_context(spark):
    import pytest as _pt

    from fabstir_vectordb_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pt.raises(ValueError):
        pack_sequences(docs, 0)


def test_cap_per_group_basic(spark):
    from fabstir_vectordb_spark.operators.sampling import cap_per_group

    rows = [(i, f"src{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = cap_per_group(df, cap=4).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    for src, grp in by_src.items():
        assert len(grp) == 10                       # all rows emitted
        assert sum(r["grp_kept"] for r in grp) == 4  # exactly cap kept
        ranks = sorted(r["grp_rank"] for r in grp)
        assert ranks == list(range(1, 11))           # dense 1..n ranks
        kept_ranks = {r["grp_rank"] for r in grp if r["grp_kept"]}
        assert kept_ranks == {1, 2, 3, 4}


def test_cap_per_group_monotone_under_growth(spark):
    """Adding documents never rotates the kept set: survivors of the
    bigger corpus restricted to old ids are a subset of old survivors."""
    from fabstir_vectordb_spark.operators.sampling import cap_per_group

    small = spark.createDataFrame(
        [(i, "s") for i in range(20)], "doc_id long, source string"
    )
    big = spark.createDataFrame(
        [(i, "s") for i in range(40)], "doc_id long, source string"
    )
    kept_small = {
        r["doc_id"] for r in cap_per_group(small, 5).collect() if r["grp_kept"]
    }
    kept_big_old = {
        r["doc_id"]
        for r in cap_per_group(big, 5).collect()
        if r["grp_kept"] and r["doc_id"] < 20
    }
    assert kept_big_old <= kept_small


def test_cap_per_group_small_groups_all_kept(spark):
    from fabstir_vectordb_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string"
    )
    out = cap_per_group(df, cap=10).collect()
    assert all(r["grp_kept"] for r in out)


def test_cap_per_group_property(spark):
    """For arbitrary (id, group) multisets: ranks dense 1..n per group,
    kept == min(cap, group size), and the kept set is the lexicographic
    min under the (md5 bucket, id) order — checked against a pure-Python
    replay of the same hash."""
    import hashlib

    rows = [(i, f"g{i % 7}") for i in range(83)] + [(1000 + i, "g0") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    from fabstir_vectordb_spark.operators.sampling import cap_per_group

    got = cap_per_group(df, cap=3).collect()

    def bucket(i):
        h = hashlib.md5(f"{i}|cap".encode()).hexdigest()
        return int(h[:8], 16)

    expect = {}
    by_g = {}
    for i, g in rows:
        by_g.setdefault(g, []).append(i)
    for g, ids in by_g.items():
        order = sorted(ids, key=lambda i: (bucket(i), i))
        for rank, i in enumerate(order, 1):
            expect[i] = (rank, rank <= 3)
    for r in got:
        assert (r["grp_rank"], r["grp_kept"]) == expect[r["doc_id"]]


def test_mix_by_source_budgets(spark):
    from fabstir_vectordb_spark.operators.sampling import mix_by_source

    # src0: 1000 docs x 10 tokens = 10k tokens; src1: 100 x 10 = 1k
    rows = [(i, " ".join(["t"] * 10), "src0") for i in range(1000)]
    rows += [(10_000 + i, " ".join(["t"] * 10), "src1") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = mix_by_source(
        docs, {"src0": 0.5, "src1": 0.5}, total_tokens=2000
    ).cache()
    fr = {r["source"]: r["mix_frac"] for r in
          out.select("source", "mix_frac").distinct().collect()}
    # src0 budget 1000 tokens over 10k held -> 0.1; src1 budget 1000 over
    # 1k held -> capped at 1.0 (downsample only)
    assert fr == {"src0": 0.1, "src1": 1.0}
    kept = {r["source"]: r["c"] for r in
            out.filter("mix_kept").groupBy("source").agg(F.count("*").alias("c")).collect()}
    assert kept["src1"] == 100                 # whole small source kept
    assert 60 <= kept["src0"] <= 140           # ~10% of 1000, hash-binomial
    # deterministic: same keeps on rerun
    again = {r["doc_id"] for r in
             mix_by_source(docs, {"src0": 0.5, "src1": 0.5}, 2000)
             .filter("mix_kept").select("doc_id").collect()}
    assert again == {r["doc_id"] for r in out.filter("mix_kept").select("doc_id").collect()}


def test_mix_by_source_unlisted_source_dropped(spark):
    from fabstir_vectordb_spark.operators.sampling import mix_by_source

    docs = spark.createDataFrame(
        [(0, "a b c", "known"), (1, "d e f", "unknown")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: (r["mix_frac"], r["mix_kept"]) for r in
           mix_by_source(docs, {"known": 1.0}, total_tokens=100).collect()}
    assert out["known"] == (1.0, True)
    assert out["unknown"][0] == 0.0 and not out["unknown"][1]


def test_mix_by_source_rejects_bad_params(spark):
    import pytest as _pt
    from fabstir_vectordb_spark.operators.sampling import mix_by_source

    docs = spark.createDataFrame([(0, "x", "s")], "doc_id long, text string, source string")
    with _pt.raises(ValueError):
        mix_by_source(docs, {"s": 1.0}, total_tokens=0)
    with _pt.raises(ValueError):
        mix_by_source(docs, {"s": -0.1}, total_tokens=10)


def test_mix_by_source_null_group_kept_with_zero_frac(spark):
    from fabstir_vectordb_spark.operators.sampling import mix_by_source

    docs = spark.createDataFrame(
        [(0, "a b c", "s"), (1, "d e f", None)],
        "doc_id long, text string, source string",
    )
    rows = {r["doc_id"]: r for r in
            mix_by_source(docs, {"s": 1.0}, total_tokens=100).collect()}
    assert set(rows) == {0, 1}              # null-source row NOT dropped
    assert rows[1]["mix_frac"] == 0.0 and not rows[1]["mix_kept"]
    assert rows[0]["mix_kept"]


def test_epoch_shuffle_key(spark):
    """Deterministic per-epoch dataloader shuffle: same epoch -> same
    order, different epochs -> different orders, all pure functions of
    (bin_id, epoch)."""
    import pytest
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.operators.sampling import epoch_shuffle_key

    bins = spark.range(200).select(F.col("id").alias("bin_id"))

    def order(epoch):
        return [
            r["bin_id"]
            for r in bins.select(
                "bin_id", epoch_shuffle_key("bin_id", epoch=epoch).alias("k")
            ).orderBy("k", "bin_id").collect()
        ]

    e0a, e0b, e1 = order(0), order(0), order(1)
    assert e0a == e0b                      # reproducible within an epoch
    assert e0a != e1                       # epochs permute differently
    assert sorted(e0a) == sorted(e1) == list(range(200))  # permutations
    assert e0a != list(range(200))         # actually shuffled
    with pytest.raises(ValueError):
        epoch_shuffle_key("bin_id", epoch=-1)


def test_group_split_no_leakage(spark):
    """The leakage contract: splitting on the canonical GROUP id keeps
    every near-dup group inside one split — members never straddle
    train/test — while splitting on the raw doc id does (the failure
    mode the docstring warns about, demonstrated on the same graph)."""
    from fabstir_vectordb_spark.operators.dedup import canonicalize_pairs
    from fabstir_vectordb_spark.operators.sampling import assign_split

    # 60 docs; docs 3i/3i+1/3i+2 form a near-dup chain per group i
    nodes = spark.range(60).select(F.col("id").cast("long").alias("id"))
    pairs = spark.createDataFrame(
        [(3 * i, 3 * i + 1) for i in range(20)]
        + [(3 * i + 1, 3 * i + 2) for i in range(20)],
        "a_id long, b_id long",
    )
    canon = canonicalize_pairs(nodes, pairs)
    split_on_group = assign_split(canon, id_col="canonical_id")
    # every group maps to exactly one split
    per_group = split_on_group.groupBy("canonical_id").agg(
        F.count_distinct("split").alias("k")
    )
    assert per_group.filter(F.col("k") > 1).count() == 0
    # and the raw-id split DOES leak on this fixture (sanity that the
    # contract is non-vacuous)
    leaky = assign_split(canon, id_col="id")
    leaked = leaky.groupBy("canonical_id").agg(
        F.count_distinct("split").alias("k")
    )
    assert leaked.filter(F.col("k") > 1).count() > 0


def test_exemplar_partials_merge_equals_cap_per_group(spark, documents):
    """The bottom-k merge identity end-to-end: chunked exemplar
    partials merged == cap_per_group over the full frame, rows AND
    ranks exactly; a second-level merge (merge of merges) changes
    nothing; mixed-k merges fail loudly."""
    from fabstir_vectordb_spark.operators.sampling import (
        cap_per_group, exemplar_partials, exemplars_from_summary,
        merge_exemplars,
    )

    docs = documents.select("doc_id", "source")
    want = {
        (r["source"], r["doc_id"], r["grp_rank"])
        for r in cap_per_group(docs, 7).filter("grp_kept").collect()
    }
    ch = docs.withColumn("__c", F.abs(F.xxhash64("doc_id")) % 3)
    parts = [
        exemplar_partials(
            ch.filter(F.col("__c") == i).drop("__c"), "source", 7
        )
        for i in range(3)
    ]
    merged = merge_exemplars(*parts)
    got = {
        (r["source"], r["id"], r["rank"])
        for r in exemplars_from_summary(merged).collect()
    }
    assert got == want
    # merge of merges == merge (associativity in practice)
    m2 = merge_exemplars(merge_exemplars(parts[0], parts[1]), parts[2])
    got2 = {
        (r["source"], r["id"], r["rank"])
        for r in exemplars_from_summary(m2).collect()
    }
    assert got2 == want
    # self-describing k: mixed-k merge fails on the column name
    import pytest as _pt

    other = exemplar_partials(docs, "source", 5)
    with _pt.raises(ValueError, match="exactly one __ex_k"):
        merge_exemplars(parts[0], other)
    with _pt.raises(ValueError, match="k must be"):
        exemplar_partials(docs, "source", 0)
    with _pt.raises(ValueError, match="lacks an __ex_k"):
        exemplars_from_summary(docs)
