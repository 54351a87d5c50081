"""Subword (BPE) tokenizer: deterministic merge learning, greedy
longest-match counting, the distinct-word scale shape, and threading
into the budgeted stages (pack_sequences / mix_by_source)."""

import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators.subword import (
    bpe_word_tokens,
    learn_bpe,
    subword_token_counts,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the theme there then the the"),
        (1, "in inn inner running ring"),
        (2, "aaa aaaa aa a"),
        (3, ""),
        (4, "xyz"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_learn_bpe_classic_example(spark):
    """The textbook BPE dynamics: the most frequent adjacent pair merges
    first, and chained merges yield longer subwords."""
    docs = spark.createDataFrame(
        [(0, "low low low low low lower lower newest newest")],
        "doc_id long, text string",
    )
    merges = learn_bpe(docs, num_merges=4)
    # 'lo' ('l','o' appears in low x5 + lower x2 = 7, the max count;
    # ('o','w') also 7 but ('l','o') < ('o','w') lexicographically)
    assert merges[0] == "lo"
    assert merges[1] == "low"  # chained: ('lo','w') now counts 7
    assert len(merges) == 4
    # determinism: same input -> same merge sequence
    assert learn_bpe(docs, num_merges=4) == merges


def test_greedy_counts():
    vocab = {"the", "th", "in", "ing", "nn"}
    # longest match wins: 'the' consumed whole
    assert bpe_word_tokens("the", vocab, 3) == 1
    # 'theme' -> 'the' + 'm' + 'e'
    assert bpe_word_tokens("theme", vocab, 3) == 3
    # 'running' -> r,u,nn,ing
    assert bpe_word_tokens("running", vocab, 3) == 4
    # no match at all -> one token per char
    assert bpe_word_tokens("xyz", vocab, 3) == 3
    assert bpe_word_tokens("", vocab, 3) == 0


def test_subword_token_counts(spark, corpus):
    vocab = ["the", "th", "in", "ing", "nn", "aa", "aaa"]
    got = {
        r["doc_id"]: r["n_subword"]
        for r in subword_token_counts(corpus, vocab).collect()
    }
    # doc 0: the(1) theme(3: the+m+e) there(3: th+er? no 'er' -> the+r+e=3)
    #        then(2: th+e+n? greedy: 'the'+'n' = 2) the(1) the(1)
    assert got[0] == 1 + 3 + 3 + 2 + 1 + 1
    # doc 1: in(1) inn(2: in+n) inner(3: in+n+e+r=4? greedy at pos0 'in',
    #        then 'n','e','r' -> 4) running(4) ring(2: r+ing)
    assert got[1] == 1 + 2 + 4 + 4 + 2
    # doc 2: aaa(1) aaaa(2: aaa+a) aa(1) a(1)
    assert got[2] == 1 + 2 + 1 + 1
    assert got[3] == 0  # empty doc
    assert got[4] == 3  # xyz: all fallback chars


def test_whitespace_vs_subword_ratio(spark, corpus):
    """The motivating gap: subword counts exceed whitespace counts on
    real-ish text, which is exactly why budgets need them."""
    vocab = ["the", "in", "ing"]
    sub = {
        r["doc_id"]: r["n_subword"]
        for r in subword_token_counts(corpus, vocab).collect()
    }
    ws = {
        r["doc_id"]: r["n"]
        for r in corpus.select(
            "doc_id",
            F.size(F.split(F.trim("text"), r"\s+")).alias("n"),
        ).collect()
    }
    assert sub[0] > ws[0]  # subword expands vs whitespace


def test_learned_vocab_compresses(spark):
    """Counting with the LEARNED vocab must never exceed raw character
    count and must beat the no-vocab (all-fallback) count on the
    training corpus — the compression BPE exists for."""
    docs = spark.createDataFrame(
        [(i, "tokenization tokenizer tokens token " * 3) for i in range(4)],
        "doc_id long, text string",
    )
    merges = learn_bpe(docs, num_merges=30)
    assert "token" in merges  # the shared stem emerges via chained merges
    with_vocab = subword_token_counts(docs, merges).collect()[0]["n_subword"]
    no_vocab = subword_token_counts(docs, []).collect()[0]["n_subword"]
    assert with_vocab < no_vocab


def test_threads_into_pack_and_mix(spark, corpus):
    """subword_token_counts joined onto the docs drives pack_sequences
    and mix_by_source via n_tokens_col — the budget contract switch."""
    from fabstir_vectordb_spark.operators.sampling import (
        mix_by_source,
        pack_sequences,
    )

    vocab = ["the", "in", "ing", "aa"]
    sourced = corpus.withColumn("source", F.lit("src0"))
    docs = sourced.join(subword_token_counts(sourced, vocab), "doc_id")
    packed = pack_sequences(
        docs.filter(F.col("n_subword") > 0), 8,
        id_col="doc_id", n_tokens_col="n_subword",
    )
    total = packed.agg(F.sum("tokens_in_bin")).first()[0]
    want = docs.agg(F.sum("n_subword")).first()[0]
    assert total == want  # packing conserves the subword token mass

    mixed = mix_by_source(
        docs, {"src0": 1.0}, total_tokens=5,
        group_col="source", id_col="doc_id", n_tokens_col="n_subword",
    )
    fr = mixed.select("mix_frac").first()[0]
    assert 0.0 < fr < 1.0  # budget below the subword total -> downsample


def test_plan_shape_no_corpus_kernel(spark, corpus):
    """The greedy kernel (ArrowEvalPython/mapInPandas) must sit over the
    DISTINCT-words subtree, and the corpus side must reach it through a
    broadcast join — never a corpus-wide Python kernel."""
    vocab = ["the", "in"]
    df = subword_token_counts(corpus, vocab)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # exactly one Python stage: the per-distinct-word encoder
    assert plan.count("MapInPandas") == 1


def test_curate_corpus_subword_budgets(spark):
    """subword_vocab switches the funnel's token budgets to subword
    counts: n_tokens in the output is the greedy-match count, and the
    length gate judges it."""
    from fabstir_vectordb_spark.pipelines import curate_corpus

    rows = [
        (0, "the then there thesis theme that these той"),  # expands
        (1, "xy"),                                          # 2 subwords only
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = ["the", "th", "he"]
    out = curate_corpus(
        docs, boilerplate_min_doc_freq=None, lang=None, min_quality=None,
        max_repetition=1.0, token_bounds=(10, 5000), near_dup_threshold=None,
        subword_vocab=vocab, cache_stages=False,
    )
    got = {r["id"]: r["n_tokens"] for r in out.collect()}
    exp = {
        r["doc_id"]: r["n_subword"]
        for r in subword_token_counts(docs, vocab).collect()
    }
    # doc 1 has 2 subword tokens < 10 -> gated out on the SUBWORD budget
    assert 1 not in got
    assert got[0] == exp[0] > 8  # whitespace count is 8; subword exceeds it


def test_learn_bpe_from_word_counts(spark):
    """learn_bpe(word_counts=...) consumes a precomputed (w, cnt) frame
    (e.g. vocab_stats over a postings artifact) and must produce the
    same merges as the docs path — zero corpus scans."""
    docs = spark.createDataFrame(
        [(0, "low low low low low lower lower newest newest")],
        "doc_id long, text string",
    )
    wc = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 2)], "w string, cnt long"
    )
    assert learn_bpe(word_counts=wc, num_merges=4) == learn_bpe(
        docs, num_merges=4
    )
    with pytest.raises(ValueError):
        learn_bpe()

