"""Text-analysis function tests."""

import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.functions import text as X


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        (0, "the cat and the dog sat of to is in it a"),
        (1, "el la de que y en un los"),
        (2, "der die und das ist nicht"),
        (3, "le la et les des est"),
        (4, "你好 世界"),
        (5, "hello world 12345 !!!"),
        (6, ""),
        (7, "one"),
    ]
    return spark.createDataFrame(rows, "id int, text string")


def test_lang_id(df):
    out = {r["id"]: r["lang"] for r in df.select("id", X.lang_id("text").alias("lang")).collect()}
    assert out[0] == "en"
    assert out[1] == "es"
    assert out[2] == "de"
    assert out[3] == "fr"
    assert out[4] == "zh"
    assert out[5] == "en"


def test_token_counts(df):
    out = {r["id"]: (r["n"], r["u"]) for r in df.select(
        "id", X.token_count("text").alias("n"), X.unique_token_count_from(X.whitespace_tokens("text")).alias("u")
    ).collect()}
    assert out[0] == (12, 11)  # 'the' twice
    assert out[7] == (1, 1)


def test_ratios_and_quality(df):
    rows = {r["id"]: r for r in df.select(
        "id",
        X.digit_ratio("text").alias("digit"),
        X.punct_ratio("text").alias("punct"),
        X.stopword_ratio("text").alias("stop"),
        X.quality_score("text").alias("q"),
    ).collect()}
    assert rows[5]["digit"] == pytest.approx(5 / 21)
    assert rows[5]["punct"] == pytest.approx(3 / 21)
    assert rows[0]["stop"] == pytest.approx(9 / 12)
    assert rows[6]["q"] >= 0.0
    for r in rows.values():
        assert 0.0 <= r["q"] <= 1.0


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("different",)], "text string"
    )
    fps = [r["f"] for r in df.select(X.fingerprint("text").alias("f")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",), ("",)], "text string")
    out = [r["s"] for r in df.select(X.word_shingles("text", 3).alias("s")).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == []  # shorter than n => empty, not a descending sequence
    assert out[2] == []


def test_repetition_ratio(spark):
    rows = [
        (0, "a b c a b c a b c"),      # 9 toks: 3 distinct -> rep1 = 1-3/9
        (1, "all words here unique"),  # no repeats at all
        (2, "x y"),                    # < 3 tokens: trigram ratio = 0
        (3, "w w w w"),                # 1 distinct token, 1 distinct trigram of 2
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    toks = df.select("id", X.whitespace_tokens("text").alias("t"))
    out = {
        r["id"]: (r["r1"], r["r3"])
        for r in toks.select(
            "id",
            X.repetition_ratio_from("t", 1).alias("r1"),
            X.repetition_ratio_from("t", 3).alias("r3"),
        ).collect()
    }
    assert out[0] == (round(1 - 3 / 9, 6), round(1 - 3 / 7, 6))
    assert out[1] == (0.0, 0.0)
    assert out[2] == (0.0, 0.0)
    assert out[3] == (0.75, 0.5)


def test_pii_redaction(spark):
    rows = [
        (0, "reach me at a.b@test.org or b_c@x.co thanks"),
        (1, "see https://x.example/path?q=1 and http://y.io"),
        (2, "call +1 (415) 555-0100 now"),
        (3, "clean text with a short number 42"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            X.pii_counts("text", "email").alias("ne"),
            X.pii_counts("text", "url").alias("nu"),
            X.pii_counts("text", "digits").alias("nn"),
            X.redact_pii("text").alias("red"),
        ).collect()
    }
    assert out[0]["ne"] == 2 and out[0]["red"] == "reach me at <EMAIL> or <EMAIL> thanks"
    assert out[1]["nu"] == 2 and out[1]["red"] == "see <URL> and <URL>"
    assert out[2]["nn"] == 1 and out[2]["red"] == "call +<NUMBER> now"
    assert out[3]["red"] == rows[3][1]  # short digits untouched


def test_url_domains(spark):
    from fabstir_vectordb_spark.functions.text import url_domains

    df = spark.createDataFrame(
        [
            (0, "see https://Ex.COM/a?b=1 and http://sub.b.org/x plus https://ex.com/other"),
            (1, "no urls here"),
            (2, "ftp://not.matched and https://only-this.net"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["d"] for r in df.select("doc_id", url_domains("text").alias("d")).collect()}
    assert got[0] == ["ex.com", "sub.b.org"]      # deduped, sorted, lowered
    assert got[1] == []
    assert got[2] == ["only-this.net"]


def test_strip_html(spark):
    from fabstir_vectordb_spark.functions.text import strip_html

    cases = [
        ("<html><body><p class='x'>Hello <b>world</b></p></body></html>",
         "Hello world"),
        ("<script>var x = 1 < 2;</script>keep<style>p{color:red}</style>me",
         "keep me"),
        ("<!-- comment -->text &amp; more &lt;tag&gt; &quot;q&quot; &#39;a&#39;&nbsp;end",
         'text & more <tag> "q" \'a\' end'),
        ("&amp;lt;", "&lt;"),   # double-escape resolves ONE level
        ("plain text stays", "plain text stays"),
        ("", ""),
        # block tags keep line/paragraph STRUCTURE (newlines), so the
        # downstream line/paragraph granularity stages stay meaningful
        ("<p>para one</p><p>para two</p><div>three</div>",
         "para one\npara two\nthree"),
        ("line a<br>line b", "line a\nline b"),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i long, t string"
    )
    got = {r["i"]: r["out"] for r in df.select(
        "i", strip_html("t").alias("out")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_split_sentences(spark):
    from fabstir_vectordb_spark.functions.text import (
        sentence_count,
        split_sentences,
    )

    cases = [
        ("One. Two! Three? Four", ["One.", "Two!", "Three?", "Four"]),
        ("Wait... really?! yes", ["Wait...", "really?!", "yes"]),
        ("line one\nline two", ["line one", "line two"]),
        ("no terminal punctuation", ["no terminal punctuation"]),
        ("trailing. ", ["trailing."]),
        ("", []),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i long, t string"
    )
    got = {r["i"]: (r["s"], r["n"]) for r in df.select(
        "i", split_sentences("t").alias("s"), sentence_count("t").alias("n")
    ).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i][0] == want, (i, got[i][0], want)
        assert got[i][1] == len(want)


# ------------------------------------------------ unicode normalization


def test_strip_control_chars(spark):
    from fabstir_vectordb_spark.functions.text import strip_control_chars

    df = spark.createDataFrame(
        [(0, "ok\x00te\x1fxt\twith\ntab"), (1, None)], "id long, text string"
    )
    got = df.select(strip_control_chars("text").alias("t")).collect()
    assert got[0]["t"] == "oktext\twith\ntab"  # tab/newline survive
    assert got[1]["t"] is None


def test_normalize_unicode_nfc(spark):
    import hashlib
    import unicodedata

    from fabstir_vectordb_spark.functions.text import normalize_unicode

    decomposed = "café Å ﬁ"  # e+combining, A+ring, fi-ligature
    df = spark.createDataFrame(
        [(0, decomposed), (1, "plain ascii"), (2, None)], "id long, text string"
    )
    rows = {r["id"]: r["text"] for r in normalize_unicode(df).collect()}
    assert rows[0] == unicodedata.normalize("NFC", decomposed)
    assert rows[0] != decomposed          # composition actually happened
    assert "ﬁ" in rows[0]            # NFC preserves the ligature (NFKC wouldn't)
    assert rows[1] == "plain ascii"
    assert rows[2] is None

    # cross-engine contract: byte-identical to DuckDB's nfc_normalize
    import duckdb

    d = duckdb.sql(
        "SELECT md5(nfc_normalize('cafe' || chr(769) || ' ' || chr(65) "
        "|| chr(778) || ' ' || chr(64257)))"
    ).fetchone()[0]
    assert hashlib.md5(rows[0].encode()).hexdigest() == d

    # out_col variant keeps the original column
    both = normalize_unicode(df, out_col="norm").filter("id = 0").first()
    assert both["text"] == decomposed and both["norm"] == rows[0]

    import pytest

    with pytest.raises(ValueError):
        normalize_unicode(df, form="NFX")


def test_gopher_rules_planted_pathologies(spark):
    """Each Gopher rule (Rae et al. 2021 A1.1) fires on the pathology it
    exists to catch and passes healthy prose."""
    from fabstir_vectordb_spark.functions import text as X

    healthy = (
        "the quick brown fox jumps over that lazy dog and it runs off "
        "with a bone to have some fun of its own be sure " * 3
    )
    rows = [
        (0, healthy),
        (1, "short text"),                                  # rule 1: too few words
        (2, " ".join(["####"] * 60)),                       # rules 3/6/7: symbols, no alpha
        (3, "\n".join(["• item " + str(i) for i in range(10)])),   # rule 4: bullets
        (4, "\n".join([f"teaser {i}..." for i in range(10)])),     # rule 5: ellipses
        (5, " ".join(["supercalifragilistic"] * 60)),       # rule 2: mean len > 10
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    g = X.gopher_rules("text")
    got = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", g.alias("g")).collect()
    }
    assert got[0]["pass"] is True
    assert got[1]["ok_words"] is False
    assert got[2]["ok_symbol"] is False
    assert got[2]["ok_alpha"] is False
    assert got[2]["ok_required"] is False
    assert got[3]["ok_bullet"] is False
    assert got[4]["ok_ellipsis"] is False
    assert got[5]["ok_mean_word_len"] is False
    for k in (1, 2, 3, 4, 5):
        assert got[k]["pass"] is False


def test_c4_line_filter_and_page_flags(spark):
    """C4 §2.2: keep lines ending in terminal punctuation with >= 3
    words and no 'javascript'; flag lorem-ipsum and curly-brace pages."""
    from fabstir_vectordb_spark.functions import text as X

    text = (
        "This line stays right here.\n"
        "too short.\n"                       # 2 words
        'He said "stop right there."\n'      # ends with quote -> kept
        "Enable JavaScript to continue please.\n"
        "no terminal punctuation here\n"
        "Another good line stays too!"
    )
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    row = df.select(
        X.c4_clean_lines("text").alias("c"),
        X.c4_page_flags("text").alias("f"),
    ).first()
    kept = row["c"]["clean_text"].split("\n")
    assert kept == [
        "This line stays right here.",
        'He said "stop right there."',
        "Another good line stays too!",
    ]
    assert row["c"]["kept_lines"] == 3 and row["c"]["removed_lines"] == 3
    assert row["f"]["has_lorem_ipsum"] is False
    assert row["f"]["has_curly_brace"] is False

    flagged = spark.createDataFrame(
        [(0, "Some Lorem IPSUM text."), (1, "if (x) { y(); }")],
        "doc_id long, text string",
    ).select("doc_id", X.c4_page_flags("text").alias("f")).collect()
    got = {r["doc_id"]: (r["f"]["has_lorem_ipsum"], r["f"]["has_curly_brace"])
           for r in flagged}
    assert got == {0: (True, False), 1: (False, True)}
