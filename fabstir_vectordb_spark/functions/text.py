"""Text-analysis functions for large-scale training-data pipelines.

Beyond the reference's own surface (BASELINE.json north star): language
identification, quality scoring, token counting, and document
fingerprinting — all as pure column expressions so a 100 TB corpus scan
stays inside whole-stage codegen with zero Python in the row path.

Every function is deterministic and replicable in ANSI SQL (the DuckDB
oracles in __spark_entry__.py recompute the same formulas).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Deliberately small + frozen: they are part of the deterministic contract.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "it", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans"],
}

WORD_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def whitespace_tokens(text: Column | str) -> Column:
    """Whitespace tokenization (the cheap token counter)."""
    return F.split(F.trim(_c(text)), r"\s+")


def word_tokens(text: Column | str) -> Column:
    """BPE-ish tokenization: alnum runs OR single punctuation marks."""
    return F.regexp_extract_all(_c(text), F.lit(WORD_PATTERN), 0)


def token_count(text: Column | str) -> Column:
    return F.size(whitespace_tokens(text))


# -- *_from variants: operate on an already-materialized token array.
# In a multi-stat projection the plain forms re-run the regex split once
# per stat (and once per lambda element for the HOF-based stats);
# materializing tokens behind an exchange makes the scan split-once.

def token_count_from(tokens: Column | str) -> Column:
    return F.size(_c(tokens))


def unique_token_count_from(tokens: Column | str) -> Column:
    return F.size(F.array_distinct(_c(tokens)))


def avg_token_len_from(tokens: Column | str) -> Column:
    toks = _c(tokens)
    n = F.size(toks)
    total = F.aggregate(
        toks, F.lit(0.0), lambda acc, tk: acc + F.length(tk).cast("double")
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(total / n.cast("double"))


def stopword_ratio_from(tokens: Column | str, lang: str = "en") -> Column:
    toks = _c(tokens)
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        _stopword_hits(toks, lang).cast("double") / n.cast("double")
    )


def _stopword_hits(tokens: Column, lang: str) -> Column:
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens, lambda t: F.array_contains(words, F.lower(t))))


def lang_id(text: Column | str, tokens: Column | str | None = None) -> Column:
    """Heuristic language ID: CJK/Cyrillic/Arabic script detection, then
    stopword-vote among Latin languages, default 'en'.

    This is the engine's deterministic built-in (a real pipeline would
    plug a model here via mapInPandas); the point is the *operator*: a
    full-corpus scan classifier with no shuffle.

    Pass ``tokens`` (a materialized token-array column behind an
    exchange) in hot paths: each of the 4 language votes is a HOF lambda
    over the tokens, and referencing a token *expression* re-runs the
    regex split inside every one (PERFORMANCE.md pathology 1).
    """
    t = _c(text)
    toks = _c(tokens) if tokens is not None else whitespace_tokens(t)
    votes = {lang: _stopword_hits(toks, lang) for lang in STOPWORDS}
    best_latin = F.when(
        (votes["es"] > votes["en"])
        & (votes["es"] >= votes["de"])
        & (votes["es"] >= votes["fr"]),
        F.lit("es"),
    ).when(
        (votes["de"] > votes["en"]) & (votes["de"] >= votes["fr"]),
        F.lit("de"),
    ).when(
        votes["fr"] > votes["en"], F.lit("fr")
    ).otherwise(F.lit("en"))
    return (
        F.when(t.rlike(r"[一-鿿]"), F.lit("zh"))
        .when(t.rlike(r"[Ѐ-ӿ]"), F.lit("ru"))
        .when(t.rlike(r"[؀-ۿ]"), F.lit("ar"))
        .otherwise(best_latin)
    )


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    toks = whitespace_tokens(text)
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        _stopword_hits(toks, lang).cast("double") / n.cast("double")
    )


def digit_ratio(text: Column | str) -> Column:
    t = _c(text)
    n = F.length(t)
    digits = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(digits.cast("double") / n.cast("double"))


def punct_ratio(text: Column | str) -> Column:
    t = _c(text)
    n = F.length(t)
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n.cast("double"))


def avg_token_len(text: Column | str) -> Column:
    toks = whitespace_tokens(text)
    n = F.size(toks)
    total = F.aggregate(
        toks, F.lit(0.0), lambda acc, tk: acc + F.length(tk).cast("double")
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(total / n.cast("double"))


def quality_score(text: Column | str, tokens: Column | str | None = None) -> Column:
    """Composite quality in [0,1]: length saturation + healthy stopword
    ratio + low digit/punct noise + sane token length.

    score = 0.25*min(1, n_tokens/64)
          + 0.25*min(1, 4*stopword_ratio_en)
          + 0.25*(1 - min(1, 4*digit_ratio))
          + 0.25*(1 - min(1, 4*punct_ratio))

    Pass ``tokens`` (materialized behind an exchange) in hot paths; the
    token-count and stopword terms otherwise each re-split the text.
    """
    if tokens is not None:
        toks_arr = _c(tokens)
        n_toks = F.size(toks_arr).cast("double")
        sw = stopword_ratio_from(toks_arr)
    else:
        n_toks = token_count(text).cast("double")
        sw = stopword_ratio(text)
    return (
        F.lit(0.25) * F.least(F.lit(1.0), n_toks / 64.0)
        + F.lit(0.25) * F.least(F.lit(1.0), sw * 4.0)
        + F.lit(0.25) * (F.lit(1.0) - F.least(F.lit(1.0), digit_ratio(text) * 4.0))
        + F.lit(0.25) * (F.lit(1.0) - F.least(F.lit(1.0), punct_ratio(text) * 4.0))
    )


def normalized_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse
    whitespace; NULL folds to '' — null text IS no content, and a NULL
    here would poison every fingerprint equality downstream (NULL
    never equals NULL in a join, so null-text docs would silently
    escape every dedup pass and ledger check forever)."""
    return F.trim(
        F.regexp_replace(F.lower(F.coalesce(_c(text), F.lit(""))), r"\s+", " ")
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint (hex md5 of normalized text)."""
    return F.md5(normalized_text(text))


def repetition_ratio_from(tokens: Column | str, n: int = 3) -> Column:
    """Intra-document repetition: fraction of word n-gram occurrences
    that are repeats of an earlier n-gram in the SAME doc — the standard
    boilerplate/looping-text quality signal in corpus curation
    (1 - distinct/total over the n-gram multiset; docs with < n tokens
    score 0.0).

    Takes an ALREADY-MATERIALIZED token array (same hot-path discipline
    as word_shingles_from: materialize the split behind an exchange or
    the lambda re-evaluates it per element)."""
    toks = _c(tokens)
    size = F.size(toks)
    total = size - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), total),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(
        size >= n,
        F.round(1.0 - F.size(F.array_distinct(grams)) / total, 6) + F.lit(0.0),
    ).otherwise(F.lit(0.0))


def word_shingles_from(tokens: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams from an ALREADY-MATERIALIZED token array.

    Guarded for short documents (fewer than n tokens => empty set);
    note sequence(1, 0) would count DOWN in Spark, hence the when().

    Use this (with the token split in a separate projection behind an
    exchange) in hot paths: referencing a token *expression* here makes
    Spark re-evaluate the regex split inside every element_at of the
    lambda — O(tokens * n) splits per row instead of one.
    """
    toks = _c(tokens)
    size = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), size - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.when(size >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams — the dedup shingle set (single-expression
    form; see word_shingles_from for the hot-path variant)."""
    return word_shingles_from(whitespace_tokens(text), n)


# ------------------------------------------------------------- PII redaction

# Deliberately simple patterns that parse identically under Java regex
# (Spark) and RE2 (DuckDB): no backreferences, no lookaround.  Redaction
# for training corpora is recall-oriented pattern scrubbing, not perfect
# PII detection — these catch the overwhelmingly common shapes (emails,
# URLs, long digit runs like phone/card numbers).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "url": (r"https?://[^\s]+", "<URL>"),
    "digits": (r"[0-9][0-9 ()+.-]{7,}[0-9]", "<NUMBER>"),
}


def pii_counts(text: Column | str, kind: str) -> Column:
    """How many matches of one PII pattern a document contains."""
    pattern, _ = PII_PATTERNS[kind]
    return F.size(F.regexp_extract_all(_c(text), F.lit(pattern), F.lit(0)))


_URL_DOMAIN_PATTERN = r"https?://(?:[^/@\s]+@)?([A-Za-z0-9.-]+)"


def url_domains(text: Column | str) -> Column:
    """Sorted distinct hostnames of every URL in a document
    (``array<string>``) — the input to domain-level curation (per-domain
    capping via cap_per_group, blocklist filtering) when the corpus has
    no source column.  Lowercased; an optional userinfo prefix
    (``user:pw@``) is skipped by a non-capturing group, ports/paths end
    the capture, and a trailing FQDN dot (``ex.com.``) is normalized
    away so both spellings bin to one domain.  The pattern parses
    identically under Java regex and RE2, so the extraction is
    SQL-replayable like the PII chain."""
    hosts = F.regexp_extract_all(_c(text), F.lit(_URL_DOMAIN_PATTERN), F.lit(1))
    norm = F.transform(
        hosts, lambda h: F.regexp_replace(F.lower(h), r"[.]+$", "")
    )
    return F.array_sort(F.array_distinct(norm))


def redact_pii(text: Column | str, kinds: list[str] | None = None) -> Column:
    """Replace PII matches with typed placeholders, in PII_PATTERNS
    order (email before digits so a phone inside an email never
    half-redacts)."""
    out = _c(text)
    for kind in kinds or list(PII_PATTERNS):
        pattern, token = PII_PATTERNS[kind]
        out = F.regexp_replace(out, pattern, token)
    return out


def split_sentences(text: Column | str) -> Column:
    """Sentence segmentation as a pure column expression: terminal
    punctuation runs ([.!?]+) followed by whitespace end a sentence;
    existing newlines also separate.  Implemented as a capture-group
    replacement (supported by BOTH Java regex and RE2 — pattern-side
    lookbehind is not) followed by one split, so the segmentation
    replays in SQL.  Heuristic by design: abbreviations ("Dr. Smith")
    over-split — acceptable for stats/chunk boundaries, not a
    linguistic segmenter.  Empty segments are dropped."""
    # the replacement needs a REAL newline char: Java replacement-string
    # backslash escapes would turn r"\n" into a literal 'n'
    marked = F.regexp_replace(_c(text), r"([.!?]+)\s+", "$1\n")
    return F.filter(
        F.split(marked, r"\n"), lambda s: F.length(F.trim(s)) > 0
    )


def sentence_count(text: Column | str) -> Column:
    return F.size(split_sentences(text))


# decode order matters: the five specific entities first, &amp; LAST —
# so double-escaped "&amp;lt;" correctly yields the literal text "&lt;"
_HTML_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
]


# block-level elements become NEWLINES (not spaces), so the extracted
# text keeps line/paragraph structure for the downstream granularity
# stages (remove_boilerplate_lines splits on \n, dedup_paragraphs
# fingerprints per paragraph) — collapsing everything to one line would
# silently neuter both
_HTML_BLOCK_TAG = (
    r"(?is)</?(?:html|head|body|p|div|br|li|ul|ol|h[1-6]|tr|table|"
    r"blockquote|pre|section|article|header|footer|form|figure)\b[^>]*>"
)


def strip_html(text: Column | str) -> Column:
    """Plain text from HTML markup — the ingest-side extraction pass a
    web-scraped corpus needs before any text stage runs.  Regex-only
    and deliberately backreference-free, so the identical chain parses
    under Java regex (Spark) and RE2 (DuckDB and friends) and the
    output is oracle-replayable: drop <script>/<style> blocks WITH
    their contents, drop comments, turn BLOCK-level tags into newlines
    (preserving the line/paragraph structure remove_boilerplate_lines
    and dedup_paragraphs operate on) and inline tags into spaces,
    decode the six basic entities (&amp; last, so double-escapes
    resolve one level), collapse spaces within lines and blank lines
    between them.  NOT an HTML5 parser — malformed nesting degrades to
    plain tag-stripping."""
    out = _c(text)
    out = F.regexp_replace(out, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, _HTML_BLOCK_TAG, "\n")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = F.regexp_replace(out, r"[ \t\r\f]+", " ")   # spaces within lines
    out = F.regexp_replace(out, r" ?\n ?", "\n")      # spaces around breaks
    out = F.regexp_replace(out, r"\n+", "\n")         # blank lines
    return F.regexp_replace(out, r"^\s+|\s+$", "")


def hashed_embedding(tokens: Column | str, dim: int = 64, salt: str = "emb") -> Column:
    """Feature-hashed bag-of-words embedding — the hashing trick
    (Weinberger et al., ICML 2009): each token adds ±1 to one of
    ``dim`` buckets (bucket and sign derived from md5(token|salt)),
    then the vector is L2-normalized (all-zero stays zero).  Model-free,
    deterministic, and ENGINE-REPRODUCIBLE — the md5 arithmetic replays
    exactly in any SQL engine, so a documents -> vectors -> index
    pipeline built on it is oracle-checkable end to end.  Returns
    array<double> over an already-materialized token array.

    Cost note: this expression form re-walks the token array per output
    component (O(dim x tokens) per row, and Catalyst may re-evaluate the
    raw vector for the normalization) — right for moderate dims and for
    certification; for large dim x corpus, materialize the per-token
    (bucket, sign) pairs behind an exchange and aggregate, or drop to a
    numpy bincount kernel with the same md5 formulas."""
    t = _c(tokens)
    d = int(dim)
    if d <= 0:
        raise ValueError("dim must be positive")

    def _h(tk: Column, kind: str) -> Column:
        h = F.md5(F.concat_ws("|", tk, F.lit(salt), F.lit(kind)))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")

    def _component(i: Column) -> Column:
        return F.aggregate(
            t,
            F.lit(0.0),
            lambda acc, tk: acc
            + F.when(
                F.pmod(_h(tk, "b"), F.lit(d)) == i.cast("long"),
                F.when(F.pmod(_h(tk, "s"), F.lit(2)) == 0, F.lit(1.0)).otherwise(
                    F.lit(-1.0)
                ),
            ).otherwise(F.lit(0.0)),
        )

    raw = F.transform(F.sequence(F.lit(0), F.lit(d - 1)), _component)
    nrm = F.sqrt(F.aggregate(raw, F.lit(0.0), lambda a, x: a + x * x))
    return F.when(nrm == 0.0, raw).otherwise(F.transform(raw, lambda x: x / nrm))


_CONTROL_CHARS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"


def strip_control_chars(text: Column | str) -> Column:
    """Remove C0 control characters except tab/newline/CR (the bytes
    mojibake and binary-contaminated crawls leave in text).  Pure
    column expression; the class pattern is Java-regex == RE2 ==
    POSIX, so the scrub is SQL-auditable like redact_pii."""
    return F.regexp_replace(_c(text), _CONTROL_CHARS, "")


def normalize_unicode(
    df: "DataFrame",
    text_col: str = "text",
    out_col: str | None = None,
    form: str = "NFC",
) -> "DataFrame":
    """Unicode-normalize a text column (default NFC — the canonical
    composition every dedup fingerprint should see: 'e' + COMBINING
    ACUTE and precomposed 'é' are the same text but different bytes,
    so without this the exact-dedup ledger treats them as distinct
    documents).

    Spark has no built-in normalizer, so this is an Arrow-batched
    mapInPandas over stdlib unicodedata — map-only, no shuffle, the
    multimodal-kernel pattern.  DuckDB's nfc_normalize implements the
    same UAX #15 NFC, which is what makes the column oracle-replayable
    (verified byte-identical for combining sequences in tests).
    NULLs pass through as NULL."""
    import unicodedata

    import pandas as pd
    from pyspark.sql import types as T

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    out = out_col or text_col
    fields = [f for f in df.schema.fields if f.name != out]
    schema = T.StructType(fields + [T.StructField(out, T.StringType(), True)])
    names = [f.name for f in schema.fields]

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            norm = pdf[text_col].map(
                lambda s: None if s is None else unicodedata.normalize(form, s)
            )
            yield pdf.drop(columns=[out], errors="ignore").assign(
                **{out: norm}
            )[names]

    return df.mapInPandas(kernel, schema)


# Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Appendix A1.1 —
# the MassiveText heuristic filter set; also the C4/RefinedWeb family's
# shared vocabulary).  Each rule is a pure column expression (HOFs +
# backreference-free regex, Java regex == RE2), so the whole bundle is
# SQL-replayable — certified in the text_quality driver row.
GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def symbol_to_word_ratio(text: Column | str, tokens: Column | str | None = None) -> Column:
    """(# count + ellipsis count) / word count — Gopher rule 3's
    symbol-noise measure.  Ellipses count as '...' runs or the U+2026
    character; counts come from length deltas (no per-char explode)."""
    t = _c(text)
    toks = _c(tokens) if tokens is not None else whitespace_tokens(text)
    n = F.size(toks)
    hashes = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    dots = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    uni = F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit("")))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        (hashes + dots + uni).cast("double") / n.cast("double")
    )


def bullet_line_fraction(text: Column | str) -> Column:
    """Fraction of lines starting with a bullet marker (•, -, or *) —
    Gopher rule 4 measures list-shaped pages."""
    lines = F.split(_c(text), "\n")
    n = F.size(lines)
    hits = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[•\-\*]"))
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / n.cast("double")
    )


def ellipsis_line_fraction(text: Column | str) -> Column:
    """Fraction of lines ending with an ellipsis — Gopher rule 5
    measures truncated/teaser pages."""
    lines = F.split(_c(text), "\n")
    n = F.size(lines)
    hits = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / n.cast("double")
    )


def alpha_word_fraction(text: Column | str, tokens: Column | str | None = None) -> Column:
    """Fraction of words containing at least one alphabetic character —
    Gopher rule 6 catches symbol/number soup."""
    toks = _c(tokens) if tokens is not None else whitespace_tokens(text)
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / n.cast("double")
    )


def required_word_hits(text: Column | str, tokens: Column | str | None = None) -> Column:
    """How many of Gopher's eight required English words appear —
    rule 7's natural-language evidence (>= 2 passes)."""
    toks = _c(tokens) if tokens is not None else whitespace_tokens(text)
    req = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS])
    return F.size(
        F.filter(req, lambda w: F.exists(toks, lambda t: F.lower(t) == w))
    )


def gopher_rules(
    text: Column | str,
    tokens: Column | str | None = None,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_required_hits: int = 2,
) -> Column:
    """The Gopher heuristic bundle as ONE struct column: the seven rule
    measures plus per-rule booleans and the conjunction ``pass``.
    Thresholds default to the paper's; a curation funnel gates on
    ``gopher_rules(text).pass`` or composes individual rules.  Pass
    ``tokens`` (materialized behind an exchange) in hot paths — every
    word-level rule then reads the one array."""
    toks = _c(tokens) if tokens is not None else whitespace_tokens(text)
    n = F.size(toks)
    mean_len = avg_token_len_from(toks)
    sym = symbol_to_word_ratio(text, toks)
    bullet = bullet_line_fraction(text)
    ell = ellipsis_line_fraction(text)
    alpha = alpha_word_fraction(text, toks)
    req = required_word_hits(text, toks)
    ok_words = (n >= min_words) & (n <= max_words)
    ok_mean = (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
    ok_sym = sym <= max_symbol_ratio
    ok_bullet = bullet <= max_bullet_frac
    ok_ell = ell <= max_ellipsis_frac
    ok_alpha = alpha >= min_alpha_frac
    ok_req = req >= min_required_hits
    return F.struct(
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        bullet.alias("bullet_frac"),
        ell.alias("ellipsis_frac"),
        alpha.alias("alpha_frac"),
        req.alias("required_hits"),
        ok_words.alias("ok_words"),
        ok_mean.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol"),
        ok_bullet.alias("ok_bullet"),
        ok_ell.alias("ok_ellipsis"),
        ok_alpha.alias("ok_alpha"),
        ok_req.alias("ok_required"),
        (
            ok_words & ok_mean & ok_sym & ok_bullet & ok_ell & ok_alpha & ok_req
        ).alias("pass"),
    )


# C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning...", §2.2 — the line/page heuristics that built C4
# from Common Crawl).  Same certification discipline as gopher_rules:
# pure column expressions, backreference-free regex (Java == RE2),
# replayed in the pii_redact driver row.  The paper's remaining rules
# map to existing operators: three-sentence-span dedup ==
# operators/dedup.duplicated_spans; page-level sentence minimum ==
# gate on sentence_count; the "bad words" page filter is a caller-
# provided blocklist (no wordlist ships here).


def c4_keep_line(line: Column, min_words: int = 3) -> Column:
    """C4's line-retention predicate: the trimmed line ends in a
    terminal punctuation mark (. ! ? or a closing double quote), holds
    at least ``min_words`` whitespace words, and does not mention
    'javascript' (case-insensitive)."""
    t = F.trim(line)
    return (
        t.rlike('[.!?"]$')
        & (F.size(F.split(t, r"\s+")) >= min_words)
        & ~F.lower(t).contains("javascript")
    )


def c4_clean_lines(text: Column | str, min_words: int = 3) -> Column:
    """Apply the C4 line filter: struct(clean_text, kept_lines,
    removed_lines).  Line order is preserved (filter keeps array
    order); the cleaned text re-joins with newlines."""
    lines = F.split(_c(text), "\n")
    kept = F.filter(lines, lambda l: c4_keep_line(l, min_words))
    return F.struct(
        F.concat_ws("\n", kept).alias("clean_text"),
        F.size(kept).cast("long").alias("kept_lines"),
        (F.size(lines) - F.size(kept)).cast("long").alias("removed_lines"),
    )


def c4_page_flags(text: Column | str) -> Column:
    """C4's page-level drop signals: struct(has_lorem_ipsum,
    has_curly_brace) — pages matching either are discarded wholesale
    (the brace flags source code; lorem ipsum flags template junk)."""
    t = _c(text)
    return F.struct(
        F.lower(t).contains("lorem ipsum").alias("has_lorem_ipsum"),
        t.contains("{").alias("has_curly_brace"),
    )
