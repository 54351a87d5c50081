"""Deterministic corpus splitting / sampling for training-data pipelines.

A 100 TB corpus needs train/val/test assignment and downsampling that
are (a) reproducible run-to-run, (b) stable under corpus growth — a
document's assignment must depend only on its id, never on partition
layout, row order, or corpus size — and (c) auditable cross-engine.

Both operators therefore derive a uniform 32-bit bucket from
``md5(id|salt)`` (first 8 hex digits), a pure column expression that any
SQL engine reproduces exactly (DuckDB: ``CAST(concat('0x', substr(
md5(...), 1, 8)) AS BIGINT)``) — no RNG, no seed state, no Spark-specific
hash.  md5 here is a uniformity device, not a security primitive.

The reference has no corpus-splitting surface (it is a vector DB); these
belong to the LLM-pipeline extension axis, certified by the
``corpus_filter`` driver query's split/sample columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BUCKETS = float(2**32)


def _bucket(id_col: Column, salt: str) -> Column:
    """Uniform [0, 2^32) bucket from md5(id|salt) — deterministic and
    engine-independent (conv is exact: 8 hex digits < 2^63)."""
    h = F.md5(F.concat_ws("|", id_col.cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def assign_split(
    df: DataFrame,
    weights: list[tuple[str, float]] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Add a train/val/test-style assignment column.

    ``weights``: ordered (name, weight) pairs; weights are normalized.
    Assignment: bucket/2^32 falls into the cumulative-weight interval.
    Growth-stable: adding documents never reassigns existing ones.

    LEAKAGE-SAFE near-dup splits: hashing the raw document id sends
    near-duplicates to DIFFERENT splits — a model evaluated on the
    test near-copy of a training document reads as better than it is.
    Pass the GROUP id instead (``id_col="canonical_id"`` from
    ``dedup.canonicalize_pairs``, or any upstream grouping key like a
    source URL): every member of a group hashes identically, so whole
    groups land in one split — pinned by test
    (tests/test_sampling.py::test_group_split_no_leakage).  The same
    property makes the split stable under re-deduplication as long as
    group canonical ids are stable (min-label canonicalization keeps
    the smallest member id, so growing a group can change its label
    only if the new member sorts first — re-split after major corpus
    growth, as any hash split requires).
    """
    if weights is None:
        weights = [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for _, w in weights):
        raise ValueError("weights must be nonnegative")
    total = sum(w for _, w in weights)
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    frac = _bucket(F.col(id_col), salt) / F.lit(_BUCKETS)
    expr = F.lit(weights[-1][0])  # last bin absorbs rounding
    acc = 0.0
    conds = []
    for name, w in weights[:-1]:
        acc += w / total
        conds.append((name, acc))
    for name, cum in reversed(conds):
        expr = F.when(frac < cum, F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def sample_keep(id_col: Column | str, fraction: float, salt: str = "sample") -> Column:
    """Boolean keep-expression for deterministic downsampling — usable
    inline in a wider projection (no join, no second scan)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (_bucket(c, salt) / F.lit(_BUCKETS)) < fraction


def epoch_shuffle_key(
    bin_col: Column | str, epoch: int = 0, salt: str = "shuffle"
) -> Column:
    """Deterministic per-epoch shuffle key for packed context windows —
    the dataloader-side companion to pack_sequences: a training reader
    orders bins by this key to get a reproducible epoch-specific
    permutation (epoch 0, 1, ... each derive a different order from the
    same data).  A pure column expression: no global sort here — the
    SORT belongs to the consumer (distributed readers range-partition
    on the key), which is what keeps this usable at any corpus size.
    Engine-reproducible md5 arithmetic, so an epoch's order is
    auditable in SQL."""
    if epoch < 0:
        raise ValueError(f"epoch must be >= 0, got {epoch}")
    c = F.col(bin_col) if isinstance(bin_col, str) else bin_col
    return _bucket(c, f"{salt}{int(epoch)}")


def cap_per_group(
    df: DataFrame,
    cap: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "cap",
    rank_col: str = "grp_rank",
    keep_col: str = "grp_kept",
) -> DataFrame:
    """Per-group frequency capping — the "at most N documents per
    domain" curation stage every web-scale training pipeline runs
    (over-represented hosts otherwise dominate the token budget).

    Which ``cap`` rows survive is decided by the same engine-independent
    md5 bucket as :func:`assign_split`: rows are ranked inside their
    group by ``(bucket(id|salt), id)`` and kept while ``rank <= cap``.
    That makes the selection (a) uniform — a random-looking but
    deterministic subset, not "first N by insertion order", (b)
    reproducible across runs and engines (the oracle replays the window
    verbatim in SQL), and (c) *monotone under growth*: adding documents
    to a group can only push hash-later rows out, never rotate the
    whole kept set.

    Scale shape: ONE hash-partition exchange on ``group_col`` plus a
    per-group sort — identical to the shuffle any groupBy on the same
    key pays; no global sort, no driver state.  Skew note: a single
    pathological group lands on one task; since only ``(group, bucket,
    id)`` is sorted (not the payload), the sort input is narrow.  For
    truly degenerate groups, pre-filter with ``sample_keep`` at a
    fraction ≳ cap/|group| to bound the window input, then cap exactly
    — composition keeps determinism because both stages hash the id.

    Emits ``rank_col`` (1-based within group) and ``keep_col`` next to
    the input columns so the funnel is auditable; filter on
    ``keep_col`` to apply the cap.
    """
    if cap < 0:
        raise ValueError(f"cap must be >= 0, got {cap}")
    w = Window.partitionBy(group_col).orderBy(
        _bucket(F.col(id_col), salt), F.col(id_col)
    )
    ranked = df.withColumn(rank_col, F.row_number().over(w).cast("long"))
    return ranked.withColumn(keep_col, F.col(rank_col) <= cap)


def mix_by_source(
    docs: DataFrame,
    weights: dict[str, float],
    total_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    n_tokens_col: str | None = None,
    text_col: str = "text",
    salt: str = "mix",
    frac_col: str = "mix_frac",
    keep_col: str = "mix_kept",
) -> DataFrame:
    """Token-budget corpus mixing — the "data mixture" stage of a
    pretraining pipeline (the public procedure behind every published
    mixture table: each source contributes a target fraction of the
    token budget, downsampled from whatever it happens to hold).

    For each source s with mixture weight w_s, the target budget is
    ``w_s * total_tokens``; the per-source keep fraction is
    ``min(1, budget_s / tokens_s)`` (a source smaller than its budget
    is kept whole — this operator downsamples, it does not upsample),
    and documents are kept by the same engine-independent id-hash
    uniform as :func:`sample_keep`, so the realized mixture tracks the
    target in expectation and is reproducible run-to-run and engine-
    to-engine.  Sources absent from ``weights`` get fraction 0.

    Emits ``frac_col`` (the applied fraction, rounded to 6 for
    cross-engine comparability) and ``keep_col`` next to the input
    columns.

    Scale shape: ONE aggregation for per-source token totals (tiny
    result, broadcast back), then a pure column-expression keep flag —
    no shuffle of the corpus itself, no driver collect.
    """
    from fabstir_vectordb_spark.functions.text import whitespace_tokens

    if total_tokens <= 0:
        raise ValueError(f"total_tokens must be > 0, got {total_tokens}")
    bad = [w for w in weights.values() if w < 0]
    if bad:
        raise ValueError(f"negative mixture weights: {bad}")
    n_tok = (
        F.col(n_tokens_col)
        if n_tokens_col
        else F.size(whitespace_tokens(F.col(text_col)))
    )
    sized = docs.withColumn("__n_tok", n_tok.cast("double"))
    totals = sized.groupBy(group_col).agg(F.sum("__n_tok").alias("__tot"))
    wmap = F.create_map(
        *[x for k, v in weights.items() for x in (F.lit(k), F.lit(float(v)))]
    )
    budgets = totals.withColumn(
        "__frac",
        F.round(
            F.least(
                F.lit(1.0),
                F.coalesce(wmap[F.col(group_col)], F.lit(0.0))
                * F.lit(float(total_tokens))
                / F.greatest(F.col("__tot"), F.lit(1.0)),
            ),
            6,
        ),
    ).select(group_col, "__frac")
    u = _bucket(F.col(id_col), salt) / F.lit(_BUCKETS)
    # LEFT join + coalesce-to-0: a NULL group key never equi-matches its
    # own budget row, and rows must not silently vanish — a null-source
    # document gets an auditable frac=0.0 / kept=false decision (its
    # group cannot appear in `weights`, so 0 is also the correct budget)
    return (
        sized.join(F.broadcast(budgets), group_col, "left")
        .withColumn(frac_col, F.coalesce(F.col("__frac"), F.lit(0.0)))
        .withColumn(keep_col, u < F.col(frac_col))
        .drop("__n_tok", "__frac")
    )


# ---------------------------------------------------------------------------
# sequence packing (training-data pipelines)
# ---------------------------------------------------------------------------

def pack_sequences(
    docs: DataFrame,
    context_len: int,
    id_col: str = "doc_id",
    n_tokens_col: str | None = None,
    text_col: str = "text",
    range_partitions: int | None = None,
) -> DataFrame:
    """GPT-style sequence packing: documents are concatenated in ``id``
    order into one global token stream and chopped into fixed
    ``context_len`` windows — the standard pretraining dataloader layout
    (each batch row is a full window; documents spanning a boundary are
    split).  Deterministic: the layout is a pure function of
    (ids, token counts, context_len), so it replays exactly in SQL.

    Output: one row per (document, window) span —
    (id, bin_id, start_tok, tokens_in_bin) — i.e., the materialized
    shuffle plan a dataloader consumes.  Every window except the last
    sums to exactly ``context_len``; zero-token documents emit nothing.

    100 TB shape: the global prefix sum is NOT a single-partition window
    — it is the classic two-phase distributed scan: range-partition by
    id, per-partition cumulative sums behind a window keyed on the
    PHYSICAL partition id, then per-partition totals (one tiny
    aggregation, <= num_partitions rows) collected, offset, and joined
    back broadcast.  Only (id, n_tokens) pairs move; the heavy text
    column never enters the shuffle.
    """
    from fabstir_vectordb_spark.functions.text import whitespace_tokens

    L = int(context_len)
    if L <= 0:
        raise ValueError("context_len must be positive")
    spark = docs.sparkSession
    P = int(range_partitions or spark.sparkContext.defaultParallelism)
    n_tok = (
        F.col(n_tokens_col)
        if n_tokens_col
        else F.size(whitespace_tokens(F.col(text_col)))
    )
    slim = docs.select(F.col(id_col).alias("id"), n_tok.cast("long").alias("__n"))
    # phase 1: range-partition preserves global id order across partitions.
    # localCheckpoint materializes the partition assignment ONCE: the range
    # partitioner samples its boundaries per-execution, so without this the
    # totals job and the spans job below could each re-execute the shuffle
    # and assign boundary rows different __pid values, silently corrupting
    # the broadcast offsets.  Only (id, n_tokens) pairs are checkpointed —
    # the heavy text column never enters this plan.
    ranged = (
        slim.repartitionByRange(P, F.col("id"))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("__pid").orderBy("id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = ranged.withColumn("__cum", F.sum("__n").over(w))
    # phase 2: per-partition totals -> exclusive prefix offsets (tiny)
    totals = sorted(
        (r["__pid"], r["t"])
        for r in ranged.groupBy("__pid").agg(F.sum("__n").alias("t")).collect()
    )
    offsets, acc = [], 0
    for pid, t in totals:
        offsets.append((pid, acc))
        acc += int(t or 0)
    off = F.broadcast(
        spark.createDataFrame(offsets, "__pid int, __off long")
    )
    spans = (
        local.join(off, "__pid")
        .filter(F.col("__n") > 0)
        .select(
            "id",
            (F.col("__off") + F.col("__cum") - F.col("__n")).alias("start_tok"),
            F.col("__n"),
        )
        .select(
            "id",
            "start_tok",
            "__n",
            F.explode(
                F.sequence(
                    F.floor(F.col("start_tok") / L),
                    F.floor((F.col("start_tok") + F.col("__n") - 1) / L),
                )
            ).alias("bin_id"),
        )
    )
    end = F.col("start_tok") + F.col("__n")
    bin_lo = F.col("bin_id") * L
    bin_hi = (F.col("bin_id") + 1) * L
    return spans.select(
        "id",
        "bin_id",
        "start_tok",
        (F.least(end, bin_hi) - F.greatest(F.col("start_tok"), bin_lo)).alias(
            "tokens_in_bin"
        ),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 256,
    overlap_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    emit_text: bool = True,
) -> DataFrame:
    """Split documents into overlapping fixed-token windows — the RAG /
    embedding-ingestion chunker (the reference is a vector DB; its
    users chunk documents exactly like this before embedding them).

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap_tokens; the last chunk may be
    short; zero-token documents emit nothing.  Output: one row per
    chunk — (id, chunk_idx, start_tok, n_tokens[, chunk_text]).
    Deterministic and engine-replayable: the layout is a pure function
    of (token count, chunk_tokens, overlap_tokens), and chunk_text is
    a token-slice join, so the whole operator replays in SQL.

    100 TB shape: pure column expressions (tokenize -> sequence ->
    explode -> slice) — no shuffle at all; the explode multiplies rows
    by ~n_tokens/stride, the intended output size.  Tokenization is
    materialized behind the projection barrier so the split runs once
    per row, not once per chunk.
    """
    from fabstir_vectordb_spark.functions.text import whitespace_tokens

    C, O = int(chunk_tokens), int(overlap_tokens)
    if C <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not 0 <= O < C:
        raise ValueError("overlap_tokens must be in [0, chunk_tokens)")
    stride = C - O
    toks = (
        docs
        # empty/whitespace-only docs emit nothing (the tokenizer yields
        # [''] for them — size 1 — so the guard is on the trimmed text)
        .filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("id"),
            whitespace_tokens(F.col(text_col)).alias("__t"),
        )
        .select("id", "__t", F.size("__t").alias("__n"))
    )
    # chunk starts: 0, stride, ... last start < n (ceil((n-O)/stride)
    # chunks; a doc shorter than one chunk yields exactly one)
    idx = F.explode(
        F.sequence(
            F.lit(0),
            F.greatest(
                F.lit(0),
                F.floor((F.col("__n") - O - 1) / F.lit(stride)).cast("long"),
            ),
        )
    ).alias("chunk_idx")
    out = toks.select("id", "__t", "__n", idx).select(
        "id",
        "chunk_idx",
        (F.col("chunk_idx") * stride).alias("start_tok"),
        F.least(
            F.lit(C), F.col("__n") - F.col("chunk_idx") * stride
        ).alias("n_tokens"),
        *(
            [
                F.concat_ws(
                    " ",
                    F.slice(
                        "__t",
                        (F.col("chunk_idx") * stride + 1).cast("int"),
                        C,
                    ),
                ).alias("chunk_text")
            ]
            if emit_text
            else []
        ),
    )
    return out


def _ex_col(k: int) -> str:
    """Partial column name encodes k, so a mismatched merge fails on
    schema rather than silently truncating (the summary-algebra rule)."""
    return f"__ex_k{k}"


def exemplar_partials(
    chunk: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "cap",
) -> DataFrame:
    """Mergeable per-group EXEMPLAR sample: the bottom-``k`` rows per
    group by the engine-independent md5 bucket — exactly the set
    :func:`cap_per_group` keeps — as ONE array partial per group per
    chunk, so the exemplar set maintains INCREMENTALLY (summarize/
    merge_summaries' algebra): sample the new chunk, merge arrays,
    never re-rank the corpus.

    Exactness is the bottom-k merge identity: bottomk(A ∪ B) ==
    bottomk(bottomk(A) ∪ bottomk(B)) — merged chunk partials equal
    :func:`cap_per_group` over the full frame EXACTLY (rows AND
    ranks; pinned by test and by the corpus_filter driver part).
    Rows are ranked by (bucket, id): deterministic, uniform,
    reproducible cross-engine, monotone under growth — a new document
    can push hash-later exemplars out, never rotate the kept set.

    Scale shape: one keyed window per CHUNK (cap_per_group's
    exchange, bounded by the chunk) + one groupBy whose collect_list
    is capped at k rows per group by construction; the merged partial
    is <= k structs per group.  Duplicate ids count as rows, exactly
    as cap_per_group treats them.

    Output: (group_col, __ex_k<k> array<struct<b bigint, id>>)."""
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    kept = cap_per_group(
        chunk.select(group_col, id_col), k, group_col, id_col, salt
    ).filter(F.col("grp_kept"))
    return kept.groupBy(group_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    _bucket(F.col(id_col), salt).alias("b"),
                    F.col(id_col).alias("id"),
                )
            )
        ).alias(_ex_col(k))
    )


def merge_exemplars(*partials: DataFrame) -> DataFrame:
    """Fold exemplar partials (any mix of chunks / stored summaries)
    to one bottom-k array per group.  The k is read from the partial
    column name; mixed-k inputs fail loudly on schema."""
    if not partials:
        raise ValueError("merge_exemplars needs at least one partials frame")
    cols = set()
    for p in partials:
        cols.update(c for c in p.columns if c.startswith("__ex_k"))
    if len(cols) != 1:
        raise ValueError(
            f"expected exactly one __ex_k<k> partial column across "
            f"inputs; got {sorted(cols)}"
        )
    col = cols.pop()
    k = int(col.removeprefix("__ex_k"))
    u = partials[0]
    for p in partials[1:]:
        u = u.unionByName(p)
    group_cols = [c for c in u.columns if c != col]
    return u.groupBy(*group_cols).agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list(F.col(col)))),
            1, k,
        ).alias(col)
    )


def exemplars_from_summary(merged: DataFrame) -> DataFrame:
    """Read the exemplar rows off a merged summary: (group cols...,
    id, rank 1..k) — cap_per_group's kept rows and grp_rank, derived
    from the compact summary instead of a corpus window."""
    col = next(
        (c for c in merged.columns if c.startswith("__ex_k")), None
    )
    if col is None:
        raise ValueError(
            "frame lacks an __ex_k<k> partial column — build it with "
            "exemplar_partials / merge_exemplars"
        )
    group_cols = [c for c in merged.columns if c != col]
    return merged.select(
        *group_cols,
        F.posexplode(F.col(col)).alias("__pos", "__e"),
    ).select(
        *group_cols,
        F.col("__e.id").alias("id"),
        (F.col("__pos") + 1).cast("long").alias("rank"),
    )
