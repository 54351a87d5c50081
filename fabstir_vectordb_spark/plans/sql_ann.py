"""SQL-surface ANN rewrite (SURVEY §4 "custom strategy" stretch).

The engine's own API plans index searches explicitly (VectorDbSession's
query router, with plans/tuning.py:tune_n_probe); this module extends
the same decision to the RAW SQL surface (functions/sqlfns.py): a
``spark.sql`` user writing the canonical vector-search statement

    SELECT <id>, vec_l2(<vector>, <query expr>) AS <alias>
    FROM <view>
    ORDER BY <alias> [ASC] LIMIT <k>

against a view registered in the :class:`AnnCatalog` gets the
probe-pruned IVF physical plan — ``cluster_id IN (probes)`` reaching the
parquet scan as PartitionFilters — instead of a full-corpus scan.

Why a statement-level rewriter and not a Catalyst rule: optimizer rules
inject via ``spark.sql.extensions``, a JVM (Scala) extension point that
pure-Python engines cannot reach.  The honest Spark-first equivalent is
exactly what external index layers on Spark do: intercept the statement,
substitute the index plan when it applies, and DELEGATE everything else
to ``spark.sql`` untouched — correctness never depends on the rewrite
firing (the un-rewritten statement computes the same ranking by exact
scan; the reference makes the same exact-vs-index trade in
hybrid/core.rs:262-269's small-dataset mode).

Exactness contract: the rewrite is an ANN substitution.  With
``n_probe >= n_clusters`` (or a registered table below the training
threshold) the probe set is exhaustive and the rewritten result equals
the exact statement rank-for-rank at round-6; at smaller ``n_probe`` it
is the usual IVF approximation (tuned by plans/tuning.py when not
given).  ``explain_rewrite`` reports which path a statement would take.

Reference parity: the reference has no SQL surface at all — SURVEY §4
maps this to an optional nicety; its analogue is the REST search
endpoint deciding index-vs-scan server-side (api/rest.rs:430-520).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fabstir_vectordb_spark.plans.tuning import tune_n_probe

_METRICS = {
    "vec_l2": "l2",
    "vec_cosine_distance": "cosine",
}

# the canonical vector-search statement (see module doc).  The query
# expression is captured greedily up to the last ')' before AS, so
# nested calls like array(...) / cast(... as array<float>) parse.  An
# optional WHERE clause (metadata predicate over the view's columns)
# composes filter + ANN: the predicate is applied BELOW the probe scan,
# so both the cluster probe filter and the pushed predicate reach the
# parquet source.
_PATTERN = re.compile(
    r"""
    ^\s*SELECT\s+(?P<id>\w+)\s*,\s*
    (?P<fn>vec_l2|vec_cosine_distance)\s*\(\s*
        (?P<vec>\w+)\s*,\s*(?P<q>.+)\)\s+AS\s+(?P<alias>\w+)\s+
    FROM\s+(?P<view>\w+)\s+
    (?:WHERE\s+(?P<where>.+?)\s+)?
    ORDER\s+BY\s+(?P<order>\w+)(?:\s+ASC)?\s+
    LIMIT\s+(?P<k>\d+)\s*;?\s*$
    """,
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

# the canonical BULK form — a kNN join against a registered queries
# view, written as the standard row_number-over-distance idiom (legal
# verbatim Spark SQL, which is what makes delegation the correctness
# fallback):
#
#   SELECT <qid>, <id>, <alias> FROM (
#     SELECT q.<qid> AS <qid>, v.<id> AS <id>,
#            vec_l2(v.<vec>, q.<qvec>) AS <alias>,
#            row_number() OVER (PARTITION BY q.<qid>
#                               ORDER BY vec_l2(v.<vec>, q.<qvec>)) AS <rn>
#     FROM <view> v CROSS JOIN <queries_view> q
#   ) WHERE <rn> <= <k>
_BULK_PATTERN = re.compile(
    r"""
    ^\s*SELECT\s+(?P<oqid>\w+)\s*,\s*(?P<oid>\w+)\s*,\s*(?P<oalias>\w+)\s+
    FROM\s*\(\s*
      SELECT\s+q\.(?P<qid>\w+)\s+AS\s+(?P<aqid>\w+)\s*,\s*
      v\.(?P<id>\w+)\s+AS\s+(?P<aid>\w+)\s*,\s*
      (?P<fn>vec_l2|vec_cosine_distance)\s*\(\s*v\.(?P<vec>\w+)\s*,\s*q\.(?P<qvec>\w+)\s*\)\s+AS\s+(?P<alias>\w+)\s*,\s*
      row_number\s*\(\s*\)\s+OVER\s*\(\s*PARTITION\s+BY\s+q\.(?P<pqid>\w+)\s+
      ORDER\s+BY\s+(?P<fn2>vec_l2|vec_cosine_distance)\s*\(\s*v\.(?P<vec2>\w+)\s*,\s*q\.(?P<qvec2>\w+)\s*\)\s*\)\s+AS\s+(?P<rn>\w+)\s+
      FROM\s+(?P<view>\w+)\s+v\s+CROSS\s+JOIN\s+(?P<qview>\w+)\s+q\s*
    \)\s*WHERE\s+(?P<rn2>\w+)\s*<=\s*(?P<k>\d+)\s*;?\s*$
    """,
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)


@dataclass
class _Entry:
    index: object  # IVFIndex
    clustered: DataFrame
    n_rows: int


class AnnCatalog:
    """view name -> (trained IVF index, clustered table).  The SQL-side
    id/vector column names are the index's own ``id_col``/``vector_col``
    — the registered view and the clustered table describe the same
    relation, exactly like a database index on a named table."""

    def __init__(self) -> None:
        self._entries: dict[str, _Entry] = {}

    def register(self, view: str, index, clustered: DataFrame,
                 n_rows: int | None = None) -> None:
        if n_rows is None:
            n_rows = clustered.count()
        self._entries[view.lower()] = _Entry(index, clustered, int(n_rows))

    def lookup(self, view: str) -> _Entry | None:
        return self._entries.get(view.lower())


def _parse(sql: str):
    m = _PATTERN.match(sql)
    if not m:
        return None
    if m.group("alias").lower() != m.group("order").lower():
        return None  # ordered by something other than the distance
    return m


def _parse_bulk(sql: str):
    m = _BULK_PATTERN.match(sql)
    if not m:
        return None
    g = m.group
    # every repeated name must agree, or the statement means something
    # other than the canonical kNN join — delegate
    consistent = (
        g("fn").lower() == g("fn2").lower()
        and g("vec") == g("vec2")
        and g("qvec") == g("qvec2")
        and g("qid") == g("pqid")
        and g("rn") == g("rn2")
        and g("oqid") == g("aqid")
        and g("oid") == g("aid")
        and g("oalias") == g("alias")
    )
    return m if consistent else None


def explain_rewrite(catalog: AnnCatalog, sql: str) -> str:
    """'ivf' / 'ivf_bulk' if the statement would take the pruned index
    plan (single / kNN-join form), 'exact' if it delegates to spark.sql
    untouched."""
    m = _parse(sql)
    if m is not None:
        e = catalog.lookup(m.group("view"))
        if e is None:
            return "exact"
        # same checks ann_sql enforces, so the report matches the real path
        if m.group("id") != e.index.id_col or m.group("vec") != e.index.vector_col:
            return "exact"
        if m.group("where"):
            # a predicate the view can't analyze delegates in ann_sql —
            # the report must not claim the index path for it
            try:
                e.clustered.filter(F.expr(m.group("where"))).schema
            except Exception:
                return "exact"
        # the query expression must evaluate to a non-NULL array constant
        # or ann_sql delegates — mirror that check (the SELECT is
        # constant-only: no table scan, trivial cost)
        try:
            qrow = e.clustered.sparkSession.sql(
                f"SELECT ({m.group('q')}) AS q"
            ).first()
            [float(x) for x in qrow["q"]]
        except Exception:
            return "exact"
        return "ivf"
    b = _parse_bulk(sql)
    if b is not None:
        e = catalog.lookup(b.group("view"))
        if e is None:
            return "exact"
        if b.group("id") != e.index.id_col or b.group("vec") != e.index.vector_col:
            return "exact"
        # ann_sql delegates when the queries view doesn't resolve in the
        # session — the report must take the same path, not promise an
        # index plan the execution never uses
        try:
            e.clustered.sparkSession.table(b.group("qview")).select(
                b.group("qid"), b.group("qvec")
            ).schema
        except Exception:
            return "exact"
        return "ivf_bulk"
    return "exact"


def ann_sql(
    spark: SparkSession,
    sql: str,
    catalog: AnnCatalog,
    n_probe: int | None = None,
) -> DataFrame:
    """Run ``sql``, substituting the probe-pruned IVF plan when the
    statement matches a canonical vector-search shape over a registered
    view; otherwise ``spark.sql(sql)`` verbatim.

    Shapes rewritten (see the two pattern docstrings): the single-query
    ORDER BY ... LIMIT k statement — with an optional WHERE metadata
    predicate, which is applied BELOW the probe scan so the pushed
    predicate and the cluster probe filter both reach the parquet
    source — and the bulk kNN-join (row_number-over-distance) form
    against a second registered queries view."""
    m = _parse(sql)
    if m is not None:
        e = catalog.lookup(m.group("view"))
        if e is None:
            return spark.sql(sql)
        idx = e.index
        if m.group("id") != idx.id_col or m.group("vec") != idx.vector_col:
            return spark.sql(sql)
        # the query vector must be a constant expression (no column
        # refs); delegate to spark.sql if it isn't
        try:
            qrow = spark.sql(f"SELECT ({m.group('q')}) AS q").first()
            # NULL or non-array constants (e.g. a scalar) must delegate,
            # not crash: the un-rewritten statement is always the
            # fallback.
            qvec = [float(x) for x in qrow["q"]]
        except Exception:
            return spark.sql(sql)
        k = int(m.group("k"))
        metric = _METRICS[m.group("fn").lower()]
        if n_probe is None:
            n_probe = tune_n_probe(e.n_rows, k, idx.n_clusters)
        clustered = e.clustered
        if m.group("where"):
            # filter + ANN composition: the predicate restricts the
            # clustered table BEFORE probing, so it stacks with the
            # cluster_id probe filter below the scan.  A predicate the
            # view can't evaluate (bad column, alias reference) falls
            # back to the verbatim statement.
            try:
                clustered = clustered.filter(F.expr(m.group("where")))
                clustered.schema  # force analysis now, not at action time
            except Exception:
                return spark.sql(sql)
        queries = spark.createDataFrame(
            [("q0", qvec)], "query_id string, vector array<float>"
        )
        res = idx.search(clustered, queries, k, n_probe=n_probe, metric=metric)
        return res.select(
            F.col("id").alias(m.group("id")),
            F.col("distance").alias(m.group("alias")),
        )

    b = _parse_bulk(sql)
    if b is not None:
        e = catalog.lookup(b.group("view"))
        if e is None:
            return spark.sql(sql)
        idx = e.index
        if b.group("id") != idx.id_col or b.group("vec") != idx.vector_col:
            return spark.sql(sql)
        try:
            qdf = spark.table(b.group("qview")).select(
                F.col(b.group("qid")).alias("query_id"),
                F.col(b.group("qvec")).alias("vector"),
            )
        except Exception:
            return spark.sql(sql)
        k = int(b.group("k"))
        metric = _METRICS[b.group("fn").lower()]
        if n_probe is None:
            n_probe = tune_n_probe(e.n_rows, k, idx.n_clusters)
        res = idx.search_bulk(
            e.clustered, qdf, k, n_probe=n_probe, metric=metric
        )
        return res.select(
            F.col("query_id").alias(b.group("oqid")),
            F.col("id").alias(b.group("oid")),
            F.col("distance").alias(b.group("oalias")),
        )

    return spark.sql(sql)
