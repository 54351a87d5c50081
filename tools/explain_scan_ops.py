"""Dump .explain("formatted") for the vector-search entry points that
share operators/scan.py, plus one summary line per operator with its
Exchange count and whether any *InPandas node remains.

Usage: python tools/explain_scan_ops.py <out_dir> [suffix]

Writes <out_dir>/<op>_<suffix>.txt and prints the summary.  Inputs are
small synthetic tables (2,000 x 32 vectors, 40 queries) held as local
relations, so each plan shows only the search operator itself.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402


def _local(spark, df):
    return spark.createDataFrame(df.collect(), df.schema)


def main() -> int:
    out_dir = Path(sys.argv[1]) if len(sys.argv) > 1 else Path("plans")
    suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("explain_scan_ops")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from fabstir_vectordb_spark.operators.binary import BinarySketch
    from fabstir_vectordb_spark.operators.ivf import IVFIndex
    from fabstir_vectordb_spark.operators.ivfpq import IVFPQIndex
    from fabstir_vectordb_spark.operators.knn import knn_bulk
    from fabstir_vectordb_spark.operators.pq import ProductQuantizer

    rng = np.random.RandomState(5)
    X = rng.normal(size=(2000, 32))
    emb = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    qdf = spark.createDataFrame(
        [(i, X[i * 7].tolist()) for i in range(40)],
        "query_id long, vector array<double>",
    )
    ivf = IVFIndex.fit(emb, n_clusters=8, id_col="vec_id", vector_col="embedding")
    assigned = _local(spark, ivf.assign(emb))
    pq = ProductQuantizer.fit(emb, n_subspaces=4, n_centroids=16)
    codes = _local(spark, pq.encode(emb))
    sk = BinarySketch.fit(dim=32, bits=64)
    sigs = _local(spark, sk.encode(emb))
    ivfpq = IVFPQIndex.fit(emb, n_clusters=8, n_subspaces=4, n_centroids=16)
    enc = _local(spark, ivfpq.encode(emb))

    ops = {
        "knn_bulk": lambda: knn_bulk(
            emb, qdf, 10, id_col="vec_id", vector_col="embedding"
        ),
        "ivf_search_bulk": lambda: ivf.search_bulk(assigned, qdf, 10, n_probe=3),
        "ivfpq_search_bulk": lambda: ivfpq.search_bulk(
            enc, qdf, 10, n_probe=3, rerank_vectors=emb
        ),
        "adc_knn": lambda: pq.adc_knn(codes, qdf, 10, rerank_vectors=emb),
        "hamming_knn_bulk": lambda: sk.hamming_knn_bulk(sigs, qdf, 10),
    }
    for name, build in ops.items():
        df = build()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (out_dir / f"{name}_{suffix}.txt").write_text(buf.getvalue())
        tree = df._jdf.queryExecution().executedPlan().toString()
        print(
            f"{name}: exchanges={tree.count('Exchange')} "
            f"in_pandas={'InPandas' in tree} rows={df.count()}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
