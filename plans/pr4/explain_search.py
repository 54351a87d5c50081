"""Print .explain() of every collect a plain search runs on a trained
VectorDbSession (2,000 x 16 vectors, 16 clusters, local[2]), with
expression and plan ids normalised so two checkouts can be diffed.

Usage: python explain_search.py <checkout root> > out.txt"""
import io, re, sys
from contextlib import redirect_stdout
sys.path.insert(0, sys.argv[1])
import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql.classic.dataframe import DataFrame
from fabstir_vectordb_spark.session import VectorDbSession

spark = (SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").config("spark.sql.session.timeZone", "UTC")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
rng = np.random.RandomState(7)
V = rng.normal(size=(2000, 16))
s = VectorDbSession(spark)
s.add_vectors([{"id": f"v{i}", "vector": V[i].tolist(), "metadata": {"g": i % 5}} for i in range(2000)])
s.train_index(n_clusters=16)
s.search(V[3].tolist(), k=10)  # warm: clustered table built
plans = []
orig = DataFrame.collect
def collect(self):
    buf = io.StringIO()
    with redirect_stdout(buf):
        self.explain()
    plans.append(buf.getvalue())
    return orig(self)
DataFrame.collect = collect
s._cache.invalidate()
res = s.search(V[5].tolist(), k=10)
DataFrame.collect = orig
for i, p in enumerate(plans):
    p = re.sub(r"#\d+L?", "#N", p)
    p = re.sub(r"plan_id=\d+", "plan_id=N", p)
    print(f"== collect {i}\n{p}")
print("== result ids", [r["id"] for r in res])
