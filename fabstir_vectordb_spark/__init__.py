"""fabstir_vectordb_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of Fabstir/fabstir-vectordb, re-expressed
Spark-first (DataFrame/SQL/Catalyst/MLlib), plus the LLM-training-data
pipeline operators (dedup, similarity search, text analysis, multimodal
columns) such an engine needs at 100 TB scale.

Design notes (vs the Rust reference):
- One vectors table (id, vector, metadata, ts, deleted, cluster_id),
  partitioned by cluster_id — not two pointer-chasing indices.  Recent vs
  historical routing (reference src/hybrid/core.rs:357-417) becomes a `ts`
  predicate.  The session searches through IVF partition pruning or an
  exact scan; HNSW (src/hnsw/core.rs) is a separate index family built
  as partition-local graphs (operators/hnsw.py), not a single global
  graph.
- Filters are compiled from the reference's MongoDB dialect
  (src/core/metadata_filter.rs) into Catalyst Column predicates and pushed
  BELOW ranking — exact, unlike the reference's k*3 oversampling
  (src/hybrid/core.rs:513-549).
- Point-search distance math is JVM-side column expressions (whole-stage
  codegen); the bulk multi-query paths of every vector-search family run
  one Arrow scan-and-merge (operators/scan.py: mapInArrow or cogrouped
  applyInArrow) with a numpy scorer per family.
"""

__version__ = "0.1.0"
