"""aeuc_vector_db_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of Constitutional-Solutions/aeuc-vector-db.

The reference (read-only at /root/reference) is a single-process, in-memory
Python+NumPy vector database. This package re-expresses its entire surface
— typed embedding storage, brute-force k-NN under four similarity metrics
with metadata pre-filtering, φ-band auto-clustering, JSONL import/export,
hash-chained audit — as declarative Spark DataFrame pipelines, plus the
scale-out extensions a 100 TB training-data pipeline needs (dedup families,
ANN search, text analysis, multimodal columns, streaming ingest).

Design rules (see SURVEY.md):
- DataFrame/SQL first; Catalyst plans everything; no RDDs.
- All vector math in DOUBLE via SQL higher-order functions (zip_with /
  aggregate / transform) so it runs inside whole-stage codegen — no
  per-row Python.
- Pandas UDFs only where built-ins can't express the op (φ-weighted fast
  path, multimodal decode).
- Every operator has a deterministic formulation (total ORDER BY, fixed
  rounding, sha2 surrogate ids) so results hash-match a DuckDB oracle.
"""

import importlib

# name -> defining module. The names load on first access (PEP 562), so
# importing a submodule, such as the Python-worker daemon
# `aeuc_vector_db_spark.worker_daemon`, does not import NumPy, pandas,
# pyarrow or pyspark.sql with it.
_EXPORTS = {
    "similarity_col": "functions.similarity",
    "auto_cluster_phi": "operators.clustering",
    "centroids": "operators.clustering",
    "form_pglyphs": "operators.clustering",
    "inertia": "operators.clustering",
    "with_phi_band": "operators.clustering",
    "knn_search": "operators.search",
    "knn_search_batch": "operators.search",
    "knn_search_batch_arrow": "operators.search",
    "search_pglyphs": "operators.search",
    "two_level_search": "operators.search",
    "IGLYPH_SCHEMA": "schemas",
    "PGLYPH_SCHEMA": "schemas",
    "VECTOR_ENTRY_SCHEMA": "schemas",
    "get_spark": "session",
    "VectorField": "vector_field",
}


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f"{__name__}.{_EXPORTS[name]}"), name)
    globals()[name] = value
    return value


__version__ = "0.1.0"

# Public API mirrors the reference's __init__ re-exports
# (/root/reference/aeuc_vector_db/__init__.py:11-28): record types →
# StructTypes, similarity dispatch → Column builder, clustering
# primitives → DataFrame operators, VectorFieldDB → VectorField.
__all__ = [
    "IGLYPH_SCHEMA",
    "PGLYPH_SCHEMA",
    "VECTOR_ENTRY_SCHEMA",
    "VectorField",
    "similarity_col",
    "form_pglyphs",
    "with_phi_band",
    "auto_cluster_phi",
    "centroids",
    "inertia",
    "knn_search",
    "knn_search_batch",
    "knn_search_batch_arrow",
    "search_pglyphs",
    "two_level_search",
    "get_spark",
    "__version__",
]
