"""PySpark-native document-clustering & analytics engine.

A brand-new, DataFrame-first re-expression of the capabilities of the
reference repo ``lmkq/Document-Clustering-with-Hadoop-MapReduce`` (a Hadoop
MapReduce document-clustering pipeline; see SURVEY.md), extended with the
operators a large-scale training-data pipeline needs (dedup, similarity
search, text analysis, multimodal plumbing).

Design stance (SURVEY.md §7):
- DataFrame / Catalyst native; RDDs never appear.
- Explicit schemas, seeded determinism, no driver-side materialization.
- Reference quirks (SURVEY.md §2.7 N1-N7) live behind ``compat`` shims.
- Every operator is a composable ``DataFrame -> DataFrame`` function.
"""

__version__ = "0.1.0"
