"""Sweep every registered query against its DuckDB oracle at the local SF.

This is a local mirror of the driver's t2 correctness gate: same tables,
same comparison discipline (column-name-sorted, order-insensitive,
float-normalized).
"""

from __future__ import annotations

import pytest

from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries

from conftest import assert_matches_oracle

QUERIES = all_queries()

# Round-14 suite tiering (VERDICT r13 #1): the FULL 50-query value-parity
# sweep runs in the slow tier (`--runslow`, or by name) — the driver runs
# its own 50/50 oracle gate, so the default profile keeps only a cheap
# smoke slice (one representative per plan family, all < ~5 s at sf0.001)
# that catches registry/oracle plumbing breaks fast.
FAST_SMOKE = {
    "pricing_summary",
    "revenue_by_nation",
    "customer_recent_orders",
    "rolling_30d_spend",
    "events_sessionized",
    "term_doc_matrix",
    "minhash_signatures",
    "dedup_components",
    "top_terms_global",
    # the embedding slots, as triples on the sparse Lloyd engine's kernel
    "kmeans_assign_seeded",
    "kmeans_lloyd_trace",
    "term_filter_min3",
    "tfidf_standard",
    # the paper's task 2.2 loop and the two slots on its per-doc kernel
    "doc_kmeans_sparse_trace",
    "doc_kmeans_assign",
    "doc_cluster_top_terms",
    # the only value gate on the k-means|| init task 2.3 runs
    "kmeans_parallel_sizes",
}
# a renamed or removed slot must fail collection, not silently drop out
assert FAST_SMOKE <= set(QUERIES), sorted(FAST_SMOKE - set(QUERIES))


@pytest.mark.parametrize(
    "name",
    [
        n if n in FAST_SMOKE else pytest.param(n, marks=pytest.mark.slow)
        for n in sorted(QUERIES)
    ],
)
def test_query_against_oracle(name, spark, sf_dir, duck):
    q = QUERIES[name]
    df = q.spark(spark, sf_dir)
    if q.oracle is None:
        # rows-only check for non-SQL-expressible ops
        assert df.count() >= 0
        return
    assert_matches_oracle(df, duck, q.oracle)
