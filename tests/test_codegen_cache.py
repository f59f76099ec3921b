"""The session compiles each generated class once (``session.get_spark``'s
codegen posture): plans run again in one session reuse their classes."""

from __future__ import annotations

from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries

# perfbench's doc_cluster workload: about 158 distinct classes per pass,
# more than Spark's default 100-entry codegen cache holds
DOC_CLUSTER_SLOTS = ("doc_kmeans_sparse_trace", "doc_cluster_top_terms")


def test_second_pass_compiles_no_class(spark, sf_dir):
    """A second pass of the doc_cluster workload hits the codegen cache
    for every class. With the default cache the LRU evicted each class
    before its reuse, and with stage ids in class names AQE's planning
    order renamed identical code; either way the pass compiled again."""
    queries = all_queries()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_pass():
        for name in DOC_CLUSTER_SLOTS:
            queries[name].spark(spark, sf_dir).collect()

    run_pass()
    before = compiles.getCount()
    run_pass()
    assert compiles.getCount() - before == 0
