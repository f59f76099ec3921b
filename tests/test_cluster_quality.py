"""Clustering-quality gate (SURVEY.md §5 item 4, BASELINE.md self-imposed
target): the seeded document-KMeans pipeline must recover the 5 true BBC
categories at least as well as the reference's own committed runs,
measured by Adjusted Rand Index under permutation-invariant comparison.

The reference's golden assignments (sources/2.2/ouput/task_2_2.classes,
sources/2.3/output/task_2_3.classes) score ARI ~0.013 / ~0.009 against
the true categories — near-random, because the N3 "similarity"
(dot/(|a|+|b|)) defect plus unseeded init wreck the clustering. The bar
is recomputed live from those files, not hard-coded. The seeded MLlib
cosine fit this gate first ran scored ARI ~0.773 on the same committed
matrix (~57x the reference's best run); task 2.3's sparse pipeline below
must clear the same bar.
"""

from __future__ import annotations

import os
from collections import Counter
from math import comb

import pytest
from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark import pipelines as P
from document_clustering_with_hadoop_mapreduce_spark.operators.tfidf import tfidf
from document_clustering_with_hadoop_mapreduce_spark.sources.mtx import read_mtx, write_mtx_single

REF = "/root/reference/sources"


def _ref(path: str) -> str:
    p = os.path.join(REF, path)
    if not os.path.exists(p):
        pytest.skip(f"reference fixture missing: {p}")
    return p


def adjusted_rand_index(labels_a: list, labels_b: list) -> float:
    """Contingency-table ARI (Hubert & Arabie 1985) — permutation-invariant."""
    n = len(labels_a)
    assert n == len(labels_b) and n > 1
    cont = Counter(zip(labels_a, labels_b))
    a, b = Counter(labels_a), Counter(labels_b)
    sum_ij = sum(comb(v, 2) for v in cont.values())
    sum_a = sum(comb(v, 2) for v in a.values())
    sum_b = sum(comb(v, 2) for v in b.values())
    expected = sum_a * sum_b / comb(n, 2)
    max_index = (sum_a + sum_b) / 2
    return (sum_ij - expected) / (max_index - expected)


def _true_categories() -> dict[int, str]:
    """1-based doc id -> category from bbc.docs ('business.001' lines)."""
    with open(_ref("1.1/input/bbc.docs")) as f:
        return {i + 1: line.strip().split(".")[0] for i, line in enumerate(f)}


def _golden_ari(classes_path: str, truth: dict[int, str]) -> float:
    assign = {}
    with open(classes_path) as f:
        for line in f:
            doc, cluster = line.split()
            assign[int(doc)] = int(cluster)
    ids = sorted(assign)
    return adjusted_rand_index([truth[i] for i in ids], [assign[i] for i in ids])


@pytest.mark.slow
def test_seeded_doc_kmeans_beats_reference_ari(spark, tmp_path):
    """tf-idf + task 2.3 (deterministic k-means|| init, sparse Lloyd on
    unit rows) over the reference's OWN committed term-doc matrix recovers
    the 5 BBC categories far better than either reference run — and
    reproducibly (no RNG anywhere)."""
    truth = _true_categories()
    ref_bar = max(
        _golden_ari(_ref("2.2/ouput/task_2_2.classes"), truth),
        _golden_ari(_ref("2.3/output/task_2_3.classes"), truth),
    )
    m = read_mtx(spark, _ref("1.2/input/OutputTask1_1.mtx"))
    counts = m.select("doc_id", F.col("term_id").alias("term"), F.col("value").alias("cnt"))
    weighted = tfidf(counts, n_docs=2225).select(
        "doc_id", F.col("term").alias("term_id"), F.col("tfidf").alias("value")
    )
    path = str(tmp_path / "task_1_4.mtx")
    write_mtx_single(
        weighted, path, 0, 0, row_col="doc_id", col_col="term_id",
        int_values=False, banner=False,
    )
    assigned, _, _ = P.task_2_3_doc_kmeans_scalable(spark, path, k=5, max_iter=20)
    ours = {r["doc_id"]: r["cluster"] for r in assigned.collect()}
    ids = sorted(ours)
    assert len(ids) == 2225
    our_ari = adjusted_rand_index([truth[i] for i in ids], [ours[i] for i in ids])
    # the reference bar is ~0.013; a correct-cosine run should land far
    # above it — require a 10x margin so this never passes on noise
    assert our_ari >= max(10 * ref_bar, 0.1), (our_ari, ref_bar)
    assert our_ari > ref_bar


def test_ari_helper_closed_form():
    assert adjusted_rand_index([1, 1, 2, 2], [3, 3, 4, 4]) == 1.0  # relabeling
    assert adjusted_rand_index([1, 1, 2, 2], [1, 1, 1, 1]) == 0.0  # degenerate
    assert abs(adjusted_rand_index([1, 1, 2, 2], [1, 2, 1, 2])) < 0.5  # mismatch
