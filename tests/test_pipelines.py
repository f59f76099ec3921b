"""Task-facade pipelines over the reference's own fixtures, and tasks
2.2/2.3 over the fixture corpus's tf-idf written as task 1.4's output.

The operator cores are golden-verified in test_golden_parity.py; these
check the end-to-end shells (file in -> file out, reference formats).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark import pipelines as P
from document_clustering_with_hadoop_mapreduce_spark.operators.doc_cluster import (
    scalable_kmeans_init,
    sparse_assign,
    sparse_lloyd,
)
from document_clustering_with_hadoop_mapreduce_spark.operators.term_matrix import term_doc_counts
from document_clustering_with_hadoop_mapreduce_spark.operators.tfidf import tfidf
from document_clustering_with_hadoop_mapreduce_spark.sources.mtx import write_mtx_single
from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table

from conftest import run_counted

REF = "/root/reference/sources"


def _ref(path: str) -> str:
    p = os.path.join(REF, path)
    if not os.path.exists(p):
        pytest.skip(f"reference fixture missing: {p}")
    return p


@pytest.mark.slow
def test_task_chain_1_2_to_1_4(spark, tmp_path):
    """1.2 over the golden 1.1 matrix writes a valid sorted MTX; 1.4 reads
    1.2's committed input and reproduces the golden row count; 1.3 returns
    the top-10."""
    out12 = str(tmp_path / "t12.mtx")
    f = P.task_1_2_min_freq_filter(spark, _ref("1.2/input/OutputTask1_1.mtx"),
                                   out_mtx=out12)
    assert os.path.exists(out12)
    with open(out12, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    assert lines[0].startswith("%%MatrixMarket")
    assert lines[2:] == sorted(lines[2:])  # O1 string order
    assert len(lines) - 2 == f.count()

    top = P.task_1_3_top_terms(spark, _ref("1.3/input/output_1_2.mtx")).collect()
    assert len(top) == 10
    assert top[0]["total_freq"] >= top[-1]["total_freq"]

    out14 = str(tmp_path / "t14.mtx")
    t = P.task_1_4_tfidf(spark, _ref("1.4/input/output_1_2.mtx"),
                         out_mtx=out14, compat_n1=True)
    n_golden = 141455
    assert t.count() == n_golden
    with open(out14, encoding="utf-8") as fh:
        first = fh.readline().split()
    assert len(first) == 3 and "." in first[2]  # headerless %.6f triples


def test_task_1_5_categories_from_docnames(spark):
    top = P.task_1_5_category_top_terms(
        spark, _ref("1.5/input/task_1_4.mtx"), _ref("1.1/input/bbc.docs"), k=5
    )
    rows = top.collect()
    cats = {r["category"] for r in rows}
    assert cats == {"business", "entertainment", "politics", "sport", "tech"}
    assert all(1 <= r["rank"] <= 5 for r in rows)
    assert len(rows) == 25


def test_task_2_1_converges(spark):
    assigned, centroids = P.task_2_1_kmeans_2d(spark, _ref("2.1/input/2DPoints.csv"), k=3)
    assert len(centroids) == 3
    rows = assigned.collect()
    assert len(rows) == 500
    assert {r["cluster"] for r in rows} == {0, 1, 2}


@pytest.mark.slow
def test_task_2_2_and_2_3_doc_kmeans(spark):
    assigned, _, trace = P.task_2_2_doc_kmeans(
        spark, _ref("2.2/input/task_1_4.mtx"), k=5, max_iter=3
    )
    n = assigned.count()
    assert n > 2000  # 2,225 docs
    assert assigned.select("cluster").distinct().count() <= 5
    assert len(trace) == 3
    a3, _, _ = P.task_2_3_doc_kmeans_scalable(
        spark, _ref("2.3/input/task_1_4.mtx"), k=5, max_iter=3
    )
    assert a3.count() == n


@pytest.fixture(scope="module")
def sf_tfidf_mtx(spark, sf_dir, tmp_path_factory):
    """The fixture corpus's tf-idf as task 1.4's headerless doc-first
    triples (term ids = rank of the term string)."""
    m = tfidf(term_doc_counts(load_table(spark, sf_dir, "documents")))
    ids = m.select("term").distinct().withColumn(
        "term_id", F.row_number().over(Window.orderBy("term"))
    )
    path = str(tmp_path_factory.mktemp("tfidf") / "task_1_4.mtx")
    write_mtx_single(
        m.join(ids, "term").select("doc_id", "term_id", F.col("tfidf").alias("value")),
        path, 0, 0, row_col="doc_id", col_col="term_id", int_values=False, banner=False,
    )
    return path


def _result(run):
    assigned, cents, trace = run
    rows = assigned.collect()
    got = {r["doc_id"]: (r["cluster"], r["dist_sq"]) for r in rows}
    assert len(got) == len(rows), "a doc is assigned more than once"
    return got, sorted(tuple(r) for r in cents.collect()), trace


@pytest.mark.parametrize("task", ["task_2_2_doc_kmeans", "task_2_3_doc_kmeans_scalable"])
def test_doc_kmeans_on_unit_rows(spark, sf_tfidf_mtx, task):
    """Tasks 2.2/2.3 on the sparse Lloyd engine: every doc assigned once to
    one of k clusters, WCSS non-increasing, the assignment is the nearest
    returned centroid on the unit rows, and a rerun agrees exactly."""
    run = getattr(P, task)
    out = run(spark, sf_tfidf_mtx, k=5, max_iter=3)
    got, cents, trace = _result(out)
    m = P.read_unit_tfidf(spark, sf_tfidf_mtx)
    docs = [r["doc_id"] for r in m.select("doc_id").distinct().collect()]
    assert sorted(got) == sorted(docs)
    assert {c for c, _ in got.values()} <= set(range(5))
    assert len(trace) == 3
    for a, b in zip(trace, trace[1:]):
        assert b <= a + 1e-9, f"WCSS increased: {trace}"
    want = {r["doc_id"]: (r["cluster"], r["dist_sq"]) for r in sparse_assign(m, out[1]).collect()}
    assert got == want
    assert _result(run(spark, sf_tfidf_mtx, k=5, max_iter=3)) == (got, cents, trace)


def test_task_2_3_starts_from_kmeans_parallel_seeds(spark, sf_tfidf_mtx):
    """Task 2.3 is the sparse Lloyd loop started from the k-means|| pick
    on the same unit rows — not from the k lowest doc_ids task 2.2 uses —
    and no stage of it has more tasks than the session has cores."""
    m = P.read_unit_tfidf(spark, sf_tfidf_mtx)
    init, weights = scalable_kmeans_init(m, 5)
    lowest = [r["doc_id"] for r in m.select("doc_id").distinct().orderBy("doc_id").limit(5).collect()]
    assert list(weights) != lowest
    want = _result(sparse_lloyd(m, 5, 3, init=init))
    got, _, tasks = run_counted(
        spark, lambda: _result(P.task_2_3_doc_kmeans_scalable(spark, sf_tfidf_mtx, k=5, max_iter=3))
    )
    assert got == want
    # the init and the loop cache the unit rows: in the window's layout
    # every pass would run spark.sql.shuffle.partitions tasks
    assert tasks and max(tasks) <= spark.sparkContext.defaultParallelism, sorted(tasks)[-8:]


def test_doc_kmeans_zero_norm_document(spark, tmp_path):
    """A document whose tf-idf row is all zeros keeps weight 0 (no division
    by zero under ANSI mode) and is still assigned; other rows are unit."""
    path = str(tmp_path / "task_1_4.mtx")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(
            "1 1 0.500000\n1 2 0.500000\n2 1 0.000000\n2 3 0.000000\n"
            "3 2 1.000000\n3 3 2.000000\n4 1 3.000000\n"
        )
    ss = {
        r["doc_id"]: r["ss"]
        for r in P.read_unit_tfidf(spark, path)
        .groupBy("doc_id").agg(F.sum(F.col("tfidf") * F.col("tfidf")).alias("ss")).collect()
    }
    assert ss[2] == 0.0
    assert all(abs(ss[d] - 1.0) < 1e-12 for d in (1, 3, 4))
    for run in (P.task_2_2_doc_kmeans, P.task_2_3_doc_kmeans_scalable):
        assigned, _, _ = run(spark, path, k=2, max_iter=2)
        rows = assigned.collect()
        assert sorted(r["doc_id"] for r in rows) == [1, 2, 3, 4]
        assert {r["cluster"] for r in rows} <= {0, 1}


def test_task_2_1_recovers_true_classes(spark):
    """The 2-D points carry ground-truth labels (cls 1..3); converged
    Lloyd must recover them up to label permutation — the capability the
    reference's unseeded runs could never assert (SURVEY.md §5 item 4)."""
    from itertools import permutations

    from document_clustering_with_hadoop_mapreduce_spark.sources.corpus import read_points_csv

    pts = read_points_csv(spark, _ref("2.1/input/2DPoints.csv")).collect()
    assigned, _ = P.task_2_1_kmeans_2d(spark, _ref("2.1/input/2DPoints.csv"), k=3)
    got = {(round(r["x1"], 9), round(r["x2"], 9)): r["cluster"] for r in assigned.collect()}
    truth = [((round(r["x1"], 9), round(r["x2"], 9)), r["cls"]) for r in pts]
    best = 0.0
    for perm in permutations(range(3)):
        agree = sum(1 for key, cls in truth if perm[got[key]] + 1 == cls)
        best = max(best, agree / len(truth))
    assert best > 0.9, f"best label agreement only {best:.3f}"


def _write_points(path, rows):
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("class,x1,x2\n")
        fh.writelines(f"{r}\n" for r in rows)


def test_task_2_1_on_blob_mixture(spark, tmp_path):
    """Task 2.1 end to end on a 3-blob mixture with known labels, no
    reference fixture needed: a malformed row and a row whose first field
    starts with 'c' (P7) are dropped; the classes come back (up to label
    permutation); every point sits in its nearest returned centroid and
    the centroids are the means of their points (the converged fixed
    point); and the same points in another row order, split over two
    files, give the same result — ``doc_id`` reads row values only."""
    import random
    from itertools import permutations

    rng = random.Random(21)
    centers = {1: (0.0, 0.0), 2: (10.0, 0.0), 3: (5.0, 8.0)}
    points = [
        (cls, round(rng.gauss(cx, 1.0), 4), round(rng.gauss(cy, 1.0), 4))
        for cls, (cx, cy) in centers.items()
        for _ in range(100)
    ]
    good = [f"{c},{x},{y}" for c, x, y in points]
    bad = ["2,not-a-number,1.0", "c9,1.0,1.0"]
    _write_points(tmp_path / "points.csv", good[:150] + bad + good[150:])
    shuffled = good[:]
    rng.shuffle(shuffled)
    (tmp_path / "split").mkdir()
    _write_points(tmp_path / "split" / "a.csv", shuffled[:120])
    _write_points(tmp_path / "split" / "b.csv", shuffled[120:])

    def run(path):
        assigned, cents = P.task_2_1_kmeans_2d(spark, str(path), k=3)
        return {(r["x1"], r["x2"]): r["cluster"] for r in assigned.collect()}, cents

    got, cents = run(tmp_path / "points.csv")
    assert len(got) == len(points) and len(cents) == 3

    truth = {(x, y): cls for cls, x, y in points}
    agree = max(
        sum(perm[c] + 1 == truth[p] for p, c in got.items()) / len(points)
        for perm in permutations(range(3))
    )
    assert agree >= 0.99, f"class agreement only {agree:.3f}"

    for (x, y), c in got.items():
        d = [(x - cx) ** 2 + (y - cy) ** 2 for cx, cy in cents]
        assert d[c] <= min(d) + 1e-6
    for c, (cx, cy) in enumerate(cents):
        members = [p for p, pc in got.items() if pc == c]
        assert abs(sum(x for x, _ in members) / len(members) - cx) < 1e-9
        assert abs(sum(y for _, y in members) / len(members) - cy) < 1e-9

    got2, cents2 = run(tmp_path / "split")
    assert got2 == got
    for a, b in zip(cents2, cents):
        assert abs(a[0] - b[0]) < 1e-9 and abs(a[1] - b[1]) < 1e-9
