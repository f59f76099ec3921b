"""Clustering-evaluation metrics (ARI/NMI/purity) vs pure-Python + DuckDB.

The pure-Python oracle re-derives all three metrics from a dict
contingency table; the DuckDB check runs the SAME CTE block the
registered fused query uses, so the cross-engine float discipline
(12dp-rounded ln terms, DECIMAL sums, 6dp output) is exercised directly.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pytest

from document_clustering_with_hadoop_mapreduce_spark.operators.cluster_eval import (
    clustering_metrics,
    contingency,
    metrics_oracle_ctes,
)


def py_metrics(pairs: list[tuple[int, str]]) -> dict[str, float]:
    """(cluster, label) per item -> {n, purity, ari, nmi}."""
    n = len(pairs)
    cont = Counter(pairs)
    a = Counter(c for c, _ in pairs)
    b = Counter(l for _, l in pairs)
    comb2 = lambda x: x * (x - 1) // 2
    s_ij = sum(comb2(v) for v in cont.values())
    s_a = sum(comb2(v) for v in a.values())
    s_b = sum(comb2(v) for v in b.values())
    s_n = comb2(n)
    exp = s_a * s_b / s_n
    mx = (s_a + s_b) / 2
    ari = 1.0 if mx == exp else (s_ij - exp) / (mx - exp)
    best = {}
    for (c, _), v in cont.items():
        best[c] = max(best.get(c, 0), v)
    purity = sum(best.values()) / n
    mi = sum(
        (v / n) * math.log(v * n / (a[c] * b[l])) for (c, l), v in cont.items()
    )
    h_u = -sum((v / n) * math.log(v / n) for v in a.values())
    h_v = -sum((v / n) * math.log(v / n) for v in b.values())
    nmi = 0.0 if h_u * h_v <= 0 else mi / math.sqrt(h_u * h_v)
    return {"n": float(n), "purity": purity, "ari": ari, "nmi": nmi}


def _frames(spark, pairs):
    assign = spark.createDataFrame(
        [(i, c) for i, (c, _) in enumerate(pairs)], "doc_id long, cluster int"
    )
    labels = spark.createDataFrame(
        [(i, l) for i, (_, l) in enumerate(pairs)], "doc_id long, label string"
    )
    return assign, labels


def _spark_metrics(spark, pairs) -> dict[str, float]:
    assign, labels = _frames(spark, pairs)
    return {r["metric"]: r["value"] for r in clustering_metrics(assign, labels).collect()}


MIXED = (
    [(0, "a")] * 8 + [(0, "b")] * 2
    + [(1, "b")] * 7 + [(1, "c")] * 3
    + [(2, "c")] * 5 + [(2, "a")] * 1
)


def test_perfect_clustering_is_all_ones(spark):
    pairs = [(0, "x")] * 4 + [(1, "y")] * 5 + [(2, "z")] * 3
    got = _spark_metrics(spark, pairs)
    assert got == {"n": 12.0, "purity": 1.0, "ari": 1.0, "nmi": 1.0}


def test_single_cluster_ari_zero_nmi_zero(spark):
    pairs = [(0, "x")] * 6 + [(0, "y")] * 4
    got = _spark_metrics(spark, pairs)
    assert got["ari"] == 0.0 and got["nmi"] == 0.0 and got["purity"] == 0.6


def test_mixed_matches_pure_python(spark):
    got = _spark_metrics(spark, MIXED)
    exp = py_metrics(MIXED)
    for k, v in exp.items():
        assert got[k] == pytest.approx(round(v, 6), abs=2e-6), k


def test_matches_test_suite_ari_helper(spark):
    """Cross-check against the independently-written ARI in
    test_cluster_quality (Hubert & Arabie pair-counting)."""
    from test_cluster_quality import adjusted_rand_index

    got = _spark_metrics(spark, MIXED)
    exp = adjusted_rand_index([c for c, _ in MIXED], [l for _, l in MIXED])
    assert got["ari"] == pytest.approx(round(exp, 6), abs=2e-6)


def test_duckdb_cte_block_bit_parity(spark):
    """The oracle CTE block must reproduce the Spark values EXACTLY (same
    rounding discipline) — this is what the driver's hash gate relies on."""
    got = _spark_metrics(spark, MIXED)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE mem AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {c})" for i, (c, _) in enumerate(MIXED))
        + ") t(doc_id, cluster)"
    )
    con.execute(
        "CREATE TABLE lab AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{l}')" for i, (_, l) in enumerate(MIXED))
        + ") t(doc_id, label)"
    )
    sql = (
        "WITH members AS (SELECT * FROM mem),"
        + metrics_oracle_ctes("members", "SELECT doc_id, label FROM lab")
        + " SELECT metric, value FROM clu_metrics"
    )
    duck = dict(con.execute(sql).fetchall())
    assert duck == got


def test_simplified_silhouette_closed_form(spark):
    from document_clustering_with_hadoop_mapreduce_spark.operators.cluster_eval import (
        simplified_silhouette,
    )

    # doc 0: a²=1, b²=9 -> s = (3-1)/3 ; doc 1: a²=0, b²=4 -> s = 1
    rows = [(0, 0, 1.0), (0, 1, 9.0), (1, 0, 4.0), (1, 1, 0.0)]
    dists = spark.createDataFrame(rows, "doc_id long, cluster int, dist_sq double")
    got = simplified_silhouette(dists).collect()[0]
    exp = round((round((3 - 1) / 3, 12) + 1.0) / 2, 6)
    assert got["metric"] == "silhouette" and got["value"] == pytest.approx(exp, abs=1e-9)


def test_simplified_silhouette_single_cluster_is_zero(spark):
    from document_clustering_with_hadoop_mapreduce_spark.operators.cluster_eval import (
        simplified_silhouette,
    )

    dists = spark.createDataFrame(
        [(0, 0, 1.0), (1, 0, 2.0)], "doc_id long, cluster int, dist_sq double"
    )
    assert simplified_silhouette(dists).collect()[0]["value"] == 0.0


def test_contingency_one_exchange(spark):
    assign, labels = _frames(spark, MIXED)
    plan = contingency(assign, labels)._jdf.queryExecution().executedPlan().toString()
    # join + final agg may each exchange, but partial aggregation must be
    # map-side (two HashAggregates) and nothing Python touches the path
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_metrics_are_one_aggregate_without_nested_loop_joins(spark):
    """The metrics are one global aggregate over the contingency table:
    one exchange moves the table into a single partition, where every
    window and the aggregate run, and no scalar is cross-joined in."""
    assign, labels = _frames(spark, MIXED)
    plan = clustering_metrics(assign, labels)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") == 1
    # nothing above that exchange shuffles again, and below it sits the
    # bare contingency table's plan with its own exchanges only
    above, _ = plan.split("Exchange SinglePartition")
    assert "Exchange" not in above
    bare = contingency(assign, labels)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == bare.count("Exchange") + 1


def test_single_row_input_does_not_divide_by_zero(spark):
    """n = 1 has zero possible pairs (comb2(1) = 0): ARI's expected-index
    division must be guarded (ANSI mode raises on /0), yielding the
    degenerate perfect-agreement 1.0 in BOTH engines."""
    got = _spark_metrics(spark, [(0, "x")])
    assert got["n"] == 1.0 and got["purity"] == 1.0
    assert got["ari"] == 1.0 and got["nmi"] == 0.0
