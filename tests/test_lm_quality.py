"""Unigram cross-entropy quality scorer: DuckDB oracle parity over the
fixture corpus (composes the shared MATRIX_CTE), closed-form sanity on a
hand-built corpus, and the plan shape (no cartesian on the vocab join).
"""

from __future__ import annotations

import math

from document_clustering_with_hadoop_mapreduce_spark.operators.term_matrix import term_doc_counts
from document_clustering_with_hadoop_mapreduce_spark.operators.textstats import (
    unigram_cross_entropy,
)
from document_clustering_with_hadoop_mapreduce_spark.plans.oracles import MATRIX_CTE
from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table

from conftest import assert_matches_oracle

_ORACLE = f"""{MATRIX_CTE},
totals AS (SELECT term, sum(cnt)::BIGINT AS tc FROM matrix GROUP BY term),
mass AS (SELECT sum(tc)::DOUBLE AS m FROM totals)
SELECT doc_id,
       round(-sum(cnt * ln(t.tc / mass.m)) / sum(cnt), 6) AS cross_entropy,
       sum(cnt)::BIGINT AS n_tokens
FROM matrix JOIN totals t USING (term), mass
GROUP BY doc_id"""


def test_unigram_cross_entropy_matches_oracle(spark, sf_dir, duck):
    m = term_doc_counts(load_table(spark, sf_dir, "documents"))
    assert_matches_oracle(unigram_cross_entropy(m), duck, _ORACLE)


def test_unigram_cross_entropy_closed_form(spark):
    # corpus mass 10: 'aa' x5, 'bb' x3, 'cc' x2 -> p = 0.5, 0.3, 0.2
    docs = spark.createDataFrame(
        [
            (1, "aa aa aa aa"),            # score = -ln 0.5
            (2, "bb bb cc cc"),            # score = -(ln 0.3 + ln 0.2)/2
            (3, "aa bb"),                  # score = -(ln 0.5 + ln 0.3)/2
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_cross_entropy(term_doc_counts(docs)).collect()}
    assert abs(out[1]["cross_entropy"] + math.log(0.5)) < 1e-6
    assert abs(out[2]["cross_entropy"] + (math.log(0.3) + math.log(0.2)) / 2) < 1e-6
    assert abs(out[3]["cross_entropy"] + (math.log(0.5) + math.log(0.3)) / 2) < 1e-6
    assert out[1]["n_tokens"] == 4
    # boilerplate tail < unusual tail: doc 1 (common words) scores lowest
    assert out[1]["cross_entropy"] < out[3]["cross_entropy"]


def test_unigram_cross_entropy_plan(spark, sf_dir):
    m = term_doc_counts(load_table(spark, sf_dir, "documents"))
    plan = unigram_cross_entropy(m)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the scalar mass rides a broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # map-side partial aggregation on both aggregates
    assert plan.count("HashAggregate") >= 4
