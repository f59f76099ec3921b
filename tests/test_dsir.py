"""DSIR value gates: hashed n-gram features and smoothed log-ratio
importance weights are each compared against a DuckDB oracle built from the
SAME md5 hashing, token regexes and smoothing constants; a planted-domain
test pins that target-like documents actually outrank off-domain ones."""

from __future__ import annotations

from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.operators.dsir import (
    dsir_oracle_cte,
    dsir_weights,
    hashed_ngram_counts,
)
from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table

from conftest import assert_matches_oracle

B = 512  # small bucket table so collisions actually occur in the fixture
ALPHA = 1.0
TARGET = "lang = 'en'"  # exemplar slice: both engines share this predicate

# the SINGLE-SOURCE oracle CTE block — the same generator the registered
# curation capstone splices in (operators.dsir.dsir_oracle_cte)
_WEIGHTS_CTE = dsir_oracle_cte(TARGET, n_buckets=B, alpha=ALPHA, prefix="ds_")


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_hashed_ngram_counts_match_duckdb(spark, sf_dir, duck):
    feat = hashed_ngram_counts(_docs(spark, sf_dir), n_buckets=B)
    assert_matches_oracle(
        feat, duck, f"WITH {_WEIGHTS_CTE} SELECT doc_id, bucket, cnt FROM ds_feat"
    )


def test_dsir_weights_match_duckdb(spark, sf_dir, duck):
    w = dsir_weights(
        _docs(spark, sf_dir), F.expr(TARGET), n_buckets=B, alpha=ALPHA
    )
    assert_matches_oracle(
        w, duck, f"WITH {_WEIGHTS_CTE} SELECT doc_id, log_weight FROM ds_w"
    )


def test_dsir_target_docs_outrank_background(spark):
    """Planted-domain sanity: with a target slice speaking a distinct
    vocabulary, every target doc must outweigh every background doc."""
    rows = []
    for i in range(30):
        rows.append((i, "quantum entanglement qubit decoherence photon " * 5, True))
    for i in range(30, 90):
        rows.append((i, "football referee goalkeeper penalty stadium crowd " * 5, False))
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    w = dsir_weights(df, F.col("tgt"), n_buckets=B).collect()
    scores = {r["doc_id"]: r["log_weight"] for r in w}
    worst_target = min(scores[i] for i in range(30))
    best_background = max(scores[i] for i in range(30, 90))
    assert worst_target > best_background


def test_dsir_plan_broadcasts_only_bounded_frames(spark, sf_dir):
    """The log-ratio table (<= n_buckets rows) broadcasts; the per-doc
    feature stream must NOT. No cartesian on any path (the 1-row totals
    ride broadcast nested loops by design — bounded scalars)."""
    w = dsir_weights(_docs(spark, sf_dir), F.expr(TARGET), n_buckets=B)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
