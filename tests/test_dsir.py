"""DSIR value gates: hashed n-gram features, smoothed log-ratio importance
weights and the deterministic Gumbel top-k resample are each compared
against a DuckDB oracle built from the SAME md5 hashing, token regexes and
smoothing constants; a planted-domain test pins that target-like documents
actually outrank off-domain ones."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.operators.dsir import (
    dsir_oracle_cte,
    dsir_resample,
    dsir_weights,
    gumbel_key,
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


def test_dsir_resample_matches_duckdb(spark, sf_dir, duck):
    """Gumbel top-25 — scores AND the selected id set reproduce exactly
    (salted-md5 uniform -> -ln(-ln(u)) is the same closed form in SQL)."""
    w = dsir_weights(_docs(spark, sf_dir), F.expr(TARGET), n_buckets=B, alpha=ALPHA)
    got = dsir_resample(w, n=25, salt="dsir")
    u = (
        "((CAST(('0x' || substr(md5(concat('dsir', ':', doc_id::VARCHAR)), 1, 15)) AS BIGINT) + 1)"
        f" / ({float(1 << 60)} + 1.0))"
    )
    sql = f"""WITH {_WEIGHTS_CTE},
    scored AS (
      SELECT doc_id, log_weight,
             round(log_weight + (-ln(-ln({u}))), 6) AS score
      FROM ds_w
    ),
    rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank FROM scored)
    SELECT doc_id, log_weight, score, rank FROM rk WHERE rank <= 25"""
    assert_matches_oracle(got, duck, sql)


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


def test_gumbel_key_is_standard_gumbel_shaped(spark):
    """The deterministic draw must actually look Gumbel: finite, and with
    the right median (-ln(ln 2) ~ 0.3665) over a few thousand ids."""
    df = spark.range(4000).select(gumbel_key(F.col("id")).alias("g"))
    rows = df.agg(
        F.expr("percentile(g, 0.5)").alias("med"), F.max(F.abs("g")).alias("mx")
    ).collect()[0]
    assert math.isfinite(rows["mx"])
    assert abs(rows["med"] - 0.3665) < 0.1


def test_dsir_plan_broadcasts_only_bounded_frames(spark, sf_dir):
    """The log-ratio table (<= n_buckets rows) broadcasts; the per-doc
    feature stream must NOT. No cartesian on any path (the 1-row totals
    ride broadcast nested loops by design — bounded scalars)."""
    w = dsir_weights(_docs(spark, sf_dir), F.expr(TARGET), n_buckets=B)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
