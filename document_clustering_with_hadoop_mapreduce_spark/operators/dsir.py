"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): score every raw document by how target-like it is under
two bag-of-hashed-n-grams unigram models.

log w(doc) = sum over the doc's hashed-n-gram buckets of
             cnt_bucket * (ln p_target(bucket) - ln q_raw(bucket))

with add-alpha smoothing on both distributions. Features are unigram +
bigram hashes bucketed mod ``n_buckets`` — the paper's trick that keeps the
model a FIXED-size table regardless of corpus vocabulary.

Scale design (100 TB):
- the feature stream is one map-side explode per document (no shuffle until
  the bucket aggregate);
- both language models are ``n_buckets``-row aggregates — n_buckets is a
  parameter (default 4096), NOT corpus-sized, so the joined log-ratio table
  broadcasts safely (same bounded-broadcast discipline as the eval n-gram
  set in ``operators/decontam.py``; contrast the per-document frames that
  must NEVER broadcast, ``operators/dedup.py::jaccard_pairs``);
- per-doc scoring is the feature stream joined map-side against that
  broadcast + one groupBy(doc) sum — two aggregate exchanges total.

All hashes are md5-derived (``functions.hashing.md5_int60``) so a DuckDB
oracle reproduces buckets and weights bit-for-bit
(tests/test_dsir.py).

Reference parity: the reference engine has no data-selection surface; this
extends its text pipeline (tokenization per sources/1.1/source/task1_1.java
semantics, re-expressed in ``functions.text``) into the training-data
curation family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int60
from ..functions.text import tokens


def _gram_hashes(toks: Column, n: int) -> Column:
    """Array of 60-bit hashes of every n-token window (counts preserved —
    unlike the minhash shingle stream this is NOT distinct). Short docs
    (size < n) yield an empty array — sequence() would otherwise generate a
    DESCENDING [1, 0] for the degenerate bound (same guard as
    ``dedup.shingle_hashes``)."""
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: md5_int60(F.concat_ws(" ", F.slice(toks, i, n))))


def hashed_ngram_counts(
    docs: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, bucket, cnt): unigram + bigram occurrence counts hashed into
    ``n_buckets`` buckets. One map-side explode, one aggregate exchange.

    The token array is materialized in its OWN projection before the gram
    lambdas touch it — referencing ``tokens(text)`` inside the transform
    makes Catalyst re-split the full text once per gram (O(len^2) per doc,
    the measured trap documented at ``dedup._tokenized``). Empty tokens
    (blank/clean-to-empty docs) are filtered to match the oracle's token
    stream."""
    toks = F.col("__toks")
    tokenized = docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(tokens(F.col(text_col)), lambda t: t != "").alias("__toks"),
    )
    grams = F.concat(_gram_hashes(toks, 1), _gram_hashes(toks, 2))
    return (
        tokenized.select("doc_id", F.explode(grams).alias("h"))
        .select("doc_id", F.pmod(F.col("h"), F.lit(n_buckets)).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_weights(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, log_weight): the DSIR importance log-weight of every raw
    document, target-likeness relative to the raw pool itself.

    ``is_target`` is a boolean Column over ``docs`` marking the in-domain
    exemplar slice (the paper's "target" sample — e.g. a trusted source or
    a hand-curated subset). Both unigram LMs are add-``alpha`` smoothed over
    the same ``n_buckets`` support, so every bucket has finite log-mass.

    Per-bucket log-ratios are quantized to EXACT 1e-6 integers before the
    per-doc sum — sum(cnt * lr6) is then pure BIGINT arithmetic, identical
    in any engine and any partition order (a float sum rounded after the
    fact still flips the 6th decimal across engines — measured), and the
    final weight lr-sum / 1e6 carries exactly six decimal digits so NO
    further rounding happens (round(x, 6) itself is engine-divergent when
    an 8-digit quotient lands on a half: BigDecimal-of-shortest-repr vs
    multiply-round — also measured, one flipped row at sf0.1).
    """
    # three consumers (raw LM, target LM, per-doc scoring): materialize the
    # explode+aggregate ONCE (the single-materialization pattern used for
    # every genuinely multi-consumer frame — see operators/dedup.py:160)
    feat = hashed_ngram_counts(docs, n_buckets, text_col, id_col).localCheckpoint(
        eager=False
    )
    tgt_ids = docs.filter(is_target).select(F.col(id_col).alias("doc_id"))
    raw = feat.groupBy("bucket").agg(F.sum("cnt").alias("q_cnt"))
    tgt = (
        feat.join(F.broadcast(tgt_ids), "doc_id")
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("p_cnt"))
    )
    # totals ride along as 1-row broadcast scalars (bounded: one row each,
    # same pattern as unigram_cross_entropy's mass scalar)
    q_tot = raw.agg(F.sum("q_cnt").alias("q_tot"))
    p_tot = tgt.agg(F.sum("p_cnt").alias("p_tot"))
    dist = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(q_tot))
        .crossJoin(F.broadcast(p_tot))
        .select(
            "bucket",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("p_cnt"), F.lit(0)) + F.lit(float(alpha)))
                        / (F.col("p_tot") + F.lit(float(alpha) * n_buckets))
                    )
                    - F.log(
                        (F.col("q_cnt") + F.lit(float(alpha)))
                        / (F.col("q_tot") + F.lit(float(alpha) * n_buckets))
                    )
                )
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("lr6"),
        )
    )
    return (
        feat.join(F.broadcast(dist), "bucket")
        .groupBy("doc_id")
        .agg(
            (F.sum(F.col("cnt") * F.col("lr6")) / F.lit(1e6)).alias("log_weight")
        )
    )


def dsir_oracle_cte(
    target_pred_sql: str,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    prefix: str = "ds_",
) -> str:
    """DuckDB CTE list (no leading WITH) reproducing ``dsir_weights`` over
    the ``documents`` view bit-for-bit — same clean/split regexes, the same
    md5-60bit gram hash, the same 1e-6 integer quantization of the
    log-ratios. ``{prefix}w`` is the final (doc_id, log_weight) relation;
    all CTE names carry ``prefix`` so the block splices into composed
    oracles (the curation capstone) without collisions."""
    from ..functions.text import CLEAN_RE_DUCKDB

    p = prefix
    a = float(alpha)
    ab = a * n_buckets
    hash_g = "CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)"
    return f"""{p}t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text), '{CLEAN_RE_DUCKDB}', '', 'g')), '[ \\t\\n\\r]+'),
                     t -> t <> '') AS toks
  FROM documents
),
{p}grams AS (
  SELECT doc_id, toks[i] AS g
  FROM {p}t, UNNEST(generate_series(1, len(toks))) AS t(i)
  UNION ALL
  SELECT doc_id, concat(toks[i], ' ', toks[i+1]) AS g
  FROM {p}t, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 2
),
{p}feat AS (
  SELECT doc_id, ({hash_g}) % {n_buckets} AS bucket, count(*) AS cnt
  FROM {p}grams GROUP BY doc_id, bucket
),
{p}tids AS (SELECT doc_id FROM documents WHERE {target_pred_sql}),
{p}raw AS (SELECT bucket, sum(cnt) AS q_cnt FROM {p}feat GROUP BY bucket),
{p}tgt AS (SELECT bucket, sum(cnt) AS p_cnt FROM {p}feat JOIN {p}tids USING (doc_id) GROUP BY bucket),
{p}tots AS (SELECT (SELECT sum(q_cnt) FROM {p}raw) AS q_tot, (SELECT sum(p_cnt) FROM {p}tgt) AS p_tot),
{p}dist AS (
  SELECT bucket,
         CAST(round((ln((coalesce(p_cnt, 0) + {a}) / (p_tot + {ab}))
             - ln((q_cnt + {a}) / (q_tot + {ab}))) * 1e6, 0) AS BIGINT) AS lr6
  FROM {p}raw LEFT JOIN {p}tgt USING (bucket) CROSS JOIN {p}tots
),
{p}w AS (
  SELECT doc_id, sum(cnt * lr6) / 1e6 AS log_weight
  FROM {p}feat JOIN {p}dist USING (bucket) GROUP BY doc_id
)"""
