"""Dedup query surface: exact, shingles, MinHash, LSH, Jaccard, SimHash.

Every query here is oracle-checked — the DuckDB SQL is generated from the
same hash constants (``functions.hashing.minhash_params``) and tokenization
constants as the Spark operators, so signatures match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.dedup import (
    duplicate_components,
    exact_dup_groups,
    jaccard_pairs,
    jaccard_verify_pairs,
    lsh_candidate_pairs,
    minhash_oracle_sql,
    minhash_signatures,
    shingle_hashes,
    shingles,
    simhash_fingerprints,
    simhash_pairs,
    tfidf_cosine_pairs_blocked,
)
from ..operators.term_matrix import term_doc_counts
from ..operators.tfidf import tfidf
from ..sources.tables import load_table
from .oracles import MATRIX_CTE, TFIDF_CTE, TOKENS_CTE
from .registry import _n_docs, register

_ORACLES = minhash_oracle_sql(TOKENS_CTE)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@register(
    "dedup_exact",
    """
    WITH keyed AS (
      SELECT doc_id,
             md5(array_to_string(
               (list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 \\t\\n\\r]', '', 'g'), '[ \\t\\n\\r]+'),
                            t -> t <> ''))[1:5], ' ')) AS dup_key
      FROM documents
    )
    SELECT dup_key, min(doc_id) AS keep_doc_id, count(*) AS group_size
    FROM keyed GROUP BY dup_key""",
    "exact dedup: hash-groupBy on a 5-token prefix key, min-id representative",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = F.md5(F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 5)))
    return exact_dup_groups(_docs(spark, sf_dir), key)


@register(
    "doc_shingles",
    _ORACLES["doc_shingles"],
    "3-word shingle sets per doc (dedup substrate), stopwords kept",
)
def q_doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingles(_docs(spark, sf_dir), n=3)


@register(
    "minhash_signatures",
    _ORACLES["minhash_signatures"],
    "MinHash signature matrix (16 seeded universal hashes over md5-60bit "
    "shingle hashes) — bit-exact against the oracle",
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(shingle_hashes(_docs(spark, sf_dir), n=3), num_hashes=16, seed=42)


# PageRank over the LSH candidate graph, fused into the lsh_candidate_pairs
# slot (the registry is capped at 50 — same fusion pattern as simhash).
# Centrality over the near-dup graph is the keep-representative signal
# richer than min-id: the most-connected document of a boilerplate
# neighborhood. Fixed-iteration power mode (tol=0) so DuckDB can mirror
# the exact K steps; undirected similarity edges mean no dangling mass.
_PR_DAMPING = 0.85
_PR_ITERS = 5


def _pagerank_iter_ctes(n_iters: int, damping: float) -> str:
    """Unrolled power steps r1..rK over pr_links/pr_nodes/pr_n — DuckDB
    disallows aggregates in recursive CTE terms, so a fixed iteration
    count unrolls instead (identical arithmetic to operators/graph.py:
    rank' = (1-d)/N + d * sum_in rank/outdeg, no dangling term on a
    symmetrized graph)."""
    steps = []
    for i in range(1, n_iters + 1):
        steps.append(f"""r{i} AS (
  SELECT nd.node, (1.0 - {damping}) / pn.n + {damping} * coalesce(c.s, 0.0) AS rank
  FROM pr_nodes nd CROSS JOIN pr_n pn
  LEFT JOIN (
    SELECT l.dst AS node, sum(r.rank * l.w) AS s
    FROM pr_links l JOIN r{i - 1} r ON r.node = l.src GROUP BY l.dst
  ) c USING (node)
)""")
    return ",\n".join(steps)


_LSH_PAGERANK_ORACLE = f"""
WITH pairs AS ({_ORACLES["lsh_candidate_pairs"]}),
pr_edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
pr_nodes AS (SELECT DISTINCT src AS node FROM pr_edges),
pr_n AS (SELECT count(*)::DOUBLE AS n FROM pr_nodes),
pr_links AS (
  SELECT src, dst, 1.0 / count(*) OVER (PARTITION BY src) AS w FROM pr_edges
),
r0 AS (SELECT node, 1.0 / pn.n AS rank FROM pr_nodes CROSS JOIN pr_n pn),
{_pagerank_iter_ctes(_PR_ITERS, _PR_DAMPING)}
SELECT 'pair' AS kind, doc_a, doc_b, NULL::DOUBLE AS rank FROM pairs
UNION ALL
SELECT 'rank' AS kind, node AS doc_a, NULL::BIGINT AS doc_b,
       round(round(rank, 9), 6) AS rank
FROM r{_PR_ITERS}"""


@register(
    "lsh_candidate_pairs",
    _LSH_PAGERANK_ORACLE,
    "MinHash-LSH banding (8 bands x 2 rows): candidate near-dup pairs via "
    "shuffle-bounded band-key equi-join (never O(n^2)); fused kind='rank' "
    "rows carry 5-step fixed-iteration PageRank centrality over the same "
    "candidate graph (keep-representative signal; one co-partitioned join "
    "+ one agg exchange per step, DuckDB mirror is the unrolled power "
    "iteration)",
)
def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    sigs = minhash_signatures(shingle_hashes(_docs(spark, sf_dir), n=3), num_hashes=16, seed=42)
    # two consumers (pair rows + the pagerank edge list) — materialize once.
    # PLAIN lazy checkpoint, not session.lazy_cut: the pairs sub-plan is
    # corpus-scale (banded window + self-join + distinct over every doc),
    # and the aqe_off-frozen variant executes it with static shuffle
    # partitions and no AQE join/coalesce rewrites — A/B at sf0.1 on the
    # round-13 duplicate-heavy corpus: 11.9 s frozen vs 4.3 s with AQE
    # (noop sink, min-of-2, construction included). The price is ONE
    # construction-time job (AQE materializes the checkpoint's shuffle
    # stages at .rdd creation: 4 jobs total vs 3 frozen, ceiling 8 in
    # test_pagerank.py) — the corpus-scale-cut trade the construction
    # audit documents as deliberate.
    pairs = lsh_candidate_pairs(sigs, num_hashes=16, rows_per_band=2).localCheckpoint(
        eager=False
    )
    ranks = pagerank(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        damping=_PR_DAMPING,
        max_iter=_PR_ITERS,
        tol=0.0,  # fixed-iteration power mode — the oracle-mirrorable shape
        undirected=True,
    )
    pair_rows = pairs.select(
        F.lit("pair").alias("kind"),
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.lit(None).cast("double").alias("rank"),
    )
    rank_rows = ranks.select(
        F.lit("rank").alias("kind"),
        F.col("node").cast("long").alias("doc_a"),
        F.lit(None).cast("long").alias("doc_b"),
        F.round(F.col("rank"), 6).alias("rank"),
    )
    return pair_rows.unionByName(rank_rows)


@register(
    "ngram_jaccard_pairs",
    _ORACLES["ngram_jaccard_pairs"],
    "exact 3-gram Jaccard >= 0.2 via shared-shingle join (small-scale "
    "baseline; at scale run only on LSH candidates)",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(shingles(_docs(spark, sf_dir), n=3), min_jaccard=0.2)


# Connected components over the LSH candidate graph: DuckDB's recursive CTE
# floods min labels exactly like the Spark propagation loop.
# leakage-safe split params fused into the components slot: the split key
# is the component representative, so near-duplicates can never straddle
# train/test (Lee et al. 2021 §6.2) — same salt/thresholds as hash_split
_SPLIT_SALT = "split-v1"

_CC_ORACLE = f"""
WITH RECURSIVE pairs AS ({_ORACLES["lsh_candidate_pairs"]}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT src AS doc_id, src AS label FROM edges
  UNION
  SELECT e.dst AS doc_id, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
),
comp AS (SELECT doc_id, min(label) AS component FROM reach GROUP BY doc_id),
comp_all AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
safe AS (
  SELECT doc_id, component,
         CAST(('0x' || substr(md5('{_SPLIT_SALT}:' || component::VARCHAR), 1, 15)) AS BIGINT) % 10000 AS bucket
  FROM comp_all
)
SELECT doc_id, component, bucket,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'valid'
            ELSE 'test' END AS split
FROM safe"""


@register(
    "dedup_components",
    _CC_ORACLE,
    "duplicate-cluster resolution: connected components (min-label flood, "
    "Kiveris-style) over the LSH candidate graph; every doc -> canonical "
    "min-id representative, singletons map to themselves. FUSED with the "
    "leakage-safe train/valid/test split (Lee'21 §6.2): bucket/split are "
    "drawn from the salted hash of the COMPONENT key, so near-duplicate "
    "documents always land in the same split — zero extra shuffle, the "
    "split is a map-side projection of the component table",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import leakage_safe_split

    docs = _docs(spark, sf_dir)
    sigs = minhash_signatures(shingle_hashes(docs, n=3), num_hashes=16, seed=42)
    pairs = lsh_candidate_pairs(sigs, num_hashes=16, rows_per_band=2)
    # the singleton fan-back only projects doc_id — no fan-out shuffle
    ids = load_table(spark, sf_dir, "documents", fan_out=False)
    comps = duplicate_components(pairs, documents=ids)
    # component table already covers every doc (singletons map to self),
    # so the operator's left-join fan-back is a no-op coalesce and the
    # fused split costs one map-side hash over the k-or-fewer-per-doc rows
    return leakage_safe_split(ids, comps, salt=_SPLIT_SALT).select(
        "doc_id",
        F.col("split_key").alias("component"),
        "bucket",
        "split",
    )


# The capstone a 100 TB training-data pipeline actually runs: quality
# filters + benchmark decontamination + perplexity-proxy scoring +
# VERIFIED duplicate-cluster representatives, one declarative plan.
# Unlike dedup_components (which demonstrates raw banding CC), the
# curation path verifies every LSH candidate with exact Jaccard >= 0.5
# before clustering — at 100 TB an unverified band coincidence would
# silently discard a unique document as a "duplicate".
#
# The decontamination gate uses a deterministic modulo slice of the corpus
# as the benchmark stand-in (the fixtures ship no separate eval suite):
# each "eval" doc trivially self-overlaps, so the gate provably removes a
# known, non-empty id set plus any 5-gram near-copies — both engines
# derive the same eval set, so the whole broadcast-semi-join + anti-join
# machinery of ``operators/decontam.py`` is value-gated by the driver.
# Gates compose as an INTERSECTION over the full corpus (quality AND clean
# AND representative), which is order-independent; a production build
# would typically decontaminate before electing representatives, but that
# ordering only matters when a component representative is itself
# contaminated, and the conservative intersection drops the doc either way.
_CURATION_JACCARD = 0.5
_DECONTAM_N = 5  # fixture texts are short word-soup; 5-grams overlap non-trivially
# benchmark stand-in slice — interpolated into the oracle SQL AND applied
# verbatim on the Spark side via F.expr, so the engines cannot drift
_EVAL_PRED_SQL = "doc_id % 101 = 7"
# DSIR target slice + bucket table size for the capstone's target-likeness
# score (operators/dsir.py) — same shared-predicate discipline as above
_DSIR_TGT_SQL = "lang = 'en'"
_DSIR_B = 512


def _verified_cc_oracle() -> str:
    """Mirror of lsh_candidate_pairs -> jaccard_verify_pairs ->
    duplicate_components: candidates verified against the distinct 60-bit
    shingle-hash sets (the same sets the Spark side uses), then min-label
    components over the verified edges only. ``sh`` (read three times)
    and ``verified`` (read twice by v_edges, which the recursion reads
    every step) are MATERIALIZED: DuckDB inlines a CTE at every
    reference."""
    hash_expr = "CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)"
    return f"""
cand AS ({_ORACLES["lsh_candidate_pairs"]}),
sh AS MATERIALIZED (SELECT DISTINCT doc_id, {hash_expr} AS h FROM ({_ORACLES["doc_shingles"]})),
szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY c.doc_a, c.doc_b
),
verified AS MATERIALIZED (
  SELECT m.doc_a, m.doc_b
  FROM common m
  JOIN szs x ON x.doc_id = m.doc_a
  JOIN szs y ON y.doc_id = m.doc_b
  WHERE round(m.n_common::DOUBLE / (x.sz + y.sz - m.n_common), 6) >= {_CURATION_JACCARD}
),
v_edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM verified
),
v_reach AS (
  SELECT src AS doc_id, src AS label FROM v_edges
  UNION
  SELECT e.dst AS doc_id, r.label FROM v_reach r JOIN v_edges e ON e.src = r.doc_id
),
v_comp AS (SELECT doc_id, min(label) AS component FROM v_reach GROUP BY doc_id),
comp_full AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN v_comp c USING (doc_id)
)"""


def _curation_oracle() -> str:
    from ..operators.dsir import dsir_oracle_cte
    from .oracles import MATRIX_CTE
    from .queries_events import _STOP_SQL, _TOKS

    n_tokens = "CASE WHEN trim(text)='' THEN 0 ELSE len(string_split_regex(trim(text), '[ \t\n\r]+')) END"
    # matrix CTEs for the unigram-LM score (strip the leading WITH so they
    # splice into the recursive CTE list)
    matrix_ctes = MATRIX_CTE.strip().removeprefix("WITH")
    # AS MATERIALIZED: DuckDB inlines a CTE at every reference — fun is
    # read six times and flags twice, each replaying every join below
    # (the CC recursion included); decon_h feeds eval_set and its join
    return f"""
WITH RECURSIVE {_verified_cc_oracle()},
{dsir_oracle_cte(_DSIR_TGT_SQL, n_buckets=_DSIR_B)},
{matrix_ctes},
xtotals AS (SELECT term, sum(cnt)::BIGINT AS tc FROM matrix GROUP BY term),
xmass AS (SELECT sum(tc)::DOUBLE AS m FROM xtotals),
xent AS (
  SELECT doc_id,
         round(-sum(cnt * ln(t.tc / xmass.m)) / sum(cnt), 6) AS cross_entropy
  FROM matrix JOIN xtotals t USING (term), xmass
  GROUP BY doc_id
),
decon_t AS (
  SELECT doc_id,
         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 \\t\\n\\r]', '', 'g'), '[ \\t\\n\\r]+'),
                     t -> t <> '') AS toks
  FROM documents
),
decon_h AS MATERIALIZED (
  SELECT doc_id,
         CAST(('0x' || substr(md5(array_to_string(toks[i:i+{_DECONTAM_N - 1}], ' ')), 1, 15)) AS BIGINT) AS h
  FROM decon_t, UNNEST(generate_series(1, len(toks) - {_DECONTAM_N - 1})) AS t(i)
  WHERE len(toks) >= {_DECONTAM_N}
),
eval_set AS (SELECT DISTINCT h FROM decon_h WHERE {_EVAL_PRED_SQL}),
contaminated AS (
  SELECT DISTINCT doc_id FROM decon_h JOIN eval_set USING (h)
),
q AS (
  SELECT doc_id, lang,
         {n_tokens} AS n_tokens,
         length(text) AS n_chars,
         round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 \\t\\n\\r]', '', 'g')))::DOUBLE
               / length(text), 6) AS punct_ratio,
         round(len(list_filter({_TOKS}, x -> x IN ({_STOP_SQL})))::DOUBLE
               / nullif({n_tokens}, 0), 6) AS stopword_ratio
  FROM documents
),
flags AS MATERIALIZED (
  SELECT q.doc_id, q.lang, q.n_tokens::BIGINT AS n_tokens, q.n_chars::BIGINT AS n_chars,
         q.stopword_ratio, q.punct_ratio,
         x.cross_entropy, w.log_weight AS dsir_logw,
         coalesce(q.n_tokens >= 20, false) AS g1,
         coalesce(q.stopword_ratio >= 0.02, false) AS g2,
         coalesce(q.punct_ratio <= 0.05, false) AS g3,
         (k.doc_id IS NULL) AS g4,
         (c.component = q.doc_id) AS g5
  FROM q JOIN comp_full c ON q.doc_id = c.doc_id
  LEFT JOIN xent x ON x.doc_id = q.doc_id
  LEFT JOIN ds_w w ON w.doc_id = q.doc_id
  LEFT JOIN contaminated k ON k.doc_id = q.doc_id
),
fun AS MATERIALIZED (
  SELECT count(*)::BIGINT AS n0,
         count_if(g1)::BIGINT AS n1,
         count_if(g1 AND g2)::BIGINT AS n2,
         count_if(g1 AND g2 AND g3)::BIGINT AS n3,
         count_if(g1 AND g2 AND g3 AND g4)::BIGINT AS n4,
         count_if(g1 AND g2 AND g3 AND g4 AND g5)::BIGINT AS n5
  FROM flags
)
SELECT 'doc' AS kind, doc_id, lang, n_tokens, n_chars, stopword_ratio, punct_ratio,
       cross_entropy, dsir_logw, NULL::VARCHAR AS stage,
       NULL::BIGINT AS n_in, NULL::BIGINT AS n_kept, NULL::BIGINT AS n_dropped
FROM flags WHERE g1 AND g2 AND g3 AND g4 AND g5
UNION ALL
SELECT 'funnel', NULL::BIGINT, NULL::VARCHAR, NULL::BIGINT, NULL::BIGINT,
       NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
       'input', n0, n0, 0::BIGINT FROM fun
UNION ALL
SELECT 'funnel', NULL::BIGINT, NULL::VARCHAR, NULL::BIGINT, NULL::BIGINT,
       NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
       'min_tokens', n0, n1, n0 - n1 FROM fun
UNION ALL
SELECT 'funnel', NULL::BIGINT, NULL::VARCHAR, NULL::BIGINT, NULL::BIGINT,
       NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
       'stopword_ratio', n1, n2, n1 - n2 FROM fun
UNION ALL
SELECT 'funnel', NULL::BIGINT, NULL::VARCHAR, NULL::BIGINT, NULL::BIGINT,
       NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
       'punct_ratio', n2, n3, n2 - n3 FROM fun
UNION ALL
SELECT 'funnel', NULL::BIGINT, NULL::VARCHAR, NULL::BIGINT, NULL::BIGINT,
       NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
       'decontaminated', n3, n4, n3 - n4 FROM fun
UNION ALL
SELECT 'funnel', NULL::BIGINT, NULL::VARCHAR, NULL::BIGINT, NULL::BIGINT,
       NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
       'representative', n4, n5, n4 - n5 FROM fun"""


@register(
    "corpus_curation",
    _curation_oracle(),
    "end-to-end corpus curation: quality gates (length, stopword ratio, "
    "punctuation ratio) + benchmark decontamination (broadcast eval 5-gram "
    "set, anti-join removal of overlapping docs) + unigram cross-entropy "
    "perplexity proxy surfaced per survivor + keep only VERIFIED "
    "duplicate-cluster representatives (LSH candidates "
    "exact-Jaccard-verified >= 0.5 before clustering) — the composed "
    "pipeline a training-data build runs; all stages map-side except the "
    "LSH join, the pair-bounded verify joins, the vocab-sized LM join and "
    "the CC flood",
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontam import contamination_stats
    from ..operators.dsir import dsir_weights
    from ..operators.textstats import doc_quality, unigram_cross_entropy

    docs = _docs(spark, sf_dir)
    # two consumers of the shingle stream (signatures + verification) and
    # no subtree reuse across the tokenize lambdas — materialize the
    # DISTINCT hash set once: verification needs the set anyway, min() is
    # duplicate-insensitive so signatures over it are value-identical, and
    # the checkpoint is the smaller frame (A/B-measured fastest shape)
    sh = (
        shingle_hashes(docs, n=3)
        .select("doc_id", F.col("h").alias("shingle"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sigs = minhash_signatures(
        sh.select("doc_id", F.col("shingle").alias("h")), num_hashes=16, seed=42
    )
    cand = lsh_candidate_pairs(sigs, num_hashes=16, rows_per_band=2)
    verified = jaccard_verify_pairs(cand, sh, min_jaccard=_CURATION_JACCARD)
    # 2-column / id-only projections: no fan-out shuffle (tokenizing
    # consumers above keep the fanned frame)
    ids = load_table(spark, sf_dir, "documents", fan_out=False)
    comp = duplicate_components(verified, documents=ids)
    qual = doc_quality(docs)
    # CCNet-style perplexity proxy per survivor (vocab-sized LM join; the
    # n_tokens it carries is the MATRIX mass, not the whitespace count the
    # quality gate uses — keep only the score)
    xent = unigram_cross_entropy(term_doc_counts(docs)).select("doc_id", "cross_entropy")
    # benchmark decontamination, inlined from `decontaminate`: the anti-join
    # runs against the HITS-sized flagged set (never the corpus-sized clean
    # set) — the eval suite here is a deterministic modulo slice of the
    # corpus, see the module comment above
    eval_docs = docs.filter(F.expr(_EVAL_PRED_SQL))  # ONE source of truth with the oracle
    flagged = (
        contamination_stats(docs, eval_docs, n=_DECONTAM_N)
        .filter(F.col("n_overlap") >= 1)
        .select("doc_id")
    )
    # DSIR target-likeness per survivor (bucketed n-gram LMs; the log-ratio
    # table is n_buckets-bounded so its join broadcasts — see operators/dsir.py)
    dsw = dsir_weights(docs, F.expr(_DSIR_TGT_SQL), n_buckets=_DSIR_B)
    # FUSED since round 8: the slot also reports the curation FUNNEL —
    # funnel_report over the very gate predicates the survivor filter
    # applies (cumulative pipeline order), so the per-stage attrition a
    # production curation run publishes is driver-gated too. One flags
    # frame feeds both consumers (checkpointed: the survivor filter and
    # the funnel aggregate share every upstream join).
    from ..operators.funnel import funnel_report

    flags = (
        ids.select("doc_id", "lang")
        .join(qual, "doc_id")
        .join(comp, "doc_id")
        .join(xent, "doc_id", "left")
        .join(dsw.withColumnRenamed("log_weight", "dsir_logw"), "doc_id", "left")
        .join(flagged.withColumn("_flag", F.lit(True)), "doc_id", "left")
        .localCheckpoint(eager=False)
    )
    stages = {
        "min_tokens": F.col("n_tokens") >= 20,
        "stopword_ratio": F.col("stopword_ratio") >= 0.02,
        "punct_ratio": F.col("punct_ratio") <= 0.05,
        "decontaminated": F.col("_flag").isNull(),
        "representative": F.col("component") == F.col("doc_id"),
    }
    keep = None
    for pred in stages.values():
        keep = pred if keep is None else (keep & pred)
    fun_cols = ["stage", "n_in", "n_kept", "n_dropped"]
    doc_rows = flags.filter(keep).select(
        F.lit("doc").alias("kind"),
        "doc_id", "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        "stopword_ratio", "punct_ratio", "cross_entropy", "dsir_logw",
        F.lit(None).cast("string").alias("stage"),
        *[F.lit(None).cast("long").alias(c) for c in fun_cols[1:]],
    )
    fun_rows = funnel_report(flags, stages).select(
        F.lit("funnel").alias("kind"),
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("lang"),
        *[F.lit(None).cast("long").alias(c) for c in ("n_tokens", "n_chars")],
        *[F.lit(None).cast("double").alias(c)
          for c in ("stopword_ratio", "punct_ratio", "cross_entropy", "dsir_logw")],
        *fun_cols,
    )
    return doc_rows.unionByName(fun_rows)


_COSINE_CTES = f"""{TFIDF_CTE},
ranked AS (
  SELECT doc_id, term, round(tfidf, 6) AS w0,
         row_number() OVER (PARTITION BY doc_id ORDER BY round(tfidf, 6) DESC, term ASC) AS rn
  FROM tfidf
),
top AS (SELECT doc_id, term, w0 FROM ranked WHERE rn <= 20),
norms AS (SELECT doc_id, sqrt(sum(w0*w0)) AS norm FROM top GROUP BY doc_id),
-- zero-norm docs (all selected tf-idf weights round to 0) have no defined
-- cosine: dropped in BOTH engines rather than dividing by zero
nw AS (SELECT t.doc_id, t.term, t.w0 / n.norm AS w
       FROM top t JOIN norms n USING (doc_id) WHERE n.norm > 0)"""

_COSINE_PAIRS_SELECT = """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, round(sum(a.w*b.w), 6) AS cosine
FROM nw a JOIN nw b ON a.term = b.term AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING round(sum(a.w*b.w), 6) >= 0.9"""

_COSINE_PAIRS_ORACLE = f"{_COSINE_CTES}\n{_COSINE_PAIRS_SELECT}"


# Retrieval stack fused into the tfidf_cosine_pairs slot (50-slot cap,
# simhash fusion pattern): the cosine near-dup pairs keep their rows as
# kind='cos_pair'; fused in are the query-side retrieval family over the
# SAME term-doc matrix — BM25 batch top-k (kind='bm25'), a term-frequency
# second system, their RRF hybrid fusion (kind='rrf'), and per-query
# ranked-retrieval metrics of the fused list (kind='m_nrel'/'m_recall'/
# 'm_mrr'/'m_ndcg'). The query batch is DATA-DERIVED so both engines agree
# by construction: per language, the top-RET_QTERMS terms by total corpus
# frequency (exact integer sums, term tie-break); judgments grade each doc
# by how many of the query's terms it contains.
_RET_K = 10       # retrieval depth (top-k, recall@k, ndcg@k)
_RET_RRF_K = 60   # the SIGIR'09 standard damping constant
_RET_QTERMS = 2   # terms per query (query_id = lang)


def _retrieval_fused_oracle() -> str:
    from ..operators.bm25 import bm25_ranked_ctes

    bq_body = f"""
  SELECT lang AS query_id, term FROM (
    SELECT d.lang, m.term,
           row_number() OVER (PARTITION BY d.lang
                              ORDER BY sum(m.cnt) DESC, m.term ASC) AS rn
    FROM matrix m JOIN documents d USING (doc_id)
    GROUP BY d.lang, m.term
  ) WHERE rn <= {_RET_QTERMS}"""
    return f"""{_COSINE_CTES},
cospairs AS ({_COSINE_PAIRS_SELECT}),
{bm25_ranked_ctes(bq_body, k=_RET_K)},
tf_scores AS (
  SELECT q.query_id, p.doc_id, sum(p.cnt)::DOUBLE AS score
  FROM bm_post p JOIN bq q USING (term) GROUP BY q.query_id, p.doc_id
),
tfr AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM tf_scores QUALIFY rank <= {_RET_K}
),
rrf0 AS (
  SELECT query_id, doc_id, 1.0 / ({_RET_RRF_K}.0 + rank) AS r FROM bm25r
  UNION ALL
  SELECT query_id, doc_id, 1.0 / ({_RET_RRF_K}.0 + rank) AS r FROM tfr
),
rrf1 AS (SELECT query_id, doc_id, round(sum(r), 6) AS rrf_score FROM rrf0 GROUP BY query_id, doc_id),
rrfr AS (
  SELECT query_id, doc_id, rrf_score,
         row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC)::INT AS rank
  FROM rrf1 QUALIFY rank <= {_RET_K}
),
qrels AS (
  SELECT q.query_id, p.doc_id, count(DISTINCT p.term)::INT AS rel
  FROM bm_post p JOIN bq q USING (term) GROUP BY q.query_id, p.doc_id
),
nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM qrels GROUP BY query_id),
ideal AS (
  SELECT query_id,
         sum(CAST(round((pow(2, rel) - 1) / log2(p + 1), 12) AS DECIMAL(38,12)))::DOUBLE AS idcg
  FROM (SELECT query_id, rel,
               row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS p
        FROM qrels)
  WHERE p <= {_RET_K} GROUP BY query_id
),
hits AS (SELECT r.query_id, r.rank, qrels.rel FROM rrfr r JOIN qrels USING (query_id, doc_id)),
obs AS (
  SELECT query_id,
         sum(CASE WHEN rank <= {_RET_K} THEN 1 ELSE 0 END) AS hits_k,
         round(1.0 / min(rank), 6) AS mrr,
         sum(CASE WHEN rank <= {_RET_K} THEN CAST(round((pow(2, rel) - 1) / log2(rank + 1), 12) AS DECIMAL(38,12)) END)::DOUBLE AS dcg
  FROM hits GROUP BY query_id
),
metrics AS (
  SELECT nrel.query_id, nrel.n_rel,
         round(coalesce(hits_k, 0)::DOUBLE / nrel.n_rel, 6) AS recall_at_k,
         coalesce(mrr, 0.0) AS mrr,
         round(coalesce(dcg, 0.0) / idcg, 6) AS ndcg_at_k
  FROM nrel JOIN ideal USING (query_id) LEFT JOIN obs USING (query_id)
)
SELECT 'cos_pair' AS kind, CAST(doc_a AS VARCHAR) AS query_id, doc_b AS doc_id,
       cosine AS score, NULL::INT AS rank FROM cospairs
UNION ALL SELECT 'bm25', query_id, doc_id, score, rank FROM bm25r
UNION ALL SELECT 'rrf', query_id, doc_id, rrf_score, rank FROM rrfr
UNION ALL SELECT 'm_nrel', query_id, NULL::BIGINT, n_rel::DOUBLE, NULL::INT FROM metrics
UNION ALL SELECT 'm_recall', query_id, NULL::BIGINT, recall_at_k, NULL::INT FROM metrics
UNION ALL SELECT 'm_mrr', query_id, NULL::BIGINT, mrr, NULL::INT FROM metrics
UNION ALL SELECT 'm_ndcg', query_id, NULL::BIGINT, ndcg_at_k, NULL::INT FROM metrics"""


@register(
    "tfidf_cosine_pairs",
    _retrieval_fused_oracle(),
    "near-dup pairs: cosine >= 0.9 over each doc's top-20 tf-idf terms via "
    "inverted-index self-join (Bayardo prefix truncation — never dense, "
    "never O(n^2)); fused retrieval stack over the same matrix: BM25 batch "
    "top-10 for data-derived per-lang queries (kind='bm25'), RRF hybrid of "
    "BM25 + term-frequency rankings (kind='rrf'), and per-query "
    "recall@k/MRR/nDCG@k of the fused list (kind='m_*')",
)
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ..operators.bm25 import bm25_batch_topk, retrieval_metrics, rrf_fuse
    from ..operators.topk import top_k_per_group

    docs = _docs(spark, sf_dir)
    # the count matrix feeds five consumers (tfidf pairs, query derivation,
    # BM25, the TF system, qrels) with no subtree reuse across the tokenize
    # lambdas — materialize once (same reasoning as the simhash slot)
    m = term_doc_counts(docs).localCheckpoint(eager=False)
    # block-matmul engine: the fixtures are the measured degenerate case of
    # the Bayardo prefix assumption (flat 29-term prefix vocabulary at
    # sf0.1 — the inverted-index triples plan expands to 3.0e8 join rows,
    # 88.5 s vs 3.3 s for the identical frame; see tfidf_cosine_pairs
    # docstrings and tests/test_dedup_components.py engine-equality gate)
    cos = tfidf_cosine_pairs_blocked(
        tfidf(m, n_docs=_n_docs(spark, sf_dir)), top_t=20, min_cosine=0.9
    )

    # data-derived query batch: top terms per language by exact corpus
    # frequency (integer sums — engine-stable), query_id = lang
    # doc->lang is corpus-row-sized (NOT broadcastable at 100 TB): shuffle
    # equi-join on doc_id, then the per-(lang, term) aggregate
    cats = load_table(spark, sf_dir, "documents", fan_out=False).select("doc_id", "lang")
    wq = Window.partitionBy("lang").orderBy(F.desc("tot"), F.asc("term"))
    queries = (
        m.join(cats, "doc_id")
        .groupBy("lang", "term")
        .agg(F.sum("cnt").alias("tot"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= _RET_QTERMS)
        .select(F.col("lang").alias("query_id"), "term")
        .localCheckpoint(eager=False)  # 3 consumers of a k-row frame
    )
    # bm and fused are NOT checkpointed (round 13): they sit entirely
    # ABOVE the m/queries RDD-scan cuts, so their sub-plans canonicalize
    # (no tokenize lambdas) and both consumers execute inside the ONE
    # final job where the k-row recomputation is cheap and concurrently
    # scheduled — while a checkpoint materializes each frame as an extra
    # SEQUENTIAL construction-time job. Paired fresh-JVM A/B at sf0.1
    # (alternating, 4 rounds): no-cut wins every pair, median -0.56 s
    # (6.8->5.5 s typical); cutting `queries` as well re-aggregates the
    # corpus matrix 3x and LOSES ~0.6 s, so that cut stays.
    bm = bm25_batch_topk(m, queries, k=_RET_K)
    posting = m.join(F.broadcast(queries.select("term").distinct()), "term")
    graded = posting.join(F.broadcast(queries), "term").groupBy("query_id", "doc_id")
    tfr = top_k_per_group(
        graded.agg(F.sum("cnt").cast("double").alias("score")),
        ["query_id"],
        [F.desc("score"), F.asc("doc_id")],
        _RET_K,
    )
    fused = rrf_fuse([bm, tfr], k=_RET_RRF_K, top_n=_RET_K)
    qrels = graded.agg(F.count_distinct("term").cast("int").alias("rel"))
    mets = retrieval_metrics(fused, qrels, k=_RET_K)

    def _shape(df, kind, qid, did, score, rank):
        return df.select(
            F.lit(kind).alias("kind"),
            qid.cast("string").alias("query_id"),
            did.cast("long").alias("doc_id"),
            score.cast("double").alias("score"),
            rank.cast("int").alias("rank"),
        )

    null_l = F.lit(None)
    rows = _shape(cos, "cos_pair", F.col("doc_a"), F.col("doc_b"), F.col("cosine"), null_l)
    rows = rows.unionByName(
        _shape(bm, "bm25", F.col("query_id"), F.col("doc_id"), F.col("score"), F.col("rank"))
    )
    rows = rows.unionByName(
        _shape(fused, "rrf", F.col("query_id"), F.col("doc_id"), F.col("rrf_score"), F.col("rank"))
    )
    # metric melt rides ONE pass over the k-row metrics frame
    met_rows = mets.selectExpr(
        "query_id",
        "stack(4, 'm_nrel', cast(n_rel as double), 'm_recall', recall_at_k, "
        "'m_mrr', mrr, 'm_ndcg', ndcg_at_k) AS (kind, score)",
    ).select(
        "kind",
        F.col("query_id").cast("string").alias("query_id"),
        F.lit(None).cast("long").alias("doc_id"),
        "score",
        F.lit(None).cast("int").alias("rank"),
    )
    return rows.unionByName(met_rows)


def _simhash_fused_oracle(
    bits: int = 32, bands: int = 4, max_hamming: int = 3, max_bucket_size: int = 256
) -> str:
    """Fingerprints + banded-hamming verified pairs in ONE result (the
    registry is capped at 50 slots, so the pair generator is value-gated by
    fusion — same pattern as the fused doc_quality slot). Mirrors
    ``simhash_pairs`` exactly, INCLUDING the hot-bucket star guard."""
    h_expr = "CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT)"
    sums = ", ".join(
        f"sum(CASE WHEN (h & {1 << b}) > 0 THEN cnt ELSE -cnt END) AS s{b}"
        for b in range(bits)
    )
    packed = " + ".join(f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(bits))
    width = bits // bands
    mask = (1 << width) - 1
    return f"""{MATRIX_CTE},
hashed AS (SELECT doc_id, {h_expr} AS h, cnt FROM matrix),
sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({packed} AS BIGINT) AS simhash FROM sums),
banded0 AS (
  SELECT doc_id, simhash, t.band_idx,
         (simhash >> (t.band_idx * {width})) & {mask} AS band_val
  FROM fp, UNNEST(generate_series(0, {bands - 1})) AS t(band_idx)
),
sized AS (
  SELECT *,
         count(*) OVER (PARTITION BY band_idx, band_val) AS n,
         min(doc_id) OVER (PARTITION BY band_idx, band_val) AS min_doc,
         arg_min(simhash, doc_id) OVER (PARTITION BY band_idx, band_val) AS min_hash
  FROM banded0
),
keep AS (SELECT doc_id, simhash, band_idx, band_val FROM sized WHERE n <= {max_bucket_size}),
star AS (
  SELECT min_doc AS a, doc_id AS b, bit_count(xor(min_hash, simhash)) AS hamming
  FROM sized WHERE n > {max_bucket_size} AND doc_id <> min_doc
),
cand AS (
  SELECT l.doc_id AS a, r.doc_id AS b, bit_count(xor(l.simhash, r.simhash)) AS hamming
  FROM keep l JOIN keep r
    ON l.band_idx = r.band_idx AND l.band_val = r.band_val AND l.doc_id < r.doc_id
),
pairs AS (
  SELECT DISTINCT a, b, hamming
  FROM (SELECT * FROM cand UNION ALL SELECT * FROM star)
  WHERE hamming <= {max_hamming}
)
SELECT 'fp' AS kind, doc_id AS id_a, NULL::BIGINT AS id_b, simhash AS value FROM fp
UNION ALL
SELECT 'pair' AS kind, a AS id_a, b AS id_b, hamming::BIGINT AS value FROM pairs"""


@register(
    "simhash_fingerprints",
    _simhash_fused_oracle(),
    "32-bit frequency-weighted SimHash per doc PLUS banded-hamming verified "
    "near-dup pairs (pigeonhole recall-1, hot-bucket star guard), fused into "
    "one value-gated result: kind='fp' rows carry (doc_id, simhash), "
    "kind='pair' rows carry (doc_a, doc_b, hamming)",
)
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two consumers (direct fp rows + the banding) and no subtree reuse
    # across the tokenize lambdas — materialize the 1-row-per-doc frame once
    fp = simhash_fingerprints(term_doc_counts(_docs(spark, sf_dir)), bits=32).localCheckpoint(
        eager=False
    )
    pairs = simhash_pairs(fp, bits=32, bands=4, max_hamming=3)
    fp_rows = fp.select(
        F.lit("fp").alias("kind"),
        F.col("doc_id").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.col("simhash").alias("value"),
    )
    pair_rows = pairs.select(
        F.lit("pair").alias("kind"),
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.col("hamming").cast("long").alias("value"),
    )
    return fp_rows.unionByName(pair_rows)
