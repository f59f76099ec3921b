"""Layer-by-layer replays of the benchmark's slots, for the traced run.

Each replay calls the program's public layer functions in the order the
slot composes them, inside a span named after the layer, and materialises
every layer's output at its boundary (an eager ``localCheckpoint``), so a
span's time is that layer's own work. The replay returns the slot's final
outputs; they are checked against the same expected digests as a normal
pass, so a replay that drifts from its slot fails the run.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.operators.cluster_eval import (
    clustering_metrics,
    simplified_silhouette,
)
from document_clustering_with_hadoop_mapreduce_spark.operators.decontam import contamination_stats
from document_clustering_with_hadoop_mapreduce_spark.operators.dedup import (
    duplicate_components,
    jaccard_verify_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_hashes,
)
from document_clustering_with_hadoop_mapreduce_spark.operators.doc_cluster import (
    assign_from_dists,
    cluster_top_terms,
    seeded_sparse_centroids,
    sparse_dists,
    sparse_lloyd,
)
from document_clustering_with_hadoop_mapreduce_spark.operators.dsir import dsir_weights
from document_clustering_with_hadoop_mapreduce_spark.operators.funnel import funnel_report
from document_clustering_with_hadoop_mapreduce_spark.operators.term_matrix import term_doc_counts
from document_clustering_with_hadoop_mapreduce_spark.operators.textstats import (
    doc_quality,
    unigram_cross_entropy,
)
from document_clustering_with_hadoop_mapreduce_spark.operators.tfidf import tfidf
from document_clustering_with_hadoop_mapreduce_spark.plans import queries_dedup as qd
from document_clustering_with_hadoop_mapreduce_spark.plans import queries_doc_cluster as qc
from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table

from verify import digest, frame_digest

# the Lloyd iterations ``doc_kmeans_sparse_trace`` runs (its ``max_iter``)
LLOYD_ITERS = 3


def _matrix(tr, spark, data_dir):
    """documents -> counts -> tf-idf, hash-partitioned on doc_id as the
    doc-cluster slots lay it out."""
    docs = tr.frame("sources.load_table", lambda: load_table(spark, data_dir, "documents"))
    n_docs = docs.count()
    counts = tr.frame("term_matrix.term_doc_counts", lambda: term_doc_counts(docs))
    tr.count("term_matrix.nnz", counts)
    par = spark.sparkContext.defaultParallelism
    return docs, tr.frame(
        "tfidf.tfidf",
        lambda: tfidf(counts, n_docs=n_docs).repartition(par, F.col("doc_id")),
    )


def doc_cluster(tr, spark, data_dir) -> dict[str, dict]:
    """``doc_kmeans_sparse_trace`` + ``doc_cluster_top_terms``."""
    _, m = _matrix(tr, spark, data_dir)

    def on_iteration(it, assigned, new_cents, wcss):
        tr.end()
        if it < LLOYD_ITERS - 1:
            tr.begin("doc_cluster.lloyd_iter")

    with tr.span("doc_cluster.sparse_lloyd"):
        tr.begin("doc_cluster.lloyd_iter")
        _, _, trace = sparse_lloyd(
            m, k=qc.K, max_iter=LLOYD_ITERS, round_centroids=6,
            final_centroids=False, cache_matrix=False, on_iteration=on_iteration,
        )
    wcss = digest(list(enumerate(trace)), ["iteration", "wcss"])

    cents = tr.frame("doc_cluster.seeded_sparse_centroids", lambda: seeded_sparse_centroids(m, qc.K))
    dists = tr.frame("doc_cluster.sparse_dists", lambda: sparse_dists(m, cents))
    assigned = tr.frame("doc_cluster.assign_from_dists", lambda: assign_from_dists(dists))
    terms = tr.frame(
        "doc_cluster.cluster_top_terms", lambda: cluster_top_terms(m, assigned, k_terms=10)
    ).select(F.lit("term").alias("kind"), "cluster", "term", "mean_w", "rank")
    labels = tr.frame(
        "sources.load_table",
        lambda: load_table(spark, data_dir, "documents", fan_out=False).select(
            "doc_id", F.col("lang").alias("label")
        ),
    )
    ext = tr.frame("cluster_eval.clustering_metrics", lambda: clustering_metrics(assigned, labels))
    sil = tr.frame("cluster_eval.simplified_silhouette", lambda: simplified_silhouette(dists))
    metrics = ext.unionByName(sil).select(
        F.lit("metric").alias("kind"),
        F.lit(-1).alias("cluster"),
        F.col("metric").alias("term"),
        F.col("value").alias("mean_w"),
        F.lit(0).alias("rank"),
    )
    return {
        "doc_kmeans_sparse_trace": wcss,
        "doc_cluster_top_terms": frame_digest(terms.unionByName(metrics)),
    }


def corpus_curation(tr, spark, data_dir) -> dict[str, dict]:
    """``corpus_curation``: dedup stages, then the curation gates."""
    docs = tr.frame("sources.load_table", lambda: load_table(spark, data_dir, "documents"))
    sh = tr.frame(
        "dedup.shingle_hashes",
        lambda: shingle_hashes(docs, n=3).select("doc_id", F.col("h").alias("shingle")).distinct(),
    )
    sigs = tr.frame(
        "dedup.minhash_signatures",
        lambda: minhash_signatures(sh.select("doc_id", F.col("shingle").alias("h")), num_hashes=16, seed=42),
    )
    cand = tr.frame(
        "dedup.lsh_candidate_pairs",
        lambda: lsh_candidate_pairs(sigs, num_hashes=16, rows_per_band=2),
    )
    tr.count("dedup.candidate_pairs", cand)
    verified = tr.frame(
        "dedup.jaccard_verify_pairs",
        lambda: jaccard_verify_pairs(cand, sh, min_jaccard=qd._CURATION_JACCARD),
    )
    tr.count("dedup.verified_pairs", verified)
    ids = tr.frame("sources.load_table", lambda: load_table(spark, data_dir, "documents", fan_out=False))
    comp = tr.frame("dedup.duplicate_components", lambda: duplicate_components(verified, documents=ids))
    qual = tr.frame("curation.doc_quality", lambda: doc_quality(docs))
    counts = tr.frame("term_matrix.term_doc_counts", lambda: term_doc_counts(docs))
    tr.count("term_matrix.nnz", counts)
    xent = tr.frame(
        "curation.unigram_cross_entropy",
        lambda: unigram_cross_entropy(counts).select("doc_id", "cross_entropy"),
    )
    flagged = tr.frame(
        "curation.contamination_stats",
        lambda: contamination_stats(docs, docs.filter(F.expr(qd._EVAL_PRED_SQL)), n=qd._DECONTAM_N)
        .filter(F.col("n_overlap") >= 1)
        .select("doc_id"),
    )
    dsw = tr.frame(
        "curation.dsir_weights",
        lambda: dsir_weights(docs, F.expr(qd._DSIR_TGT_SQL), n_buckets=qd._DSIR_B),
    )
    with tr.span("curation.funnel"):
        flags = (
            ids.select("doc_id", "lang")
            .join(qual, "doc_id")
            .join(comp, "doc_id")
            .join(xent, "doc_id", "left")
            .join(dsw.withColumnRenamed("log_weight", "dsir_logw"), "doc_id", "left")
            .join(flagged.withColumn("_flag", F.lit(True)), "doc_id", "left")
            .localCheckpoint(eager=True)
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
        out = frame_digest(doc_rows.unionByName(fun_rows))
    return {"corpus_curation": out}
