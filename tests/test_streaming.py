"""Batch/stream equivalence: the streaming twins must produce exactly the
batch results when run over the same closed set of files."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.operators.events import events_hourly
from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table
from document_clustering_with_hadoop_mapreduce_spark.streaming.events_stream import (
    read_events_stream,
    run_stream_to_memory,
    stream_hourly_counts,
    stream_user_sessions,
)


def _events_dir(sf_dir: str) -> str:
    return f"{sf_dir}/events.parquet"


def test_stream_hourly_equals_batch(spark, sf_dir):
    stream = stream_hourly_counts(read_events_stream(spark, _events_dir(sf_dir)))
    got = run_stream_to_memory(stream, "hourly_t1")
    want = events_hourly(load_table(spark, sf_dir, "events"))
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w, f"stream != batch: {len(g ^ w)} rows differ"


def test_stream_sessions_sane(spark, sf_dir):
    stream = stream_user_sessions(read_events_stream(spark, _events_dir(sf_dir)))
    got = run_stream_to_memory(stream, "sessions_t1")
    rows = got.collect()
    assert len(rows) > 0
    # session windows must be per-user disjoint and ordered
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["session_start"], r["session_end"]))
    for _, wins in by_user.items():
        wins.sort()
        for (s1, e1), (s2, _) in zip(wins, wins[1:]):
            assert e1 <= s2, "overlapping session windows"
    # event conservation
    total = sum(r["n_events"] for r in rows)
    assert total == load_table(spark, sf_dir, "events").count()


def test_stream_exact_dedup_removes_duplicates(spark, sf_dir, tmp_path):
    """Duplicate the whole input (two symlinks to the same file); the
    deduped stream must equal the single-copy batch row count."""
    import os

    from document_clustering_with_hadoop_mapreduce_spark.streaming.events_stream import stream_exact_dedup

    staged = tmp_path / "dup_events"
    staged.mkdir()
    src = os.path.abspath(_events_dir(sf_dir))
    os.symlink(src, staged / "a.parquet")
    os.symlink(src, staged / "b.parquet")
    stream = stream_exact_dedup(read_events_stream(spark, str(staged)))
    got = run_stream_to_memory(stream, "dedup_t1", mode="append")
    want = load_table(spark, sf_dir, "events").count()
    assert got.count() == want


def test_stream_stateful_running_totals_equals_batch(spark, sf_dir):
    """applyInPandasWithState totals over a closed input == batch groupBy."""
    from document_clustering_with_hadoop_mapreduce_spark.streaming.events_stream import (
        stream_user_running_totals,
    )

    stream = stream_user_running_totals(read_events_stream(spark, _events_dir(sf_dir)))
    got_df = run_stream_to_memory(stream, "totals_t1", mode="update")
    # 'update' emits one row per user per batch; keep the LAST per user
    got = {}
    for r in got_df.collect():
        got[r["user_id"]] = (r["n_events"], r["sum_value"])
    want_df = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 4).alias("s"),
        )
    )
    want = {r["user_id"]: (r["n"], r["s"]) for r in want_df.collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 1e-6


def test_stream_term_counts_equals_batch(spark, sf_dir):
    """Task 1.1's aggregation over a document STREAM == the batch matrix
    totals (the reference could only ever batch)."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.term_matrix import (
        term_doc_counts,
        term_totals,
    )
    from document_clustering_with_hadoop_mapreduce_spark.streaming.events_stream import (
        read_documents_stream,
        stream_term_counts,
    )

    stream = stream_term_counts(
        read_documents_stream(spark, f"{sf_dir}/documents.parquet")
    )
    got_df = run_stream_to_memory(stream, "terms_t1", mode="complete")
    got = {r["term"]: r["total_freq"] for r in got_df.collect()}
    docs = load_table(spark, sf_dir, "documents")
    want = {r["term"]: r["total_freq"]
            for r in term_totals(term_doc_counts(docs)).collect()}
    assert got == want


@pytest.mark.slow
def test_stream_incremental_dedup_equals_batch(spark, sf_dir, tmp_path):
    """Telescoping equivalence: streaming the corpus in one-file micro-
    batches and deduping each against the accumulated signature store
    emits exactly the pairs the one-shot batch LSH finds — each pair once,
    in the batch where its later doc arrives (guard off for exactness)."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_hashes,
    )
    from document_clustering_with_hadoop_mapreduce_spark.streaming.events_stream import (
        run_stream_incremental_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    # stage the corpus as 3 files so availableNow + maxFilesPerTrigger=1
    # yields 3 micro-batches
    staged = str(tmp_path / "docs_in")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(staged)
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    got = run_stream_incremental_dedup(
        stream,
        signature_store=str(tmp_path / "sig_store"),
        pairs_out=str(tmp_path / "pairs"),
        max_bucket_size=None,
    )
    want = lsh_candidate_pairs(
        minhash_signatures(shingle_hashes(docs, n=3)), max_bucket_size=None
    )
    g = {(r["doc_a"], r["doc_b"]) for r in got.collect()}
    w = {(r["doc_a"], r["doc_b"]) for r in want.collect()}
    assert g == w and len(got.collect()) == len(g), (
        f"stream != batch: {len(g ^ w)} pairs differ (dupes={len(got.collect()) - len(g)})"
    )
    # the signature store accumulated every doc exactly once
    assert spark.read.parquet(str(tmp_path / "sig_store")).count() == docs.count()


def test_stream_incremental_dedup_resumes_without_replay(spark, tmp_path):
    """A second invocation over the same stores must RESUME from the
    recorded file offsets (checkpoint lives next to the signature store):
    already-ingested files are not re-signed into the store and previously
    emitted pairs are not re-emitted."""
    from document_clustering_with_hadoop_mapreduce_spark.streaming.events_stream import (
        run_stream_incremental_dedup,
    )

    docs = load_table(spark, sf_dir_module := "/root/testdata/sf0.001", "documents")
    staged = str(tmp_path / "docs_in")
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    mk_stream = lambda: (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(staged)
    )
    first = docs.filter(F.col("doc_id") % 2 == 0)
    first.coalesce(1).write.mode("append").parquet(staged)
    store, pairs_out = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    got1 = run_stream_incremental_dedup(
        mk_stream(), signature_store=store, pairs_out=pairs_out, max_bucket_size=None
    )
    n1 = got1.count()
    assert spark.read.parquet(store).count() == first.count()
    # second run: one NEW file lands; the first file must not replay
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(staged)
    got2 = run_stream_incremental_dedup(
        mk_stream(), signature_store=store, pairs_out=pairs_out, max_bucket_size=None
    )
    assert spark.read.parquet(store).count() == docs.count(), (
        "store grew beyond the corpus: ingested files were replayed"
    )
    # pairs accumulate exactly the one-shot result, no duplicates
    from document_clustering_with_hadoop_mapreduce_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_hashes,
    )

    want = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(
            minhash_signatures(shingle_hashes(docs, n=3)), max_bucket_size=None
        ).collect()
    }
    rows = got2.select("doc_a", "doc_b").collect()
    got = {(r["doc_a"], r["doc_b"]) for r in rows}
    assert got == want and len(rows) == len(got)
    assert got2.count() >= n1
