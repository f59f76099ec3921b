"""Structured Streaming event pipelines.

The reference has no streaming at all (SURVEY.md §2.5: "No streaming
operators exist"); this is north-star surface. Each pipeline is the
streaming twin of a batch operator in ``operators.events`` — same
aggregation expressions, so batch/stream equivalence is testable
(tests/test_streaming.py runs both over the same files and compares).

Scale notes: file source -> watermarked event-time windows -> partial
aggregation per micro-batch; state is bounded by the watermark horizon.
``foreachBatch``/sink choice is the caller's; these return unstarted
streaming DataFrames.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F



def read_events_stream(
    spark: SparkSession, events_dir: str, ts_unit: str | None = None
) -> DataFrame:
    """File-source stream over events parquet files.

    Schema must be declared for streaming reads. The physical files carry
    either TIMESTAMP(NANOS) (read via the same nanos-as-long +
    truncate-to-µs path as the batch loader) or TIMESTAMP(MICROS)-NTZ
    (declared as TIMESTAMP_NTZ, cast to session-tz type — UTC session, so
    value-preserving); we sniff one footer so batch/stream stay identical.

    ``ts_unit`` ('ns' | 'us') pins the expected generation explicitly —
    REQUIRED KNOWLEDGE when the monitored directory is empty at stream
    start (files arrive later, the normal streaming pattern): there is
    nothing to sniff, and a wrong guess would mis-declare the schema for
    every file that lands. With ``None`` and a non-empty directory, the
    first footer decides; with ``None`` and an empty directory, 'us' (the
    current generation) is assumed.

    The legacy ``nanosAsLong`` session flag is set ONLY on the ns branch —
    leaving it on while declaring TIMESTAMP_NTZ would make a later
    TIMESTAMP(NANOS) file read as BIGINT against the declared schema and
    fail or misread ts.

    The file source only monitors directories; if given a single parquet
    file (the shape of the test fixtures) we stage a symlink directory.
    """
    if ts_unit not in (None, "ns", "us"):
        raise ValueError(f"ts_unit must be 'ns', 'us' or None, got {ts_unit!r}")
    if os.path.isfile(events_dir):
        staged = tempfile.mkdtemp(prefix="events_stream_")
        os.symlink(os.path.abspath(events_dir),
                   os.path.join(staged, os.path.basename(events_dir)))
        events_dir = staged
    if ts_unit is None:
        for entry in sorted(os.listdir(events_dir)):
            if entry.endswith(".parquet"):
                import pyarrow.parquet as pq

                field = pq.read_schema(os.path.join(events_dir, entry)).field("ts")
                ts_unit = "ns" if field.type.unit == "ns" else "us"
                break
        else:
            ts_unit = "us"
    if ts_unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = (
            "event_id BIGINT, ts BIGINT, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        )
        raw = spark.readStream.schema(schema).parquet(events_dir)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # reset explicitly: the flag may linger from a prior ns-mode stream in
    # this session, which is exactly the mis-declared-schema state the
    # docstring warns about
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    schema = (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    )
    raw = spark.readStream.schema(schema).parquet(events_dir)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_hourly_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1h window x event_type — the streaming twin of
    ``operators.events.events_hourly`` (append-safe after watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 4).alias("sum_value"),
        )
        .select(F.col("win.start").alias("hour"), "event_type", "n_events", "sum_value")
    )


def stream_user_sessions(events: DataFrame, gap_minutes: int = 30,
                         watermark: str = "2 hours") -> DataFrame:
    """Session windows per user via the built-in session_window (gap-based),
    the streaming twin of ``operators.events.sessionize`` semantics."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("win"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def run_stream_to_memory(stream_df: DataFrame, table_name: str,
                         mode: str = "complete") -> DataFrame:
    """Drive a streaming DF over all available input once (availableNow),
    into an in-memory sink; returns the materialized result table.
    Test/debug helper — production sinks are parquet/kafka via writeStream.
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(table_name)


def stream_exact_dedup(
    events: DataFrame, key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup — the at-least-once -> exactly-once repair
    every streaming ingest needs (and the streaming twin of the batch
    ``dedup_exact`` operator). State is bounded: a key is only retained
    within the watermark horizon (dropDuplicatesWithinWatermark), so this
    runs forever without unbounded state growth."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


_USER_TOTALS_SCHEMA = "user_id LONG, n_events LONG, sum_value DOUBLE"
_USER_STATE_SCHEMA = "n LONG, s DOUBLE"


def stream_user_running_totals(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (count, value-sum) maintained across micro-batches.

    The slot a bespoke stateful op (fraud score, rate limiter, online
    feature) drops into: grouped Arrow batches + explicit GroupState,
    'update' output mode. Batch-equivalence is tested over a closed input.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 4)]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_USER_TOTALS_SCHEMA,
            stateStructType=_USER_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def read_documents_stream(spark: SparkSession, documents_dir: str) -> DataFrame:
    """File-source stream over documents parquet (symlink-staged if given a
    single file, like read_events_stream)."""
    if os.path.isfile(documents_dir):
        staged = tempfile.mkdtemp(prefix="docs_stream_")
        os.symlink(os.path.abspath(documents_dir),
                   os.path.join(staged, os.path.basename(documents_dir)))
        documents_dir = staged
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    return spark.readStream.schema(schema).parquet(documents_dir)


def run_stream_incremental_dedup(
    doc_stream: DataFrame,
    signature_store: str,
    pairs_out: str,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Continuous corpus ingestion with dedup against ALL history: each
    micro-batch of documents is MinHash-signed, LSH-candidate-paired
    against every previously ingested document via
    ``lsh_incremental_pairs`` (the batch's band keys broadcast-prune the
    signature store, so per-batch work scales with the batch, not the
    corpus), pairs are appended to ``pairs_out``, and the batch's
    signatures are appended to the store — the streaming twin of the
    batch incremental-dedup operator.

    Telescoping guarantee (guard off): a pair is emitted exactly once, in
    the micro-batch where its LATER document arrives, so the union of all
    emitted pairs over any batch decomposition equals the one-shot
    ``lsh_candidate_pairs`` over the closed corpus — asserted in tests.

    Runs the stream to completion over available input (availableNow) and
    returns the accumulated pairs frame. ``foreachBatch`` is the right
    Structured Streaming tool here because the per-batch join targets a
    mutable external table (the signature store) — not stream-internal
    state; at scale keep the store as a bucketed table on the band keys
    (``sources/bucketing.py``) so the history side of the probe is
    exchange-free, and compact it on the same cadence as checkpoints.

    Restart/retry discipline: the stream checkpoint lives NEXT TO the
    signature store (``<signature_store>_checkpoint``) so a later
    invocation over the same store RESUMES from the recorded file offsets
    instead of replaying ingested files into it; and both stores are
    written as per-batch OVERWRITES keyed by ``batch_id``
    (``.../batch=<id>/``) so foreachBatch's at-least-once retry of a
    half-written batch is idempotent — a retry rewrites its own batch
    directory, never appends a duplicate.
    """
    from pyspark.errors import AnalysisException

    from ..operators.dedup import (
        lsh_candidate_pairs,
        lsh_incremental_pairs,
        minhash_signatures,
        shingle_hashes,
    )

    spark = doc_stream.sparkSession

    def _read_store(path: str) -> DataFrame | None:
        try:
            return spark.read.parquet(path).drop("batch")
        except AnalysisException as e:
            # only "path does not exist" means an empty store; any other
            # read failure (corrupt file, FS error) must SURFACE — silently
            # deduping a batch against nothing loses every new-vs-history
            # pair with no error
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return None
            raise

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sigs_new = minhash_signatures(
            shingle_hashes(batch_df, n=3), num_hashes=num_hashes
        ).localCheckpoint()  # two consumers (pair join + store append): one materialization
        if sigs_new.isEmpty():
            return
        old = _read_store(signature_store)
        if old is not None:
            pairs = lsh_incremental_pairs(
                old, sigs_new,
                num_hashes=num_hashes, rows_per_band=rows_per_band,
                max_bucket_size=max_bucket_size,
            )
        else:
            pairs = lsh_candidate_pairs(
                sigs_new, num_hashes=num_hashes, rows_per_band=rows_per_band,
                max_bucket_size=max_bucket_size,
            )
        pairs.write.mode("overwrite").parquet(f"{pairs_out}/batch={batch_id}")
        sigs_new.write.mode("overwrite").parquet(f"{signature_store}/batch={batch_id}")

    q = (
        doc_stream.writeStream.foreachBatch(process_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{signature_store}_checkpoint")
        .start()
    )
    q.awaitTermination()
    out = _read_store(pairs_out)
    if out is None:
        # no batch produced pairs — empty frame with the pair schema
        return spark.createDataFrame([], "doc_a BIGINT, doc_b BIGINT")
    return out


def stream_term_counts(documents: DataFrame) -> DataFrame:
    """The reference's task 1.1 as a STREAM: corpus arrives as files, term
    totals update per micro-batch (complete-mode agg; map-side partial
    per batch, state = one row per term). Same tokenize/clean/stopword
    expressions as the batch operator, so batch == stream over a closed
    input set — asserted in tests."""
    from ..functions.text import explode_tokens
    from pyspark.sql import functions as F

    toks = documents.select(
        F.col("doc_id"), explode_tokens(F.col("text")).alias("term")
    )
    return toks.groupBy("term").agg(F.count(F.lit(1)).alias("total_freq"))


def run_stream_drift_monitor(
    doc_stream: DataFrame,
    reference: DataFrame,
    checkpoint_dir: str,
    text_col: str = "text",
) -> list[tuple[int, float, int]]:
    """Per-micro-batch distribution drift against a fixed REFERENCE
    corpus: for each batch of documents, compute the Jensen-Shannon
    divergence between the batch's unigram distribution and the
    reference's (``operators.snapshot.term_distribution_drift``), and
    return [(batch_id, jsd, n_docs)] — the monitoring stream a recurring
    ingest alarms on (a healthy feed hovers near its baseline JSD; a
    source change, language shift, or spam flood spikes it before any
    downstream metric moves).

    ``foreachBatch`` is the right tool: the comparison targets a STATIC
    external frame (the reference), not stream-internal state, and the
    scalar-per-batch output is driver-sized by construction. Runs with
    availableNow (process all available input, then stop) and a real
    checkpoint so a restarted monitor resumes at the recorded offsets
    instead of re-scoring ingested batches.

    Scale: per batch, two vocab-sized aggregates + one full-outer join —
    the reference side is recomputed per batch from ``reference``'s plan;
    cache/checkpoint the reference frame once in the caller when batches
    are frequent.
    """
    results: list[tuple[int, float, int]] = []

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.snapshot import term_distribution_drift

        n = batch_df.count()
        if n == 0:
            return
        jsd, _ = term_distribution_drift(batch_df, reference, text_col=text_col)
        results.append((int(batch_id), float(jsd), int(n)))

    (
        doc_stream.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return sorted(results)
