"""Text-analysis operators: quality scoring, language-ID, token counting,
fingerprinting (north-star extensions — a training-data pipeline's filters).

Everything is built-in column expressions (regexp/split/size/aggregate) —
no Python in the row path; each op is one map-side projection, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import STOPWORDS, clean_text, explode_tokens, token_count, tokens

# BPE-ish lexer: alpha runs | digit runs | single non-space symbol.
# Explicit whitespace class (not \s): Java and RE2 disagree on \f/\x0B, and
# this constant is interpolated verbatim into BOTH engines' regexes.
TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r]"

# Tiny seeded marker-word profiles for language ID (n-gram/stopword-overlap
# heuristic). Real corpora would ship bigger lists; the MECHANISM (score =
# marker hits, argmax with deterministic tie-break) is what the engine
# provides, and what the oracle checks.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "that", "for", "with"),
    "es": ("el", "la", "de", "que", "los", "una", "por", "como"),
    "fr": ("le", "la", "les", "des", "est", "dans", "pour", "une"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "zh": ("de", "shi", "bu", "wo", "zai", "le", "ren", "you"),
}


def _quality_cols(text: Column) -> list[Column]:
    """The doc_quality feature columns (shared with ``doc_features``)."""
    toks = tokens(text)
    n_tokens = token_count(text)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, "[^a-zA-Z0-9 \\t\\n\\r]", ""))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    clean_len = F.length(F.regexp_replace(clean_text(text), "[ \\t\\n\\r]", ""))
    return [
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.round(
            F.when(n_tokens > 0, clean_len / n_tokens).otherwise(F.lit(0.0)), 6
        ).alias("avg_token_len"),
        F.round(
            F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0)), 6
        ).alias("stopword_ratio"),
        F.round(
            F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)), 6
        ).alias("punct_ratio"),
    ]


def doc_quality(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality-score features per document: token/char counts, average token
    length, stopword ratio, punctuation ratio."""
    return documents.select(
        F.col(id_col).alias("doc_id"), *_quality_cols(F.col(text_col))
    )


def language_id(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-word language ID: score each language by marker-token hits,
    argmax with (score DESC, lang ASC) tie-break; 'und' when no marker hits."""
    toks = tokens(F.col(text_col))

    def marker_score(markers: tuple[str, ...]) -> Column:
        # NB: PySpark lambda-introspection forbids extra (default) params on
        # higher-order-function lambdas — close over `markers` via factory.
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = []
    for lang in sorted(LANG_MARKERS):
        score = marker_score(LANG_MARKERS[lang])
        scores.append(F.struct(score.alias("s"), F.lit(lang).alias("neg_lang")))
    # array_max picks highest score; for ties we need SMALLEST lang, so order
    # by (s, reversed-rank) — use array_sort and take the element with max s,
    # min lang: sort by s asc then lang desc, take last.
    arr = F.array_sort(
        F.array(*scores),
        lambda a, b: F.when(a["s"] != b["s"], a["s"] - b["s"]).otherwise(
            F.when(a["neg_lang"] > b["neg_lang"], F.lit(-1)).otherwise(F.lit(1))
        ),
    )
    best = F.element_at(arr, -1)
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.when(best["s"] > 0, best["neg_lang"]).otherwise(F.lit("und")).alias("pred_lang"),
        best["s"].alias("marker_hits"),
    )


def bpe_ish_token_counts(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting with a BPE-ish regex lexer (alpha runs / digit runs /
    single symbols) alongside plain whitespace counts."""
    lowered = F.lower(F.col(text_col))
    return documents.select(
        F.col(id_col).alias("doc_id"),
        token_count(F.col(text_col)).alias("ws_tokens"),
        F.size(F.regexp_extract_all(lowered, F.lit(TOKEN_REGEX), 0)).alias("bpe_tokens"),
    )


def _run_length_stats(arr: Column) -> Column:
    """Fold a SORTED array into struct(maxrun, dups): the count of the most
    frequent element and the number of elements belonging to any value that
    occurs >= 2 times. Pure ``aggregate`` over ``array_sort`` — stays inside
    whole-stage codegen, zero shuffle, zero Python."""
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("maxrun"),
        F.lit(0).alias("dups"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = acc["prev"].eqNullSafe(x)
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1))
        # 2nd occurrence retro-counts the 1st into the duplicated set
        dups = acc["dups"] + (
            F.when(same & (acc["run"] == 1), F.lit(2))
            .when(same, F.lit(1))
            .otherwise(F.lit(0))
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["maxrun"], run).alias("maxrun"),
            dups.alias("dups"),
        )

    return F.aggregate(F.array_sort(arr), acc0, step)


def doc_repetition(
    documents: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.2:
    boilerplate/low-quality text is dominated by a few repeated phrases):

    - ``max_token_frac`` — occurrences of the most frequent token / tokens
    - ``top_ngram_frac`` — occurrences of the most frequent word n-gram /
      n-grams
    - ``dup_ngram_frac`` — fraction of n-grams whose value occurs >= 2 times

    Stopwords KEPT (repetition must see the raw stream, same contract as
    dedup shingles). Everything is a map-side array fold per row — at
    100 TB this is a zero-shuffle projection that fuses into the scan."""
    # drop the [""] that split() yields on empty/punctuation-only text —
    # same normalization as the oracle's list_filter(t <> '')
    docs_t = documents.select(
        F.col(id_col).alias("doc_id"),
        F.filter(tokens(F.col(text_col)), lambda t: t != "").alias("__toks"),
    )
    toks = F.col("__toks")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    staged = docs_t.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        _run_length_stats(toks).alias("__t"),
        # == size(grams), without re-building the gram array
        F.when(F.size(toks) >= n, F.size(toks) - (n - 1)).otherwise(F.lit(0)).alias("n_ngrams"),
        _run_length_stats(grams).alias("__g"),
    )

    def frac(num: Column, denom: Column) -> Column:
        return F.round(F.when(denom > 0, num / denom).otherwise(F.lit(0.0)), 6)

    return staged.select(
        "doc_id",
        "n_tokens",
        "n_ngrams",
        frac(F.col("__t")["maxrun"], F.col("n_tokens")).alias("max_token_frac"),
        frac(F.col("__g")["maxrun"], F.col("n_ngrams")).alias("top_ngram_frac"),
        frac(F.col("__g")["dups"], F.col("n_ngrams")).alias("dup_ngram_frac"),
    )


def split_assignment(
    id_col: str = "doc_id",
    salt: str = "split-v1",
    train: float = 0.9,
    valid: float = 0.05,
) -> tuple[Column, Column]:
    """(bucket, split) column pair for the deterministic hash split.

    Exposed separately from ``hash_split`` so fused plans (e.g. the
    registered split+pack slot) can stamp the assignment onto an existing
    frame map-side — it is a pure function of (salt, id), no join needed."""
    from ..functions.hashing import md5_int60

    bucket = F.pmod(
        md5_int60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), F.lit(10000)
    )
    t, v = int(round(train * 10000)), int(round((train + valid) * 10000))
    split = (
        F.when(bucket < t, F.lit("train"))
        .when(bucket < v, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return bucket, split


def hash_split(
    documents: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split-v1",
    train: float = 0.9,
    valid: float = 0.05,
) -> DataFrame:
    """Deterministic train/valid/test assignment by salted id hash.

    The reproducible alternative to ``randomSplit``: a document's split is a
    pure function of (salt, id), so it never changes across runs,
    partitionings, engines, or corpus growth — adding or removing other
    documents cannot reshuffle existing assignments (the property a
    training-data pipeline needs for stable held-out sets). Map-side only:
    no shuffle, no RNG, no state."""
    bucket, split = split_assignment(id_col, salt, train, valid)
    return documents.select(
        F.col(id_col).alias("doc_id"), bucket.alias("bucket"), split.alias("split")
    )


def doc_features(
    documents: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """ALL per-document quality features in one pass: ``doc_quality``'s
    ratios + the BPE-ish lexer count + ``doc_repetition``'s Gopher signals.

    At 100 TB you never scan the corpus once per feature family — this is
    the fused projection a curation pipeline actually runs (still entirely
    map-side: two narrow selects, no shuffle, no Python). Column semantics
    match the standalone operators, with one naming caveat: ``n_tokens``
    is doc_quality's RAW whitespace count, while the repetition fractions
    (as in ``doc_repetition``) are computed over CLEANED tokens — exposed
    here as ``n_clean_tokens`` so the fracs' denominator is recoverable
    (``doc_repetition``'s own ``n_tokens`` equals this column)."""
    text = F.col(text_col)
    staged = documents.select(
        F.col(id_col).alias("doc_id"),
        *_quality_cols(text),
        F.size(F.regexp_extract_all(F.lower(text), F.lit(TOKEN_REGEX), 0)).alias("bpe_tokens"),
        F.filter(tokens(text), lambda t: t != "").alias("__toks"),
    )
    toks = F.col("__toks")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    passthrough = [
        "n_tokens", "n_chars", "avg_token_len", "stopword_ratio",
        "punct_ratio", "bpe_tokens",
    ]
    folded = staged.select(
        "doc_id",
        *passthrough,
        F.size(toks).alias("__n_clean"),
        _run_length_stats(toks).alias("__t"),
        F.when(F.size(toks) >= n, F.size(toks) - (n - 1)).otherwise(F.lit(0)).alias("n_ngrams"),
        _run_length_stats(grams).alias("__g"),
    )

    def frac(num: Column, denom: Column) -> Column:
        return F.round(F.when(denom > 0, num / denom).otherwise(F.lit(0.0)), 6)

    return folded.select(
        "doc_id",
        *passthrough,
        F.col("__n_clean").alias("n_clean_tokens"),
        "n_ngrams",
        frac(F.col("__t")["maxrun"], F.col("__n_clean")).alias("max_token_frac"),
        frac(F.col("__g")["maxrun"], F.col("n_ngrams")).alias("top_ngram_frac"),
        frac(F.col("__g")["dups"], F.col("n_ngrams")).alias("dup_ngram_frac"),
    )


def stratified_sample(
    documents: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    default_rate: float = 1.0,
    salt: str = "sample-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified down-sampling: keep each row with a
    per-stratum probability, decided by a salted id hash instead of an RNG.

    The training-data mixing primitive (up-/down-weight languages, sources,
    quality buckets): a row's fate is a pure function of (salt, id), so the
    sample is reproducible across runs/engines/partitionings and stable
    under corpus growth — exactly like ``hash_split``. Map-side filter, no
    shuffle, no RNG, keeps whatever columns the input carries."""
    from ..functions.hashing import md5_int60

    draw = F.pmod(
        md5_int60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    rate: Column = F.lit(float(default_rate))
    for stratum in sorted(rates):
        rate = F.when(
            F.col(stratum_col) == stratum, F.lit(float(rates[stratum]))
        ).otherwise(rate)
    return documents.filter(draw < rate * F.lit(1_000_000.0))


def mixture_rates(
    documents: DataFrame,
    budgets: dict[str, int],
    stratum_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum keep-rates that hit a token budget: the data-mixing
    planner (Pile/Doremi-style "N billion tokens of lang X" recipes) that
    feeds ``stratified_sample``.

    Output: (stratum, available_tokens, budget_tokens, rate) with
    rate = min(1, budget / available) rounded to 6 decimals — a stratum
    with no budget entry keeps everything (rate 1, budget NULL); a budget
    above the available mass also keeps everything (you cannot up-sample
    by dropping). Document-level hash sampling then keeps the budget in
    EXPECTATION over documents — exact-to-the-token packing is
    ``sequence_pack``'s job downstream.

    One aggregate exchange on the stratum key (map-side partial sums of a
    map-side token count); output is strata-count rows.
    """
    avail = documents.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.sum(token_count(F.col(text_col))).cast("long").alias("available_tokens")
    )
    budget: Column = F.lit(None).cast("long")
    for stratum in sorted(budgets):
        budget = F.when(
            F.col("stratum") == stratum, F.lit(int(budgets[stratum]))
        ).otherwise(budget)
    return avail.select(
        "stratum",
        "available_tokens",
        budget.alias("budget_tokens"),
        F.round(
            F.when(
                F.col("budget_tokens").isNull()
                | (F.col("available_tokens") <= 0)
                | (F.col("budget_tokens") >= F.col("available_tokens")),
                F.lit(1.0),
            ).otherwise(F.col("budget_tokens") / F.col("available_tokens")),
            6,
        ).alias("rate"),
    )


def sample_to_budget(
    documents: DataFrame,
    budgets: dict[str, int],
    stratum_col: str = "lang",
    text_col: str = "text",
    salt: str = "sample-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """``mixture_rates`` composed with ``stratified_sample``: down-sample
    each stratum to its token budget (in expectation), deterministically.

    The rates frame is strata-count rows — it is collected to the driver
    (a k-row action, the same size class as k-means centroids) so the
    sample itself stays a pure map-side hash filter with no join."""
    rates = {
        r["stratum"]: r["rate"]
        for r in mixture_rates(documents, budgets, stratum_col, text_col).collect()
    }
    return stratified_sample(
        documents, rates, stratum_col=stratum_col, default_rate=1.0, salt=salt, id_col=id_col
    )


def _seq_overflow_guard(max_tokens: int):
    """``seq``, unless it exceeds the 2^32-per-stream encoding capacity —
    then raise in-plan (one comparison per row) instead of letting
    ``seq_id = stream * 2^32 + seq`` silently collide into the next
    stream's id space. Expects ``seq`` and ``stream`` columns in scope."""
    return F.when(F.col("seq") < F.lit(1 << 32), F.col("seq")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "sequence_pack: a stream exceeded 2^32 sequences "
                    f"(per-stream capacity = 2^32 * max_tokens = "
                    f"{(1 << 32) * max_tokens} tokens); raise num_streams. "
                    "stream="
                ),
                F.col("stream").cast("string"),
            )
        )
    )


def sequence_pack(
    documents: DataFrame,
    max_tokens: int = 2048,
    num_streams: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "pack-v1",
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign every document a position
    in a fixed-capacity training sequence (the GPT-style packing step that
    turns a filtered corpus into ``max_tokens``-sized model inputs; docs are
    conceptually concatenated and the stream split at capacity boundaries,
    so a document may straddle two sequences — the standard trade against
    padding waste).

    Output per doc: ``stream`` (which independent packing stream), ``seq``
    (sequence index within the stream where the doc's FIRST token lands),
    ``seq_id`` (globally unique ``stream * 2^32 + seq``), ``offset`` (token
    offset of the doc inside that sequence), ``global_start`` (cumulative
    token start within the stream — with ``n_tokens`` this fully determines
    every chunk boundary, so a consumer can re-chunk without re-scanning),
    and ``n_tokens``.

    Scale shape: ONE hash-partitioned window per stream — a global-order
    cumsum would serialize 100 TB through a single sort, so the corpus is
    salted into ``num_streams`` independent streams (pure function of
    (salt, id), same discipline as ``hash_split``) and each stream packs
    its members by ``doc_id`` order. Streams pack independently ->
    parallelism = ``num_streams``; size the knob so one stream's docs fit a
    task sort (corpus_tokens / num_streams partitions comfortably).

    ``seq_id`` capacity: the stream*2^32+seq encoding gives each stream
    2^32 sequences = ``2^32 * max_tokens`` tokens of capacity — size
    ``num_streams`` so corpus_tokens / num_streams sits WELL below that
    (at the defaults, ~8.8e15 tokens/stream; at the registered slot's 32
    streams x 256 tokens, ~1.1e12 — within ~1.4x of a 100 TB corpus, so
    the knob matters there). A stream that DOES overflow fails loudly:
    seq_id carries an in-plan guard that raises instead of silently
    colliding into the next stream's id space (one comparison per row —
    free next to the window sort).
    Determinism: assignment is a pure function of (salt, the stream's
    member ids, their token counts) — reordering input rows or changing
    partitioning never moves a doc; unlike ``hash_split``, corpus GROWTH
    does shift packing of later ids within a stream (inherent to packing:
    positions are cumulative by construction).
    """
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if num_streams < 1:
        raise ValueError(f"num_streams must be >= 1, got {num_streams}")
    from ..functions.hashing import md5_int60

    stream = F.pmod(
        md5_int60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        F.lit(num_streams),
    )
    counted = documents.select(
        F.col(id_col).alias("doc_id"),
        stream.alias("stream"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("stream").orderBy("doc_id")
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("global_start")
    return (
        counted.withColumn("global_start", start)
        .withColumn("seq", F.floor(F.col("global_start") / max_tokens))
        .select(
            "doc_id",
            "stream",
            "seq",
            (F.col("stream") * F.lit(1 << 32) + _seq_overflow_guard(max_tokens)).alias(
                "seq_id"
            ),
            F.pmod(F.col("global_start"), F.lit(max_tokens)).alias("offset"),
            "global_start",
            "n_tokens",
        )
    )


def doc_fingerprints(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic content fingerprint: md5-60bit of the cleaned,
    whitespace-normalized text (portable to the oracle)."""
    from ..functions.hashing import md5_int60

    normalized = F.concat_ws(" ", tokens(F.col(text_col)))
    return documents.select(
        F.col(id_col).alias("doc_id"),
        md5_int60(normalized).alias("fingerprint"),
        F.length(normalized).alias("norm_len"),
    )


def unigram_cross_entropy(matrix: DataFrame) -> DataFrame:
    """Perplexity-proxy quality score (CCNet-style, Wenzek et al. 2020):
    each document's cross-entropy against the CORPUS'S OWN unigram LM.

    Input is the sparse (doc_id, term, cnt) matrix (``term_doc_counts``),
    so this composes with the existing tokenize substrate and the
    MATRIX_CTE oracle. Per doc:

        score = -sum(cnt * ln p(term)) / sum(cnt),  p(term) = corpus_cnt / M

    where M is the total corpus token mass (MLE — every doc term is in the
    vocabulary by construction, so no smoothing mass is needed).
    ``exp(score)`` is the doc's unigram perplexity; outlier-high means
    unusual/garbled text, outlier-low means repetitive boilerplate — both
    tails are what a CCNet-style quality gate cuts.

    Scale shape: the term-probability table is VOCAB-sized (not
    corpus-sized) — the join against the matrix is an ordinary equi-join
    that AQE broadcast-converts when the vocab is small; the scalar mass M
    rides a 1-row broadcast crossJoin exactly like tfidf's derived-N
    branch. Two aggregate exchanges total (term totals, per-doc score).
    The matrix has two consumers (totals + the join) and Catalyst cannot
    unify tokenize-lambda subtrees (see ``tfidf``), so the nnz-sized frame
    is lazily checkpointed once.
    """
    matrix = matrix.localCheckpoint(eager=False)
    totals = matrix.groupBy("term").agg(F.sum("cnt").alias("__tc"))
    mass = totals.agg(F.sum("__tc").cast("double").alias("__m"))
    return (
        matrix.join(totals, "term")
        .crossJoin(F.broadcast(mass))
        .groupBy("doc_id")
        .agg(
            F.round(
                -F.sum(F.col("cnt") * F.log(F.col("__tc") / F.col("__m"))) / F.sum("cnt"), 6
            ).alias("cross_entropy"),
            F.sum("cnt").alias("n_tokens"),
        )
    )


def bigram_stream(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Consecutive token pairs per document: (doc_id, w1, w2), one row per
    adjacent pair in the FILTERED token stream (clean -> split ->
    stopword/empty drop, the shared P1-P3 substrate — "adjacent" means
    adjacent after filtering, the convention the DuckDB oracle mirrors).

    Map-side only: one tokenize projection, a size>=2 predicate, and an
    index-lambda ``transform`` + ``explode`` — zero shuffles, so the
    stream fuses into whatever aggregation consumes it. Documents with
    fewer than two surviving tokens contribute no rows.
    """
    arr = F.filter(
        tokens(F.col(text_col)), lambda t: (t != "") & ~t.isin(*STOPWORDS)
    )
    return (
        documents.select(F.col(id_col).alias("doc_id"), arr.alias("__a"))
        .where(F.size("__a") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(__a) - 2),"
                    " i -> struct(__a[i] AS w1, __a[i + 1] AS w2))"
                )
            ).alias("__b"),
        )
        .select("doc_id", F.col("__b.w1").alias("w1"), F.col("__b.w2").alias("w2"))
    )


def bigram_lm(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stream: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train the corpus n-gram LM: returns ``(bi, uni)`` where

    - ``bi``  = (w1, w2, p_bi): MLE conditional p(w2 | w1) =
      c(w1,w2) / c_ctx(w1), with the context count c_ctx taken over the
      bigram stream itself (so each row of ``bi`` is a proper conditional
      distribution over w2 — rows for a fixed w1 sum to 1).
    - ``uni`` = (w2, p_uni): MLE unigram p(w) = c(w) / M over the full
      filtered token stream (every token, including document-final ones
      the bigram stream's first position never sees).

    ``stream`` lets a caller that already materialized
    ``bigram_stream(documents)`` (the self-scoring path in
    ``bigram_cross_entropy``) train from it instead of re-tokenizing —
    there is exactly ONE copy of the estimation math either way.

    Scale shape: ``bi`` is distinct-bigram-sized, ``uni`` vocab-sized —
    model tables, not corpus tables. One agg exchange each; the context
    normalizer is a second groupBy on w1 re-using the grouped bigram
    counts (bigram-vocab-sized input). The 1-row token mass rides a
    broadcast crossJoin like ``unigram_cross_entropy``'s.
    """
    if stream is None:
        stream = bigram_stream(documents, text_col, id_col)
    bi_counts = stream.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c"))
    ctx = bi_counts.groupBy("w1").agg(F.sum("__c").alias("__ctx"))
    bi = bi_counts.join(ctx, "w1").select(
        "w1", "w2", (F.col("__c") / F.col("__ctx")).alias("p_bi")
    )
    uni_counts = documents.select(
        explode_tokens(F.col(text_col)).alias("w2")
    ).groupBy("w2").agg(F.count(F.lit(1)).alias("__c"))
    mass = uni_counts.agg(F.sum("__c").cast("double").alias("__m"))
    uni = uni_counts.crossJoin(F.broadcast(mass)).select(
        "w2", (F.col("__c") / F.col("__m")).alias("p_uni")
    )
    return bi, uni


def bigram_cross_entropy(
    documents: DataFrame,
    lam: float = 0.8,
    lm: tuple[DataFrame, DataFrame] | None = None,
    oov_p: float = 1e-9,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """Interpolated bigram LM quality score (the order-sensitive upgrade of
    ``unigram_cross_entropy`` — CCNet, Wenzek et al. 2020, scores with a
    KenLM n-gram model for exactly this reason: bag-of-words perplexity
    cannot see shuffled/garbled word ORDER). Per document, over its
    bigram positions:

        score = -mean(ln(lam * p_bi(w2|w1) + (1-lam) * p_uni(w2)))

    (Jelinek-Mercer interpolation). Output: (doc_id, cross_entropy 6dp,
    n_bigrams); documents with <2 surviving tokens have no bigram
    positions and are absent — compose with ``unigram_cross_entropy`` if
    those need a score.

    ``lm`` defaults to self-training on ``documents`` (the CCNet "score
    the corpus against its own LM" regime, where no bigram is OOV); pass
    ``bigram_lm(reference_corpus)`` to score against a held-out/target LM,
    in which case unseen bigrams fall back to the unigram term alone and
    unseen unigrams to the ``oov_p`` floor — left joins, never inner, so
    no document silently loses positions.

    Scale shape: scoring is the bigram stream (token-stream-sized) joined
    against the two MODEL tables (distinct-bigram / vocab-sized) on
    (w1,w2) then w2 — ordinary equi-joins that AQE broadcast-converts when
    the model is small and shuffles when it is not; then ONE per-doc agg
    exchange. The stream is lazily checkpointed once by default (two
    lineage consumers when self-trained: counting and scoring; tokenize
    lambdas are not subtree-unified by Catalyst) — pass
    ``materialize=False`` when scoring against a pre-trained ``lm``,
    where the stream has a single consumer and the checkpoint would pin a
    corpus-sized frame for nothing.
    """
    if not 0.0 < lam <= 1.0:
        raise ValueError(f"lam must be in (0, 1], got {lam}")
    if lm is not None and lam == 1.0:
        # lam=1 leaves no unigram fallback mass: every OOV bigram would
        # hit ln(0) -> NULL, which sum() silently DROPS while count()
        # still counts — understating cross-entropy for exactly the
        # garbage docs the score exists to flag. Self-trained scoring has
        # no OOV bigrams, so lam=1 stays legal there.
        raise ValueError(
            "lam=1.0 with an external lm gives OOV bigrams probability 0 "
            "(no unigram fallback); use lam < 1.0 when passing lm"
        )
    stream = bigram_stream(documents, text_col, id_col)
    if materialize:
        stream = stream.localCheckpoint(eager=False)
    if lm is None:
        # self-trained FROM THE MATERIALIZED STREAM so the tokenize pass
        # runs once; the estimation math itself lives only in bigram_lm
        bi, uni = bigram_lm(documents, text_col, id_col, stream=stream)
    else:
        bi, uni = lm
    p = F.lit(lam) * F.coalesce(F.col("p_bi"), F.lit(0.0)) + F.lit(1.0 - lam) * F.coalesce(
        F.col("p_uni"), F.lit(oov_p)
    )
    # per-position ln terms 12dp-rounded and DECIMAL-summed — the repo's
    # order-independent mean discipline (see operators/cluster_eval.py):
    # a bare double sum depends on partition/merge order at ~1e-16, which
    # a 6dp-rounded DRIVER-HASHED output cannot tolerate (this operator is
    # fused into the language_id slot since round 8)
    return (
        stream.join(bi, ["w1", "w2"], "left")
        .join(uni, ["w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.round(
                -F.sum(F.round(F.log(p), 12).cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("cross_entropy"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )


def leakage_safe_split(
    documents: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split-v1",
    train: float = 0.9,
    valid: float = 0.05,
) -> DataFrame:
    """``hash_split`` at DUPLICATE-CLUSTER granularity: every member of a
    near-dup component inherits the split drawn from the component's
    REPRESENTATIVE id, so two near-duplicate documents can never straddle
    train and test — the leakage a doc-level split silently commits
    whenever dedup is lossy or deliberately keeps all copies (Lee et al.
    2021 §6.2 measure exactly this train/test contamination).

    ``components`` is ``duplicate_components``/``star_components`` output
    (doc_id, component); documents absent from it are singletons and
    split on their own id — identical to ``hash_split`` there, so
    adopting the safe split only ever MOVES documents that have a
    duplicate. Output: (doc_id, split_key, bucket, split).

    Scale shape: one equi-join against the component table (LSH-bounded,
    much smaller than the corpus) and the same map-side bucket
    expression as ``hash_split`` — the draw is a pure function of
    (salt, split_key), so corpus growth still never reshuffles existing
    assignments (a component's key is its min doc id, which is stable
    unless an EARLIER duplicate arrives — exactly when re-drawing is
    semantically correct).
    """
    from ..functions.hashing import md5_int60

    comp = components.select(
        F.col(id_col).alias("doc_id"), F.col("component").alias("__comp")
    )
    keyed = (
        documents.select(F.col(id_col).alias("doc_id"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__comp"), F.col("doc_id")).alias("split_key"),
        )
    )
    bucket = F.pmod(
        md5_int60(F.concat(F.lit(salt + ":"), F.col("split_key").cast("string"))),
        F.lit(10000),
    )
    t, v = int(round(train * 10000)), int(round((train + valid) * 10000))
    split = (
        F.when(bucket < t, F.lit("train"))
        .when(bucket < v, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return keyed.select("doc_id", "split_key", bucket.alias("bucket"), split.alias("split"))
