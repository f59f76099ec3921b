"""Distributed BPE tokenizer training + encoding over the corpus.

The one text-pipeline primitive the engine still lacked: LEARNING the
subword vocabulary from the corpus itself (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units"), rather than the
fixed regex lexer in ``textstats.bpe_ish_token_counts``. A training-data
pipeline at 100 TB trains its tokenizer on (a sample of) the corpus it
curates; this module makes that a first-class, plan-audited operator.

Scale shape (the part that matters at 100 TB):

- ``word_counts``: ONE corpus scan -> (word, cnt) with map-side partial
  aggregation. Everything downstream operates on this VOCAB-sized frame
  (distinct words, typically 1e6-1e8 rows), never the corpus again. This
  is exactly how production trainers (HuggingFace ``tokenizers``,
  SentencePiece BPE) are structured: train on word counts, not tokens.
- ``bpe_train``: each merge iteration is one aggregate + top-1 on the
  adjacent-pair frame (vocab-bounded) and a lazy map-side array rewrite of
  the symbol column. No corpus re-scan per merge — the naive per-merge
  re-tokenization (the reference's MR-chain idiom) would be 30k corpus
  scans for a GPT-2-sized vocab. Lineage is cut every
  ``checkpoint_every`` merges so the plan doesn't deepen linearly.
- ``max_words`` prunes the training table to the top-K words by mass
  (TakeOrderedAndProject): the standard practical bound — tail words
  contribute negligible pair mass but dominate row count.
- ``bpe_encode_words``: the ONLY Python stage, an Arrow pandas_udf that
  encodes each DISTINCT word once with driver-broadcast merge ranks.
  Python never touches corpus-sized data.
- ``bpe_token_counts``: corpus-side cost is one (doc_id, word) count
  aggregate (nnz-bounded) + one join against the encoded vocab. The join
  deliberately carries NO broadcast hint: a distinct-words frame is not
  "small" at 100 TB (the jaccard_pairs lesson); AQE may still pick
  broadcast when it genuinely is.

Determinism: ties in pair counts break on (count desc, a asc, b asc) --
identical under Spark UTF8 binary ordering and Python code-point ordering
for the ASCII+marker symbol alphabet produced by ``functions.text.tokens``.
No RNG anywhere; retraining on the same corpus gives byte-identical merge
tables.

Gates (tests/test_bpe.py): merge-table and encoding equality vs a
pure-Python reference implementation of the same algorithm, closed-form
merges on constructed corpora, encode/train consistency (training-set
words round-trip through encode to their trained segmentation), plan pins
(single corpus scan, no Python stage on the counts path, no broadcast of
the vocab frame).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

# End-of-word marker (Sennrich '16). `tokens()` output is [a-z0-9]+ only,
# so the marker cannot collide with corpus-derived symbols.
EOW = "</w>"


def word_counts(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_words: int | None = None,
) -> DataFrame:
    """(word, cnt): the vocab-sized training table — ONE corpus scan.

    ``max_words`` keeps the top-K words by (cnt desc, word asc) — a
    deterministic TakeOrderedAndProject, the practical bound that keeps
    the merge loop's pair frame small at huge vocabularies.
    """
    wc = (
        documents.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if max_words is not None:
        wc = wc.orderBy(F.desc("cnt"), F.asc("word")).limit(int(max_words))
    return wc


def _initial_symbols(word: Column) -> Column:
    """Character symbols + end-of-word marker: 'low' -> [l, o, w, </w>]."""
    return F.concat(F.split(word, ""), F.array(F.lit(EOW)))


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<a,b>> of adjacent symbol pairs (empty for 1-symbol rows).

    slice/zip rather than sequence(): ``sequence(1, 0)`` counts DOWN in
    Spark (step defaults to -1 when start > stop), which would fabricate a
    phantom pair on single-symbol rows.
    """
    n = F.size(syms)
    return F.arrays_zip(
        F.slice(syms, F.lit(1), n - 1).alias("a"),
        F.slice(syms, F.lit(2), n - 1).alias("b"),
    )


def _merge_pair(syms: Column, a: str, b: str) -> Column:
    """Greedy left-to-right replacement of adjacent (a, b) with a+b.

    A left fold whose state is the output array: merge when the last
    emitted symbol is ``a`` and the incoming one is ``b``. This IS the
    greedy-with-skip semantics: a just-merged token equals ``a+b`` which
    can never equal ``a`` (b is non-empty), so a merge output is never
    itself merged again within the same pass — e.g. pair (a,a) on
    "aaa" -> [aa, a], pair (a,b) on "abab" -> [ab, ab].
    """
    merged = F.lit(a + b)

    def step(acc: Column, x: Column) -> Column:
        hit = (F.size(acc) > 0) & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b))
        return F.when(
            hit,
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(syms, F.expr("cast(array() as array<string>)"), step)


def bpe_train(
    words: DataFrame,
    num_merges: int,
    min_frequency: int = 2,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn up to ``num_merges`` BPE merges from a (word, cnt) table.

    Returns the ordered merge list — the tokenizer model. Each iteration:
    one vocab-bounded aggregate for pair counts, one driver-side top-1
    (count desc, pair asc — deterministic), one lazy map-side array
    rewrite. Stops early when the best pair's mass drops below
    ``min_frequency``. The driver loop is the same
    iterate-on-a-bounded-frame pattern as ``doc_cluster.sparse_lloyd`` —
    the state crossing the driver is ONE pair per iteration.
    """
    syms = words.select(
        F.col("cnt").cast("long").alias("cnt"),
        _initial_symbols(F.col("word")).alias("syms"),
    ).localCheckpoint(eager=False)

    merges: list[tuple[str, str]] = []
    for i in range(num_merges):
        top = (
            syms.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "cnt")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_frequency:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        syms = syms.withColumn("syms", _merge_pair(F.col("syms"), a, b))
        # cut the per-merge fold chain before the plan deepens linearly
        if (i + 1) % checkpoint_every == 0:
            syms = syms.localCheckpoint(eager=False)
    return merges


def train_merges_py(
    wc: dict[str, int], num_merges: int, min_frequency: int = 2
) -> tuple[list[tuple[str, str]], dict[str, list[str]]]:
    """Pure-Python BPE trainer over a materialized (word -> cnt) vocab —
    the in-task twin of ``bpe_train`` (same pair mass, same
    (n desc, a, b) top-1, same greedy all-occurrences rewrite, same
    early stop), returning (ordered merges, final symbols per word).

    Runs wherever the vocab dict fits — an executor task for
    ``bpe_train_plan``, the driver for tests. Symbols are ASCII
    ([a-z0-9]+ tokens + the EOW marker), so Python string comparison
    equals Spark's binary UTF-8 string ordering on the tie-break.
    Precondition: no empty words (``word_counts``/``doc_word_counts``
    both filter them; ``list('') == []`` would otherwise diverge from
    Spark's ``split('', '') == ['']``).
    """

    def greedy(s: list[str], a: str, b: str) -> list[str]:
        out: list[str] = []
        j = 0
        while j < len(s):
            if j < len(s) - 1 and s[j] == a and s[j + 1] == b:
                out.append(a + b)
                j += 2
            else:
                out.append(s[j])
                j += 1
        return out

    syms = {w: list(w) + [EOW] for w in wc}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, s in syms.items():
            c = wc[w]
            for j in range(len(s) - 1):
                p = (s[j], s[j + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < min_frequency:
            break
        merges.append((a, b))
        for w in syms:
            syms[w] = greedy(syms[w], a, b)
    return merges, syms


def bpe_train_plan(
    words: DataFrame, num_merges: int, min_frequency: int = 2
) -> tuple[DataFrame, DataFrame]:
    """LAZY twin of ``bpe_train``: training as ONE deferred plan that runs
    ZERO Spark jobs until an action touches it — where ``bpe_train`` pays
    ``num_merges`` sequential driver-blocking top-1 collects at CALL time
    (i.e. at plan construction for any caller embedding it in a larger
    plan; VERDICT r10 #1). Returns ``(word_sizes, merges)``:
    ``word_sizes`` = (word, n_toks) — every training word's token count
    under the trained tokenizer (the encode-set == training-vocab case,
    which is doc_quality's); ``merges`` = (merge_rank, a, b).

    The merge loop executes as ONE task over the aggregated (word, cnt)
    vocab (coalesce(1) + mapInPandas + ``train_merges_py``) — the
    standard shape for BPE training: the count aggregation is the
    distributed part, the merge loop is inherently global-sequential and
    the weighted vocab is orders of magnitude smaller than the corpus
    (bound it with ``word_counts(max_words=...)`` if needed).
    ``bpe_train`` remains the path for vocabs too large for one task.

    The combined output frame is cut with a DEFERRED localCheckpoint so
    its two consumers (sizes, merges) share one training run. The cut is
    created under a scoped AQE-off toggle: building a checkpoint RDD
    under adaptive execution materializes its shuffle query stages — the
    very jobs this function exists to defer. The sub-plan loses nothing:
    it is vocab-bounded and deliberately single-partition.
    """
    schema = "kind string, word string, n_toks int, merge_rank long, a string, b string"
    nm, mf = int(num_merges), int(min_frequency)

    def train(batches):
        import pandas as pd

        wc: dict[str, int] = {}
        for pdf in batches:
            for w, c in zip(pdf["word"], pdf["cnt"]):
                wc[w] = wc.get(w, 0) + int(c)
        merges, syms = train_merges_py(wc, nm, mf)
        words_out = list(syms)
        yield pd.DataFrame(
            {
                "kind": ["w"] * len(words_out),
                "word": words_out,
                "n_toks": [len(syms[w]) for w in words_out],
                "merge_rank": pd.array([None] * len(words_out), dtype="Int64"),
                "a": [None] * len(words_out),
                "b": [None] * len(words_out),
            }
        )
        yield pd.DataFrame(
            {
                "kind": ["m"] * len(merges),
                "word": [None] * len(merges),
                "n_toks": pd.array([None] * len(merges), dtype="Int32"),
                "merge_rank": pd.array(range(len(merges)), dtype="Int64"),
                "a": [a for a, _ in merges],
                "b": [b for _, b in merges],
            }
        )

    combined = (
        words.select("word", F.col("cnt").cast("long").alias("cnt"))
        .coalesce(1)
        .mapInPandas(train, schema)
    )
    from ..session import lazy_cut

    combined = lazy_cut(combined)
    sizes = combined.filter(F.col("kind") == "w").select("word", "n_toks")
    merges = combined.filter(F.col("kind") == "m").select("merge_rank", "a", "b")
    return sizes, merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Pure-Python rank-based BPE encode of one word (chars+EOW start).

    Repeatedly merges the present pair with the LOWEST training rank —
    the standard inference rule, equivalent to replaying the merges in
    training order. Shared by the pandas_udf batch encoder and the tests'
    oracle so the two cannot drift.
    """
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_i = -1
        best_rank = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        a, b = syms[best_i], syms[best_i + 1]
        # merge ALL occurrences of this pair, greedy left-to-right
        out: list[str] = []
        j = 0
        while j < len(syms):
            if j < len(syms) - 1 and syms[j] == a and syms[j + 1] == b:
                out.append(a + b)
                j += 2
            else:
                out.append(syms[j])
                j += 1
        syms = out
    return syms


def bpe_encode_words(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(word, bpe) — encode each DISTINCT word once via an Arrow batch UDF.

    The merge table rides into executors as a closure-captured dict
    (num_merges entries — a tokenizer model is KBs-MBs, genuinely
    broadcastable, unlike the vocab frame). Python cost is
    O(distinct words), never O(corpus).
    """
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}

    def enc(col):
        return col.map(lambda w: encode_word(w, ranks))

    # module stringifies annotations (future import); pandas_udf needs real
    # types to infer the eval mode
    enc.__annotations__ = {"col": pd.Series, "return": pd.Series}
    enc = F.pandas_udf(enc, "array<string>")

    return words.select("word", enc(F.col("word")).alias("bpe"))


def doc_word_counts(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, word, k): the nnz-bounded word-count matrix WITHOUT the
    stopword drop (a tokenizer trains on every word, unlike the term-doc
    matrix). One corpus scan; everything BPE needs downstream — the
    training vocab, the distinct-word encode set, and the per-doc weighted
    sums — derives from this frame, so a fused plan scans the corpus once.
    """
    return (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("k"))
    )


def bpe_token_counts_from_counts(
    per_word: DataFrame,
    merges: list[tuple[str, str]],
    all_doc_ids: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_bpe_tokens) from a precomputed (doc_id, word, k) frame.

    Vocab side: each DISTINCT word encodes once (Arrow batch UDF), then one
    join + weighted sum. The vocab join carries NO broadcast hint (a
    distinct-words frame is O(vocab), not "small"; AQE may still broadcast
    when stats say it fits). Pass ``all_doc_ids`` (a one-column doc_id
    frame) to keep 0 rows for docs with no tokens via left join + coalesce.
    """
    vocab = bpe_encode_words(
        per_word.select("word").distinct(), merges
    ).select("word", F.size("bpe").alias("n_toks"))
    weighted = per_word.join(vocab, "word").groupBy("doc_id").agg(
        F.sum(F.col("k") * F.col("n_toks")).alias("n_bpe_tokens")
    )
    if all_doc_ids is not None:
        weighted = all_doc_ids.select("doc_id").join(weighted, "doc_id", "left")
    return weighted.select(
        "doc_id",
        F.coalesce("n_bpe_tokens", F.lit(0)).cast("long").alias("n_bpe_tokens"),
    )


def bpe_token_counts(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_bpe_tokens): learned-tokenizer token counts per document.

    Corpus side: one (doc_id, word) count aggregate (nnz-bounded — the
    term-matrix shape) joined to the encoded vocab's per-word token
    length, then one weighted sum. Docs with zero tokens keep a 0 row
    via the left join + coalesce.
    """
    return bpe_token_counts_from_counts(
        doc_word_counts(documents, text_col, id_col),
        merges,
        all_doc_ids=documents.select(F.col(id_col).alias("doc_id")),
    )
