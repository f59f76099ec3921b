"""Property-based tests (hypothesis): invariants that hold for ALL inputs,
not just fixtures — MTX round-trips, tokenizer algebra, minhash bounds.
Spark-side properties run on small generated frames (settings keep
example counts low; each example is a Spark job)."""

from __future__ import annotations

import pytest


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.functions.hashing import (
    MERSENNE_P,
    minhash_params,
)
from document_clustering_with_hadoop_mapreduce_spark.sources.mtx import (

    mtx_dims,
    read_mtx,
    write_mtx_single,
)

# Suite tiering: the Spark-backed properties are the property-fuzz tier
# (each example is a Spark job), marked slow so the default profile
# finishes inside its budget; run them with --runslow. The pure-Python
# properties are cheap and run in the default tier.

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

triples = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=500),
        st.integers(min_value=1, max_value=500),
        st.integers(min_value=1, max_value=10_000),
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: (t[0], t[1]),
)


@pytest.mark.slow
@SETTINGS
@given(data=triples)
def test_mtx_roundtrip_any_triples(spark, tmp_path_factory, data):
    df = spark.createDataFrame(
        [(a, b, float(v)) for a, b, v in data],
        "term_id INT, doc_id INT, value DOUBLE",
    )
    path = str(tmp_path_factory.mktemp("mtx") / "m.mtx")
    n_rows = max(a for a, _, _ in data)
    n_cols = max(b for _, b, _ in data)
    nnz = write_mtx_single(df, path, n_rows, n_cols, int_values=True)
    assert nnz == len(data)
    d = mtx_dims(path)
    assert (d.n_rows, d.n_cols, d.nnz) == (n_rows, n_cols, nnz)
    back = {(r["term_id"], r["doc_id"]): r["value"] for r in read_mtx(spark, path).collect()}
    want = {(a, b): float(v) for a, b, v in data}
    # dims-row collision filter may only ever drop the literal dims triple
    assert back == {k: v for k, v in want.items()
                    if not (k == (n_rows, n_cols) and v == float(nnz))}


@pytest.mark.slow
@SETTINGS
@given(
    text=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=200
    )
)
def test_tokenizer_properties(spark, text):
    """Tokens are lowercase alphanumeric, never empty, count <= words in."""
    from document_clustering_with_hadoop_mapreduce_spark.functions.text import tokens

    df = spark.createDataFrame([(text,)], "text STRING")
    toks = df.select(
        F.filter(tokens(F.col("text")), lambda t: t != "").alias("t")
    ).collect()[0]["t"]
    for t in toks:
        assert t == t.lower()
        assert t != ""
        assert all(c.isalnum() for c in t)
    assert len(toks) <= max(1, len(text.split()))


@given(x=st.integers(min_value=0, max_value=(1 << 60) - 1))
@settings(max_examples=200, deadline=None)
def test_universal_hash_range_pure_python(x):
    """h(x) always lands in [0, P) for every hash in the family (pure-python
    mirror of the column expression's arithmetic)."""
    for a, b in minhash_params(8, seed=42):
        a30 = (a & ((1 << 30) - 1)) | 1
        b30 = b & ((1 << 30) - 1)
        h = (a30 * (x % (1 << 30)) + b30) % MERSENNE_P
        assert 0 <= h < MERSENNE_P


@pytest.mark.slow
def test_doc_repetition_fold_semantics(spark):
    """Pin the run-length fold against hand-computed stats: 'a b a b a'
    has token counts {a:3, b:2} and bigram counts {'a b':2, 'b a':2}."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.textstats import doc_repetition

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z"), (3, ""), (4, "w w w w")],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r.asDict() for r in doc_repetition(docs, n=2).collect()}
    assert got[1]["n_tokens"] == 5 and got[1]["n_ngrams"] == 4
    assert got[1]["max_token_frac"] == 0.6      # a: 3/5
    assert got[1]["top_ngram_frac"] == 0.5      # 'a b': 2/4
    assert got[1]["dup_ngram_frac"] == 1.0      # all 4 bigrams duplicated
    assert got[2]["max_token_frac"] == round(1 / 3, 6)
    assert got[2]["dup_ngram_frac"] == 0.0
    assert got[3] == {"doc_id": 3, "n_tokens": 0, "n_ngrams": 0,
                      "max_token_frac": 0.0, "top_ngram_frac": 0.0,
                      "dup_ngram_frac": 0.0}
    assert got[4]["max_token_frac"] == 1.0 and got[4]["dup_ngram_frac"] == 1.0


@pytest.mark.slow
def test_stratified_sample_is_stable_subset(spark, sf_dir):
    """Sampling twice gives the identical row set; rate=1.0 strata are kept
    in full; the sample is a subset of the input."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.textstats import stratified_sample
    from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept1 = {r["doc_id"] for r in stratified_sample(docs, {"en": 0.5}).select("doc_id").collect()}
    kept2 = {r["doc_id"] for r in stratified_sample(docs, {"en": 0.5}).select("doc_id").collect()}
    assert kept1 == kept2
    non_en = {r["doc_id"] for r in docs.filter("lang <> 'en'").select("doc_id").collect()}
    assert non_en <= kept1
    en_total = docs.filter("lang = 'en'").count()
    en_kept = len(kept1) - len(non_en)
    assert 0 < en_kept < en_total


@pytest.mark.slow
def test_doc_features_matches_standalone_operators(spark, sf_dir):
    """The fused doc_features projection (the registered doc_quality slot)
    must agree column-for-column with the three standalone operators it
    absorbs — doc_quality, bpe_ish_token_counts, doc_repetition."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.textstats import (
        bpe_ish_token_counts,
        doc_features,
        doc_quality,
        doc_repetition,
    )
    from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    fused = {r["doc_id"]: r.asDict() for r in doc_features(docs, n=2).collect()}
    for r in doc_quality(docs).collect():
        f = fused[r["doc_id"]]
        for c in ("n_tokens", "n_chars", "avg_token_len", "stopword_ratio", "punct_ratio"):
            assert f[c] == r[c], (r["doc_id"], c)
    for r in bpe_ish_token_counts(docs).collect():
        assert fused[r["doc_id"]]["bpe_tokens"] == r["bpe_tokens"]
    for r in doc_repetition(docs, n=2).collect():
        f = fused[r["doc_id"]]
        # doc_repetition's n_tokens is the CLEANED count = fused n_clean_tokens
        assert f["n_clean_tokens"] == r["n_tokens"], r["doc_id"]
        for c in ("n_ngrams", "max_token_frac", "top_ngram_frac", "dup_ngram_frac"):
            assert f[c] == r[c], (r["doc_id"], c)


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=30).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_repetition_fold_matches_python_counter(spark, texts):
    """Property: the array_sort+aggregate run-length fold equals a python
    Counter for ANY token stream — max count of any token, and the number
    of tokens whose value occurs >= 2 times (single-letter tokens avoid
    stopword/cleaning interaction; that mapping is covered elsewhere)."""
    from collections import Counter

    from document_clustering_with_hadoop_mapreduce_spark.operators.textstats import doc_repetition

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    got = {r["doc_id"]: r.asDict() for r in doc_repetition(docs, n=2).collect()}
    for i, t in enumerate(texts):
        toks = [w for w in t.split() if w]
        c = Counter(toks)
        n = len(toks)
        grams = [" ".join(toks[j : j + 2]) for j in range(max(0, n - 1))]
        gc = Counter(grams)
        exp_max = round(max(c.values()) / n, 6) if n else 0.0
        exp_top = round(max(gc.values()) / len(grams), 6) if grams else 0.0
        exp_dup = (
            round(sum(v for v in gc.values() if v >= 2) / len(grams), 6) if grams else 0.0
        )
        assert got[i]["n_tokens"] == n
        assert got[i]["max_token_frac"] == exp_max, (t, got[i])
        assert got[i]["top_ngram_frac"] == exp_top, (t, got[i])
        assert got[i]["dup_ngram_frac"] == exp_dup, (t, got[i])


_WORDS = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])  # tiny alphabet forces n-gram collisions
_DOC = st.lists(_WORDS, min_size=0, max_size=12).map(" ".join)


@pytest.mark.slow
@SETTINGS
@given(docs=st.lists(_DOC, min_size=1, max_size=8), n_eval=st.integers(min_value=1, max_value=3))
def test_contamination_matches_python_ngram_overlap(spark, docs, n_eval):
    """contamination_stats == a pure-Python distinct n-gram intersection for
    ANY corpus/eval split (n=2 over a 5-word alphabet: dense collisions)."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.decontam import (
        contamination_stats,
        decontaminate,
    )

    n = 2
    rows = [(i, t) for i, t in enumerate(docs)]
    frame = spark.createDataFrame(rows, "doc_id long, text string")
    eval_frame = spark.createDataFrame(rows[:n_eval], "doc_id long, text string")

    def grams(t):
        ws = [w for w in t.split() if w]
        return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}

    eval_set = set().union(*(grams(t) for _, t in rows[:n_eval]))
    want = {i: len(grams(t) & eval_set) for i, t in rows if grams(t) & eval_set}
    got = {
        r["doc_id"]: r["n_overlap"]
        for r in contamination_stats(frame, eval_frame, n=n).collect()
    }
    assert got == want
    kept = {r["doc_id"] for r in decontaminate(frame, eval_frame, n=n).collect()}
    assert kept == {i for i, _ in rows} - set(want)


word = st.text(alphabet="abcde", min_size=1, max_size=4)


@pytest.mark.slow
@SETTINGS
@given(
    docs=st.lists(
        st.lists(word, min_size=0, max_size=12).map(" ".join),
        min_size=1, max_size=10,
    ),
    max_tokens=st.integers(min_value=1, max_value=16),
)
def test_sequence_pack_matches_python_packer(spark, docs, max_tokens):
    """sequence_pack over one stream == a pure-Python cumulative packer."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.textstats import (
        sequence_pack,
    )

    frame = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["seq"], r["offset"], r["global_start"], r["n_tokens"])
        for r in sequence_pack(frame, max_tokens=max_tokens, num_streams=1).collect()
    }
    cum = 0
    for i, text in enumerate(docs):
        n = len(text.split()) if text.strip() else 0
        assert got[i] == (cum // max_tokens, cum % max_tokens, cum, n), (i, got[i])
        cum += n


@pytest.mark.slow
@SETTINGS
@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
            min_size=2, max_size=4,
        ),
        min_size=1, max_size=8,
    ).filter(lambda vs: len({len(v) for v in vs}) == 1),
    bits=st.integers(min_value=1, max_value=8),
)
def test_quantize_matches_python_formula(spark, vecs, bits):
    """quantize_embeddings == the pure-Python floor(+0.5) affine formula."""
    import math

    from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
        quantization_params,
        quantize_embeddings,
    )

    frame = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    mins, scales = quantization_params(frame, bits=bits)
    levels = (1 << bits) - 1
    got = {r["vec_id"]: r["qcodes"] for r in quantize_embeddings(frame, mins, scales, bits).collect()}
    for i, v in enumerate(vecs):
        for d, x in enumerate(v):
            if scales[d] == 0.0:
                expect = 0
            else:
                expect = min(levels, max(0, int(math.floor((float(x) - mins[d]) / scales[d] + 0.5))))
            assert got[i][d] == expect, (i, d, got[i][d], expect)


@pytest.mark.slow
@given(
    text=st.text(
        alphabet="abc defg",  # tiny alphabet: dense hash ties exercise the
        min_size=0,           # rightmost-min rule hard
        max_size=200,
    ),
    k=st.integers(min_value=1, max_value=6),
    w=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_winnow_spark_matches_python_on_random_text(spark, text, k, w):
    """Random-text fuzz of the full winnow selection (normalize -> k-gram
    md5 -> rightmost-min window -> distinct) against the pure-python
    oracle — beyond the fixture docs the unit suite covers."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.winnow import (
        winnow_fingerprints,
    )
    from test_winnow import _winnow_py

    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    got = {
        (r.pos, r.fingerprint)
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }
    assert got == _winnow_py(text, k=k, w=w)


@pytest.mark.slow
@given(
    assignment=st.lists(
        st.integers(min_value=0, max_value=9), min_size=1, max_size=60
    ),
    salt=st.sampled_from(["a", "b", "c"]),
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_leakage_split_component_wholeness(spark, assignment, salt):
    """For ANY component structure: every component's members share one
    split, and docs outside the component table match hash_split exactly."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.textstats import (
        hash_split,
        leakage_safe_split,
    )

    n = len(assignment)
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    # components: doc i belongs to group assignment[i]; each group's
    # representative is its min doc id; groups of size 1 are omitted
    # (singletons) half the time via the group-parity trick
    groups: dict[int, list[int]] = {}
    for i, g in enumerate(assignment):
        groups.setdefault(g, []).append(i)
    comp_rows = [
        (i, min(members))
        for g, members in groups.items()
        if len(members) > 1
        for i in members
    ]
    comps = spark.createDataFrame(
        comp_rows or [(-1, -1)], "doc_id long, component long"
    )
    if not comp_rows:
        comps = comps.where("doc_id >= 0")
    out = {r.doc_id: (r.split_key, r.split) for r in
           leakage_safe_split(docs, comps, salt=salt).collect()}
    base = {r.doc_id: r.split for r in hash_split(docs, salt=salt).collect()}
    in_comp = {i for i, _ in comp_rows}
    for g, members in groups.items():
        if len(members) > 1:
            assert len({out[i] for i in members}) == 1
    for i in range(n):
        if i not in in_comp:
            assert out[i][1] == base[i]


# ---------------------------------------------------------------------------
# Cosine-pair engine equivalence: the block-matmul engine must equal the
# inverted-index triples engine on ARBITRARY corpora — not just the
# fixtures — including the degenerate shapes (identical docs, docs shorter
# than top_t, fewer docs than blocks, single doc, shared-nothing docs).
# ---------------------------------------------------------------------------

_cos_docs = st.lists(
    st.lists(
        st.sampled_from("alpha bravo charlie delta echo foxtrot golf".split()),
        min_size=0,
        max_size=12,
    ),
    min_size=1,
    max_size=14,
)


@pytest.mark.slow
@given(docs=_cos_docs, thresh=st.sampled_from([0.2, 0.6, 0.95]))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cosine_engines_agree_on_arbitrary_corpora(spark, docs, thresh):
    from document_clustering_with_hadoop_mapreduce_spark.operators.dedup import (
        tfidf_cosine_pairs,
        tfidf_cosine_pairs_blocked,
    )
    from document_clustering_with_hadoop_mapreduce_spark.operators.term_matrix import (
        term_doc_counts,
    )
    from document_clustering_with_hadoop_mapreduce_spark.operators.tfidf import tfidf

    frame = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id long, text string",
    )
    m = tfidf(term_doc_counts(frame), n_docs=len(docs))
    want = sorted(
        tuple(r) for r in tfidf_cosine_pairs(m, top_t=4, min_cosine=thresh).collect()
    )
    # n_blocks above the doc count and a chunk smaller than block size —
    # both partition-edge paths exercised on every example
    got = sorted(
        tuple(r)
        for r in tfidf_cosine_pairs_blocked(
            m, top_t=4, min_cosine=thresh, n_blocks=5, row_chunk=2
        ).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# Winnow pair/span consistency on arbitrary corpora: the span generator's
# bounded-state df cap (groupBy/countDistinct + join-back) must select
# exactly the pairs the count generator's window cap selects, for any
# corpus and any cap — the two branches of _capped_pair_join can't drift.
# ---------------------------------------------------------------------------

_winnow_docs = st.lists(
    st.lists(
        st.sampled_from("kilo lima mike november oscar papa".split()),
        min_size=3,
        max_size=10,
    ),
    min_size=2,
    max_size=8,
)


@pytest.mark.slow
@given(docs=_winnow_docs, max_df=st.sampled_from([2, 4, 8]))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_winnow_span_cap_matches_pair_cap(spark, docs, max_df):
    from document_clustering_with_hadoop_mapreduce_spark.operators.winnow import (
        winnow_fingerprints,
        winnow_overlap_pairs,
        winnow_overlap_spans,
    )

    frame = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(frame, k=6, w=3)
    pairs = {
        (r.doc_a, r.doc_b): r.shared
        for r in winnow_overlap_pairs(fps, min_shared=1, max_df=max_df).collect()
    }
    spans = {
        (r.doc_a, r.doc_b): r.shared
        for r in winnow_overlap_spans(fps, min_shared=1, max_df=max_df).collect()
    }
    assert pairs == spans


@settings(max_examples=300, deadline=None)
@given(
    occ=st.one_of(
        st.integers(min_value=0, max_value=10**9),
        st.floats(min_value=0, max_value=1e9, allow_nan=False),
    ),
    target=st.integers(min_value=1, max_value=10**6),
)
def test_spread_for_width_bound_and_cap(occ, target):
    """Pure-Python invariants of the round-12 exact LSH spread: S is the
    exact ceil(occ/target) whenever that fits the CAP^2 ceiling (so the
    per-side width bound occ <= S*target holds EXACTLY below the cap),
    S is always in [1, CAP^2], and S never decreases in occ."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
        LSH_MAX_SUB_BLOCKS as CAP,
        _spread_for,
    )

    s = _spread_for(occ, target)
    assert 1 <= s <= CAP * CAP
    need = max(1, -(-int(occ) // target))
    if need <= CAP * CAP:
        assert s == need          # exact: no rounding overshoot anywhere
        assert int(occ) <= s * target or int(occ) <= target  # width bound
    else:
        assert s == CAP * CAP     # hard ceiling, graceful degradation
    # monotone: more rows never get LESS spread
    assert _spread_for(int(occ) + target, target) >= s
