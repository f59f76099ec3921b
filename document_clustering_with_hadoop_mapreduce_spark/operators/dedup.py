"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

North-star extensions (BASELINE.json): the reference deduplicates nothing
(its only dedup is a LinkedHashSet on output rows, ref sources/1.4/source/
task1_4.java:151); a 100 TB training-data pipeline lives and dies by these.

Scale design:
- shingling/hashing is map-side only (no shuffle until the agg);
- MinHash signatures: ONE groupBy(doc) with H min-aggregates — map-side
  partial mins make shuffle volume H longs per doc;
- LSH banding: candidate generation is an equi-join on (band_idx, band_key),
  i.e. the classic shuffle-bounded MinHash-LSH join — never an O(n²) cross
  join;
- exact Jaccard verification joins only on shared shingles; hot shingles
  (doc_freq caps) are the documented skew hazard — LSH is the scale path,
  the exact join is the small-scale oracle baseline.

All hashes derive from md5 (``functions.hashing``) so the DuckDB oracle can
reproduce every bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE_P, md5_int60, minhash_params, universal_hash
from ..functions.text import tokens


def exact_dup_groups(documents: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: hash-groupBy on a content key; emits one representative
    (min id) per group + group size. Single shuffle on the key."""
    return (
        documents.select(F.col(id_col).alias("doc_id"), key.alias("dup_key"))
        .groupBy("dup_key")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("group_size"))
    )


def _tokenized(documents: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, __toks) with the token array MATERIALIZED in its own
    projection. Referencing ``tokens(text)`` directly inside the shingle
    lambda makes Catalyst re-split the full document text once per shingle
    (O(len²) per doc — measured 3-8x slower at sf0.1); a separate projection
    pins the array so each slice reuses it.

    Empty tokens are filtered: ``split('')`` yields ``[""]``, so without the
    filter a blank/cleans-to-blank document carries one phantom empty token
    — at window/shingle size 1 two blank docs would then share a bogus
    ""-span. Every DuckDB oracle already models the filtered stream
    (``list_filter(..., t -> t <> '')``); for any non-blank cleaned text the
    filter is a no-op (trim+split emits no interior empties)."""
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.filter(tokens(F.col(text_col)), lambda t: t != "").alias("__toks"),
    )


def _shingle_array(n: int):
    toks = F.col("__toks")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def shingles(documents: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct n-word shingles per document (stopwords KEPT — dedup must
    see the raw token stream). Map-side explode, one distinct shuffle."""
    return (
        _tokenized(documents, text_col, id_col)
        .select("doc_id", F.explode(_shingle_array(n)).alias("shingle"))
        .distinct()
    )


def shingle_hashes(
    documents: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Map-side (doc_id, h) stream of 60-bit shingle hashes for MinHash.

    Deliberately NO distinct and no shingle-string shuffle: ``min()`` is
    duplicate-insensitive, so MinHash signatures over the raw hash stream
    are bit-identical to hashing distinct shingles (the oracle dedups
    strings first — results agree; only the work differs). Hashes are
    computed inside the array transform, so explode emits longs, not
    3-word strings — the whole stage is narrow (zero shuffle).
    """
    toks = F.col("__toks")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    hashes = F.transform(
        idx, lambda i: md5_int60(F.concat_ws(" ", F.slice(toks, i, n)))
    )
    return _tokenized(documents, text_col, id_col).select(
        "doc_id", F.explode(hashes).alias("h")
    )


def minhash_signatures(doc_shingles: DataFrame, num_hashes: int = 16, seed: int = 42) -> DataFrame:
    """MinHash signature matrix: (doc_id, h0..h{H-1}).

    h_j(doc) = min over shingles of ((a_j * (md5_60(s) mod 2^30) + b_j) mod P).
    One aggregate, H partial-min columns — shuffle is H longs per doc.
    Accepts either ``shingles()`` output (strings) or the faster
    ``shingle_hashes()`` stream (pre-hashed, no distinct).
    """
    params = minhash_params(num_hashes, seed)
    if "h" in doc_shingles.columns:
        hashed = doc_shingles.withColumn("__h", F.col("h"))
    else:
        hashed = doc_shingles.withColumn("__h", md5_int60(F.col("shingle")))
    aggs = [
        F.min(universal_hash(F.col("__h"), a, b)).alias(f"h{j}")
        for j, (a, b) in enumerate(params)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """LSH banding: pairs of docs sharing at least one band.

    Bands become (band_idx, band_key) rows; candidates are the equi-join on
    that key (a < b to dedupe the pair space). Shuffle-bounded — the whole
    point of LSH at 100 TB.

    Hot-bucket guard: on real web corpora one degenerate band key
    (boilerplate / empty / templated docs) collects a huge bucket, and the
    self-join then emits |bucket|^2 pairs — quadratic OUTPUT volume that no
    AQE skew-split can shrink. Buckets larger than ``max_bucket_size``
    therefore degrade from all-pairs to a STAR: every member links to the
    bucket's min doc_id (|bucket|-1 pairs, computed map-side off the same
    window). For the downstream connected-components / dedup consumers this
    is LOSSLESS — the star spans exactly the component the clique would —
    while pair-level consumers (e.g. Jaccard verification of every
    candidate) see only the star edges for hot buckets; raise or disable
    the cap (``max_bucket_size=None``) if full enumeration is required.
    Bucket stats come from a window over the banded frame (one shuffle on
    the join key the self-join needs anyway, no extra join).
    """
    n_bands = num_hashes // rows_per_band
    bands = F.array(*[
        F.concat_ws(":", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)])
        for b in range(n_bands)
    ])
    banded = signatures.select("doc_id", F.posexplode(bands).alias("band_idx", "band_key"))
    star = None
    if max_bucket_size is not None:
        w = Window.partitionBy("band_idx", "band_key")
        sized = banded.select(
            "doc_id", "band_idx", "band_key",
            F.count(F.lit(1)).over(w).alias("__n"),
            F.min("doc_id").over(w).alias("__min_doc"),
        )
        # The windowed frame feeds THREE consumers (both self-join sides +
        # the star branch). Catalyst's ReusedExchange does NOT unify them —
        # the tokenize/shingle lambda expressions upstream defeat plan
        # canonicalization — so without this the whole text pipeline runs
        # three times (measured 3x the upstream scan at sf0.1). A lazy
        # localCheckpoint materializes it once on first action (executor
        # memory+disk, window partitioning preserved); on a real cluster
        # prefer reliable checkpoint() if lineage-free retry matters.
        sized = sized.localCheckpoint(eager=False)
        banded = sized.filter(F.col("__n") <= max_bucket_size).select(
            "doc_id", "band_idx", "band_key"
        )
        star = (
            sized.filter(
                (F.col("__n") > max_bucket_size) & (F.col("doc_id") != F.col("__min_doc"))
            )
            .select(F.col("__min_doc").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        )
    else:
        # two consumers (the self-join's sides) — same reuse failure
        banded = banded.localCheckpoint(eager=False)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def lsh_incremental_pairs(
    existing_signatures: DataFrame,
    new_signatures: DataFrame,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 256,
    materialize: bool = True,
) -> DataFrame:
    """Incremental LSH dedup: candidate pairs that involve at least one NEW
    document — new-vs-existing and new-vs-new, never existing-vs-existing
    (those were enumerated when the existing corpus was built).
    ``materialize=False`` skips the multi-consumer lazy checkpoints (for
    callers that already materialized the banded substrate, and for plan
    inspection — a lazy checkpoint truncates the visible plan).

    The ingestion shape a 100 TB corpus actually needs: a daily batch lands
    and must be deduped against the whole corpus without re-running the
    quadratic-candidate step over history. Mechanics: both signature frames
    band as in ``lsh_candidate_pairs``; the EXISTING banded stream is then
    semi-joined against the new batch's (band_idx, band_key) set — a
    broadcast (a batch is MBs-GBs against a TB corpus), so history is
    filtered map-side down to only the buckets the batch touches, and
    everything downstream (bucket-size window, guard, pair join) runs on
    that batch-bounded subset. At full scale keep the existing corpus's banded frame as a
    bucketed table on (band_idx, band_key) (``sources/bucketing.py``) and
    the probe is exchange-free on the history side.

    The hot-bucket guard matches ``lsh_candidate_pairs`` (bucket size
    measured over the RELEVANT rows, which for a touched bucket is its full
    membership): oversize buckets degrade to star edges on the bucket-min
    doc, then — like every emitted pair — are filtered to those touching a
    new doc. With the guard disabled, output is exactly
    ``pairs(existing + new) - pairs(existing)``.

    Doc ids must be unique ACROSS both frames (they share the pair space).
    """
    n_bands = num_hashes // rows_per_band

    def band(sigs: DataFrame, is_new: bool) -> DataFrame:
        bands = F.array(*[
            F.concat_ws(":", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)])
            for b in range(n_bands)
        ])
        return sigs.select(
            "doc_id",
            F.posexplode(bands).alias("band_idx", "band_key"),
            F.lit(is_new).alias("is_new"),
        )

    banded_new = band(new_signatures, True)
    if materialize:
        banded_new = banded_new.localCheckpoint(eager=False)
    touched = F.broadcast(banded_new.select("band_idx", "band_key").distinct())
    relevant_old = band(existing_signatures, False).join(touched, ["band_idx", "band_key"], "left_semi")
    banded = relevant_old.unionByName(banded_new)
    star = None
    if max_bucket_size is not None:
        w = Window.partitionBy("band_idx", "band_key")
        # min over (doc_id, is_new) structs = the min doc WITH its flag, so
        # star edges can apply the at-least-one-new filter without a join
        sized = banded.select(
            "doc_id", "band_idx", "band_key", "is_new",
            F.count(F.lit(1)).over(w).alias("__n"),
            F.min(F.struct("doc_id", "is_new")).over(w).alias("__min"),
        )
        if materialize:
            # three consumers, same reuse failure as lsh_candidate_pairs
            sized = sized.localCheckpoint(eager=False)
        banded = sized.filter(F.col("__n") <= max_bucket_size).select(
            "doc_id", "band_idx", "band_key", "is_new"
        )
        star = (
            sized.filter(
                (F.col("__n") > max_bucket_size)
                & (F.col("doc_id") != F.col("__min.doc_id"))
                & (F.col("is_new") | F.col("__min.is_new"))
            )
            .select(F.col("__min.doc_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        )
    elif materialize:
        banded = banded.localCheckpoint(eager=False)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id"))
            & (F.col("l.is_new") | F.col("r.is_new")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def jaccard_pairs(doc_shingles: DataFrame, min_jaccard: float = 0.2) -> DataFrame:
    """Exact n-gram Jaccard over shared shingles.

    Each doc's shingle-set size is attached to the shingle frame with ONE
    window (count over doc_id) and carried through the shingle self-join,
    so |A| and |B| fall out of the pair aggregate itself — no per-doc size
    table, no O(corpus) broadcast (a one-row-per-document frame is NOT
    "small" at 100 TB; hinting it broadcast would OOM the driver). Exact
    SMALL-SCALE baseline; at scale use ``jaccard_verify_pairs`` to compute
    the same measure restricted to the LSH candidate set.
    """
    w = Window.partitionBy("doc_id")
    sized = doc_shingles.withColumn("sz", F.count(F.lit(1)).over(w))
    # two consumers (the self-join's sides) and no Catalyst subtree reuse
    # across the tokenize lambdas — materialize the sized frame once
    sized = sized.localCheckpoint(eager=False)
    a = sized.alias("a")
    b = sized.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        # every row in a (doc_a, doc_b) group carries the same sz on each
        # side; min() is a deterministic pick, fused into the same aggregate
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.min("a.sz").alias("sz_a"),
            F.min("b.sz").alias("sz_b"),
        )
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_verify_pairs(
    pairs: DataFrame, doc_shingles: DataFrame, min_jaccard: float = 0.5
) -> DataFrame:
    """Exact-Jaccard verification of CANDIDATE pairs — the second half of
    the candidate-generate/verify pattern every banding dedup needs at
    scale (Leskovec et al., Mining of Massive Datasets ch. 3): LSH emits a
    shuffle-bounded candidate set with false positives (hash collisions,
    band coincidences on small shingle sets); this verifies each candidate
    against the true shingle sets and keeps only pairs at or above
    ``min_jaccard``.

    Work is bounded by |candidates| x shingles-per-doc, NOT corpus^2: the
    pair list joins each side's shingle stream by doc id (two shuffle
    equi-joins), common shingles fall out of one aggregate, and set sizes
    ride along via the same per-doc count window as ``jaccard_pairs`` — no
    per-doc broadcast anywhere.

    Returns (doc_a, doc_b, jaccard) — feed to ``duplicate_components`` for
    a false-merge-free duplicate clustering.

    Accepts ``shingles()`` output (strings, already distinct) or the
    ``shingle_hashes()`` stream (column ``h``, duplicates possible — unlike
    MinHash's min(), set intersection/size counts are NOT duplicate-
    insensitive, so the hash stream is distinct-ed here first).
    """
    if "h" in doc_shingles.columns:
        doc_shingles = doc_shingles.select(
            "doc_id", F.col("h").alias("shingle")
        ).distinct()
    w = Window.partitionBy("doc_id")
    sized = doc_shingles.withColumn("sz", F.count(F.lit(1)).over(w)).localCheckpoint(
        eager=False
    )  # two consumers (each pair side)
    sa = sized.select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("sz").alias("sz_a")
    )
    sb = sized.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("sz").alias("sz_b")
    )
    return (
        pairs.select("doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.min("sz_a").alias("sz_a"),
            F.min("sz_b").alias("sz_b"),
        )
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


def _both_directions(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """(doc_a, doc_b) pairs -> the undirected edge list (src, dst), each
    pair once per direction. One generator over one scan of ``pairs``, so
    the plan that produces the pairs runs once; a union of two
    projections would run it once per branch, or need a cache — and a
    cache of a shuffle output keeps all ``spark.sql.shuffle.partitions``
    partitions (see ``doc_cluster.doc_partitioned``), so each later pass
    over it ran that many near-empty tasks. The callers checkpoint the
    result, which keeps AQE's coalesced layout."""
    return pairs.select(
        F.inline(F.array(
            F.struct(F.col("doc_a").alias(src), F.col("doc_b").alias(dst)),
            F.struct(F.col("doc_b").alias(src), F.col("doc_a").alias(dst)),
        ))
    )


def duplicate_components(
    pairs: DataFrame,
    documents: DataFrame | None = None,
    id_col: str = "doc_id",
    max_rounds: int = 25,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over candidate
    pairs -> (doc_id, component), component = min doc_id reachable through
    the pair graph (the canonical representative to keep).

    Iterative min-label propagation: each round, every node takes the min of
    its own label and its neighbors' — one shuffle per round, converging in
    graph-diameter rounds. Near-dup graphs are dense clique-ish blobs
    (diameter 2-3); for adversarial long chains use ``star_components``
    below — the alternating large-star/small-star scheme (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14), which
    converges in O(log n) rounds independent of diameter (this flood
    raises loudly when max_rounds exhausts instead).

    Scale design: propagation runs ONLY on nodes that appear in some pair
    (LSH keeps that set a small fraction of the corpus); the full corpus
    joins in once at the end, singletons mapping to themselves. Labels are
    localCheckpoint-ed each round to truncate lineage (on a real cluster:
    ``sc.setCheckpointDir`` + ``.checkpoint()``); convergence = label-sum
    fixpoint (labels only decrease, so equal sums mean no label moved),
    decimal-cast so the test never overflows at any corpus size.
    """
    edges = _both_directions(pairs, "src", "dst").localCheckpoint(eager=False)
    # seed each node with min(self, direct neighbors): folds the first
    # propagation round into the init (one groupBy replaces the old
    # distinct + identity + first flood round) — on the clique-ish blobs
    # LSH produces, most labels are already final here.
    #
    # Action economy: every checkpoint is LAZY (eager=False — materialized
    # by whichever probe touches it first, then served from executor
    # storage), and the first probe computes the seed sum and the round-1
    # sum in ONE job (tagged union of two scalar aggregates). The common
    # diameter-2 case therefore costs exactly one flood action before the
    # caller's own result action, vs. four in the naive
    # checkpoint/probe/checkpoint sequencing.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .select(F.col("src").alias("doc_id"), F.least("src", "m").alias("component"))
        .localCheckpoint(eager=False)
    )
    total_expr = F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    prev_total = None
    have_prev = False
    converged = False
    if max_rounds <= 0:
        # preserve the contract that an EMPTY graph is trivially converged
        # even when no probe round runs (non-empty still fails loudly below)
        converged = labels.isEmpty()
    for _ in range(max_rounds):
        prop = edges.join(labels.withColumnRenamed("doc_id", "src"), "src").select(
            F.col("dst").alias("doc_id"), "component"
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
        )
        # probe the sum BEFORE materializing: labels only decrease, so an
        # unchanged sum means new_labels == labels value-for-value and the
        # terminal round skips its checkpoint entirely (the common case
        # on clique-ish LSH blobs is seed + one confirming probe)
        if not have_prev:
            rows = (
                labels.agg(total_expr).select(F.lit(0).alias("w"), "s")
                .unionAll(new_labels.agg(total_expr).select(F.lit(1).alias("w"), "s"))
                .collect()
            )
            sums = {r["w"]: r["s"] for r in rows}
            prev_total, total = sums[0], sums[1]
            have_prev = True
        else:
            total = new_labels.agg(total_expr).first()[0]
        if total == prev_total:  # includes the empty graph (None == None)
            converged = True
            break
        labels = new_labels.localCheckpoint(eager=False)
        prev_total = total
    if not converged:
        # labels only decrease, so a non-fixpoint exit means the result is
        # WRONG (some docs still carry a non-canonical representative) —
        # fail loudly rather than silently under-merging duplicates.
        raise RuntimeError(
            f"duplicate_components: min-label flood did not converge within "
            f"{max_rounds} rounds (graph diameter too large — raise max_rounds)"
        )
    if documents is None:
        return labels
    return (
        documents.select(F.col(id_col).alias("doc_id"))
        .join(labels, "doc_id", "left")
        .select("doc_id", F.coalesce("component", F.col("doc_id")).alias("component"))
    )


def star_components(
    pairs: DataFrame,
    documents: DataFrame | None = None,
    id_col: str = "doc_id",
    max_rounds: int = 40,
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the DIAMETER-INDEPENDENT alternative to the min-label
    flood in ``duplicate_components``.

    The flood needs graph-diameter rounds (fine for LSH's clique-ish
    near-dup blobs, diameter 2-3; fatal for adversarial chains — it
    raises after max_rounds). Star contraction halves component height
    per alternation, converging in O(log n) rounds on ANY topology:

    - large-star(u): connect every strictly-larger neighbor of u to
      m = min(neighborhood of u, incl. u);
    - small-star(u): connect every neighbor <= u (and u) to m.

    Each phase is one groupBy (neighborhood min) + one join back to the
    edge list — same shuffle-per-round complexity as the flood, bounded
    by the current edge count, which only shrinks as stars collapse.
    Convergence: the alternation is a deterministic function of the edge
    set, so termination tests EDGE-SET EQUALITY across a full
    alternation — a cheap count probe first, then an exact
    ``exceptAll(prev).isEmpty()`` check only when counts agree (both
    sides are distinct-ed, so equal cardinality + empty difference is
    set equality; no lossy checksum is involved). One extra job per
    alternation on an already-shrinking edge list; edge frames are
    localCheckpoint-ed per round.

    Returns (doc_id, component) with component = min reachable id;
    singletons map to themselves when ``documents`` is given.
    """
    # undirected neighbor list, both directions; distinct so duplicate or
    # bidirectional input pairs collapse before round 1's shuffle AND so
    # the round-1 termination compare is set-vs-set like every later one
    edges = (
        _both_directions(pairs, "u", "v")
        .distinct()
        # lazy: the count() below materializes it — one job, not two
        .localCheckpoint(eager=False)
    )

    def neighborhood_min(e: DataFrame) -> DataFrame:
        return e.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))

    prev_edges = edges
    prev_n = edges.count()
    converged = prev_n == 0  # genuinely-empty graph: nothing to contract
    for _ in range(max_rounds):
        if converged:
            break
        # large-star: (v, m) for v in N(u), v > u
        mins = neighborhood_min(edges)
        large = (
            edges.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # keep the (m reachable from u) links so no component splits
        kept = mins.filter(F.col("u") != F.col("m")).select(
            "u", F.col("m").alias("v")
        )
        e1 = large.unionByName(kept).distinct()
        e1 = e1.unionByName(e1.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # small-star: (v, m) for v in N(u) with v <= u, plus (u, m)
        mins1 = neighborhood_min(e1)
        small = (
            e1.join(mins1, "u")
            .filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins1.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        edges = small.unionByName(
            small.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).localCheckpoint(eager=False)  # the count() materializes it
        n = edges.count()
        if n == 0 or (n == prev_n and edges.exceptAll(prev_edges).isEmpty()):
            converged = True
            break
        prev_edges, prev_n = edges, n
    if not converged:
        # an exit without a verified edge fixpoint (including max_rounds=0
        # on a non-empty graph) would return a one-hop neighborhood-min
        # labelling — wrong on any multi-hop graph. Fail loudly, same
        # contract as duplicate_components.
        raise RuntimeError(
            f"star_components did not converge within {max_rounds} rounds"
        )
    labels = neighborhood_min(edges).select(
        F.col("u").alias("doc_id"), F.col("m").alias("component")
    )
    if documents is None:
        return labels
    return (
        documents.select(F.col(id_col).alias("doc_id"))
        .join(labels, "doc_id", "left")
        .select("doc_id", F.coalesce("component", F.col("doc_id")).alias("component"))
    )


def _topt_unit_vectors(tfidf_df: DataFrame, top_t: int) -> DataFrame:
    """(doc_id, term, w): each doc truncated to its T strongest tf-idf
    terms and L2-normalized — the shared head of both cosine-pair engines.
    Weights are rounded to 6dp BEFORE ranking and normalizing so the
    selected prefix and the result are identical across engines."""
    w = Window.partitionBy("doc_id").orderBy(F.col("w0").desc(), F.col("term").asc())
    top = (
        tfidf_df.select("doc_id", "term", F.round("tfidf", 6).alias("w0"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_t)
    )
    norms = top.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w0") * F.col("w0"))).alias("norm"))
    # a zero-norm doc (every selected term tf-idf-rounds to 0 — e.g. all
    # its terms appear in every document) has no defined cosine to
    # anything: drop it rather than divide by zero (ANSI) or emit NaN/inf
    # weights whose comparison semantics differ across engines
    return (
        top.join(norms, "doc_id")
        .where(F.col("norm") > 0)
        .select("doc_id", "term", (F.col("w0") / F.col("norm")).alias("w"))
    )


def tfidf_cosine_pairs(
    tfidf_df: DataFrame, top_t: int = 20, min_cosine: float = 0.9
) -> DataFrame:
    """Near-dup pairs by cosine similarity over each doc's top-T tf-idf
    terms, computed relationally over sparse triples (no dense vectors).

    Prefix truncation — keeping only each doc's T strongest terms before the
    inverted-index self-join — is the standard all-pairs-similarity scale
    trick (Bayardo et al., "Scaling Up All Pairs Similarity Search",
    WWW'07): the term join expands O(sum df_T^2) instead of O(sum df^2),
    and df_T is bounded on Zipfian text because hot (high-df) terms have
    low tf-idf and never make a prefix. Weights are rounded to 6dp BEFORE
    ranking and normalizing so the selected prefix and the result are
    identical across engines (cross-engine float discipline;
    summation-order noise is absorbed by the final round).

    DEGENERATE-CASE caveat (measured, round 7): on a flat, tiny-vocabulary
    corpus the Bayardo assumption collapses — at sf0.1 only 29 distinct
    terms make ANY top-20 prefix, every one with df ~3500, so the term
    self-join expands to 3.0e8 rows and this plan runs ~97 s where the
    block-matmul engine below runs ~4 s producing the identical frame.
    Pick ``tfidf_cosine_pairs_blocked`` when the effective prefix
    vocabulary is small/flat; keep this form for Zipfian text where
    df_T stays bounded and no dense task-local matrix is desirable.
    """
    # the normalized frame feeds BOTH sides of the self-join, and Catalyst
    # never unifies the tokenize/window subtrees — materialize once
    # (measured at sf0.1: 97 s -> 84 s; the single-materialization pattern)
    nw = _topt_unit_vectors(tfidf_df, top_t).localCheckpoint(eager=False)
    a, b = nw.alias("a"), nw.alias("b")
    return (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.round(F.sum(F.col("a.w") * F.col("b.w")), 6).alias("cosine"))
        .filter(F.col("cosine") >= min_cosine)
    )


def tfidf_cosine_pairs_blocked(
    tfidf_df: DataFrame,
    top_t: int = 20,
    min_cosine: float = 0.9,
    n_blocks: int = 8,
    row_chunk: int = 2048,
) -> DataFrame:
    """``tfidf_cosine_pairs`` computed via block-pair partitioned LOCAL
    matmuls — the exact all-pairs engine for corpora where the inverted
    index degenerates (flat document frequencies: every doc's top-T prefix
    hits the same hot terms and the term self-join goes quadratic in
    rows). Same (doc_a, doc_b, cosine) frame, same 6dp HALF_UP rounding,
    same >= threshold filter.

    Plan (the ``similarity.block_topk_pairs`` partitioning, sparse
    payload): each doc's normalized top-T vector rides as ONE row of
    (term, w) structs, replicated to the B(B+1)/2 block-pair tasks it
    participates in (shuffle = n x B vector rows — never pair rows);
    inside each task an Arrow-grouped pandas fn remaps the TASK-LOCAL
    vocabulary (np.unique over the two blocks' terms — per-task width is
    bounded by 2 * block_size * top_t regardless of global V), builds the
    local dense matrix once, and scores all of the task's pairs with a
    row-chunked NumPy matmul (``row_chunk`` bounds the score-buffer at
    row_chunk x block_size doubles). Each unordered pair is produced
    exactly once: diagonal tasks take id<id, cross tasks take one side
    from each block. Threshold filtering happens INSIDE the task, so only
    qualifying pairs ever leave it.

    Measured (sf0.1, local[32], 5,000 docs / 12.5M pairs, warm): triples
    plan 97 s (3.0e8 join rows over 29 flat-df terms), this plan ~4 s.
    Choose block count so block_size x top_t x 8 bytes x block_size fits
    executor memory; on Zipfian text with bounded df_T prefer the triples
    plan (no dense task-local matrices at all).
    """
    if n_blocks < 1 or row_chunk < 1:
        raise ValueError(f"need n_blocks >= 1 and row_chunk >= 1, got {n_blocks}, {row_chunk}")
    t = float(min_cosine)
    nw = _topt_unit_vectors(tfidf_df, top_t)
    docs = (
        nw.groupBy("doc_id")
        .agg(F.collect_list(F.struct("term", "w")).alias("tw"))
        .withColumn("blk", F.pmod(F.col("doc_id"), F.lit(n_blocks)).cast("int"))
    )
    rep = docs.select(
        "doc_id", "tw", "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("p"),
    ).select(
        "doc_id", "tw", "blk",
        F.least("blk", "p").alias("ti"),
        F.greatest("blk", "p").alias("tj"),
    )

    def score(pdf):
        import numpy as np
        import pandas as pd

        out_a: list[int] = []
        out_b: list[int] = []
        out_c: list[float] = []
        if len(pdf):
            ti, tj = int(pdf["ti"].iloc[0]), int(pdf["tj"].iloc[0])
            ids = pdf["doc_id"].to_numpy()
            terms: list[str] = []
            ws: list[float] = []
            starts = np.zeros(len(pdf) + 1, dtype=np.int64)
            for i, tw in enumerate(pdf["tw"]):
                for p in tw:
                    terms.append(p["term"])
                    ws.append(p["w"])
                starts[i + 1] = len(terms)
            vocab, tcodes = np.unique(np.asarray(terms, dtype=object), return_inverse=True)
            m = np.zeros((len(pdf), len(vocab)), dtype=np.float64)
            rows = np.repeat(np.arange(len(pdf)), np.diff(starts))
            m[rows, tcodes] = np.asarray(ws, dtype=np.float64)

            def emit(sc, left_ids, right_ids, lt_mask=None):
                # HALF_UP at 6dp (numpy's round is half-even; Spark/DuckDB
                # round half up) — weights are >= 0 so floor(+0.5) suffices
                r = np.floor(sc * 1e6 + 0.5) / 1e6
                hit = r >= t
                if lt_mask is not None:
                    hit &= lt_mask
                ii, jj = np.nonzero(hit)
                a, b = left_ids[ii], right_ids[jj]
                lo, hi = np.minimum(a, b), np.maximum(a, b)
                out_a.extend(lo.tolist())
                out_b.extend(hi.tolist())
                out_c.extend(r[ii, jj].tolist())

            if ti == tj:
                for r0 in range(0, len(pdf), row_chunk):
                    r1 = min(r0 + row_chunk, len(pdf))
                    sc = m[r0:r1] @ m.T
                    lt = ids[r0:r1, None] < ids[None, :]
                    emit(sc, ids[r0:r1], ids, lt)
            else:
                li = np.nonzero(pdf["blk"].to_numpy() == ti)[0]
                ri = np.nonzero(pdf["blk"].to_numpy() == tj)[0]
                mr_t = m[ri].T
                for r0 in range(0, len(li), row_chunk):
                    sel = li[r0 : r0 + row_chunk]
                    emit(m[sel] @ mr_t, ids[sel], ids[ri])
        return pd.DataFrame({
            "doc_a": pd.Series(out_a, dtype="int64"),
            "doc_b": pd.Series(out_b, dtype="int64"),
            "cosine": pd.Series(out_c, dtype="float64"),
        })

    # explicit one-partition-per-task repartition on the grouping keys:
    # applyInPandas' clustered-distribution requirement is satisfied by
    # the child's hash partitioning, so no second exchange — and an
    # explicit count is exempt from AQE's small-bytes coalescing, which
    # otherwise merges the tiny-shuffle/huge-compute block-pair tasks
    # onto a few cores (measured: 36 tasks coalesced to 7 without this)
    n_tasks = n_blocks * (n_blocks + 1) // 2
    return (
        rep.repartition(n_tasks, F.col("ti"), F.col("tj"))
        .groupBy("ti", "tj")
        .applyInPandas(score, "doc_a long, doc_b long, cosine double")
    )


def simhash_fingerprints(term_matrix: DataFrame, bits: int = 32) -> DataFrame:
    """Frequency-weighted SimHash over the (doc_id, term, cnt) matrix.

    bit_b(doc) = sign of sum over terms of cnt * (±1 per md5 bit b). One
    aggregate with ``bits`` signed-sum columns, then bit-packing — map-side
    partial sums keep the shuffle at ``bits`` longs per doc.

    ``bits`` is capped at 60: the per-term hash is 60-bit md5
    (``md5_int60``), so wider fingerprints would pack constant zero bits
    (and bit 63 cannot be represented in a positive signed long anyway).
    """
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60] (60-bit md5 term hash), got {bits}")
    h = md5_int60(F.col("term"))
    aggs = [
        F.sum(
            F.when((h.bitwiseAND(F.lit(1 << b))) > 0, F.col("cnt")).otherwise(-F.col("cnt"))
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    summed = term_matrix.groupBy("doc_id").agg(*aggs)
    fp: Column = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    # record the fingerprint width in column metadata so downstream banding
    # (simhash_pairs) can refuse a mismatched `bits` instead of silently
    # banding only the low chunk of a wider fingerprint
    return summed.select("doc_id", fp.alias("simhash", metadata={"bits": bits}))


def simhash_pairs(
    fingerprints: DataFrame,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints via banded hamming LSH.

    Pigeonhole guarantee: split the ``bits``-bit fingerprint into ``bands``
    contiguous chunks; two fingerprints within hamming distance
    ``bands - 1`` must agree exactly on at least one chunk, so for
    ``max_hamming <= bands - 1`` the band equi-join has recall 1 — never a
    cartesian product, same shuffle-bounded shape as ``lsh_candidate_pairs``.
    Candidates are then verified with an exact popcount on the XOR
    (``bit_count`` — JVM-side, no Python).

    Hot-bucket guard: oversized (band_idx, band_val) buckets degrade to a
    star on the bucket-min doc, bounding output like the MinHash banding
    guard. NOTE the trade-off is STRONGER here than in MinHash banding,
    because star edges are hamming-verified like every pair: a doc pair
    within ``max_hamming`` whose agreeing chunks all sit in over-cap
    buckets is LOST when both docs are > ``max_hamming`` from the
    bucket-min — i.e. with the cap active, the recall-1 guarantee holds
    only for pairs untouched by over-cap buckets. On the degenerate
    buckets that actually trigger the cap in practice (identical
    boilerplate, hamming 0 to the bucket-min) the star survives
    verification and connectivity is preserved; for exhaustive recall pass
    ``max_bucket_size=None``.

    ``bits`` must match the width the fingerprints were built with —
    otherwise only the low chunks are banded and the pigeonhole guarantee
    silently breaks. ``simhash_fingerprints`` records its width in the
    ``simhash`` column metadata; a mismatch raises here at plan time.
    """
    if "simhash" in fingerprints.columns:
        fp_bits = fingerprints.schema["simhash"].metadata.get("bits")
        if fp_bits is not None and int(fp_bits) != bits:
            raise ValueError(
                f"simhash_pairs(bits={bits}) over fingerprints built with "
                f"bits={fp_bits}: banding would cover only the low {bits} "
                f"bits and silently lose recall; pass bits={fp_bits}"
            )
    width = bits // bands
    mask = (1 << width) - 1
    chunks = F.array(*[
        F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
        for b in range(bands)
    ])
    banded = fingerprints.select(
        "doc_id", "simhash", F.posexplode(chunks).alias("band_idx", "band_val")
    )
    star = None
    if max_bucket_size is not None:
        w = Window.partitionBy("band_idx", "band_val")
        sized = banded.select(
            "doc_id", "simhash", "band_idx", "band_val",
            F.count(F.lit(1)).over(w).alias("__n"),
            F.min("doc_id").over(w).alias("__min_doc"),
            F.min_by("simhash", "doc_id").over(w).alias("__min_hash"),
        ).localCheckpoint(eager=False)  # three consumers, one materialization
        banded = sized.filter(F.col("__n") <= max_bucket_size).select(
            "doc_id", "simhash", "band_idx", "band_val"
        )
        star = (
            sized.filter(
                (F.col("__n") > max_bucket_size) & (F.col("doc_id") != F.col("__min_doc"))
            )
            .select(
                F.col("__min_doc").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
                F.bit_count(
                    F.col("__min_hash").bitwiseXOR(F.col("simhash"))
                ).alias("hamming"),
            )
        )
    else:
        banded = banded.localCheckpoint(eager=False)
    left, right = banded.alias("l"), banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.filter(F.col("hamming") <= max_hamming).distinct()


def minhash_oracle_sql(
    tokens_cte: str,
    n: int = 3,
    num_hashes: int = 16,
    seed: int = 42,
    max_bucket_size: int | None = 256,
) -> dict[str, str]:
    """DuckDB mirrors of the shingle/minhash/LSH/jaccard pipeline, generated
    from the SAME hash constants as the Spark operators.

    ``max_bucket_size`` mirrors ``lsh_candidate_pairs``'s hot-bucket guard
    (same default) so the star-degrade path is itself value-gated: buckets
    above the cap emit (min_doc, member) star edges instead of the clique,
    exactly like the Spark window+filter plan."""
    params = minhash_params(num_hashes, seed)
    shingle_cte = f"""
WITH docs_t AS (
  SELECT doc_id,
         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 \\t\\n\\r]', '', 'g'), '[ \\t\\n\\r]+'),
                     t -> t <> '') AS toks
  FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id,
         array_to_string(toks[i:i+{n - 1}], ' ') AS shingle
  FROM docs_t, UNNEST(generate_series(1, len(toks) - {n - 1})) AS t(i)
  WHERE len(toks) >= {n}
)"""
    hash_expr = "CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)"
    mins = ", ".join(
        f"min((({(a & ((1 << 30) - 1)) | 1} * (h % {1 << 30}) + {b & ((1 << 30) - 1)}) % {MERSENNE_P})) AS h{j}"
        for j, (a, b) in enumerate(params)
    )
    sig_cte = f"""{shingle_cte},
hashed AS (SELECT doc_id, {hash_expr} AS h FROM shingles),
sigs AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id)"""
    n_bands = num_hashes // 2
    band_keys = ", ".join(f"concat(h{2 * b}, ':', h{2 * b + 1})" for b in range(n_bands))
    banded_cte = f"""banded AS (
  SELECT doc_id, i - 1 AS band_idx, keys[i] AS band_key
  FROM (SELECT doc_id, [{band_keys}] AS keys FROM sigs), UNNEST(generate_series(1, {n_bands})) AS t(i)
)"""
    if max_bucket_size is None:
        lsh_sql = f"""{sig_cte},
{banded_cte}
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM banded l JOIN banded r
  ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id"""
    else:
        lsh_sql = f"""{sig_cte},
{banded_cte},
sized AS (
  SELECT doc_id, band_idx, band_key,
         count(*) OVER (PARTITION BY band_idx, band_key) AS n,
         min(doc_id) OVER (PARTITION BY band_idx, band_key) AS min_doc
  FROM banded
)
SELECT DISTINCT doc_a, doc_b FROM (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM sized l JOIN sized r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
  WHERE l.n <= {max_bucket_size}
  UNION ALL
  SELECT min_doc AS doc_a, doc_id AS doc_b
  FROM sized WHERE n > {max_bucket_size} AND doc_id <> min_doc
)"""
    return {
        "doc_shingles": f"{shingle_cte} SELECT doc_id, shingle FROM shingles",
        "minhash_signatures": f"{sig_cte} SELECT * FROM sigs",
        "lsh_candidate_pairs": lsh_sql,
        "ngram_jaccard_pairs": f"""{shingle_cte},
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(common / (sa.sz + sb.sz - common), 6) AS jaccard
FROM common JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(common / (sa.sz + sb.sz - common), 6) >= 0.2""",
    }
