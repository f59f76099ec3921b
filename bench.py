"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries
from document_clustering_with_hadoop_mapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# headline set: one per capability area (text matrix, tf-idf, per-group topk,
# relational join/agg, window, plus whatever later milestones register).
HEADLINE = [
    "term_doc_matrix",
    "tfidf_standard",
    "category_top_terms",
    "top_terms_global",
    "pricing_summary",
    "revenue_by_nation",
    "top_revenue_orders",
    "customer_recent_orders",
]


REF_ZIP = "/root/reference/sources/1.1/input/bbc-fulltext.zip"

# the non-headline fused slots (strictly heavier than any headline query);
# timed warm AND cold, but never in the headline totals, which stay
# comparable round-over-round
FUSED = ("lsh_candidate_pairs", "tfidf_cosine_pairs", "embedding_top_pairs")


def min_of_runs(fn, n: int = 2) -> float:
    """Min-of-n steady-state timing — the ONE timing discipline every bench
    here uses (single warm samples on a shared-host VM carry scheduler
    noise that can swamp a 10% code-level change)."""
    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return round(min(runs), 3)


def parse_sf(sf_dir: str):
    """The ONE sf-tag parse ("/root/testdata/sf0.1" -> 0.1) shared by
    bench.py and every tool that emits an {"sf": ...} JSON field — a
    naming-convention change must not desync the four emitters."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf



def bench_reference_workload(spark) -> float | None:
    """Time the reference's OWN workload end-to-end: the BBC corpus
    (2,225 docs) through task 1.1's full pipeline (scan -> tokenize ->
    clean -> stopwords -> vocab join -> count matrix, materialized).
    The reference runs this as a Hadoop MR job chain; this single number
    is the direct same-data-same-work throughput comparison."""
    import tempfile
    import zipfile

    from document_clustering_with_hadoop_mapreduce_spark.pipelines import (
        task_1_1_term_doc_matrix,
    )

    if not os.path.exists(REF_ZIP):
        return None
    corpus = tempfile.mkdtemp(prefix="bbc_bench_")
    with zipfile.ZipFile(REF_ZIP) as z:
        z.extractall(corpus)
    ref_in = os.path.dirname(REF_ZIP)

    def run():
        m = task_1_1_term_doc_matrix(
            spark, corpus, f"{ref_in}/bbc.terms", f"{ref_in}/bbc.docs",
            f"{ref_in}/stopwords.txt",
        )
        nnz = m.count()
        if nnz != 142278:  # golden nnz — the timing is for VERIFIED work
            raise RuntimeError(f"bbc task 1.1 produced {nnz} nnz, expected 142278")

    return min_of_runs(run)


def bench_lsh_skew_guard(spark, n_docs: int = 20000) -> float:
    """Adversarial hot-bucket workload: n identical boilerplate docs land in
    ONE (band_idx, band_key) bucket per band. Unguarded banding would emit
    ~n^2/2 pairs (1.6e8 at the default 20k — quadratic OUTPUT, the 100 TB
    scale-killer); the guard degrades each hot bucket to a star, so output
    is linear and this measures the cap's actual cost."""
    from pyspark.sql import functions as F

    from document_clustering_with_hadoop_mapreduce_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_hashes,
    )

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.lit("common boilerplate header repeated on every page of the site").alias("text"),
    )
    def run():
        pairs = lsh_candidate_pairs(minhash_signatures(shingle_hashes(docs, n=3)))
        got = pairs.count()
        if got != n_docs - 1:  # star on the bucket-min doc, per band
            raise RuntimeError(
                f"LSH hot-bucket guard produced {got} pairs, expected {n_docs - 1} "
                "(star on the bucket-min doc); timing aborted because the work "
                "being measured is wrong"
            )

    return min_of_runs(run)


def bench_incremental_dedup(spark) -> dict[str, float]:
    """Measure the incremental-ingestion win in its real regime: a 500-doc
    batch against a 100x-larger history (the sf0.1 corpus replicated 10x
    with distinct ids; signatures pre-materialized for BOTH paths, as a
    real store would be) vs re-running LSH banding + the pair self-join
    over everything. The win is recorded, not claimed (~2x here and
    growing with history size — the incremental probe's pair join is
    bounded by the buckets the batch touches; at fixture parity, 10%
    batch vs 90% history, fixed per-job overhead hides it)."""
    from pyspark.sql import functions as F

    from document_clustering_with_hadoop_mapreduce_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_incremental_pairs,
        minhash_signatures,
        shingle_hashes,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    hist = docs.crossJoin(spark.range(10).select(F.col("id").alias("rep"))).select(
        (F.col("doc_id") * 10 + F.col("rep")).alias("doc_id"), "text"
    )
    batch = docs.limit(500).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    sigs = lambda d: minhash_signatures(shingle_hashes(d, n=3))
    old = sigs(hist).localCheckpoint()
    new = sigs(batch).localCheckpoint()
    both = old.unionByName(new)
    return {
        "incremental_dedup_sec": min_of_runs(lambda: lsh_incremental_pairs(old, new).count()),
        "full_dedup_sec": min_of_runs(lambda: lsh_candidate_pairs(both).count()),
    }


def bench_curation_extras(spark) -> dict[str, float]:
    """Round-6 additions off the headline path: exact heavy-hitter mining
    (two corpus scans, bounded shuffles) and the deterministic training
    shuffle (one hash exchange + per-shard sort), both at the bench SF."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.heavyhitters import (
        frequent_ngrams,
    )
    from document_clustering_with_hadoop_mapreduce_spark.sources.export import (
        global_shuffle,
    )

    from pyspark.sql import functions as F

    from document_clustering_with_hadoop_mapreduce_spark.operators.bm25 import (
        bm25_batch_topk,
    )
    from document_clustering_with_hadoop_mapreduce_spark.operators.term_matrix import (
        term_doc_counts,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    matrix = term_doc_counts(docs).localCheckpoint()
    top_terms = [
        r["term"]
        for r in matrix.groupBy("term").agg(F.sum("cnt").alias("n"))
        .orderBy(F.desc("n"), F.asc("term")).limit(12).collect()
    ]
    queries = spark.createDataFrame(
        [(f"q{i // 3}", t) for i, t in enumerate(top_terms)],
        "query_id string, term string",
    )
    return {
        "frequent_ngrams_sec": min_of_runs(
            lambda: frequent_ngrams(docs, n=3, min_count=5).count()
        ),
        "training_shuffle_sec": min_of_runs(
            lambda: global_shuffle(docs, n_shards=64).count()
        ),
        # 4 queries x 3 most-common terms each — the worst-case postings
        # volume for the batch retrieval plan at this SF
        "bm25_batch_sec": min_of_runs(
            lambda: bm25_batch_topk(matrix, queries, k=10).count()
        ),
        **bench_overlap_and_lm(spark, docs),
    }


def bench_overlap_and_lm(spark, docs) -> dict[str, float]:
    """Round-6 late additions: winnowed fingerprint selection (map-side
    k-gram hashing + window-min, the partial-overlap index) and the
    interpolated bigram LM score (stream + model joins + per-doc agg),
    both end-to-end at the bench SF."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.textstats import (
        bigram_cross_entropy,
    )
    from document_clustering_with_hadoop_mapreduce_spark.operators.winnow import (
        winnow_fingerprints,
    )

    # the sf0.1 documents table is ONE parquet split, so a zero-exchange
    # map-side op would otherwise run on one core; at the target scale the
    # input arrives as thousands of splits, which this repartition stands
    # in for (measured: 6.4 s on 1 split vs 0.8 s on 32)
    par_docs = docs.repartition(int(CPUS)).localCheckpoint()
    return {
        "winnow_fingerprints_sec": min_of_runs(
            lambda: winnow_fingerprints(par_docs, k=16, w=8).count()
        ),
        "bigram_lm_sec": min_of_runs(lambda: bigram_cross_entropy(par_docs).count()),
    }


def cold_main() -> None:
    """``python bench.py --cold``: time the FIRST run of each headline query
    in a fresh JVM and print one JSON line. Cold cost (plan + codegen
    compile + first parquet footers) can only be sampled once per process —
    Janino's codegen cache is JVM-static — so min-of-N cold needs N
    subprocesses; main() spawns two and takes the per-query min (round-7
    single-sample cold swung +34% round-over-round on host noise alone)."""
    spark = get_spark("bench-cold", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    names = [n for n in HEADLINE if n in registry]
    for n, q in sorted(registry.items()):
        if "bench" in q.tags and n not in names:
            names.append(n)
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()  # JVM+IO warmup
    cold = {}
    for name in names:
        cold[name] = min_of_runs(lambda: registry[name].spark(spark, SF_DIR).count(), n=1)
    # round 9: cold floors for the fused trio too (prefixed so main() can
    # keep them OUT of cold_total, which stays comparable round-over-round)
    for name in FUSED:
        cold[f"fused_{name}"] = min_of_runs(
            lambda: registry[name].spark(spark, SF_DIR).count(), n=1
        )
    print(json.dumps(cold))
    spark.stop()


def bench_cold_min2() -> dict[str, float]:
    """Two fresh-JVM cold passes, per-query min. ~45 s each on this host."""
    samples = []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--cold"],
            capture_output=True, text=True, timeout=900,
        )
        if out.returncode != 0 or not out.stdout.strip():
            raise RuntimeError(
                f"cold subprocess failed rc={out.returncode}: {out.stderr[-2000:]}"
            )
        samples.append(json.loads(out.stdout.strip().splitlines()[-1]))
    return {
        n: round(min(s[n] for s in samples), 3) for n in samples[0]
    }


def bench_quadratic_family(spark) -> dict:
    """Bounded-growth checkpoint for the quadratic-by-contract family —
    the three exact all-pairs engines deliberately excluded from
    ``sf1_ratio`` (their OUTPUT work is quadratic in input size, so a
    linear-growth gate would be wrong). What the 100 TB design promises
    instead: per-task memory stays bounded (block/cluster size constant,
    the CALLER scales block/cluster COUNT with the corpus) and the extra
    work lands on proportionally more tasks, never on one. This measures
    exactly that contract:

    - block-matmul cosine: sf0.01 docs (500, B=3, 6 block-pair tasks) vs
      sf0.1 docs (5,000, B=30, 465 tasks) — 10x organic data, ~100x pair
      work over ~77x more tasks, block width ~constant;
    - SemDeDup: sf0.1 embeddings (2,000, k=8) vs 10x dim-rolled copies
      (20,000, k=80) — k scaled with N per the paper, so cluster occupancy
      and within-cluster pair volume grow ~10x over ~10x more clusters;
    - exact top-k pairs: sf0.01 embeddings (500, B=2) vs sf0.1 (2,000,
      B=8) — 4x organic data, ~16x pair work over 12x more tasks.

    A ratio near the designed work growth divided by the parallelism
    headroom is healthy; a ratio near the RAW work growth with idle cores
    means single-task serialization crept back in."""
    from pyspark.sql import functions as F

    from document_clustering_with_hadoop_mapreduce_spark.operators.dedup import (
        tfidf_cosine_pairs_blocked,
    )
    from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
        block_topk_pairs,
        semdedup,
    )
    from document_clustering_with_hadoop_mapreduce_spark.operators.term_matrix import (
        term_doc_counts,
    )
    from document_clustering_with_hadoop_mapreduce_spark.operators.tfidf import tfidf

    # the 1x side of the growth ratios is the next SF down; if the bench is
    # pointed anywhere else the substitution is a no-op and every ratio
    # would silently compare a dataset against itself (~1.0, meaningless) —
    # skip loudly instead (round 9, advisor finding)
    sf001 = SF_DIR.replace("sf0.1", "sf0.01")
    if sf001 == SF_DIR or not os.path.isdir(sf001):
        print(
            f"bench_quadratic_family: no 1x twin for {SF_DIR!r} "
            f"(expected {sf001!r}); skipping the bounded-growth checkpoint",
            file=sys.stderr,
        )
        return {"quadratic_family": None}
    out: dict[str, dict] = {}

    def ratio_entry(t1: float, t10: float, designed: str) -> dict:
        return {"t_1x": t1, "t_big": t10, "ratio": round(t10 / t1, 2), "designed": designed}

    # --- block-matmul cosine: B scales with N so block width is constant
    m1 = tfidf(term_doc_counts(spark.read.parquet(f"{sf001}/documents.parquet"))).localCheckpoint()
    m10 = tfidf(term_doc_counts(spark.read.parquet(f"{SF_DIR}/documents.parquet"))).localCheckpoint()
    t1 = min_of_runs(lambda: tfidf_cosine_pairs_blocked(m1, n_blocks=3).count())
    t10 = min_of_runs(lambda: tfidf_cosine_pairs_blocked(m10, n_blocks=30).count())
    out["block_cosine"] = ratio_entry(t1, t10, "100x pairs / 77x tasks (6->465)")

    # --- SemDeDup: 10x vectors, 10x clusters -> ~10x within-cluster pairs.
    # Copies are dim-ROLLED so they are distinct, near-isotropic vectors
    # (identical copies would all land in one cluster and square the work).
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    reps = spark.range(10).select(F.col("id").alias("rep"))
    emb10 = (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") * 10 + F.col("rep")).alias("vec_id"),
            F.expr(
                f"transform(sequence(0, {dim - 1}), "
                f"i -> element_at(embedding, cast((i + rep * 7) % {dim} as int) + 1))"
            ).alias("embedding"),
        )
        .localCheckpoint()
    )
    # centroids per the SemDeDup contract: a k-means-style init (k SAMPLED
    # vectors — the M1 random-sample init), k scaled with N. Random
    # GAUSSIAN centroids instead give a 64%-hot cluster at this dim (the
    # first run of this checkpoint did exactly that and caught two real
    # costs: the per-pair HOF cosine and the O(k*d)/row HOF assignment —
    # both now NumPy batch paths in operators/similarity.py; the
    # hot-cluster regime stays covered by the k=8 driver slot and
    # tests/test_semdedup.py).
    def sample_cents(df, k):
        return [
            [float(v) for v in r["embedding"]]
            for r in df.orderBy("vec_id").limit(k).collect()
        ]
    t1 = min_of_runs(
        lambda: semdedup(emb, sample_cents(emb, 20), threshold=0.35)[1].count()
    )
    t10 = min_of_runs(
        lambda: semdedup(emb10, sample_cents(emb10, 200), threshold=0.35)[1].count()
    )
    out["semdedup_pairs"] = ratio_entry(t1, t10, "~10x pairs / 10x clusters (k 20->200)")

    # --- exact global top-k pairs: organic 4x vectors, B scaled 2->8
    emb1 = spark.read.parquet(f"{sf001}/embeddings.parquet").localCheckpoint()
    t1 = min_of_runs(lambda: block_topk_pairs(emb1, k=20, n_blocks=2).count())
    t10 = min_of_runs(lambda: block_topk_pairs(emb, k=20, n_blocks=8).count())
    out["topk_pairs"] = ratio_entry(t1, t10, "16x pairs / 12x tasks (3->36)")
    return {"quadratic_family": out}


SF1_QUERIES = [
    # one per plan family; inputs chosen so 10x data means 10x INDEPENDENT
    # work (no cross-copy interactions that would change output complexity)
    "term_doc_matrix",      # text scan -> tokenize -> count agg
    "tfidf_standard",       # + per-doc/per-term windows, driver-known N
    "minhash_signatures",   # shingle explode -> 16-way min agg
    "dedup_components",     # LSH banding + iterative CC flood
    "events_hourly",        # timestamp-bucket aggregate
    "pricing_summary",      # TPC-H Q1-style wide aggregate
    "knn_bruteforce",       # broadcast probes x corpus scan (similarity)
    "kmeans_assign_seeded", # one literal-centroid assignment pass (cluster)
]


# Both token character classes (tokens() keeps [a-z0-9]) are permuted —
# letters among letters, digits among digits, so token boundaries, class
# membership and lengths are preserved. Leaving digits out would make
# every digit a GLOBAL fixed point: a digit-heavy corpus generation would
# replicate numeric shingles byte-identically across copies and the
# dedup-scales-linearly construction would silently break.
_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"
_N_LETTERS = 26


def _deranged(chars: list, rng) -> list:
    """Seeded random permutation with NO fixed points (derangement), so
    every substituted character differs from copy 0's — a copy can never
    share a shingle with the base corpus, whatever the text."""
    while True:
        p = chars[:]
        rng.shuffle(p)
        if all(a != b for a, b in zip(p, chars)):
            return p


def _copy_permutations(reps_n: int) -> list[str]:
    """Per-copy bijective alphabet permutations, rep 0 = identity; every
    rep > 0 is a DERANGEMENT of both classes (zero fixed points vs the
    base — see _deranged) and deduplicated so every copy's substitution
    is distinct (two copies sharing a permutation would be byte-identical
    corpora — cross-copy duplicates that break the dedup-scales-linearly
    construction). Base-vs-copy disjointness is by construction; copy-vs-
    copy collisions need every char of a shingle to agree between two
    independent derangements — vanishing, and measured zero by
    tests/test_replication.py's cross-copy shingle check."""
    import random as _rnd

    letters, digits = list(_ALPHABET[:_N_LETTERS]), list(_ALPHABET[_N_LETTERS:])
    perms = [_ALPHABET]
    # dedupe the letter and digit blocks INDEPENDENTLY: a whole-string
    # check would let two copies share an identical digit derangement
    # (only ~1.3M digit derangements exist — likely at sweep-scale rep
    # counts), and digit-only shingles would then collide between those
    # copies, the exact generator-artifact class this scheme closes
    seen_l = {_ALPHABET[:_N_LETTERS]}
    seen_d = {_ALPHABET[_N_LETTERS:]}
    for r in range(1, reps_n):
        rng = _rnd.Random(31_000 + r)
        while True:
            lp = "".join(_deranged(letters, rng))
            if lp not in seen_l:
                seen_l.add(lp)
                break
        while True:
            dp = "".join(_deranged(digits, rng))
            if dp not in seen_d:
                seen_d.add(dp)
                break
        perms.append(lp + dp)
    return perms


def permuted_copy_text(text_col, rep_col, reps_n: int):
    """Column expr: copy ``rep``'s text under its alphabet permutation.

    Round 10 replacement for the per-copy ``rN`` token PREFIX: the prefix
    made copy vocabularies disjoint but inserted identical glue chars at
    every token boundary, collapsing within-copy distinct char k-grams
    ~5x — char-gram familes (winnow fingerprints) measured a genuine ~85x
    overlap blow-up at 10x data that was a GENERATOR artifact, not an
    engine property (VERDICT r9 #3). A bijective per-copy character
    substitution keeps token boundaries, lengths, counts and within-copy
    k-gram DISTINCTNESS exactly equal to the base corpus (a bijection on
    chars is a bijection on k-grams) while copies stay disjoint: a whole
    shingle colliding across two different random permutations needs
    every character of ~5 consecutive tokens to agree — vanishing.
    Applied as a CASE chain of ``translate`` (from/to must be literals);
    build-time-only cost, one branch taken per row.

    Copies are LOWERCASED before the substitution: every downstream
    shingle/token pipeline lowercases first (functions.text.clean_text),
    so an uppercase char left raw would lowercase onto the SAME char as
    the base corpus — a fixed point reappearing through the back door
    (the digit story again). The derangement guarantee is therefore on
    the normalized alphabet the engines actually shingle; current
    fixtures are all-lowercase, so copy text is byte-unchanged by the
    lower()."""
    from pyspark.sql import functions as F

    perms = _copy_permutations(reps_n)
    expr = text_col
    for r in range(1, reps_n):
        expr = F.when(
            rep_col == r, F.translate(F.lower(text_col), _ALPHABET, perms[r])
        ).otherwise(expr)
    return expr


def replicate_tables(
    spark, out: str, reps_n: int = 10, splits: int | None = None,
    emb_splits: int | None = None,
) -> float:
    """Independent-copies replication of the fact tables into ``out``:
    document copies get a per-copy bijective DERANGED alphabet permutation
    over [a-z0-9] (base-vs-copy shingle disjointness by construction,
    copy-vs-copy measured zero — no cross-copy shingle/LSH matches, so
    dedup output scales linearly — AND unperturbed within-copy
    char-k-gram diversity; see ``permuted_copy_text``),
    event/lineitem/embedding copies get offset keys, dimension tables
    ship unscaled. ONE recipe, shared by ``bench_scale_growth``
    (splits=None — the bench layout stays what rounds compare) and
    ``tools/scale_sweep.py`` (re-split so map-side ops parallelize at
    larger N). Returns build seconds."""
    import shutil

    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    reps = spark.range(reps_n).select(F.col("id").alias("rep"))

    def _w(df, name):
        if splits and name != "embeddings":
            df = df.repartition(splits)
        elif emb_splits and name == "embeddings":
            df = df.repartition(emb_splits)
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    _w(
        docs.crossJoin(reps).select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            permuted_copy_text(F.col("text"), F.col("rep"), reps_n).alias("text"),
            "lang", "source", "n_chars",
        ),
        "documents",
    )
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    _w(
        ev.crossJoin(reps).select(
            (F.col("event_id") + F.col("rep") * 100_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * 10_000_000).alias("user_id"),
            "event_type", "value", "props",
        ),
        "events",
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    _w(
        li.crossJoin(reps).select(
            (F.col("l_orderkey") + F.col("rep") * 100_000_000).alias("l_orderkey"),
            *[c for c in li.columns if c != "l_orderkey"],
        ),
        "lineitem",
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _w(
        emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
            *[c for c in emb.columns if c != "vec_id"],
        ),
        "embeddings",
    )
    for t in ("region", "nation", "customer", "supplier", "part", "orders"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", f"{out}/{t}.parquet")
    return round(time.perf_counter() - t0, 3)


def bench_scale_growth(spark, registry, warm: dict[str, float]) -> dict:
    """The scaling checkpoint: replicate the bench tables 10x into a temp
    dir and re-time one headline query per plan family, recording the
    t(10x)/t(1x) ratio. The plan-shape tests pin the SHAPES; this pins the
    measured exponent — a hidden super-linear path (accidental re-scan,
    quadratic candidate growth, driver-bound stage) shows up as a ratio
    well above ~10 even when every shape assertion passes.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="sparkgraft_sf1_")
    build_sec = replicate_tables(spark, out, reps_n=10)
    reps = spark.range(10).select(F.col("id").alias("rep"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    sf1: dict[str, float] = {}
    base: dict[str, float] = dict(warm)
    for name in SF1_QUERIES:
        q = registry[name]
        if not base.get(name):  # non-headline member: time its 1x baseline here
            base[name] = min_of_runs(lambda: q.spark(spark, SF_DIR).count())
        sf1[name] = min_of_runs(lambda: q.spark(spark, out).count())
    ratios = {
        n: round(sf1[n] / base[n], 2) for n in SF1_QUERIES if base.get(n)
    }
    skew = bench_scale_skew(spark, registry, out, docs, ev, emb, reps)
    shutil.rmtree(out, ignore_errors=True)
    return {
        "sf1_build_sec": build_sec,
        "sf1_queries": sf1,
        "sf1_ratio": ratios,
        **skew,
    }


def bench_scale_skew(spark, registry, uniform_dir, docs, ev, emb, reps) -> dict:
    """Zipf-hot twin of the 10x checkpoint: ``sf1_ratio`` replicates
    UNIFORMLY, which never exercises the skew guards under measurement.
    Build a 10x variant with planted hot keys and compare against the
    uniform 10x timing of the same query (ratio ~1-2x = the guard holds;
    ratio near the hot key's share of the data = a serialized task):

    - documents: copies 8-9 (20% of the corpus, 10,000 docs at sf0.1) all
      carry ONE boilerplate text -> every band of every copy lands in one
      LSH bucket; dedup_components must ride the hot-bucket star guard,
      not enumerate ~5e7 bucket pairs;
    - events: 50% of all rows re-keyed to ONE user -> events_sessionized's
      per-user ordering window gets a single partition with ~75k rows;
    - embeddings (round 9): copies 8-9 (20% of vectors, 4,000 at sf0.1)
      all carry ONE planted vector -> one LSH hyperplane bucket holds
      them all; ann_lsh_topk must ride the sub-block spread (a plain
      bucket self-join would serialize ~8e6 pair scores on one task).
      Since round 11 the same fixture also times ann_ivf_topk (all 3
      slices): the planted mass lands in ONE coarse cell, exercising
      the direct path's partition-independent cell scoring, the
      bucketed index's hot bucket, and the int8 reconstruct under
      constant-vector compression (measured 0.48x — skew makes it
      CHEAPER: fewer probe-cell intersections and compressed scans).
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    out = tempfile.mkdtemp(prefix="sparkgraft_skew_")
    (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            F.when(
                F.col("rep") >= 8,
                F.lit("common boilerplate header repeated on every page of the site"),
            )
            .otherwise(permuted_copy_text(F.col("text"), F.col("rep"), 10))
            .alias("text"),
            "lang", "source", "n_chars",
        )
        .write.mode("overwrite").parquet(f"{out}/documents.parquet")
    )
    (
        ev.crossJoin(reps)
        .select(
            (F.col("event_id") + F.col("rep") * 100_000_000).alias("event_id"),
            "ts",
            F.when(F.col("event_id") % 2 == 0, F.lit(1))
            .otherwise(F.col("user_id") + F.col("rep") * 10_000_000)
            .alias("user_id"),
            "event_type", "value", "props",
        )
        .write.mode("overwrite").parquet(f"{out}/events.parquet")
    )
    dim = len(emb.select("embedding").first()[0])
    (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
            F.when(
                F.col("rep") >= 8,
                F.array(*[F.lit(1.0)] * dim).cast("array<float>"),
            )
            .otherwise(F.col("embedding"))
            .alias("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        )
        .write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    )
    build_sec = round(time.perf_counter() - t0, 3)
    skew_q = {
        "dedup_components": "documents",
        "events_sessionized": "events",
        "ann_lsh_topk": "embeddings",
        "ann_ivf_topk": "embeddings",
    }
    uniform: dict[str, float] = {}
    skewed: dict[str, float] = {}
    for name in skew_q:
        q = registry[name]
        uniform[name] = min_of_runs(lambda: q.spark(spark, uniform_dir).count())
        skewed[name] = min_of_runs(lambda: q.spark(spark, out).count())
    shutil.rmtree(out, ignore_errors=True)
    return {
        "skew_build_sec": build_sec,
        "skew_uniform_10x": uniform,
        "skew_hot_10x": skewed,
        "skew_ratio": {
            n: round(skewed[n] / uniform[n], 2) for n in skew_q
        },
    }


def main() -> None:
    spark = get_spark("bench", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    names = [n for n in HEADLINE if n in registry]
    # extend with any registered queries tagged as bench-worthy extensions
    for n, q in sorted(registry.items()):
        if "bench" in q.tags and n not in names:
            names.append(n)

    timings: dict[str, float] = {}
    # cold timings come from two FRESH-JVM subprocesses (see cold_main) —
    # in-process "cold" is unrepeatable (JVM-static codegen cache), and a
    # single sample swung +34% on host noise in round 7
    cold = bench_cold_min2()
    # warm the JVM + parquet footers once with a trivial action
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    for name in names:
        q = registry[name]
        # one compile run, then two steady-state runs, reporting the min —
        # single warm samples on a shared-host VM carry scheduler noise
        # that can swamp a 10% code-level change
        q.spark(spark, SF_DIR).count()
        timings[name] = min_of_runs(lambda: q.spark(spark, SF_DIR).count())
    total = round(sum(timings.values()), 3)
    # non-headline fused slots, timed separately (NOT in the total, which
    # stays comparable round-over-round): these were invisible to the
    # bench until round 7, which is exactly how a quadratic cosine plan
    # survived six rounds — what isn't measured regresses silently
    fused = {
        f"fused_{name}_sec": min_of_runs(
            lambda q=registry[name]: q.spark(spark, SF_DIR).count()
        )
        for name in FUSED
    }
    # round-9 verdict item 3: separate the judge's doc_kmeans_assign floor
    # from host factor — min-of-4 for the slot and a neighbor in the SAME
    # invocation, so their ratio is host-independent
    min4_profile = {
        name: min_of_runs(
            lambda q=registry[name]: q.spark(spark, SF_DIR).count(), n=4
        )
        for name in ("doc_kmeans_assign", "category_top_terms")
    }
    ref_sec = bench_reference_workload(spark)
    skew_sec = bench_lsh_skew_guard(spark)
    inc = bench_incremental_dedup(spark)
    # the curation capstone, timed but NOT in the headline total (it
    # composes many headline stages; keeping the total comparable
    # round-over-round matters more than double-counting them)
    cur_sec = min_of_runs(lambda: registry["corpus_curation"].spark(spark, SF_DIR).count())
    sf_val = parse_sf(SF_DIR)
    cold_fused = {k: v for k, v in cold.items() if k.startswith("fused_")}
    cold_core = {k: v for k, v in cold.items() if not k.startswith("fused_")}
    # TWO JSON lines: all diagnostics first, then the compact driver
    # contract line LAST. The driver records only the final ~2000 bytes of
    # stdout — the single fat line outgrew that window at round 8 and the
    # recorded BENCH became an unparseable fragment; the contract line
    # (metric/value/unit/queries/sf + the scale headlines) stays well
    # under it, and the full diagnostics remain one line above for humans
    # and COVERAGE.md.
    diag = {
        "cold_total": round(sum(cold_core.values()), 3),
        "cold_queries": cold_core,
        "cold_fused": cold_fused,
        "min4_profile": min4_profile,
        "bbc_task11_sec": ref_sec,
        "lsh_skew_guard_sec": skew_sec,
        "corpus_curation_sec": cur_sec,
        **inc,
        **fused,
        **bench_curation_extras(spark),
        **bench_scale_growth(spark, registry, timings),
        **bench_quadratic_family(spark),
        "sf": sf_val,
    }
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_total": diag["cold_total"],
        "corpus_curation_sec": cur_sec,
        "sf1_ratio": diag.get("sf1_ratio"),
        "skew_ratio": diag.get("skew_ratio"),
        "sf": sf_val,
    }))
    spark.stop()


if __name__ == "__main__":
    if "--cold" in sys.argv:
        cold_main()
    else:
        main()
