"""Seeded synthetic ``documents`` table for the benchmark.

The corpus itself is fixed: ``make_documents(n_docs)`` always returns the
same rows, shaped like the engine's test fixtures (a 30-word vocabulary,
10-100 words per document, five languages, twenty sources, and one
document in twenty a near-copy of an earlier one with a ``dup`` token
appended). Because the content is fixed, the expected outputs in
``expected.json`` hold for every run.

The benchmark seed changes only the physical layout that ``write_documents``
produces: the row order and the parquet row-group size. Every registered
slot defines its result by ``doc_id``, not by scan order, so each seed must
give the same outputs; a seed that does not is a correctness failure.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20
DUP_EVERY = 20
CORPUS_SEED = 42

SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])


def make_documents(n_docs: int) -> list[dict]:
    """The fixed corpus of ``n_docs`` rows, ordered by ``doc_id``."""
    rng = random.Random(CORPUS_SEED)
    rows: list[dict] = []
    for doc_id in range(n_docs):
        if doc_id >= DUP_EVERY and doc_id % DUP_EVERY == DUP_EVERY - 1:
            text = rows[rng.randrange(doc_id)]["text"] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        rows.append({
            "doc_id": doc_id,
            "text": text,
            "lang": rng.choice(LANGS),
            "source": f"src{doc_id % N_SOURCES}",
            "n_chars": len(text),
        })
    return rows


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """Write the corpus to ``path`` as parquet, in a row order and with a
    row-group size drawn from ``seed``."""
    rows = make_documents(n_docs)
    rng = random.Random(seed)
    rng.shuffle(rows)
    row_group = rng.randint(max(1, n_docs // 8), n_docs)
    table = pa.Table.from_pylist(rows, schema=SCHEMA)
    pq.write_table(table, path, row_group_size=row_group)
