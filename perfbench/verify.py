"""Output check for benchmark passes.

A slot's output is reduced to a digest with the oracle gate's
normalisation (``tests/conftest.py``): columns in name order, rows as an
unordered multiset, floats to six decimals. The expected digests in
``expected.json`` come from the registry's DuckDB oracles
(``make_expected.py``), so a pass is checked without running the oracle.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from decimal import Decimal

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        s = f"{f:.6f}"
        return "0.000000" if s == "-0.000000" else s
    return str(v)


def digest(rows, columns: list[str]) -> dict:
    """``{"rows": n, "sha256": hex}`` of ``rows`` (tuples in ``columns``
    order) under the gate's normalisation."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    norm = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    header = [columns[i].lower() for i in order]
    blob = json.dumps([header, norm], separators=(",", ":")).encode()
    return {"rows": len(norm), "sha256": hashlib.sha256(blob).hexdigest()}


def frame_digest(df) -> dict:
    """Collect ``df`` (every column is computed) and digest it."""
    return digest([tuple(r) for r in df.collect()], df.columns)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def expected_for(expected: dict, slot: str, n_docs: int) -> dict:
    """The committed digest of ``slot`` on the ``n_docs`` corpus; a
    missing entry is an error, never a pass."""
    try:
        return expected[slot][str(n_docs)]
    except KeyError:
        raise KeyError(
            f"no expected output for {slot} at {n_docs} docs; "
            "run perfbench/make_expected.py"
        ) from None
