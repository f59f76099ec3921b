"""Every top-level function and class of the package is reachable from a
live root, or is named in ``KEEP`` (it stays, with the reason) or ``OPEN``
(an open deletion item, with the reason).

Live roots are what the engine actually runs or gates: the ``@register``
slots (their oracles are the decorator arguments), the ``pipelines.task_*``
reference-task drivers, the ``streaming/`` twins, ``__spark_entry__.py``,
``tools/`` and ``perfbench/``. Tests are not roots:
a function only a test calls is checked by nothing the engine runs, so it is
deleted together with its tests.

The scan is static (AST only, no import, no Spark session). A name is an
edge when it resolves, through the module's own top-level names or its
imports, to a top-level definition of a package module. Local names that
shadow a module name count as edges, so the scan over-approximates what is
reachable; it never reports a live definition as dead. Because an import
that resolves nowhere is simply not an edge, a separate test checks that
every module the entry files import exists.
"""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "document_clustering_with_hadoop_mapreduce_spark"

# Unreachable definitions that stay: each is a reference implementation, an
# oracle or a fixture that tests of live code compare against.
KEEP = {
    f"{PKG}.operators.bpe.encode_word":
        "pure-Python BPE reference the fused doc_quality slot is checked against",
    f"{PKG}.operators.bm25.bm25_batch_oracle_sql":
        "DuckDB oracle the live bm25_batch_topk is tested against",
    f"{PKG}.compat.shims.assign_nearest_n3":
        "the reference's N3 cosine quirk, kept for golden parity",
    f"{PKG}.sources.mtx.write_mtx_parts":
        "reference multi-part MatrixMarket output, kept for golden parity",
    f"{PKG}.sources.artifacts.write_points_iteration_dir":
        "reference per-iteration points output, kept for golden parity",
    f"{PKG}.sources.tables.load_tables":
        "test fixture: loads every fixture table at once",
    f"{PKG}.sources.tables.register_views":
        "test fixture: registers the fixture tables as SQL views",
    f"{PKG}.operators.textstats.hash_split":
        "reference the fused hash_split slot and leakage_safe_split are checked against "
        "(test_fused_slots, test_leakage_split::test_singletons_match_hash_split_exactly)",
    f"{PKG}.operators.textstats.doc_repetition":
        "reference the fused doc_features projection is checked against "
        "(test_properties::test_doc_features_matches_standalone_operators)",
    f"{PKG}.operators.textstats.bpe_ish_token_counts":
        "reference the fused doc_features projection is checked against "
        "(test_properties::test_doc_features_matches_standalone_operators)",
    f"{PKG}.operators.similarity.top_similar_pairs":
        "brute-force reference the live block_topk_pairs is checked against "
        "(test_similarity::test_block_topk_pairs_equals_bruteforce)",
    f"{PKG}.operators.similarity.quantized_topk":
        "full-scan reference the live quantized_ivf_topk is checked against "
        "(test_quantization::test_quantized_ivf_composition)",
    f"{PKG}.operators.bpe.bpe_train":
        "driver-side reference the fused doc_quality slot's merges are checked against "
        "(test_fused_slots::test_merge_rows_match_direct_training)",
    f"{PKG}.operators.bpe._initial_symbols": "helper of the bpe_train reference",
    f"{PKG}.operators.bpe._adjacent_pairs": "helper of the bpe_train reference",
    f"{PKG}.operators.bpe._merge_pair": "helper of the bpe_train reference",
    f"{PKG}.operators.bpe.word_counts":
        "corpus word counts the bpe_train reference trains on "
        "(test_fused_slots::test_merge_rows_match_direct_training)",
}

# Unreachable definitions that are open items of ROADMAP direction 5: the
# second engine of a pair, a driver-side form of a live plan, or an operator
# only tests call. Each entry goes when its code is deleted (together with
# its tests) or wired to a slot; no entry may be added.
OPEN = {
    f"{PKG}.operators.dedup.tfidf_cosine_pairs": "engine pair of tfidf_cosine_pairs_blocked",
    f"{PKG}.operators.dedup.star_components": "engine pair of duplicate_components",
    f"{PKG}.operators.decontam.decontaminate": "filter form of the live contamination_stats",
    f"{PKG}.operators.graph.hits": "test-only operator",
    f"{PKG}.operators.snapshot.embedding_drift": "test-only operator",
    f"{PKG}.caches.clear_caches": "escape hatch for interactive sessions",
    # operators only tests call; each goes with its tests in a later slice
    f"{PKG}.operators.bpe.bpe_encode_words": "test-only operator (test_bpe)",
    f"{PKG}.operators.bpe.bpe_token_counts": "test-only operator (test_bpe)",
    f"{PKG}.operators.bpe.bpe_token_counts_from_counts": "helper of bpe_token_counts",
    f"{PKG}.operators.graph.textrank_keywords": "test-only operator (test_pagerank)",
    f"{PKG}.operators.multimodal.decode_image_meta": "test-only operator (test_multimodal)",
    f"{PKG}.operators.multimodal.media_histogram_pairs": "test-only operator (test_multimodal)",
    f"{PKG}.operators.similarity.mmr_select": "test-only operator (test_sampling_mmr)",
    f"{PKG}.operators.similarity.embedding_outliers": "test-only operator (test_similarity)",
    f"{PKG}.operators.snapshot.corpus_diff": "test-only operator (test_snapshot)",
    f"{PKG}.sources.bucketing.table_df": "test-only operator (test_bucketing)",
    f"{PKG}.sources.bucketing.write_date_partitioned": "test-only operator (test_bucketing)",
    f"{PKG}.sources.bucketing.compact_to_target_bytes": "test-only operator (test_bucketing)",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    def __init__(self, path: Path, name: str, is_package: bool):
        self.package = name if is_package else name.rpartition(".")[0]
        self.tree = ast.parse(path.read_text(), filename=str(path))
        # top-level name -> defining statement (functions, classes, assignments)
        self.defs: dict[str, ast.stmt] = {}
        # statements run at import time that define nothing by name
        self.loose: list[ast.stmt] = []
        for stmt in self.tree.body:
            if isinstance(stmt, _DEFS):
                self.defs[stmt.name] = stmt
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
                for n in names:
                    self.defs[n] = stmt
                if not names:
                    self.loose.append(stmt)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                self.loose.append(stmt)
        # every import anywhere in the file (function-local ones included)
        self.imports: list[ast.Import | ast.ImportFrom] = [
            n for n in ast.walk(self.tree) if isinstance(n, (ast.Import, ast.ImportFrom))
        ]


class _Scan:
    def __init__(self):
        self.modules: dict[str, _Module] = {}
        for path in sorted((REPO / PKG).rglob("*.py")):
            name = _module_name(path)
            self.modules[name] = _Module(path, name, path.name == "__init__.py")
        self.aliases = {name: self._aliases(m) for name, m in self.modules.items()}

    def _aliases(self, mod: _Module) -> dict[str, tuple[str, str | None]]:
        """local name -> (module, None) for a module, (module, attr) for a symbol."""
        out: dict[str, tuple[str, str | None]] = {}
        for node in mod.imports:
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        out[a.asname] = (a.name, None)
                    else:
                        head = a.name.split(".")[0]
                        out[head] = (head, None)
                continue
            base = node.module or ""
            if node.level:
                anchor = mod.package.split(".")
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            for a in node.names:
                sub = f"{base}.{a.name}"
                local = a.asname or a.name
                out[local] = (sub, None) if sub in self.modules else (base, a.name)
        return out

    def resolve(self, module: str, attr: str, seen=()) -> tuple[str, str] | None:
        """The package definition that ``module.attr`` names, following re-exports."""
        mod = self.modules.get(module)
        if mod is None or (module, attr) in seen:
            return None
        if attr in mod.defs:
            return module, attr
        alias = self.aliases[module].get(attr)
        if alias and alias[1] is not None:
            return self.resolve(alias[0], alias[1], seen + ((module, attr),))
        return None

    def refs(self, module: str, aliases, node: ast.AST):
        """Package definitions referenced inside ``node``."""
        mod = self.modules.get(module)
        for sub in ast.walk(node):
            if isinstance(sub, ast.Attribute):
                chain = []
                cur = sub
                while isinstance(cur, ast.Attribute):
                    chain.append(cur.attr)
                    cur = cur.value
                if not isinstance(cur, ast.Name) or cur.id not in aliases:
                    continue
                target, sym = aliases[cur.id]
                if sym is not None:
                    continue
                chain.reverse()
                # longest dotted prefix that is a package module, then the symbol
                for part in chain:
                    if f"{target}.{part}" in self.modules:
                        target = f"{target}.{part}"
                        continue
                    hit = self.resolve(target, part)
                    if hit:
                        yield hit
                    break
            elif isinstance(sub, ast.Name):
                if mod is not None and sub.id in mod.defs:
                    yield module, sub.id
                elif sub.id in aliases and aliases[sub.id][1] is not None:
                    hit = self.resolve(*aliases[sub.id])
                    if hit:
                        yield hit

    def reachable(self, extra_roots=()) -> set[tuple[str, str]]:
        # an extra root whose module or definition is gone adds nothing; the
        # stale-entry check names it
        todo: list[tuple[str, str]] = [
            (m, d) for m, d in extra_roots if d in getattr(self.modules.get(m), "defs", {})
        ]

        def visit(module, aliases, node):
            todo.extend(self.refs(module, aliases, node))

        for name, mod in self.modules.items():
            aliases = self.aliases[name]
            for stmt in mod.loose:
                visit(name, aliases, stmt)
            for def_name, stmt in mod.defs.items():
                if _is_root(name, def_name, stmt):
                    todo.append((name, def_name))
        for path in _entry_files():
            ext = _Module(path, _module_name(path), False)
            visit(None, self._aliases(ext), ext.tree)

        seen: set[tuple[str, str]] = set()
        while todo:
            key = todo.pop()
            if key in seen:
                continue
            seen.add(key)
            visit(key[0], self.aliases[key[0]], self.modules[key[0]].defs[key[1]])
        return seen

    def definitions(self) -> set[tuple[str, str]]:
        return {
            (name, d)
            for name, mod in self.modules.items()
            for d, stmt in mod.defs.items()
            if isinstance(stmt, _DEFS)
        }


def _is_root(module: str, name: str, stmt: ast.stmt) -> bool:
    if module.startswith(f"{PKG}.streaming"):
        return True
    if module == f"{PKG}.pipelines" and name.startswith("task_"):
        return True
    for dec in getattr(stmt, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(fn, "id", getattr(fn, "attr", None)) == "register":
            return True
    return False


def _entry_files() -> list[Path]:
    files = [REPO / "__spark_entry__.py"]
    for d in ("tools", "perfbench"):
        files += sorted((REPO / d).rglob("*.py"))
    return [f for f in files if f.exists()]


def _unreachable() -> tuple[set[str], set[str]]:
    """(definitions no live root reaches, those that KEEP names do not reach either)."""
    scan = _Scan()
    defs = scan.definitions()
    live = scan.reachable()
    with_keep = scan.reachable(extra_roots=[tuple(k.rsplit(".", 1)) for k in KEEP])
    name = "{0[0]}.{0[1]}".format
    return {name(d) for d in defs - live}, {name(d) for d in defs - with_keep}


def test_every_definition_is_reachable_or_kept():
    _, dead = _unreachable()
    unexplained = sorted(dead - KEEP.keys() - OPEN.keys())
    assert not unexplained, (
        f"{len(unexplained)} top-level definitions are reached by no slot, task "
        "pipeline, streaming twin, perfbench or tool; delete them with their tests "
        "(or name them in KEEP with a reason):\n  " + "\n  ".join(unexplained)
    )


def test_keep_and_open_names_are_still_unreachable():
    unreachable, dead = _unreachable()
    stale_keep = sorted(KEEP.keys() - unreachable)
    stale_open = sorted(OPEN.keys() - dead)
    assert not stale_keep, f"KEEP entries that are gone or now reachable: {stale_keep}"
    assert not stale_open, f"OPEN entries that are gone or now reachable: {stale_open}"


def test_stale_keep_name_is_reported_not_raised(monkeypatch):
    """A KEEP name whose module or definition is gone shows up as stale
    (it is not among the unreachable definitions) instead of crashing the
    scan."""
    gone = [f"{PKG}.sources.no_such_module.no_such_def", f"{PKG}.operators.bm25.no_such_def"]
    for name in gone:
        monkeypatch.setitem(KEEP, name, "stale")
    unreachable, _ = _unreachable()
    assert set(gone) <= KEEP.keys() - unreachable


def _resolves(module: str, script_dir: Path) -> bool:
    """Whether ``module`` names a file of the repo (under the repo root,
    which tools run with on ``PYTHONPATH``, or the script's own directory)
    or an installed top-level package. ``find_spec`` of a top-level name
    imports nothing."""
    parts = module.split(".")
    for base in (REPO, script_dir):
        if (base / parts[0]).is_dir() or (base / f"{parts[0]}.py").is_file():
            path = base.joinpath(*parts)
            return path.with_suffix(".py").is_file() or (path / "__init__.py").is_file()
    return importlib.util.find_spec(parts[0]) is not None


def test_entry_file_imports_resolve():
    dangling = []
    for path in _entry_files():
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and not node.level:
                names = [node.module]
            else:
                continue
            rel = path.relative_to(REPO)
            dangling += [f"{rel}:{node.lineno}: {n}" for n in names if not _resolves(n, path.parent)]
    assert not dangling, "entry files import modules that do not exist:\n  " + "\n  ".join(dangling)


def test_no_package_module_imports_pyspark_ml():
    """Tasks 2.1-2.3 and the embedding slots share one Lloyd engine
    (``operators/doc_cluster.py``); ``pyspark.ml`` must not come back as a
    second one. Function-local imports count."""
    hits = []
    for name, mod in _Scan().modules.items():
        for node in mod.imports:
            if isinstance(node, ast.ImportFrom):
                if node.level:
                    continue
                names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
            else:
                names = [a.name for a in node.names]
            if any(n == "pyspark.ml" or n.startswith("pyspark.ml.") for n in names):
                hits.append(f"{name}:{node.lineno}")
    assert not hits, "package modules import pyspark.ml:\n  " + "\n  ".join(hits)
