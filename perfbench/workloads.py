"""The benchmark's workloads: which registered slots one pass runs, on how
large a corpus, and the layer-by-layer replay the traced run uses.
README.md says why each was chosen."""

from __future__ import annotations

from dataclasses import dataclass

# corpus size of the smoke runs in test_perfbench.py
SMOKE_DOCS = 200


@dataclass(frozen=True)
class Workload:
    name: str
    slots: tuple[str, ...]
    n_docs: int
    # name of the function in replay.py that replays the slots layer by layer
    replay: str
    # mean wall time of the first passes after the cold one, on a quiet
    # 4-core host; sizes the window
    nominal_pass_s: float

    def pass_phases(self, seconds: float) -> list[str]:
        """Phases of the passes that follow the cold pass in a run of
        ``seconds``: as many passes as fit at the nominal pass time, at
        least two. The first is an untimed warm-up; the rest are timed.
        The count depends only on the arguments, so every run times the
        same passes whatever the host's speed."""
        n = max(2, int(seconds // self.nominal_pass_s))
        return ["warmup"] + ["timed"] * (n - 1)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "doc_cluster",
            ("doc_kmeans_sparse_trace", "doc_cluster_top_terms"),
            n_docs=1000, replay="doc_cluster", nominal_pass_s=15.0,
        ),
        Workload(
            "dedup_curation",
            ("corpus_curation",),
            n_docs=1000, replay="corpus_curation", nominal_pass_s=8.0,
        ),
    )
}
