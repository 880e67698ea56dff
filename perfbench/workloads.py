"""The benchmark's workloads and the seeded choices inside a run.

Each workload names the engine's queries by their registry names (the keys
of ``__spark_entry__.queries()``), plus the ``plans.materialize`` artifact
writers, which are not registered queries. The seed decides two things and
nothing else: the query order inside each pass (writers stay ahead of the
readers of their artifacts) and the micro-batch cut points of the stream
replay. The tables themselves never depend on it (``datagen.DATA_SEED``).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    kind: str  # "batch" or "stream"
    min_warm: int  # measured warm passes every run makes, whatever --seconds says
    queries: tuple[str, ...] = ()
    # artifact writer -> the registry queries that read what it writes
    writers: dict[str, tuple[str, ...]] = field(default_factory=dict)
    batches: int = 0  # micro-batches per stream replay


WORKLOADS = {
    "batch_mix": Workload(
        kind="batch",
        min_warm=2,
        queries=(
            "q5_local_supplier_volume",
            "dedup_components",
            "image_png_features",
            "mat_knn_ivfpq",
        ),
        writers={"bench_pq_build": ("mat_knn_ivfpq",)},
    ),
    "stream_replay": Workload(
        kind="stream",
        min_warm=1,
        batches=2,
    ),
}


def pass_order(workload: Workload, rng: random.Random) -> list[str]:
    """One pass's query order: a seeded shuffle, then each artifact writer
    moved just ahead of the first of its readers."""
    order = list(workload.queries) + list(workload.writers)
    rng.shuffle(order)
    for writer, readers in workload.writers.items():
        order.remove(writer)
        first = min(order.index(r) for r in readers)
        order.insert(first, writer)
    return order


def cut_points(n_rows: int, n_batches: int, rng: random.Random) -> list[int]:
    """Seeded row offsets that split ``n_rows`` time-ordered rows into
    ``n_batches`` micro-batches. Each cut moves up to a quarter of an even
    share from its even position, so every batch keeps at least half an
    even share."""
    share = n_rows / n_batches
    return [
        int(round(i * share + rng.uniform(-0.25, 0.25) * share))
        for i in range(1, n_batches)
    ]
