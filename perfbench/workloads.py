"""The benchmark's workloads: the data each one reads and the registered
queries one pass over it runs.

Every workload reads the committed copy of the sf0.01 testdata
(``data/sf0.01``); ``relational_x10`` reads it replicated ten times with
shifted keys (``inputs.data_dir``), which is about sf0.1 in rows.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    copies: int  # 1: the committed tables as they are; N: the N-fold stage
    queries: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "relational_x10",
            10,
            ("q_pricing_summary", "q_tpch_q18", "q_sessionization", "q_exact_dedup"),
            "scan, join, window and dedup shuffles at ten times the rows: "
            "per-row executor work sets the time, and no query checkpoints",
        ),
        Workload(
            "iterative_etl",
            1,
            ("q_triangle_count", "q_ntile_quartiles", "q_stream_tumbling", "q_partitioned_sink"),
            "driver-bound: eager localCheckpoint calls, small-job storms, an "
            "availableNow stream with state and the only (partitioned) writes",
        ),
    )
}
