"""Per-layer metrics of a traced run, from three records kept apart until
here: the timed query intervals of the harness, the layer spans of
``layers.Tracer`` and the per-tag totals of ``eventlog.reduce_events``.

Every figure but the set-up times, ``spark.core_busy_frac`` and
``spark.untagged_jobs`` is a mean per timed pass.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

MB = 1e6
CALLED_LAYERS = ("sources", "functions", "checkpoint", "streaming")


@dataclass
class QueryRun:
    """One timed query: epoch start, then build and execute durations."""

    name: str
    start: float
    build_s: float
    exec_s: float
    error: str | None = None

    @property
    def build(self) -> tuple[float, float]:
        return (self.start, self.start + self.build_s)

    @property
    def execute(self) -> tuple[float, float]:
        return (self.start + self.build_s, self.start + self.build_s + self.exec_s)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total


def layer_metrics(runs: list[QueryRun], n_passes: int, spans, groups, cores: int) -> dict:
    """``runs`` are the timed queries of ``n_passes`` passes, ``spans`` the
    tracer's and ``groups`` the reduced event log of the whole run."""
    builds = [r.build for r in runs]
    timed = builds + [r.execute for r in runs]
    inside = [s for s in spans if any(a <= s.start < b for a, b in timed)]

    def of(layer, name=None):
        return [s for s in inside if s.layer == layer and (name is None or s.name == name)]

    def busy(selected) -> float:
        return sum(s.end - s.start for s in selected if s.outer)

    tags = {f"{r.name}:{phase}" for r in runs for phase in ("build", "exec")}
    g = Counter()  # event-log totals over the timed tags
    for tag in tags & groups.keys():
        g.update({k: v for k, v in vars(groups[tag]).items() if k != "job_spans_ms"})
    all_jobs = [(a / 1e3, b / 1e3) for grp in groups.values() for a, b in grp.job_spans_ms]
    timed_jobs = [
        (a / 1e3, b / 1e3) for tag in tags & groups.keys() for a, b in groups[tag].job_spans_ms
    ]
    build_jobs = sum(groups[t].jobs for t in tags & groups.keys() if t.endswith(":build"))
    layer_spans = [(s.start, s.end) for s in inside if s.layer in CALLED_LAYERS]
    job_wall = covered(timed_jobs, min(a for a, _ in timed), max(b for _, b in timed))
    streams = [s.stats for s in of("streaming")]
    per_pass = {
        "sources.calls": len(of("sources")),
        "sources.s": busy(of("sources")),
        "sources.load_table_calls": len(of("sources", "load_table")),
        "sources.load_table_s": sum(s.end - s.start for s in of("sources", "load_table")),
        "sources.input_mb": g["input_bytes"] / MB,
        "sources.input_rows": g["input_rows"],
        "sources.output_mb": g["output_bytes"] / MB,
        "functions.calls": len(of("functions")),
        "functions.s": busy(of("functions")),
        "checkpoint.calls": len(of("checkpoint")),
        "checkpoint.s": busy(of("checkpoint")),
        "operators.build_jobs": build_jobs,
        # build time outside every called layer, and build time with no job running
        "operators.self_s": sum(b - a - covered(layer_spans, a, b) for a, b in builds),
        "operators.driver_only_s": sum(b - a - covered(all_jobs, a, b) for a, b in builds),
        "streaming.run_s": busy(of("streaming")),
        "streaming.batches": sum(s["batches"] for s in streams),
        "streaming.input_rows": sum(s["input_rows"] for s in streams),
        "streaming.state_rows": sum(s["state_rows"] for s in streams),
        "streaming.state_mb": sum(s["state_bytes"] for s in streams) / MB,
        "spark.jobs": g["jobs"],
        "spark.stages": g["stages"],
        "spark.stages_skipped": g["stages_skipped"],
        "spark.tasks": g["tasks"],
        "spark.executor_run_s": g["executor_run_ms"] / 1e3,
        "spark.executor_cpu_s": g["executor_cpu_ns"] / 1e9,
        "spark.gc_s": g["gc_ms"] / 1e3,
        "spark.shuffle_write_mb": g["shuffle_write_bytes"] / MB,
        "spark.shuffle_read_mb": g["shuffle_read_bytes"] / MB,
        "spark.spill_mb": g["spill_bytes"] / MB,
        "spark.failed_tasks": g["failed_tasks"],
    }
    metrics = {k: v / n_passes for k, v in per_pass.items()}
    busy_cores = g["executor_run_ms"] / 1e3 / job_wall if job_wall else 0.0
    metrics["spark.core_busy_frac"] = busy_cores / cores
    metrics["spark.untagged_jobs"] = groups[None].jobs if None in groups else 0
    return metrics


def per_query(runs: list[QueryRun], n_passes: int, spans, groups) -> dict:
    """Mean per pass, for each query: build and execute time, the part of
    build spent in each called layer, and the jobs of each phase."""
    table = {}
    for name in dict.fromkeys(r.name for r in runs):
        mine = [r for r in runs if r.name == name]
        row = {
            "build_s": sum(r.build_s for r in mine),
            "exec_s": sum(r.exec_s for r in mine),
            "build_jobs": groups[f"{name}:build"].jobs if f"{name}:build" in groups else 0,
            "exec_jobs": groups[f"{name}:exec"].jobs if f"{name}:exec" in groups else 0,
        }
        for layer in CALLED_LAYERS:
            row[f"{layer}_s"] = sum(
                covered([(s.start, s.end) for s in spans if s.layer == layer], *r.build) for r in mine
            )
        table[name] = {k: v / n_passes for k, v in row.items()}
    return table
