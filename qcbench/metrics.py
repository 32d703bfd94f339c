"""Metric names, units and the summary rules of the benchmark.

``END_TO_END`` and ``PER_LAYER`` are the single source of the metric names:
``BENCHMARK.json`` lists the same names and units (the self-tests pin
that), a plain run prints every ``END_TO_END`` metric and a traced run every
``PER_LAYER`` metric.  Each layer metric carries the end-to-end metric it
should move and on which workload, written down before anything is
measured.
"""

from __future__ import annotations

import math
import statistics

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "op_tail_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "retained_mb": ("MB", "lower"),
}

_SR, _PB, _RW = "client_surface (reads)", "pipeline_batch", "client_surface (writes)"

# name -> (unit, better, what it should move)
PER_LAYER = {
    "queries.build_s": ("s", "lower",
                        f"op_p50_s on {_SR}; ops_per_s on {_PB} (loop ops)"),
    "queries.prejobs": ("count", "lower", f"ops_per_s on {_PB}; flat on {_SR}"),
    "spark.exec_s": ("s", "lower", f"ops_per_s on {_PB}"),
    "spark.jobs": ("count", "lower", f"op_p50_s on {_SR}; ops_per_s on {_PB}"),
    "spark.stages": ("count", "lower", f"op_p50_s on {_SR}; ops_per_s on {_PB}"),
    "spark.tasks": ("count", "lower", f"op_p50_s on {_SR}; ops_per_s on {_PB}"),
    "spark.single_task_stage_share": ("ratio", "lower",
                                      f"ops_per_s on {_PB}; check {_SR} (a8/a9/a10)"),
    "spark.executor_run_s": ("s", "lower", f"ops_per_s on {_PB}"),
    "spark.executor_cpu_s": ("s", "lower", f"ops_per_s on {_PB}"),
    "spark.parallel_eff": ("ratio", "higher", f"ops_per_s on {_PB}"),
    "spark.idle_s": ("s", "lower", f"op_p50_s on {_SR}"),
    "spark.shuffle_read_mb": ("MB", "lower", f"ops_per_s on {_PB}; op_p50_s on {_RW}"),
    "spark.shuffle_write_mb": ("MB", "lower", f"ops_per_s on {_PB}; op_p50_s on {_RW}"),
    "spark.spill_mb": ("MB", "lower", f"ops_per_s on {_PB}; op_p50_s on {_RW}"),
    "spark.storage_mb": ("MB", "lower", f"retained_mb on {_PB} and {_RW}"),
    "jvm.gc_s": ("s", "lower", "op_tail_s on every workload"),
    "api.query_records_s": ("s", "lower", f"op_p50_s on {_SR}"),
    "api.get_records_s": ("s", "lower", f"op_p50_s on {_SR}"),
    "api.record_children_s": ("s", "lower", f"op_p50_s on {_SR}"),
    "api.dataset_status_matrix_s": ("s", "lower", f"op_p50_s on {_SR}"),
    "api.record_status_counts_s": ("s", "lower", f"op_p50_s on {_SR}"),
    "queries.surface_s": ("s", "lower", f"op_p50_s on {_SR}"),
    "functions.dedup_s": ("s", "lower", f"ops_per_s on {_PB}"),
    "functions.similarity_s": ("s", "lower", f"ops_per_s on {_PB}"),
    "functions.text_s": ("s", "lower", f"ops_per_s on {_PB}"),
    "functions.text.loop_s": ("s", "lower", f"ops_per_s on {_PB}"),
    # pipe_funnel and upsert run in traced rounds only (workloads.WORKLOADS)
    "queries.pipe_s": ("s", "lower", "none end to end: its op is in no timed round"),
    "operators.graph.closure_s": ("s", "lower", f"op_p50_s on {_SR}"),
    "operators.record_status.mutate_s": ("s", "lower",
                                         f"op_p50_s on {_RW}; flat elsewhere"),
    "streaming.queue.claim_s": ("s", "lower", f"op_p50_s on {_RW}; flat elsewhere"),
    "streaming.queue.return_s": ("s", "lower", f"op_p50_s on {_RW}; flat elsewhere"),
    "sources.table.upsert_s": ("s", "lower", "none end to end: its op is in no timed round"),
    "sources.table.read_s": ("s", "lower", f"op_p50_s on {_RW}; flat elsewhere"),
    "sources.table.files_written": ("count", "lower",
                                    f"op_p50_s and retained_mb on {_RW}"),
    "sources.table.mb_written": ("MB", "lower", f"op_p50_s and retained_mb on {_RW}"),
    "sources.table.write_amp": ("ratio", "lower", f"op_p50_s and retained_mb on {_RW}"),
    "sources.table.versions": ("count", "lower", f"op_p50_s and retained_mb on {_RW}"),
    "trace.overhead": ("ratio", "lower",
                       "none: traced over untraced wall time of the same ops, minus 1"),
}

TAIL_MIN_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    beyond it: ``(value, percentile, n)``.  With ``n`` samples sorted
    ascending that is the ``n - 10``-th smallest (1-based), at percentile
    ``100 * (n - 10) / n``.  Needs ``n > 10``."""
    n = len(values)
    if n <= TAIL_MIN_BEYOND:
        raise ValueError(f"op_tail_s needs more than {TAIL_MIN_BEYOND} ops, got {n}")
    k = n - TAIL_MIN_BEYOND
    return sorted(values)[k - 1], 100.0 * k / n, n


def end_to_end(setup_s: float, op_times: list[float], window_s: float,
               retained_mb: float) -> tuple[dict, dict]:
    """The five end-to-end metrics, and the facts recorded beside them."""
    tail_v, tail_pct, n = tail(op_times)
    values = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(op_times),
        "op_tail_s": tail_v,
        "ops_per_s": n / window_s,
        "retained_mb": retained_mb,
    }
    return values, {"op_tail_percentile": tail_pct, "timed_ops": n, "window_s": window_s}


def render(values: dict, spec: dict) -> dict:
    """``{name: {"value", "unit"}}`` for every metric of ``spec``; a metric
    missing from ``values`` or not finite is an error, never a silent gap."""
    out = {}
    for name, (unit, *_rest) in spec.items():
        v = values[name]
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {name} has no finite value: {v!r}")
        out[name] = {"value": v, "unit": unit}
    return out
