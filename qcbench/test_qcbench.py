"""Self-tests of the benchmark harness; no Spark session is started.

    python3 -m pytest qcbench -q
"""

from __future__ import annotations

import itertools
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from metrics import END_TO_END, PER_LAYER, TAIL_MIN_BEYOND, render, tail  # noqa: E402
from run import layer_metrics  # noqa: E402
from workloads import WORKLOADS, WRITE_BUCKETS, rounds  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def _first(workload, seed, n=3, trace=False):
    """The first ``n`` rounds, each as its flat op list."""
    return [[op for group in groups for op in group]
            for groups in itertools.islice(rounds(workload, seed, trace), n)]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_seed_fixes_the_op_sequence(workload):
    assert _first(workload, 7) == _first(workload, 7)
    assert _first(workload, 7) != _first(workload, 8)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_round_holds_each_kind_once(workload):
    kinds, _, trace_only = WORKLOADS[workload]
    for ops in _first(workload, 3, 5, trace=True):
        assert sorted(op.kind for op in ops) == sorted(kinds)
    for ops in _first(workload, 3, 5):
        assert sorted(op.kind for op in ops) == sorted(set(kinds) - trace_only)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_rounds_are_the_traced_ones_less_trace_only_kinds(workload):
    trace_only = WORKLOADS[workload][2]
    for traced, untraced in zip(_first(workload, 9, 4, trace=True), _first(workload, 9, 4)):
        assert [op for op in traced if op.kind not in trace_only] == untraced


def test_writes_keep_their_scope_and_order():
    for ops in _first("client_surface", 4, 5, trace=True):
        kinds = [op.kind for op in ops]
        assert kinds.index("revert") == kinds.index("mutate") + 1
        by_kind = {op.kind: op for op in ops}
        scattered = by_kind["mutate"].args[1]
        scoped = by_kind["upsert"].args[0]
        assert by_kind["revert"].args[1] == scattered
        assert len({i % WRITE_BUCKETS for i in scoped}) == 1
        assert len({i % WRITE_BUCKETS for i in scattered}) == WRITE_BUCKETS


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("n", [11, 12, 20, 21, 57, 100, 1000])
def test_tail_keeps_ten_ops_beyond(n):
    values = [float(i) for i in range(n)]
    v, pct, count = tail(values[::-1])
    assert count == n
    assert sum(x > v for x in values) == TAIL_MIN_BEYOND
    assert pct == pytest.approx(100.0 * (n - TAIL_MIN_BEYOND) / n)


def test_tail_needs_more_than_ten_ops():
    with pytest.raises(ValueError):
        tail([1.0] * TAIL_MIN_BEYOND)


def test_every_metric_is_printed_with_its_unit():
    for section, spec in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        listed = {m["name"]: m["unit"] for m in BENCHMARK[section]}
        assert listed == {name: unit for name, (unit, *_r) in spec.items()}
        printed = render({name: 1.5 for name in spec}, spec)
        assert {k: v["unit"] for k, v in printed.items()} == listed
    with pytest.raises(KeyError):
        render({}, END_TO_END)


def test_traced_layer_names_match_benchmark_json():
    op = {"kind": "mutate", "families": ("operators.record_status.mutate_s",
                                         "sources.table.read_s"), "wall": 1.0,
          "build": 0.8, "force": 0.2, "gc": 0.0, "prejobs": 3, "jobs": 4, "stages": 5,
          "single": 2, "tasks": 9, "run": 0.5, "cpu": 0.4, "shuffle_read": 0.1,
          "shuffle_write": 0.1, "spill": 0.0, "idle": 0.3, "files": 2, "bytes": 1024,
          "changed": 10}
    got = layer_metrics([op], nproc=4, storage_mb=1.0, versions=3, row_bytes=8.0,
                        overhead=0.02)
    assert set(got) == {m["name"] for m in BENCHMARK["per_layer"]}
    assert got["sources.table.write_amp"] == pytest.approx(1024 / 80)
