"""Metric names, units and the benchmark's one-line JSON result.

``END_TO_END`` and ``PER_LAYER`` list every metric the benchmark reports,
in the order of ``BENCHMARK.json`` (a test keeps the two in step).
"""

from __future__ import annotations

import json
import math

END_TO_END = {
    "discover_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "frac",
}

PER_LAYER = {
    "sources.wall_s": "s",
    "prefix.wall_s": "s",
    "prefix.task_s": "s",
    "prefix.shuffle_write_mb": "MB",
    "prefix.spill_mb": "MB",
    "prefix.distinct_captures": "count",
    "prefix.frequent_captures": "count",
    "prefix.frequent_ratio": "ratio",
    "hot.wall_s": "s",
    "hot.lines": "count",
    "pair.wall_s": "s",
    "pair.task_s": "s",
    "pair.shuffle_read_mb": "MB",
    "pair.task_skew": "ratio",
    "pair.overlap_rows": "count",
    "lattice.wall_s": "s",
    "lattice.cand21_rows": "count",
    "lattice.seed21_rows": "count",
    "verify.wall_s": "s",
    "verify.candidates": "count",
    "verify.verified": "count",
    "verify.yield": "ratio",
    "verify.plain_gate": "bool",
    "minimality.wall_s": "s",
    "minimality.rows_in": "count",
    "minimality.rows_out": "count",
    "sink.wall_s": "s",
    "engine.jobs": "count",
    "engine.task_s": "s",
    "engine.gc_s": "s",
    "engine.core_util": "ratio",
    "engine.driver_gap_s": "s",
    "engine.self_s": "s",
    "engine.unattributed_jobs": "count",
    "engine.unattributed_task_s": "s",
    "engine.leaked_persisted": "count",
    "trace.coverage": "ratio",
    "trace.discover_s": "s",
    "trace.untraced_discover_s": "s",
    "trace.overhead_s": "s",
}


def ratio(num: float, den: float) -> float:
    """``num / den``, or 0.0 when the base is empty (a layer that did not
    run on this workload)."""
    return num / den if den else 0.0


def result_line(
    spec: dict[str, str],
    values: dict[str, float],
    attempted: int,
    failed: int,
) -> str:
    """The result object as one JSON line: every metric of ``spec`` by
    name with its unit.  A missing or non-finite value is an error, not
    a silently dropped metric."""
    if attempted < 1:
        raise ValueError("a result needs at least one attempted run")
    metrics = {}
    for name, unit in spec.items():
        value = float(values[name])
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite: {value}")
        metrics[name] = {"value": value, "unit": unit}
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    })
