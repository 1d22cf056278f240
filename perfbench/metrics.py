"""Metric catalogue of the benchmark and the map of how the metrics interact.

``END_TO_END`` are what a user of the engine sees, measured with tracing
off. ``PER_LAYER`` come from the traced run; each names the end-to-end
metric it should move and the workloads where that shows
(``interaction_map()``).
``BENCHMARK.json`` at the repository root lists the same names; the tests
keep the two in step.
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# name -> (unit, better, bound). Timed metrics are CPU time, not wall time:
# on a shared 4-core host, other guests take up to a whole core ("steal")
# for minutes at a time, which stretched a pass's wall by 1.3-3x while its
# CPU time moved by 0-0.5x. setup_s is timed by the wall clock.
END_TO_END: dict[str, tuple[str, str, float]] = {
    "cpu_s": ("s", "lower", 0.25),
    "setup_s": ("s", "lower", 0.25),
}

# Printed beside the end-to-end metrics but not part of BENCHMARK.json: wall
# time follows the host's load more than the program.
# name -> (unit, better)
REPORTED: dict[str, tuple[str, str]] = {
    "wall_s": ("s", "lower"),
    "item_p50_s": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
}

# name -> (unit, better, end-to-end metric it moves, workloads where it shows)
E, C = "etl_load", "curation"
PER_LAYER: dict[str, tuple[str, str, str, tuple[str, ...]]] = {
    "queries.build_s": ("s", "lower", "cpu_s", (C,)),
    "queries.build_jobs": ("count", "lower", "cpu_s", (C,)),
    "catalyst.plan_s": ("s", "lower", "cpu_s", (C, E)),
    "exec.s": ("s", "lower", "cpu_s", (E, C)),
    "exec.jobs": ("count", "lower", "cpu_s", (E, C)),
    "exec.stages": ("count", "lower", "cpu_s", (E, C)),
    "exec.tasks": ("count", "lower", "cpu_s", (E, C)),
    "exec.cpu_s": ("s", "lower", "cpu_s", (E, C)),
    "exec.core_util": ("ratio", "higher", "wall_s", (C, E)),
    "exec.max_task_share": ("ratio", "lower", "wall_s", (C, E)),
    "exec.input_bytes": ("B", "lower", "cpu_s", (E,)),
    "exec.shuffle_read_bytes": ("B", "lower", "cpu_s", (C, E)),
    "exec.shuffle_write_bytes": ("B", "lower", "cpu_s", (C, E)),
    "exec.spill_bytes": ("B", "lower", "cpu_s", (C, E)),
    "jobs.run_s": ("s", "lower", "cpu_s", (E,)),
    "jobs.rows": ("count", "higher", "cpu_s", (E,)),
    "sources.bytes_written": ("B", "lower", "cpu_s", (E,)),
    "sources.files_written": ("count", "lower", "cpu_s", (E,)),
    "streaming.batches": ("count", "lower", "cpu_s", (E,)),
    "streaming.input_rows": ("count", "higher", "cpu_s", (E,)),
    "streaming.trigger_ms": ("ms", "lower", "cpu_s", (E,)),
    "streaming.add_batch_ms": ("ms", "lower", "cpu_s", (E,)),
    "streaming.query_planning_ms": ("ms", "lower", "cpu_s", (E,)),
    "streaming.commit_ms": ("ms", "lower", "cpu_s", (E,)),
    "streaming.offsets_ms": ("ms", "lower", "cpu_s", (E,)),
    "streaming.startup_s": ("s", "lower", "wall_s", (E,)),
    "streaming.state_rows": ("count", "lower", "cpu_s", (E,)),
    "session.start_s": ("s", "lower", "setup_s", (E, C)),
    "catalog.load_s": ("s", "lower", "setup_s", (E, C)),
    "operators.gen_s": ("s", "lower", "setup_s", (E,)),
    "plans.retained_bytes": ("B", "lower", "cpu_s", (C,)),
    "jvm.peak_rss_mb": ("MB", "lower", "setup_s", (E, C)),
    "jvm.jit_cpu_s": ("s", "lower", "setup_s", (E, C)),
}


def interaction_map() -> dict[str, dict[str, object]]:
    """per-layer metric -> {"moves": end-to-end metric, "workloads": [...]}"""
    return {
        name: {"moves": moves, "workloads": list(workloads)}
        for name, (_unit, _better, moves, workloads) in PER_LAYER.items()
    }


def benchmark_entries() -> tuple[list[dict], list[dict]]:
    """The ``end_to_end`` and ``per_layer`` lists of BENCHMARK.json."""
    e2e = [
        {"name": n, "unit": u, "better": b, "bound": bound}
        for n, (u, b, bound) in END_TO_END.items()
    ]
    layers = [{"name": n, "unit": u, "better": b} for n, (u, b, _m, _w) in PER_LAYER.items()]
    return e2e, layers
