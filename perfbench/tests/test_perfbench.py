"""Tests of the benchmark's own code: run with ``python3 -m pytest perfbench/tests``."""

from __future__ import annotations

import json
import os
import random

import pytest

from perfbench import fixtures
from perfbench.check import digest
from perfbench.metrics import (
    END_TO_END,
    NAME_RE,
    PER_LAYER,
    REPORTED,
    UNIT_RE,
    benchmark_entries,
    interaction_map,
)
from perfbench.trace import CpuClock, Span, Spans, self_time, stream_counters
from perfbench.workloads import workloads

WORKLOADS = workloads()

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_are_valid_and_unique():
    names = list(END_TO_END) + list(REPORTED) + list(PER_LAYER)
    assert len(names) == len(set(names))
    for name in names:
        assert NAME_RE.match(name), name
    for unit, *_ in [*END_TO_END.values(), *REPORTED.values(), *PER_LAYER.values()]:
        assert UNIT_RE.match(unit), unit
    assert END_TO_END["setup_s"][:2] == ("s", "lower")
    bounds = {n: b for n, (_u, _b, b) in END_TO_END.items()}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_benchmark_json_matches_metric_catalogue():
    bench = _benchmark()
    e2e, layers = benchmark_entries()
    assert bench["end_to_end"] == e2e
    assert bench["per_layer"] == layers
    assert bench["paths"] == ["perfbench"]
    for w in bench["workloads"]:
        assert w["name"] in WORKLOADS
        assert w["why"] == WORKLOADS[w["name"]].why
        assert "\n" not in w["why"] and len(w["why"]) <= 200


def test_interaction_map_covers_every_per_layer_metric():
    imap = interaction_map()
    benched = {w["name"] for w in _benchmark()["workloads"]}
    assert set(imap) == set(PER_LAYER)
    for name, entry in imap.items():
        assert entry["moves"] in {**END_TO_END, **REPORTED}, name
        assert entry["workloads"] and set(entry["workloads"]) <= benched, name


def test_self_time_subtracts_covered_child_time_once():
    parent = Span("item", 0.0, 10.0)
    kids = [Span("a", 1.0, 4.0), Span("b", 3.0, 5.0), Span("c", 9.0, 12.0)]
    # a and b overlap (1..5 covered once), c is clipped to the parent (9..10)
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_build_plan_execute_add_up_to_the_item_span():
    spans = Spans()
    item = spans.add("item", 0.0, 10.0, "q")
    build = spans.add("build", 0.0, 6.0, "q", item)
    spans.add("plan", 6.0, 7.0, "q", item)
    spans.add("execute", 7.0, 10.0, "q", item)
    spans.add("trigger", 2.0, 5.0, "q", build)  # a micro-batch inside the build
    kids = spans.children(item)
    assert sum(k.duration for k in kids) == pytest.approx(spans.spans[item].duration)
    assert spans.self_time(item) == pytest.approx(0.0)
    assert spans.self_time(build) == pytest.approx(3.0)


def test_trigger_spans_sit_where_the_progress_events_put_them():
    import time
    from datetime import datetime, timezone

    spans = Spans()
    now = time.time()
    stamp = datetime.fromtimestamp(now - 2.0, timezone.utc).isoformat().replace("+00:00", "Z")
    build = spans.add("build", time.perf_counter() - 5.0, time.perf_counter(), "q")
    spans.add_triggers([{"timestamp": stamp, "durationMs": {"triggerExecution": 1500}}], build, "q")
    (trigger,) = spans.children(build)
    assert trigger.duration == pytest.approx(1.5)
    assert trigger.start == pytest.approx(time.perf_counter() - 2.0, abs=0.05)
    assert spans.self_time(build) == pytest.approx(5.0 - 1.5, abs=0.05)


def test_cpu_clock_counts_child_processes_but_not_sleep():
    import subprocess
    import sys
    import time

    clock = CpuClock()
    before = clock()
    time.sleep(0.3)
    slept = clock()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    after = clock()
    assert slept[0] - before[0] < 0.2
    assert after[0] - slept[0] >= 0.4
    assert after[1] >= before[1]


def test_fixtures_are_identical_for_equal_seeds():
    a, b = fixtures.generate(0.001), fixtures.generate(0.001)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    c = fixtures.generate(0.001, seed=fixtures.FIXTURE_SEED + 1)
    assert not a["lineitem"].equals(c["lineitem"])


def test_item_order_follows_the_seed():
    for w in WORKLOADS.values():
        first = w.order(random.Random(5))
        assert first == w.order(random.Random(5))
        assert sorted(first) == sorted(w.items)
    etl = WORKLOADS["etl_load"]
    orders = {tuple(etl.order(random.Random(s))) for s in range(20)}
    assert len(orders) > 1
    for o in orders:
        assert o[0] == "table_create" and o[-1] == "address_readback"


def test_digest_ignores_row_and_column_order_but_not_types():
    rows = [(1, "a", 2.5), (2, "b", None)]
    base = digest(["k", "s", "v"], rows)
    assert digest(["v", "k", "s"], [(r[2], r[0], r[1]) for r in reversed(rows)]) == base
    assert digest(["k", "s", "v"], [(1.0, "a", 2.5), (2, "b", None)]) != base
    assert digest(["k", "s", "v"], rows[:1]) != base


def test_stream_counters_fold_progress_events():
    ev = [
        {"runId": "r1", "numInputRows": 5, "stateOperators": [{"numRowsTotal": 3}],
         "durationMs": {"triggerExecution": 100, "addBatch": 60, "queryPlanning": 10,
                        "walCommit": 5, "commitOffsets": 7, "latestOffset": 2, "getBatch": 1}},
        {"runId": "r1", "numInputRows": 0, "stateOperators": [{"numRowsTotal": 4}],
         "durationMs": {"triggerExecution": 20}},
        {"runId": "r2", "numInputRows": 7, "stateOperators": [],
         "durationMs": {"triggerExecution": 30}},
    ]
    c = stream_counters(ev)
    assert (c.batches, c.input_rows, c.trigger_ms) == (2, 12, 150)
    assert (c.add_batch_ms, c.commit_ms, c.offsets_ms) == (60, 12, 3)
    assert c.state_rows == 4


def test_expected_outputs_cover_every_query_item():
    with open(os.path.join(ROOT, "perfbench", "expected.json")) as fh:
        expected = json.load(fh)
    for w in WORKLOADS.values():
        if w.name != "etl_load":
            for item in w.items:
                assert expected[item]["rows"] > 0, item


def test_gen_addresses_is_identical_for_equal_seeds():
    pytest.importorskip("pyspark")
    from quarkus_etl_spark.operators.generator import gen_addresses
    from quarkus_etl_spark.session import get_spark

    spark = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    try:
        a = sorted(gen_addresses(spark, n=500, seed=3).collect())
        assert a == sorted(gen_addresses(spark, n=500, seed=3).collect())
        assert a != sorted(gen_addresses(spark, n=500, seed=4).collect())
    finally:
        spark.stop()
