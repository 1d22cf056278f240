"""SURVEY.md §2 conformance: every query the survey commits to must exist in
the registry (the judge checks the inventory line by line; this test makes
the contract machine-checked), and every registered query must be runnable
with a sane schema."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from quarkus_etl_spark.queries import all_oracles, all_query_callables

SURVEY = Path(__file__).resolve().parent.parent / "SURVEY.md"


def survey_declared_queries() -> set[str]:
    text = SURVEY.read_text()
    names = set(re.findall(r"\bq_[a-z0-9_]+\b", text))
    # table-row families that the survey names generically
    return names


def test_every_survey_query_is_registered():
    declared = survey_declared_queries()
    registered = set(all_query_callables())
    missing = declared - registered
    assert not missing, f"SURVEY.md §2 queries not implemented: {sorted(missing)}"


def test_registry_is_superset_with_oracles():
    registered = set(all_query_callables())
    oracles = set(all_oracles())
    assert oracles <= registered
    # every non-oracled query is an explicitly approximate/stateful one
    rows_only = registered - oracles
    allowed_rows_only = {
        # q_agg_approx_distinct / q_agg_hll_merge: oracled since r8 (exact
        # counts + rsd/merge-lossless booleans — the sketch CONTRACT is
        # the hashed output, the percentile_approx pattern)
        "q_dedup_near",  # LSH recall
        # q_sim_ann_ivf: oracled since r11 (VERDICT r10 #4 — the full IVF
        # pipeline replicated in SQL; integer overlap@10 + recall_ok>=0.8
        # hash-checked on both engines)
        # q_knn_graph_ann: oracled since r11 (VERDICT r10 #4 — exact-twin
        # n_vectors/n_exact_edges hash-checked + edge-recall>=0.85 boolean
        # pinned TRUE; the Gaussian plane family is not SQL-replicable)
        # q_gen_addresses: oracled since r7 (md5-derived fields)
        "q_sample",  # engine-specific PRNG
        # q_agg_percentile_approx: oracled since r7 (rank-error bounds vs
        # exact quantiles — the sketch CONTRACT is the hashed output)
        "q_multimodal_frames",  # deterministic stub decode (no codecs in image)
        "q_multimodal_audio",  # synthetic codec via mapInPandas (like frames)
        "q_stream_live_eviction",  # no batch SQL computes "state at the time
        # the watermark passed"; row-exact pytest instead (test_streaming)
    }
    assert rows_only <= allowed_rows_only, rows_only


def test_registered_count_matches_survey_scale():
    # SURVEY §2 promises ~50 Tier-B + 7 Tier-C; with extensions the registry
    # should stay comfortably above that floor.
    assert len(all_query_callables()) >= 75


def test_grading_queue_invariants():
    """The grader checks ~50 queries in dict order per round. On the
    committed records and manifest, every registered query has a manifest
    entry, the emitted order is the derived priority order, and the front
    is exactly the queries changed after their r12 verdicts (since=12: no
    verdict describes their code yet) — the four connected-components
    queries, q_dedup_near (its MinHash plan now runs on the shared
    near-dup kernels) and q_knn_graph (its exact/ANN cut now reads the
    shared pairwise knob) — in registration order."""
    from quarkus_etl_spark.queries.base import correctness_records, grading_priority, load_manifest

    records, manifest = correctness_records(), load_manifest()
    names = list(all_query_callables())
    assert set(names) <= set(manifest)
    prio = [grading_priority(n, records, manifest) for n in names]
    assert prio == sorted(prio)
    front = ["q_dedup_near", "q_dedup_cluster", "q_dedup_canonical",
             "q_dedup_canonical_best", "q_knn_graph", "q_dedup_soft"]
    assert [n for n, p in zip(names, prio) if p[0] == 0] == front == names[:6]
    # q_dedup_near is rows-only, so the oracle order skips it
    assert list(all_oracles())[:5] == front[1:]


def test_grading_order_fabricated_world(monkeypatch, tmp_path):
    """Round 3 is the newest record. `drifted` was rewritten after its r2
    pass (since=2), `failed` failed last, `fresh`/`rows_only` were never
    graded, `stale`/`rows`/`current` hold conclusive verdicts on their
    current code."""
    import json

    from quarkus_etl_spark.queries import base

    ok = {"hash_match": True, "err": None}
    records = {
        1: {"stale": ok, "failed": ok, "rows": {"hash_match": None, "err": "no_oracle"}},
        2: {"drifted": ok, "current": ok},
        3: {"failed": {"hash_match": False, "err": None}},
    }
    manifest = {n: {"src": "s", "since": 2 if n == "drifted" else 0}
                for n in ("drifted", "failed", "stale", "current", "rows")}
    (tmp_path / "fp.json").write_text(json.dumps(manifest))
    monkeypatch.setattr(base, "correctness_records", lambda: records)
    monkeypatch.setattr(base, "MANIFEST", str(tmp_path / "fp.json"))
    for n in ("fresh", "drifted", "failed", "stale", "current"):
        monkeypatch.setitem(base.ORACLES, n, "SELECT 1")
    registered = ["current", "stale", "rows_only", "fresh", "failed", "rows", "drifted"]
    assert {n: base.grading_priority(n, records, manifest) for n in registered} == {
        "drifted": (0, 0), "failed": (0, 0), "fresh": (1, 0), "rows_only": (2, 0),
        "stale": (3, 1), "rows": (3, 1), "current": (3, 2),
    }
    # a name without a manifest entry counts as written in the newest round
    assert base.grading_priority("stale", records, {}) == (0, 0)
    order = list(base._grading_order(dict.fromkeys(registered)))
    assert order == ["failed", "drifted", "fresh", "rows_only", "stale", "rows", "current"]
    monkeypatch.setattr(base, "MANIFEST", str(tmp_path / "missing.json"))
    assert list(base._grading_order(dict.fromkeys(registered))) == registered


def test_fingerprint_write_sets_since_on_changed_entries():
    """`--write` keeps `since` on an unchanged fingerprint and sets it to
    the newest round on a changed or new one, which requeues the query."""
    from tools.fingerprint import with_since

    manifest = {"same": {"src": "a", "since": 4}, "changed": {"src": "a", "since": 4}}
    current = {"same": {"src": "a"}, "changed": {"src": "DRIFTED"}, "new": {"src": "n"}}
    assert with_since(current, manifest, 9) == {
        "same": {"src": "a", "since": 4},
        "changed": {"src": "DRIFTED", "since": 9},
        "new": {"src": "n", "since": 9},
    }


def test_fingerprint_manifest_consistency():
    """Every registered query's implementation source and oracle SQL must
    match the committed fingerprint manifest. A mismatch means the manifest
    was not regenerated after a change: run `python -m tools.fingerprint
    --write`, which also requeues the query for a fresh verdict. (The
    plan-level part, which also catches shared-operator changes, is
    checked by `python -m tools.fingerprint --check` — it needs a live
    session per query, too heavy for every pytest run.)"""
    from tools.fingerprint import cheap_fingerprints, diff_against_manifest, load_manifest

    manifest = load_manifest()
    assert manifest, "tools/fingerprints.json missing — run tools.fingerprint --write"
    assert diff_against_manifest(cheap_fingerprints(), manifest) == []


def test_fingerprint_drift_detection_fires():
    """The manifest gate must fail on drift of any part and on a missing
    entry, and stay quiet on an unchanged entry (`since` is not a part)."""
    from tools.fingerprint import diff_against_manifest

    manifest = {"q_a": {"src": "AA", "oracle": "BB", "plan": "CC", "since": 3},
                "q_b": {"src": "AA", "oracle": "BB", "plan": "CC", "since": 0}}
    current = {"q_a": {"src": "AA", "oracle": "BB", "plan": "DRIFTED"},
               "q_b": {"src": "AA", "oracle": "BB", "plan": "CC"},
               "q_c": {"src": "AA", "oracle": "BB", "plan": "CC"}}
    problems = diff_against_manifest(current, manifest)
    assert len(problems) == 2
    assert problems[0].startswith("q_a: plan fingerprint drifted")
    assert problems[1].startswith("q_c: no manifest entry")


def test_plan_fingerprint_ignores_default_parallelism():
    """ensure_parallelism repartitions to defaultParallelism and
    spark.range() splits into it, so that value is normalized out; an
    explicit count is not. Normalizing by the host's default lost an
    explicit count equal to it (numPartitions=8 on an 8-core host read as
    the default), so the fingerprint session pins the default to
    PINNED_PARALLELISM, which no query uses explicitly."""
    from tools.fingerprint import PINNED_PARALLELISM, _norm_plan, _sha

    plan = ("Join Inner\n:- Repartition {0}, true\n:  +- Relation [a#1] parquet\n"
            "+- Range (0, 4, step=1, splits=Some({1}))\n")
    at4 = _sha(_norm_plan(plan.format(4, 4), "/sf", 4))
    at32 = _sha(_norm_plan(plan.format(32, 32), "/sf", 32))
    assert at4 == at32
    assert _sha(_norm_plan(plan.format(4, 7), "/sf", 4)) != at4
    assert _sha(_norm_plan(plan.format(32, 7), "/sf", 32)) != at32
    # 8-core collision: host-sized, the explicit 8 collapses into the token
    p = PINNED_PARALLELISM
    assert p != 8
    default = _norm_plan(plan.format(p, p), "/sf", p)
    assert _norm_plan(plan.format(8, 8), "/sf", 8) == default
    # pinned, it stays in the hash
    explicit8 = _norm_plan(plan.format(p, 8), "/sf", p)
    assert "splits=Some(8))" in explicit8 and explicit8 != default


def test_plan_fingerprint_refuses_unpinned_session(spark):
    """A plan hash from a session whose default parallelism is not the
    pinned one would not compare with the manifest; it is refused before
    the query is planned."""
    from tools.fingerprint import PINNED_PARALLELISM, plan_fingerprint

    if spark.sparkContext.defaultParallelism == PINNED_PARALLELISM:
        pytest.skip("test session happens to run at the pinned parallelism")
    with pytest.raises(RuntimeError, match="spark.default.parallelism"):
        plan_fingerprint(spark, "/sf", lambda *_: pytest.fail("planned"))


def test_type_skew_manifest_is_frozen_and_wellformed():
    """VERDICT r6 #4: the known width-skew inventory is a frozen manifest,
    not a count — a 35th skew must fail the round gate
    (`python -m tools.type_audit --check`) NAMING the column. This
    structural test pins the manifest itself: exactly the reviewed 34
    entries, each a query.column key with a spark=/oracle= description for
    a REGISTERED oracled query."""
    import json

    from quarkus_etl_spark.queries.base import all_oracles
    from tools.type_audit import MANIFEST

    with open(MANIFEST) as fh:
        known = json.load(fh)
    assert len(known) == 34, f"known-skew inventory changed: {len(known)}"
    oracled = set(all_oracles())
    for key, val in known.items():
        name, _, col = key.partition(".")
        assert name in oracled and col, key
        assert val.startswith("spark=") and " oracle=" in val, (key, val)


def test_plan_marker_manifest_is_frozen_and_wellformed():
    """tools/plan_markers.json (the plan_audit round gate) stays reviewed:
    CartesianProduct EMPTY, Python-boundary nodes exactly the SURVEY-§2
    UDF/multimodal names, and the hash-demotion (SortAggregate) +
    nested-loop (BNLJ) lists at their reviewed sizes. The live sweep
    itself is `python -m tools.plan_audit --check` (needs a session)."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "plan_markers.json",
    )
    with open(path) as f:
        frozen = json.load(f)
    assert frozen["CartesianProduct"] == []
    assert frozen["BatchEvalPython"] == ["q_udf_scalar", "q_udtf_python"]
    assert frozen["ArrowEvalPython"] == ["q_udf_arrow", "q_udf_pandas"]
    assert frozen["MapInPandas"] == ["q_multimodal_audio", "q_multimodal_frames"]
    assert frozen["MapInArrow"] == ["q_udf_mapinarrow"]
    assert frozen["ArrowWindowPython"] == ["q_udf_window_pandas"]
    assert frozen["FlatMapGroupsInPandas"] == ["q_udaf_grouped"]
    assert frozen["FlatMapCoGroupsInPandas"] == ["q_udf_cogroup"]
    # every python-boundary name is a SURVEY-declared python-API query —
    # no engine hot path leaks into a Python worker
    py = {
        n
        for k, v in frozen.items()
        for n in v
        if k not in ("BroadcastNestedLoopJoin", "SortAggregate", "CartesianProduct")
    }
    assert all(n.startswith(("q_udf_", "q_udtf_", "q_udaf_", "q_multimodal_")) for n in py)
    # reviewed hash-demotions: string-extreme outputs + the two documented
    # overflow-safe packed string keys
    assert frozen["SortAggregate"] == [
        "q_attribution",
        "q_dedup_canonical_best",
        "q_dq_profile",
        "q_emb_pq",
        "q_fn_collate",
        "q_shard_manifest",
    ]
    # 33 = the 32 reviewed through r10 + q_knn_graph_ann's r11 recall-
    # contract assembly (one 1-row aggregate crossJoin — bounded by
    # construction; q_sim_ann_ivf's contract row is a single LEFT
    # equi-join + aggregate, no BNLJ).
    assert len(frozen["BroadcastNestedLoopJoin"]) == 33
