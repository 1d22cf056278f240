"""Query-implementation fingerprints: the input of the derived grading
queue (`queries.base.grading_priority`).

This tool freezes, per registered query, a fingerprint of everything that
determines its graded output:

- **src**  — sha256 of the query function's docstring-stripped AST dump
  (direct implementation edits; cheap, no Spark);
- **oracle** — sha256 of the DuckDB oracle SQL ('' for rows-only queries);
- **plan** — sha256 of the NORMALIZED analyzed logical plan at sf0.001
  (catches shared-operator changes the function source can't see).
  Session noise (exprIds, lambda counters, cache ids, pids, the fixture
  and repo paths) is normalized out, and the session pins
  `spark.default.parallelism` to PINNED_PARALLELISM, so the hash is the
  same on any host. Live-streaming queries
  (q_stream_live_*) EXECUTE a stream when called and return a
  memory-sink scan, so their plan part is skipped — src+oracle still
  fingerprint them, and their semantics are pinned row-exact in
  tests/test_streaming.py.

The committed manifest is `tools/fingerprints.json`. Each entry also
carries `since`: the newest `CORRECTNESS_r*.json` round that existed when
that fingerprint was first written, so only verdicts from later rounds
describe the current code. `--write` keeps `since` on an unchanged entry
and sets it to the newest round on a new or changed one — which is what
requeues a changed query at the front of the grading order. Run `--write`
after any change that moves a fingerprint; there is no separate requeue
step.

Enforcement: tests/test_coverage.py checks the CHEAP parts (src+oracle)
of every registered query on every pytest run; `python -m
tools.fingerprint --check` also checks the plan part with a live session.
Drift means the manifest was not regenerated after a change.
"""

from __future__ import annotations

import argparse
import ast
import hashlib
import inspect
import json
import os
import re
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from quarkus_etl_spark.queries.base import (  # noqa: E402
    MANIFEST,
    ORACLES,
    all_query_callables,
    correctness_records,
    load_manifest,
)

SF_DIR_DEFAULT = "/root/testdata/sf0.001"

# Queries whose callable executes a live micro-batch stream and returns a
# memory-sink scan: the analyzed plan of the RETURNED frame is just the
# sink table, so only src+oracle are fingerprinted.
_NO_PLAN_PREFIXES = ("q_stream_live_",)

_EXPR_ID = re.compile(r"#\d+")
_CACHE_ID = re.compile(r"\bcache_[0-9a-f]+\b")
# higher-order-function lambda variables print with a SESSION-GLOBAL
# counter ("lambda x_483#"): how many lambdas were planned earlier in the
# session leaks into the name — pure noise for fingerprinting
_LAMBDA_VAR = re.compile(r"(?<=lambda )([A-Za-z]+)_\d+#")


# The fingerprint session's spark.default.parallelism. ensure_parallelism
# repartitions to the default and spark.range() splits into it, so a
# session sized by the host's cores would put the core count in the plan;
# the normal form tokenizes that value. Pinning it to a count that no query
# asks for explicitly keeps every explicit count in the hash (an 8-core
# host's default once hid an explicit numPartitions=8).
PINNED_PARALLELISM = 5


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8", "surrogatepass")).hexdigest()[:20]


def _strip_docstrings(node: ast.AST) -> None:
    for n in ast.walk(node):
        if isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Module)
        ):
            body = getattr(n, "body", None)
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                n.body = body[1:] or [ast.Pass()]


def src_fingerprint(fn) -> str:
    """Docstring-stripped AST dump of the function — whitespace/comment/
    docstring edits don't move it; any code edit does."""
    src = textwrap.dedent(inspect.getsource(fn))
    tree = ast.parse(src)
    _strip_docstrings(tree)
    return _sha(ast.dump(tree))


def _norm_plan(plan: str, sf_dir: str, parallelism: int) -> str:
    plan = _LAMBDA_VAR.sub(r"\1_#", plan)
    plan = _EXPR_ID.sub("#", plan)
    plan = _CACHE_ID.sub("cache_", plan)
    plan = plan.replace(sf_dir, "<SF>").replace(REPO, "<REPO>")
    # q_join_bucketed registers PID-suffixed catalog tables/paths
    # (orders_bk_<sftag>_<pid>, .../bk_orders_<pid>) so concurrent harness
    # processes never collide — the suffix is session noise here. The
    # replacement is ANCHORED to the bk_ token: a bare str(pid)
    # substitution once mangled whichever query's float literals (probe
    # vectors, centroids) happened to contain the current PID's digit
    # run, flagging a different random victim every run.
    plan = re.sub(
        rf"(bk_[a-z0-9_]*?){os.getpid()}\b", r"\g<1><PID>", plan
    )
    # lifecycle scratch dirs are keyed .scratch/<sf>.pid<pid>/ since r11
    # (".pid" spelling per ADVICE r10 — a bare ".<pid>" suffix was
    # ambiguous against legitimate sf names like sf0.1 when the pid's
    # digits coincide, e.g. pid 1 in a container; ".pid" never occurs in a
    # scale-factor name so this strip can't mangle unrelated paths). The
    # pid is session noise exactly like the bk_ suffix above. It is
    # DROPPED (not replaced by a token): pre-r10 plans carried the bare
    # .scratch/<sf>/ path, so erasing the token reproduces the historical
    # normal form and the committed lifecycle fingerprints stay valid — a
    # path-only re-keying is not an implementation change and must not
    # look like one.
    plan = re.sub(
        rf"(\.scratch/[^/\s]*?)\.pid{os.getpid()}\b", r"\g<1>", plan
    )
    # ensure_parallelism round-robins to the session's defaultParallelism,
    # and spark.range() splits into it. Only that value, and only in those
    # two node shapes, becomes a token; an explicit repartition(n) or
    # range(..., numPartitions=n) with another n stays in the hash.
    plan = re.sub(
        rf"\bRepartition {parallelism}, true\b", "Repartition <P>, true", plan
    )
    plan = re.sub(
        rf"(\bRange \([^()]*splits=Some\(){parallelism}\)", r"\g<1><P>)", plan
    )
    return plan


def fingerprint_session():
    from quarkus_etl_spark.session import get_spark

    return get_spark(
        extra_conf={"spark.default.parallelism": str(PINNED_PARALLELISM)}
    )


def plan_fingerprint(spark, sf_dir: str, fn) -> str:
    if spark.sparkContext.defaultParallelism != PINNED_PARALLELISM:
        raise RuntimeError(
            "plan fingerprints need a session with spark.default.parallelism="
            f"{PINNED_PARALLELISM} (fingerprint_session()), got "
            f"{spark.sparkContext.defaultParallelism}"
        )
    df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    return _sha(_norm_plan(plan, sf_dir, PINNED_PARALLELISM))


def cheap_fingerprints() -> dict[str, dict[str, str]]:
    """src+oracle parts for every registered query. No Spark session."""
    qs = all_query_callables()
    return {
        name: {"src": src_fingerprint(fn), "oracle": _sha(ORACLES.get(name, ""))}
        for name, fn in qs.items()
    }


def full_fingerprints(spark, sf_dir: str) -> dict[str, dict[str, str]]:
    out = cheap_fingerprints()
    qs = all_query_callables()
    for name, fn in qs.items():
        if name.startswith(_NO_PLAN_PREFIXES):
            continue
        out[name]["plan"] = plan_fingerprint(spark, sf_dir, fn)
    return out


def diff_against_manifest(
    current: dict[str, dict[str, str]], manifest: dict[str, dict[str, str]]
) -> list[str]:
    """Human-readable drift list over every registered query and every
    part `current` carries."""
    problems = []
    for name, cur in sorted(current.items()):
        old = manifest.get(name)
        if old is None:
            problems.append(f"{name}: no manifest entry — regenerate (--write)")
            continue
        for part, v in cur.items():
            if old.get(part) != v:
                problems.append(
                    f"{name}: {part} fingerprint drifted — regenerate with "
                    "--write, which requeues it for a fresh verdict"
                )
    return problems


def with_since(
    current: dict[str, dict[str, str]], manifest: dict[str, dict], newest: int
) -> dict[str, dict]:
    """`current` with each entry's `since`: kept from the manifest when the
    fingerprint is unchanged, else `newest` (the newest grading round)."""
    out = {}
    for name, cur in current.items():
        old = dict(manifest.get(name, {}))
        since = old.pop("since", newest)
        out[name] = {**cur, "since": since if old == cur else newest}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--check", action="store_true",
                    help="compare every part of every registered query with "
                         "the manifest; exit nonzero on drift (the default "
                         "without --write)")
    ap.add_argument("--write", action="store_true",
                    help="regenerate the manifest; a new or changed entry gets "
                         "since = the newest round, which requeues it")
    ap.add_argument("--cheap", action="store_true",
                    help="check only src+oracle parts (no Spark session)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR_FP", SF_DIR_DEFAULT))
    args = ap.parse_args()
    if args.check and args.write:
        ap.error("--check and --write are mutually exclusive")

    if args.cheap and not args.write:
        current = cheap_fingerprints()
    else:
        current = full_fingerprints(fingerprint_session(), args.sf)

    manifest = load_manifest()
    if args.write:
        newest = max(correctness_records(), default=0)
        with open(MANIFEST, "w") as fh:
            json.dump(with_since(current, manifest, newest), fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(current)} fingerprints -> {MANIFEST}")
        return 0

    problems = diff_against_manifest(current, manifest)
    if problems:
        print(f"FINGERPRINT DRIFT ({len(problems)}):")
        for p in problems:
            print("  " + p)
        return 1
    print(f"fingerprints consistent: {len(current)} queries "
          f"({'cheap' if args.cheap else 'full'} check)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
