"""The repository benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. A run sets up the engine (session, catalog,
seeded inputs, a pass that checks every item's output, two warm-up passes),
then repeats timed passes over the workload's items for ``--seconds`` (at
least three passes), and prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones (see
``metrics.py``); the traced run also writes its spans and per-item counters
to ``.perfbench/trace/``. All files it writes stay under ``.perfbench/`` and
the engine's own scratch directories in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
MIN_PASSES = 3
SETUP_REPEATS = 3
WARM_PASSES = 2
DRIVER_MEMORY = "3g"


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _confine_to_checkout(cores: int) -> dict[str, str]:
    """Keep every temporary file of Python, the JVM and Spark inside the
    checkout, and size the engine to this machine."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # every JVM, spark-submit's launcher too: temp files here, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                     "-XX:-UseDynamicNumberOfCompilerThreads")
    warehouse = os.path.join(WORK, "warehouse")
    shutil.rmtree(warehouse, ignore_errors=True)
    return {
        "spark.sql.warehouse.dir": warehouse,
        "spark.ui.showConsoleProgress": "false",
    }


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args: argparse.Namespace, workload):
        from perfbench import fixtures
        from perfbench.trace import Spans

        self.args = args
        self.workload = workload
        self.rng = random.Random(args.seed)
        self.cores = len(os.sched_getaffinity(0))
        self.conf = _confine_to_checkout(self.cores)
        self.fixtures = fixtures.write(os.path.join(WORK, "fixtures", fixtures.cache_key()))
        with open(os.path.join(HERE, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.spans = Spans()
        self.items: list = []  # every ItemRun, warm-up included
        self.passes: list[list] = []  # ItemRuns of each timed pass
        self.setup: dict[str, float] = {}
        self.retained: list[int] = []
        self.spark = None

    # -- set-up ------------------------------------------------------------
    def _session(self):
        from quarkus_etl_spark.session import get_spark

        spark = get_spark(f"perfbench-{self.workload.name}", extra_conf=self.conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def set_up(self) -> None:
        """Launch once, then three full set-ups (session, catalog, seeded
        inputs) of which the median counts, then the check pass and the
        warm-up passes."""
        from perfbench.trace import CpuClock, SparkProbe
        from perfbench.workloads import Ctx

        t0 = time.perf_counter()
        self._session().stop()  # interpreter imports + JVM launch
        launch = time.perf_counter() - t0
        self.cpu = CpuClock()
        reps = []
        for _ in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            a = time.perf_counter()
            self.spark = self._session()
            b = time.perf_counter()
            self.ctx = Ctx(self.spark, SparkProbe(self.spark), self.spans, self.fixtures,
                           WORK, self.args.seed, bool(self.args.trace),
                           expected=self.expected)
            self.workload.setup_catalog(self.ctx)
            c = time.perf_counter()
            self.workload.setup_inputs(self.ctx)
            d = time.perf_counter()
            reps.append((b - a, c - b, d - c))
        if self.workload.streams:
            from perfbench.trace import stream_listener_class

            self.ctx.listener = stream_listener_class()()
            self.spark.streams.addListener(self.ctx.listener)
        w = time.perf_counter()
        # The warm-up runs the items in their listed order, whatever the
        # seed: the JIT compiles what runs first, and a seeded warm-up order
        # measurably shifted the steady state of the timed passes.
        listed = list(self.workload.items)
        self.items += self._pass("check", check=True, order=listed)
        # The JIT keeps compiling for several passes, and the CPU the engine
        # spends outside it falls for as long: the timed passes start at the
        # fourth.
        for i in range(WARM_PASSES):
            self.items += self._pass(f"w{i}", check=False, order=listed)
        warm = time.perf_counter() - w
        self.setup = {
            "launch_s": launch,
            "session.start_s": _median([r[0] for r in reps]),
            "catalog.load_s": _median([r[1] for r in reps]),
            "operators.gen_s": _median([r[2] for r in reps]),
            "rep_s": _median([sum(r) for r in reps]),
            "warmup_s": warm,
        }
        self.setup["setup_s"] = launch + self.setup["rep_s"] + warm
        print("perfbench: set-up " + ", ".join(f"{k} {v:.3f}" for k, v in self.setup.items()),
              file=sys.stderr)

    def _pass(self, tag: str, check: bool, order: list[str] | None = None) -> list:
        runs = []
        for name in order or self.workload.order(self.rng):
            before = self.cpu()
            r = self.workload.run_item(self.ctx, name, tag, check)
            after = self.cpu()
            r.cpu_s, r.jit_cpu_s = after[0] - before[0], after[1] - before[1]
            runs.append(r)
        return runs

    # -- timed passes ------------------------------------------------------
    def measure(self) -> None:
        """Timed passes until the next one, as long as the last, would end
        past ``--seconds`` (at least ``MIN_PASSES``)."""
        start = time.perf_counter()
        n, last = 0, 0.0
        while n < MIN_PASSES or time.perf_counter() - start + last <= self.args.seconds:
            a = time.perf_counter()
            runs = self._pass(f"p{n}", check=False)
            last = time.perf_counter() - a
            self.passes.append(runs)
            self.items += runs
            if self.args.trace:
                self.retained.append(self.ctx.probe.retained_bytes())
            n += 1

    # -- results -----------------------------------------------------------
    def item_medians(self, attr: str) -> dict[str, float]:
        """Each item's median ``attr`` over the timed passes."""
        values: dict[str, list[float]] = {}
        for p in self.passes:
            for r in p:
                values.setdefault(r.name, []).append(getattr(r, attr))
        return {name: _median(v) for name, v in values.items()}

    def end_to_end(self) -> tuple[dict[str, float], dict[str, float]]:
        """(the metrics of BENCHMARK.json, the wall-clock ones printed
        beside them). A pass's CPU and wall are each the sum of per-item
        medians, which one slow call cannot move much; rows_per_s is one
        pass's rows over its wall."""
        walls = self.item_medians("wall_s")
        wall = sum(walls.values())
        rows = _median([sum(r.rows for r in p) for p in self.passes])
        return {
            "cpu_s": sum(self.item_medians("cpu_s").values()),
            "setup_s": self.setup["setup_s"],
        }, {
            "wall_s": wall,
            "item_p50_s": _median(list(walls.values())),
            "rows_per_s": rows / wall if wall else 0.0,
        }

    def per_layer(self) -> dict[str, float]:
        per_pass = [self._layer_pass(p) for p in self.passes]
        out = {k: _median([d[k] for d in per_pass]) for k in per_pass[0]}
        out["session.start_s"] = self.setup["session.start_s"]
        out["catalog.load_s"] = self.setup["catalog.load_s"]
        out["operators.gen_s"] = self.setup["operators.gen_s"]
        out["plans.retained_bytes"] = _median(self.retained)
        out["jvm.peak_rss_mb"] = self.ctx.probe.jvm_peak_rss_mb()
        return out

    def _layer_pass(self, runs: list) -> dict[str, float]:
        ex = [r.exec for r in runs]
        st = [r.stream for r in runs]
        exec_s = sum(r.exec_s for r in runs)
        cpu_s = sum(e.cpu_s for e in ex)
        top = sum(e.top_stage_wall_s for e in ex)
        d = {
            "jvm.jit_cpu_s": sum(r.jit_cpu_s for r in runs),
            "queries.build_s": sum(r.build_s for r in runs),
            "queries.build_jobs": sum(r.build_jobs for r in runs),
            "catalyst.plan_s": sum(r.catalyst_s for r in runs),
            "exec.s": exec_s,
            "exec.jobs": sum(e.jobs for e in ex),
            "exec.stages": sum(e.stages for e in ex),
            "exec.tasks": sum(e.tasks for e in ex),
            "exec.cpu_s": cpu_s,
            "exec.core_util": cpu_s / (exec_s * self.cores) if exec_s else 0.0,
            "exec.max_task_share": (
                sum(e.top_stage_max_task_share * e.top_stage_wall_s for e in ex) / top
                if top else 0.0
            ),
            "exec.input_bytes": sum(e.input_bytes for e in ex),
            "exec.shuffle_read_bytes": sum(e.shuffle_read_bytes for e in ex),
            "exec.shuffle_write_bytes": sum(e.shuffle_write_bytes for e in ex),
            "exec.spill_bytes": sum(e.spill_bytes for e in ex),
            "jobs.run_s": 0.0 if self._queries() else sum(r.wall_s for r in runs),
            "jobs.rows": 0 if self._queries() else sum(r.rows for r in runs),
            "sources.bytes_written": sum(r.bytes_written for r in runs),
            "sources.files_written": sum(r.files_written for r in runs),
            "streaming.batches": sum(s.batches for s in st),
            "streaming.input_rows": sum(s.input_rows for s in st),
            "streaming.trigger_ms": sum(s.trigger_ms for s in st),
            "streaming.add_batch_ms": sum(s.add_batch_ms for s in st),
            "streaming.query_planning_ms": sum(s.query_planning_ms for s in st),
            "streaming.commit_ms": sum(s.commit_ms for s in st),
            "streaming.offsets_ms": sum(s.offsets_ms for s in st),
            "streaming.startup_s": sum(r.startup_s for r in runs),
            "streaming.state_rows": sum(s.state_rows for s in st),
        }
        return d

    def _queries(self) -> bool:
        from perfbench.workloads import QueryWorkload

        return isinstance(self.workload, QueryWorkload)

    def write_trace(self) -> str:
        from dataclasses import asdict

        out_dir = os.path.join(WORK, "trace")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.workload.name}-seed{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump({
                "workload": self.workload.name,
                "seed": self.args.seed,
                "setup": self.setup,
                "passes": [[asdict(r) for r in p] for p in self.passes],
                "spans": self.spans.dump(),
            }, fh, indent=1)
        return path

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it Spark's Python
        workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "quarkus_etl_spark")):
        print("perfbench: the engine package quarkus_etl_spark is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.metrics import END_TO_END, PER_LAYER, REPORTED
    from perfbench.workloads import workloads

    known = workloads()
    if args.workload not in known:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(known)}",
              file=sys.stderr)
        return 2
    run = Run(args, known[args.workload])
    try:
        run.set_up()
        run.measure()
        for attr in ("wall_s", "cpu_s"):
            print(f"perfbench: item {attr} " + json.dumps(
                [{r.name: round(getattr(r, attr), 4) for r in p} for p in run.passes]),
                file=sys.stderr)
        shown: dict[str, float] = {}
        if args.trace:
            values, units = run.per_layer(), {k: v[0] for k, v in PER_LAYER.items()}
            print(f"perfbench: trace written to {run.write_trace()}", file=sys.stderr)
        else:
            values, shown = run.end_to_end()
            units = {k: v[0] for k, v in {**END_TO_END, **REPORTED}.items()}
    finally:
        run.stop()
    failed = [r for r in run.items if not r.ok]
    for r in failed:
        print(f"perfbench: FAILED {r.name}: {r.error}", file=sys.stderr)
    attempted = len(run.items)
    passes = len(run.passes)
    print(f"{args.workload}: {passes} timed passes of {len(run.workload.items)} items, "
          f"{attempted} item calls; error_rate {len(failed) / attempted:.4f} (ratio)")
    for k, v in {**values, **shown}.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
