"""The benchmark's workloads: what one pass runs and how its outputs are checked.

Every workload is a closed loop with one client: a single driver thread
calls the engine's public functions one item after the other. A pass runs
every item of the workload once, in an order drawn from the run's seed.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

from .check import spark_result
from .trace import ExecCounters, StreamCounters, stream_counters


@dataclass
class ItemRun:
    """One call of one item, with its span split and counters."""

    name: str
    wall_s: float = 0.0
    cpu_s: float = 0.0  # CPU of the whole call, JIT compiler threads apart
    jit_cpu_s: float = 0.0  # CPU of the JIT compiler threads meanwhile
    build_s: float = 0.0  # construction self time (streaming triggers excluded)
    plan_s: float = 0.0  # forced planning span (traced runs only)
    exec_s: float = 0.0  # execution: the execute span plus streaming triggers
    catalyst_s: float = 0.0  # analysis + optimization + planning phases (traced)
    rows: int = 0  # rows the item moved: written, streamed in, or returned
    ok: bool = True
    error: str = ""
    build_jobs: int = 0
    exec: ExecCounters = field(default_factory=ExecCounters)
    stream: StreamCounters = field(default_factory=StreamCounters)
    startup_s: float = 0.0  # streaming: the stream call's wall outside its triggers
    bytes_written: int = 0
    files_written: int = 0


@dataclass
class Ctx:
    """What a workload needs from the run: session, paths, tracing."""

    spark: object
    probe: object  # trace.SparkProbe
    spans: object  # trace.Spans
    fixtures: str
    work: str  # scratch root of this run inside the checkout
    seed: int
    traced: bool
    listener: object = None
    expected: dict = field(default_factory=dict)


def _fail(run: ItemRun, exc: Exception) -> ItemRun:
    run.ok = False
    run.error = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"[:300]
    return run


class QueryWorkload:
    """Registered queries executed into a noop sink (the check pass collects
    them instead and compares row count and value digest)."""

    streams = False

    def __init__(self, name: str, why: str, items: tuple[str, ...]):
        self.name, self.why, self.items = name, why, items

    def order(self, rng: random.Random) -> list[str]:
        names = list(self.items)
        rng.shuffle(names)
        return names

    def setup_catalog(self, ctx: Ctx) -> None:
        from quarkus_etl_spark.catalog import register_views

        register_views(ctx.spark, ctx.fixtures)

    def setup_inputs(self, ctx: Ctx) -> None:
        """Seeded inputs; the query workloads read only the fixed fixtures."""

    def run_item(self, ctx: Ctx, name: str, tag: str, check: bool) -> ItemRun:
        from quarkus_etl_spark.queries import all_query_callables

        run = ItemRun(name)
        spans, probe = ctx.spans, ctx.probe
        g_build, g_exec = f"{tag}:{name}:build", f"{tag}:{name}:exec"
        item = spans.open("item", name)
        try:
            b = spans.open("build", name, item)
            probe.group(g_build)
            df = all_query_callables()[name](ctx.spark, ctx.fixtures)
            build_wall = spans.close(b)
            if ctx.traced:
                p = spans.open("plan", name, item)
                run.catalyst_s = probe.plan_phases_s(df)
                run.plan_s = spans.close(p)
            e = spans.open("execute", name, item)
            probe.group(g_exec)
            if check:
                run.rows, got = spark_result(df)
                want = ctx.expected.get(name)
                if want is None:
                    raise LookupError(f"no expected output stored for {name}")
                if run.rows != want["rows"] or want.get("digest") not in (None, got):
                    raise AssertionError(
                        f"output mismatch: rows {run.rows} (want {want['rows']}), "
                        f"digest {got[:12]} (want {str(want.get('digest'))[:12]})"
                    )
            else:
                df.write.format("noop").mode("overwrite").save()
                run.rows = ctx.expected.get(name, {}).get("rows", 0)
            exec_wall = spans.close(e)
        except Exception as exc:  # noqa: BLE001 - a failed item is counted, the run goes on
            _close_open(spans)
            return _fail(run, exc)
        run.wall_s = spans.close(item)
        run.build_s, run.exec_s = build_wall, exec_wall
        if ctx.traced or self.streams:
            probe.drain()
        if self.streams:
            # the micro-batches run inside the call: their triggers are
            # execution, the rest of the call is construction and startup
            run_ids, progress = ctx.listener.take()
            run.stream = stream_counters(progress)
            spans.add_triggers(progress, b, name)
            run.build_s = run.startup_s = spans.self_time(b)
            run.exec_s = exec_wall + build_wall - run.build_s
            if not check:
                run.rows = run.stream.input_rows
        else:
            run_ids = []
        if ctx.traced:
            run.build_jobs = len(probe.job_ids(g_build))
            run.exec = probe.counters([g_exec, *run_ids])
        return run


class StreamWorkload(QueryWorkload):
    """Live file-source streams; each query runs its own micro-batch stream
    to completion inside the call, so execution sits in the build span and
    is split out through the streaming listener."""

    streams = True


def _dir_usage(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's hidden and marker files
    are not counted."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class EtlWorkload:
    """A config-driven job list on ``JobRunner`` (the reference's use case):
    DDL, ``INSERT ... SELECT`` from ``etl_source`` and native sinks, over
    seeded generated addresses plus the fixed fixtures; and the streaming
    form of the same copy (the reference's producer/consumer loop): a
    file-source stream of the events landing files through
    ``stream_etl_job``'s foreachBatch sink into parquet."""

    streams = True
    STREAM_ITEM = "events_stream"
    ADDRESSES = 50_000
    ADDRESS_FILES = 8

    def __init__(self, name: str, why: str):
        self.name, self.why = name, why
        self._jobs = None
        self._runner = None

    def paths(self, ctx: Ctx) -> dict[str, str]:
        out = os.path.join(ctx.work, "etl")
        return {
            "addresses": os.path.join(out, "addresses"),
            "rollup": os.path.join(out, "address_rollup"),
            "extract": os.path.join(out, "address_extract_ca"),
            "lineitem": os.path.join(out, "lineitem_copy"),
            "orders": os.path.join(out, "orders_by_nation"),
            "table": os.path.join(ctx.work, "warehouse", "addrx"),
            "stream": os.path.join(out, "events_stream"),
            "checkpoint": os.path.join(out, "events_stream_checkpoint"),
        }

    def job_dicts(self, ctx: Ctx) -> list[dict]:
        p = self.paths(ctx)
        return [
            {"name": "table_create", "extract": "SELECT 1 AS one",
             "write": "CREATE TABLE IF NOT EXISTS addrx (id BIGINT, street_address STRING, "
                      "city STRING, state STRING, postal_code STRING, country STRING) "
                      "USING parquet"},
            {"name": "address_copy", "extract": "SELECT * FROM addresses",
             "write": "INSERT OVERWRITE TABLE addrx SELECT * FROM etl_source"},
            {"name": "address_rollup",
             "extract": "SELECT state, city, country, count(*) AS n, "
                        "count(DISTINCT postal_code) AS zips FROM addresses "
                        "GROUP BY state, city, country",
             "write": {"format": "parquet", "path": p["rollup"], "mode": "overwrite"}},
            {"name": "address_extract",
             "extract": "SELECT id, street_address, postal_code FROM addresses "
                        "WHERE state = 'CA' AND country = 'USA'",
             "write": {"format": "csv", "path": p["extract"], "mode": "overwrite",
                       "options": {"header": "true"}}},
            {"name": "lineitem_copy", "extract": "SELECT * FROM lineitem",
             "write": {"format": "parquet", "path": p["lineitem"], "mode": "overwrite"}},
            {"name": "orders_by_nation",
             "extract": "SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, c.c_name, "
                        "n.n_name FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
                        "JOIN nation n ON c.c_nationkey = n.n_nationkey",
             "write": {"format": "parquet", "path": p["orders"], "mode": "overwrite",
                       "partition_by": ["N_NAME"]}},
            {"name": "address_readback", "extract": "SELECT * FROM addrx"},
        ]

    @property
    def items(self) -> tuple[str, ...]:
        return ("table_create", "address_copy", "address_rollup",
                "address_extract", "lineitem_copy", "orders_by_nation", self.STREAM_ITEM,
                "address_readback")

    def order(self, rng: random.Random) -> list[str]:
        """DDL first and the readback last; the loads between in seed order."""
        middle = list(self.items[1:-1])
        rng.shuffle(middle)
        return [self.items[0], *middle, self.items[-1]]

    def setup_catalog(self, ctx: Ctx) -> None:
        from quarkus_etl_spark.catalog import register_views

        register_views(ctx.spark, ctx.fixtures, ("customer", "nation", "orders", "lineitem"))

    def setup_inputs(self, ctx: Ctx) -> None:
        """The reference's import step: seeded addresses as parquet files."""
        from quarkus_etl_spark.config import jobs_from_dicts
        from quarkus_etl_spark.jobs import JobRunner
        from quarkus_etl_spark.operators.generator import gen_addresses

        path = self.paths(ctx)["addresses"]
        gen_addresses(ctx.spark, n=self.ADDRESSES, seed=ctx.seed).repartition(
            self.ADDRESS_FILES
        ).write.mode("overwrite").parquet(path)
        ctx.spark.read.parquet(path).createOrReplaceTempView("addresses")
        self._jobs = {j.name: j for j in jobs_from_dicts(self.job_dicts(ctx))}
        self._runner = JobRunner(ctx.spark)

    def _target(self, ctx: Ctx, name: str) -> str | None:
        p = self.paths(ctx)
        return {"address_copy": p["table"], "address_rollup": p["rollup"],
                "address_extract": p["extract"], "lineitem_copy": p["lineitem"],
                "orders_by_nation": p["orders"], self.STREAM_ITEM: p["stream"]}.get(name)

    def _stream(self, ctx: Ctx) -> None:
        """Stream the landing files, two per micro-batch, through the
        foreachBatch parquet sink until all are processed."""
        import shutil

        from quarkus_etl_spark.config import WriteTarget
        from quarkus_etl_spark.streaming.streams import file_stream, stream_etl_job

        p = self.paths(ctx)
        shutil.rmtree(p["stream"], ignore_errors=True)
        shutil.rmtree(p["checkpoint"], ignore_errors=True)
        source = file_stream(ctx.spark, os.path.join(ctx.fixtures, "events_stream"),
                             max_files_per_trigger=2)
        q = stream_etl_job(source, WriteTarget(format="parquet", path=p["stream"]),
                           p["checkpoint"])
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def run_item(self, ctx: Ctx, name: str, tag: str, check: bool) -> ItemRun:
        run = ItemRun(name)
        spans, probe = ctx.spans, ctx.probe
        group = f"{tag}:{name}:exec"
        item = spans.open("item", name)
        try:
            if ctx.traced and name != self.STREAM_ITEM:
                p = spans.open("plan", name, item)
                probe.group(f"{tag}:{name}:plan")
                run.catalyst_s = probe.plan_phases_s(self._runner.extract(self._jobs[name]))
                run.plan_s = spans.close(p)
            e = spans.open("execute", name, item)
            probe.group(group)
            if name == self.STREAM_ITEM:
                self._stream(ctx)
                rows = None
            else:
                rows = self._runner.run_job(self._jobs[name]).rows
            run.exec_s = spans.close(e)
        except Exception as exc:  # noqa: BLE001 - a failed item is counted, the run goes on
            _close_open(spans)
            return _fail(run, exc)
        run.wall_s = spans.close(item)
        probe.drain()
        run_ids, progress = ctx.listener.take()
        if name == self.STREAM_ITEM:
            run.stream = stream_counters(progress)
            spans.add_triggers(progress, e, name)
            run.startup_s = spans.self_time(e)
            rows = run.stream.input_rows
        target = self._target(ctx, name)
        run.rows = rows if target else 0
        if ctx.traced:
            run.exec = probe.counters([group, *run_ids])
            if target:
                run.bytes_written, run.files_written = _dir_usage(target)
        if check:
            try:
                self._check(ctx, name, rows)
            except AssertionError as exc:
                return _fail(run, exc)
        return run

    # Each written target: the DuckDB source query whose rows it must hold,
    # and the columns its order-insensitive checksum covers.
    _CHECKSUMS = {
        "address_copy": ("SELECT * FROM addresses",
                         "id, street_address, city, state, postal_code, country"),
        "address_rollup": ("SELECT state, city, country, count(*) AS n, "
                           "count(DISTINCT postal_code) AS zips FROM addresses "
                           "GROUP BY state, city, country", "state, city, country, n, zips"),
        "address_extract": ("SELECT id, street_address, postal_code FROM addresses "
                            "WHERE state = 'CA' AND country = 'USA'",
                            "id::BIGINT, street_address, postal_code::VARCHAR"),
        "lineitem_copy": ("SELECT * FROM lineitem",
                          "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
                          "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
                          "l_shipdate::TIMESTAMP"),
        "orders_by_nation": ("SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, c.c_name, "
                             "n.n_name FROM orders o JOIN customer c ON o.o_custkey = "
                             "c.c_custkey JOIN nation n ON c.c_nationkey = n.n_nationkey",
                             "o_orderkey, o_orderdate::TIMESTAMP, o_totalprice, c_name, n_name"),
        "events_stream": ("SELECT * FROM events",
                          "event_id, ts::TIMESTAMP, user_id, event_type, value, props"),
    }
    _CHECKSUMS["address_readback"] = _CHECKSUMS["address_copy"]

    def _readback(self, ctx: Ctx, name: str) -> str:
        p = self.paths(ctx)
        return {
            "address_copy": f"read_parquet('{p['table']}/*.parquet')",
            "address_readback": f"read_parquet('{p['table']}/*.parquet')",
            "address_rollup": f"read_parquet('{p['rollup']}/*.parquet')",
            "address_extract": f"read_csv('{p['extract']}/*.csv', header=true, all_varchar=true)",
            "lineitem_copy": f"read_parquet('{p['lineitem']}/*.parquet')",
            "orders_by_nation": f"read_parquet('{p['orders']}/*/*.parquet', hive_partitioning=true)",
            self.STREAM_ITEM: f"read_parquet('{p['stream']}/*.parquet')",
        }[name]

    def _check(self, ctx: Ctx, name: str, rows: int) -> None:
        """The item's row count and a readback of what it wrote, both against
        DuckDB over the same input files: (count, checksum) must match."""
        if name not in self._CHECKSUMS:
            return
        import duckdb

        source, cols = self._CHECKSUMS[name]
        checksum = "SELECT count(*), coalesce(sum(hash({})::HUGEINT), 0)::VARCHAR FROM ({})"
        with duckdb.connect() as con:
            con.execute("SET TimeZone = 'UTC'")
            con.execute("CREATE VIEW addresses AS SELECT * FROM "
                        f"read_parquet('{self.paths(ctx)['addresses']}/*.parquet')")
            for t in ("customer", "nation", "orders", "lineitem", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{ctx.fixtures}/{t}.parquet')")
            want = con.execute(checksum.format(cols, source)).fetchone()
            got = con.execute(checksum.format(
                cols, f"SELECT * FROM {self._readback(ctx, name)}")).fetchone()
        if rows != want[0]:
            raise AssertionError(f"{name}: reported {rows} rows, want {want[0]}")
        if tuple(got) != tuple(want):
            raise AssertionError(f"{name}: readback {tuple(got)}, want {tuple(want)}")


def _close_open(spans) -> None:
    import time

    now = time.perf_counter()
    for s in spans.spans:
        if not s.end:
            s.end = now


def workloads() -> dict:
    """Fresh workload objects by name (a run keeps its own state in them).
    ``etl_load`` and ``curation`` are the benchmark's; ``analytic_sql`` and
    ``stream_live`` run the same way by hand (see README.md)."""
    return {w.name: w for w in (
        EtlWorkload(
            "etl_load",
            "The reference's own use case: a config job list (DDL, INSERT-SELECT, "
            "native sinks) and its streaming form, so jobs, config, writers and "
            "streaming do the work.",
        ),
        QueryWorkload(
            "analytic_sql",
            "Extract-style SQL (joins, aggregates, subqueries, windows) bound by "
            "planning and execution, with no construction-time jobs.",
            ("q_agg_groupby", "q_join_multiway", "q_tpch_q3_shape", "q_tpch_q5_shape",
             "q_tpch_q9_shape", "q_tpch_q18_shape", "q_subq_exists_corr", "q_cte",
             "q_win_rank", "q_win_moving"),
        ),
        QueryWorkload(
            "curation",
            "LLM-data operators whose frames fire Spark jobs while they are built; "
            "where operator and plan-tuning work lands.",
            ("q_dedup_cluster", "q_corpus_pipeline", "q_text_quality"),
        ),
        StreamWorkload(
            "stream_live",
            "Real file-source micro-batch streams, the only path through streaming/; "
            "startup-bound, so the micro-batch split matters.",
            ("q_stream_live_tumbling", "q_stream_live_dedup"),
        ),
    )}
