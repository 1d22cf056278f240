"""Regenerate ``expected.json``: the stored output of every query item.

    python3 perfbench/make_expected.py

Run from the root of a checkout. Row count and value digest come from the
item's DuckDB oracle (``oracle_sql()``) over the benchmark's fixed fixtures;
an item without an oracle (approximate results) stores the row count only,
taken from Spark. Spark's own digest is compared with the
oracle's on the way, so a fixture on which engine and oracle disagree is
reported instead of stored.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import fixtures
    from perfbench.check import oracle_result, spark_result
    from perfbench.run import WORK, _confine_to_checkout
    from perfbench.workloads import QueryWorkload, workloads
    from quarkus_etl_spark.queries import all_oracles, all_query_callables
    from quarkus_etl_spark.session import get_spark
    from quarkus_etl_spark.verify import duck_connection

    conf = _confine_to_checkout(len(os.sched_getaffinity(0)))
    fx = fixtures.write(os.path.join(WORK, "fixtures", fixtures.cache_key()))
    spark = get_spark("perfbench-expected", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(fx)
    queries, oracles = all_query_callables(), all_oracles()
    out, bad = {}, []
    for w in workloads().values():
        if not isinstance(w, QueryWorkload):
            continue
        for name in w.items:
            rows, got = spark_result(queries[name](spark, fx))
            entry = {"rows": rows, "digest": None, "source": "spark rows"}
            if name in oracles:
                o_rows, o_digest = oracle_result(con, oracles[name])
                entry = {"rows": o_rows, "digest": o_digest, "source": "oracle"}
                if (rows, got) != (o_rows, o_digest):
                    bad.append(name)
            out[name] = entry
            print(f"{name:28s} {entry['source']:10s} rows={entry['rows']}"
                  f"{'  SPARK DIFFERS' if name in bad else ''}", flush=True)
    spark.stop()
    if bad:
        print(f"engine and oracle disagree on {bad}; expected.json not written")
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
