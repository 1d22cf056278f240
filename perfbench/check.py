"""Order-insensitive digest of a query result.

Cells are canonicalized the way the engine's differential harness does it
(``quarkus_etl_spark.verify._canon``: type-tagged numbers, -0.0 apart from
+0.0, lists as tuples, maps as sorted pairs); columns are taken in name
order and the digest is over the sorted row texts, so row order and column
order do not matter.
"""

from __future__ import annotations

import hashlib


def digest(columns: list[str], rows: list[tuple]) -> str:
    from quarkus_etl_spark.verify import _canon

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr([columns[i] for i in order]).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def spark_result(df) -> tuple[int, str]:
    rows = [tuple(r) for r in df.collect()]
    return len(rows), digest(list(df.columns), rows)


def oracle_result(con, sql: str) -> tuple[int, str]:
    from quarkus_etl_spark.verify import _arrow_rows

    table = con.execute(sql).fetch_arrow_table()
    rows = _arrow_rows(table)
    return len(rows), digest(list(table.schema.names), rows)
