"""Job configuration model (SURVEY.md Tier A12; reference LoaderBean.kt:5-16).

The reference binds `loader.jobs[N].{name,extract,write}` from
application.properties (application.properties:12-21) into an ordered list of
jobs, where `extract` is arbitrary SQL for the source engine and `write` is
either DDL or a parameterized INSERT for the target engine.

Here a job is `{name, extract, write}` where:
- `extract` is Spark SQL evaluated over the session catalog (temp views,
  tables, or file-backed sources registered by the caller);
- `write` is either a SQL statement (DDL / INSERT ... SELECT — the A8
  "DDL-as-job passthrough" path; it may reference the extract result as the
  view `etl_source`) or a `WriteTarget` for Spark's native sinks.

Config can come from Python dicts or a flat `.properties`-style file using
the reference's own key scheme.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from pathlib import Path


@dataclass(frozen=True)
class WriteTarget:
    """Declarative sink: format + path/table + mode + options.

    `batchsize` defaults to the reference's micro-batch of 2000
    (EtlMain.kt:74) and is forwarded to JDBC sinks."""

    format: str = "parquet"  # parquet | csv | json | orc | jdbc | table
    path: str | None = None
    table: str | None = None
    mode: str = "append"
    options: dict[str, str] = field(default_factory=dict)
    partition_by: tuple[str, ...] = ()


@dataclass(frozen=True)
class EtlJob:
    name: str
    extract: str
    write: str | WriteTarget | None = None
    # DAG extension (the reference runs strictly sequentially,
    # EtlMain.kt:28-37; depends_on adds explicit ordering so independent
    # jobs may run concurrently under JobRunner.run_dag)
    depends_on: tuple[str, ...] = ()


def jobs_from_dicts(raw: list[dict]) -> list[EtlJob]:
    out: list[EtlJob] = []
    for d in raw:
        write = d.get("write")
        deps_raw = d.get("depends_on", ()) or ()
        if isinstance(deps_raw, str):
            # A bare string would iterate char-by-char into ('s','t','a',...)
            # and surface later as a confusing unknown-jobs DAG error.
            raise TypeError(
                f"job {d.get('name')!r}: depends_on must be a list of job "
                f"names, got the bare string {deps_raw!r}"
            )
        depends_on = tuple(deps_raw)
        if isinstance(write, dict):
            write = WriteTarget(
                format=write.get("format", "parquet"),
                path=write.get("path"),
                table=write.get("table"),
                mode=write.get("mode", "append"),
                options=dict(write.get("options", {})),
                partition_by=tuple(write.get("partition_by", ())),
            )
        out.append(EtlJob(name=d["name"], extract=d["extract"], write=write,
                          depends_on=depends_on))
    return out


_PROP_RE = re.compile(r"^loader\.jobs\[(\d+)\]\.(name|extract|write)\s*=\s*(.*)$")


def jobs_from_properties(path: str | Path) -> list[EtlJob]:
    """Parse the reference's own config syntax
    (`loader.jobs[0].name=...`, application.properties:12-21)."""
    slots: dict[int, dict[str, str]] = {}
    for line in Path(path).read_text().splitlines():
        line = line.strip()
        if not line or line.startswith(("#", "!")):
            continue
        m = _PROP_RE.match(line)
        if m:
            idx, key, val = int(m.group(1)), m.group(2), m.group(3)
            slots.setdefault(idx, {})[key] = val
    return jobs_from_dicts([slots[i] for i in sorted(slots)])
