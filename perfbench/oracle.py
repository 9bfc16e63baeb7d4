"""DuckDB references for every answer the benchmark checks.

DuckDB reads the same parquet files as Spark, so it serves as an
independent engine: exact COUNT truth for q-error, full result sets
for the exact plane, and the registry oracles of ``__spark_entry__``
for the curation chain. Registry oracle results depend only on the
data, so they are cached on disk next to the data.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import re

import duckdb

from datagen import TABLES

_GROUPED = re.compile(r"^SELECT (?P<sel>.+?) FROM (?P<body>.+?) GROUP BY (?P<gb>.+?)(?P<having> HAVING .+)?$")


def connect(data_dir: str, tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def domains(con, columns: list[str]) -> dict[str, list]:
    """Sorted distinct values per ``table.column``; timestamp columns
    give their distinct calendar days as ISO strings."""
    out = {}
    for tc in columns:
        table, col = tc.split(".")
        typ = con.execute(f"SELECT typeof({col}) FROM {table} LIMIT 1").fetchone()[0]
        if typ.startswith("TIMESTAMP") or typ == "DATE":
            rows = con.execute(
                f"SELECT DISTINCT strftime(CAST({col} AS DATE), '%Y-%m-%d') FROM {table} ORDER BY 1"
            ).fetchall()
        else:
            rows = con.execute(f"SELECT DISTINCT CAST({col} AS DOUBLE) FROM {table} ORDER BY 1").fetchall()
        out[tc] = [r[0] for r in rows if r[0] is not None]
    return out


def count_truth(con, sql: str) -> int:
    return int(con.execute(sql).fetchone()[0])


def reference_rows(con, sql: str) -> list[tuple]:
    """Result rows in the exact plane's layout: GROUP BY columns
    first, then the aggregates in select-list order."""
    m = _GROUPED.match(sql)
    if m:
        sql = f"SELECT {m['gb']}, {m['sel']} FROM {m['body']} GROUP BY {m['gb']}{m['having'] or ''}"
    return [tuple(r) for r in con.execute(sql).fetchall()]


def group_width(sql: str) -> int:
    m = _GROUPED.match(sql)
    return len(m["gb"].split(",")) if m else 0


# -- comparison -------------------------------------------------------
def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def _close(a, b, rel: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= rel * max(1.0, abs(a), abs(b))
    return a == b


def _key(row) -> tuple:
    return tuple((x is None, "" if isinstance(x, float) or x is None else str(x)) for x in row)


def rows_match(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Same multiset of rows, comparing numbers with relative tolerance
    ``rel``. Rows are matched after sorting on their non-float fields,
    then on the floats themselves."""
    if len(got) != len(want):
        return False
    g = sorted(([_norm(x) for x in r] for r in got), key=lambda r: (_key(r), [x for x in r if isinstance(x, float)]))
    w = sorted(([_norm(x) for x in r] for r in want), key=lambda r: (_key(r), [x for x in r if isinstance(x, float)]))
    return all(len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b)) for a, b in zip(g, w))


def frame_matches(cols: list[str], rows: list[tuple], oracle: dict, rel: float = 1e-6) -> bool:
    """Compare a collected Spark result with a cached registry oracle
    the way the registry does: columns by name, rows as a multiset."""
    if sorted(cols) != sorted(oracle["cols"]):
        return False
    order = [cols.index(c) for c in oracle["cols"]]
    return rows_match([tuple(r[i] for i in order) for r in rows], [tuple(r) for r in oracle["rows"]], rel)


# -- cached registry oracles -----------------------------------------
def registry_oracle(con, name: str, sql: str, cache_dir: str) -> dict:
    """Run (or load) one registry oracle over this data directory."""
    digest = hashlib.sha1(sql.encode()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"oracle-{name}-{digest}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    res = con.execute(sql)
    out = {"cols": [d[0] for d in res.description], "rows": [[_norm(x) for x in r] for r in res.fetchall()]}
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
