"""Output checks, run after the clock stops.

- Queries: each sampled query's collected result against its DuckDB
  oracle with the repository's own ``duck_connection`` and ``compare``
  (``tools/check_correctness.py``). A query registered without an oracle
  gets a rows-only check: its result must collect.
- Ingest: every sink target must hold exactly the decoded rows of the
  batches it was sent: the same row count and the same order-insensitive
  digest (the sum of per-row hashes), so one lost or one duplicated row
  fails the check.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pyarrow as pa

_ARROW_TYPE = {
    "bigint": pa.int64(),
    "int": pa.int32(),
    "double": pa.float64(),
    "boolean": pa.bool_(),
    "string": pa.string(),
}

Digest = tuple[int, int]


def _coerce(value, spark_type: str):
    """A JSON cell as the declared column type; mirrors the OpenSky schema
    contract, in which JSON integers may arrive as floats."""
    if value is None:
        return None
    if spark_type in ("bigint", "int"):
        return int(value)
    if spark_type == "double":
        return float(value)
    if spark_type == "boolean":
        return bool(value)
    return json.dumps(value) if isinstance(value, (list, dict)) else str(value)


def decode_payload(payload: bytes, schema) -> pa.Table:
    """Reference decode of one OpenSky snapshot into a typed Arrow table."""
    fields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    states = json.loads(payload).get("states") or []
    cols: list[list] = [[] for _ in fields]
    for state in states:
        vec = list(state[: len(fields)]) + [None] * (len(fields) - len(state))
        for col, v, (_, t) in zip(cols, vec, fields):
            col.append(_coerce(v, t))
    return pa.table({n: pa.array(c, _ARROW_TYPE[t]) for c, (n, t) in zip(cols, fields)})


def _digest(con: duckdb.DuckDBPyConnection, relation: str, columns: list[str]) -> Digest:
    cols = ", ".join(f'"{c}"' for c in columns)
    n, h = con.execute(f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM {relation}").fetchone()
    return int(n), int(h)


def rows_digest(table: pa.Table) -> Digest:
    con = duckdb.connect()
    con.register("rows_in", table)
    return _digest(con, "rows_in", table.column_names)


def sink_digest(target_dir: str, columns: list[str]) -> Digest:
    """Digest of every parquet file a sink wrote under ``target_dir``."""
    if not glob.glob(os.path.join(target_dir, "*.parquet")):
        return 0, 0
    con = duckdb.connect()
    return _digest(con, f"read_parquet('{target_dir}/*.parquet')", columns)


def add(a: Digest, b: Digest, times: int = 1) -> Digest:
    return a[0] + times * b[0], a[1] + times * b[1]


def sink_problems(target_dirs: list[str], expected: Digest, columns: list[str]) -> list[str]:
    """One message per target whose contents differ from ``expected``."""
    out = []
    for d in target_dirs:
        got = sink_digest(d, columns)
        if got != expected:
            out.append(f"{os.path.basename(os.path.dirname(d))}/{os.path.basename(d)}: "
                       f"{got[0]} rows (digest {got[1]}), expected {expected[0]} rows (digest {expected[1]})")
    return out


def query_problem(name: str, sdf, oracle_sql: str | None, con) -> str | None:
    """None if the collected Spark result ``sdf`` matches the oracle."""
    if oracle_sql is None:
        return None
    from tools.check_correctness import compare

    problems = compare(name, sdf, con.execute(oracle_sql).df())
    return "; ".join(problems) if problems else None
