"""Correctness checks, run outside the timed region.

Batch: each query's collected rows against its ``oracle_sql()`` twin on
duckdb over the same parquet files, canonicalized the way
``scripts/driver_sim.py`` does it (sorted columns, order-insensitive
rows, floats as ``.9g``) and type-sensitive.

Stream: the last emitted row per (window, user) against a duckdb GROUP BY
over every file the generator wrote.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_sim():
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(ROOT, "scripts", "driver_sim.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


canon_rows = _driver_sim().canon_rows


class BatchOracle:
    """Expected canonical result per query, computed once per run, over
    the ``tables`` the run generated."""

    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._expected: dict[str, tuple] = {}

    def expected(self, name: str, sql: str) -> tuple:
        if name not in self._expected:
            rel = self.con.sql(sql)
            cols, types = list(rel.columns), [str(t) for t in rel.types]
            self._expected[name] = (canon_rows(cols, rel.fetchall()), dict(zip(cols, types)))
        return self._expected[name]

    def check(self, name: str, sql: str, schema, rows: list[tuple]) -> list[str]:
        """Mismatch descriptions; empty when the rows match."""
        from stream_processing_platform_spark.oracle_types import (
            canon_duck_type, canon_spark_type, duck_type_ok, types_agree)

        (d_names, d_rows), d_types = self.expected(name, sql)
        s_names, s_rows = canon_rows([f.name for f in schema.fields], rows)
        errs = []
        spark_types = {f.name: f.dataType for f in schema.fields}
        for col in d_names:
            dt, st = d_types.get(col), spark_types.get(col)
            if dt is not None and not duck_type_ok(dt):
                errs.append(f"{col}: duck type {dt} not whitelisted")
            if dt is not None and st is not None:
                sc, dc = canon_spark_type(st), canon_duck_type(dt)
                if not types_agree(sc, dc):
                    errs.append(f"{col}: spark {sc} vs duck {dc}")
        if s_names != d_names:
            errs.append(f"columns: spark={s_names} duck={d_names}")
        elif s_rows != d_rows:
            errs.append(f"rows differ: spark {len(s_rows)} vs duck {len(d_rows)}")
        return errs


STREAM_SQL = """
SELECT (epoch_ms("timestamp") // {win_ms}) * {win_ms} AS ws,
       CAST(json_extract(decode(value), '$.user_id') AS BIGINT) AS user_id,
       count(*) AS n,
       sum(CAST(json_extract(decode(value), '$.cents') AS BIGINT)) AS cents,
       max(CAST(json_extract(decode(value), '$.created_ms') AS BIGINT)) AS max_created_ms
FROM read_parquet({files})
GROUP BY ALL
"""


def stream_expected(files: list[str], win_ms: int) -> dict[tuple[int, int], tuple[int, int, int]]:
    """(window start ms, user_id) -> (count, sum cents, max created_ms)."""
    if not files:
        return {}
    q = STREAM_SQL.format(win_ms=win_ms, files="[" + ",".join(f"'{f}'" for f in files) + "]")
    return {(ws, u): (n, c, m) for ws, u, n, c, m in duckdb.sql(q).fetchall()}


def stream_mismatches(final: dict, expected: dict) -> int:
    """Keys whose last emitted row differs from the reference, plus keys
    missing on either side."""
    keys = final.keys() | expected.keys()
    return sum(1 for k in keys if final.get(k) != expected.get(k))
