"""Output checks: query results against their DuckDB oracles, and the
warehouse the pipeline leaves behind against expectations computed from
the generated documents (``etldata.expected_table``).

Each check returns a list of failure messages; an empty list is a pass.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pyarrow.parquet as pq

from airflow_pipelines_from_mongo_to_postgres_spark.sources.catalog import (
    TABLES,
)
from tools.check_oracle import canon as _oracle_canon


def canon(rows, cols) -> list[list[str]]:
    """The oracle gate's canon (``tools/check_oracle.py``), with rows as
    lists so that it compares equal to a canon read back from JSON."""
    return [list(r) for r in _oracle_canon(rows, cols)]


class Oracle:
    """DuckDB over one fixture directory. Results are cached on disk per
    (fixture checksum, query, SQL text): the fixtures are read-only, so a
    cached canon stays valid until one of the three changes."""

    def __init__(self, sf_dir: Path, fixture_sum: str, cache_dir: Path):
        self.sf_dir = sf_dir
        self.fixture_sum = fixture_sum
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                  f"'{self.sf_dir / t}.parquet'")
        return self._con

    def result(self, name: str, sql: str) -> tuple[list[str], list]:
        key = hashlib.sha256(
            f"{self.fixture_sum}\n{name}\n{sql}".encode()).hexdigest()[:20]
        path = self.cache_dir / f"{name}-{key}.json"
        if path.exists():
            cached = json.loads(path.read_text())
            return cached["cols"], cached["canon"]
        res = self._connect().execute(sql)
        cols = [d[0] for d in res.description]
        out = canon(res.fetchall(), cols)
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps({"cols": cols, "canon": out}))
        tmp.rename(path)
        return cols, out

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def compare_query(cols, rows, ocols, ocanon) -> list[str]:
    """The oracle gate's three comparisons: row count, column names
    (case-insensitive, any order), and the order-insensitive value canon."""
    if len(rows) != len(ocanon):
        return [f"row count {len(rows)} != oracle {len(ocanon)}"]
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in ocols):
        return [f"columns {sorted(cols)} != oracle {sorted(ocols)}"]
    got = canon(rows, cols)
    if got != ocanon:
        i = next(i for i, (a, b) in enumerate(zip(got, ocanon)) if a != b)
        return [f"values differ at sorted row {i}: {got[i]} != {ocanon[i]}"]
    return []


def check_table(table_dir: Path, expected: dict) -> tuple[list[str], int]:
    """Check one warehouse table: one row per distinct natural key, ids
    exactly 1..n with each key's expected id, and the probe column's
    expected value. Returns (failures, duplicate-key rows)."""
    key, probe = expected["key"], expected["probe"]
    t = pq.read_table(table_dir, columns=["id", key, probe]).to_pydict()
    ids, keys, vals = t["id"], t[key], t[probe]
    want = expected["rows"]
    dup_rows = len(keys) - len(set(keys))
    fails = []
    if dup_rows:
        fails.append(f"{len(keys)} rows for {len(set(keys))} distinct "
                     f"{key} values")
    if set(keys) != set(want):
        fails.append(f"key set differs: {len(set(keys) - set(want))} "
                     f"unexpected, {len(set(want) - set(keys))} missing")
    if sorted(ids) != list(range(1, len(ids) + 1)):
        fails.append("ids are not dense 1..n")
    bad_id = bad_probe = 0
    for i, k, v in zip(ids, keys, vals):
        w = want.get(k)
        if w is None:
            continue
        bad_id += i != w[0]
        bad_probe += w[1] != "?" and v != w[1]
    if bad_id:
        fails.append(f"{bad_id} rows carry another id than expected")
    if bad_probe:
        fails.append(f"{bad_probe} rows carry another {probe} than expected")
    return fails, dup_rows
