"""Output checks, made outside every timed interval.

Oracled operations are compared with the DuckDB result of their
``oracle_sql()`` entry, normalized with ``tools.drive_contract.norm`` as
``tools/drive_contract.py`` does: sorted column names, order-insensitive
exact values. An oracle result depends only on its SQL text and the input
files, so it is computed once and kept in the work directory, keyed by
both.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from ai_data_pipeline_spark.catalog import TABLES
from tools.drive_contract import norm


def normalized(columns, rows) -> tuple[list[str], list[tuple]]:
    cols = sorted(columns)
    return cols, sorted((tuple(norm(r[c]) for c in cols) for r in rows), key=repr)


def _tuples(v):
    return tuple(_tuples(x) for x in v) if isinstance(v, list) else v


class Oracle:
    def __init__(self, data_dir: str, data_digest: str, cache_dir: str) -> None:
        self.data_dir = data_dir
        self.data_digest = data_digest
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        if self._con is None:
            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
                )
        return self._con

    def expected(self, sql: str) -> tuple[list[str], list[tuple]]:
        key = hashlib.sha256((self.data_digest + "\n" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                cols, rows = json.load(fh)
            return cols, [_tuples(r) for r in rows]
        res = self._connect().execute(sql)
        names = [d[0] for d in res.description]
        result = normalized(names, [dict(zip(names, r)) for r in res.fetchall()])
        try:
            text = json.dumps(result)
        except TypeError:  # a value JSON cannot hold: recompute next run
            return result
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".part", "w") as fh:
            fh.write(text)
        os.replace(path + ".part", path)
        return result

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
