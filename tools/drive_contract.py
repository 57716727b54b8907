"""Run __spark_entry__ contract queries against their DuckDB oracles and
report per-query status plus a final FAILURES count.

    python tools/drive_contract.py                          # all, sf0.01
    python tools/drive_contract.py q3_top_orders ann_ivf    # only these
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/drive_contract.py

With no names it also runs ``entry()``; with names it runs only those.

The check: sorted column names, row count, order-insensitive exact
values, plus three guards a float()-based compare cannot see:

- HUGEINT: DuckDB exports HUGEINT via arrow as float64, which
  mismatches Spark's int64 in a value hash even when fetchall()
  equality passes — any oracle emitting a HUGEINT column fails.
- Result-type categories: Decimals compare EXACTLY (tagged string, no
  float round-trip — distinct Decimals beyond 2^53 stay distinct, and
  a Decimal never equals an int/float of the same value), and each
  query compares per-column normalized TYPE categories (int-family /
  decimal / float / str / bool / date / timestamp / array / binary)
  between the Spark schema and the DuckDB DESCRIBE. Int WIDTH is
  deliberately not compared (Spark INT rank vs DuckDB BIGINT
  row_number() is fine).
- DECIMAL output lint: any query emitting a decimal output column
  fails regardless of value equality. Decimal arithmetic remains fine
  internally; cast the final column to BIGINT on both engines.
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from ai_data_pipeline_spark.catalog import TABLES  # noqa: E402
from ai_data_pipeline_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    try:
        import numpy as np

        if isinstance(v, np.generic):
            return norm(v.item())
    except ImportError:
        pass
    if isinstance(v, decimal.Decimal):
        # Exact, type-tagged: never equal to an int/float of the same
        # value, and big values never collapse through float53.
        # str(), not normalize(): a value hash is rendering-
        # sensitive, so scale skew (5 vs 5.00) must fail here too.
        return ("D", str(v))
    return v


def _spark_type_cat(t: str) -> str:
    t = t.lower()
    if t.startswith("decimal"):
        return "decimal"
    if t in ("tinyint", "smallint", "int", "bigint", "long", "short", "byte"):
        return "int"
    if t in ("float", "double"):
        return "float"
    if t == "string":
        return "str"
    if t == "boolean":
        return "bool"
    if t == "date":
        return "date"
    if t.startswith("timestamp"):
        return "timestamp"
    if t.startswith("array"):
        return "array"
    if t == "binary":
        return "binary"
    return t


def _duck_type_cat(t: str) -> str:
    t = t.upper()
    if t.startswith("DECIMAL"):
        return "decimal"
    if t == "HUGEINT":
        return "hugeint"  # never matches — the arrow-float64 hazard
    if t in (
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
    ):
        return "int"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t == "VARCHAR":
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t.endswith("[]") or t.startswith(("LIST", "ARRAY")):
        return "array"
    if t == "BLOB":
        return "binary"
    return t


def check_query(spark, con, queries, oracles, name, sf_dir) -> str:
    """Run one contract query both ways at ``sf_dir`` and return its
    status string ("OK" / "rows_only(n)" / "MISMATCH ...")."""
    sdf = queries[name](spark, sf_dir)
    scols = sorted(sdf.columns)
    stypes = dict(sdf.dtypes)
    dec_cols = [c for c, t in stypes.items() if t.startswith("decimal")]
    if dec_cols:
        return (
            f"MISMATCH decimal_output_cols={dec_cols} — cast the final "
            f"column(s) to BIGINT on both engines"
        )
    srows = sorted(
        [tuple(norm(r[c]) for c in scols) for r in sdf.collect()], key=repr
    )
    if name not in oracles:
        return f"rows_only({len(srows)})"
    res = con.execute(oracles[name])
    dcols_raw = [d[0] for d in res.description]
    dcols = sorted(dcols_raw)
    idx = [dcols_raw.index(c) for c in dcols]
    drows = sorted(
        [tuple(norm(row[j]) for j in idx) for row in res.fetchall()],
        key=repr,
    )
    dtypes = {
        c: t for c, t, *_ in con.execute(f"DESCRIBE {oracles[name]}").fetchall()
    }
    huge = [c for c, t in dtypes.items() if "HUGEINT" in t.upper()]
    tmis = {
        c: (_spark_type_cat(stypes[c]), _duck_type_cat(dtypes[c]))
        for c in scols
        if c in stypes
        and c in dtypes
        and _spark_type_cat(stypes[c]) != _duck_type_cat(dtypes[c])
    }
    ok = (
        scols == dcols
        and len(srows) == len(drows)
        and srows == drows
        and not huge
        and not tmis
    )
    if ok:
        return "OK"
    diff = next(((a, b) for a, b in zip(srows, drows) if a != b), None)
    return (
        f"MISMATCH huge={huge} types={tmis} cols(s/d)={scols}/{dcols} "
        f"rows={len(srows)}/{len(drows)} vals_eq={srows == drows} "
        f"first_diff(s/d)={str(diff)[:300]}"
    )


def main(names: list[str]) -> int:
    spark = get_spark("drive-contract", cpus=8)
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF}/{name}.parquet')"
        )

    if not names:
        df = entry_mod.entry(spark)
        rows = df.collect()
        print(f"entry: {len(rows)} rows, {len(df.columns)} cols", flush=True)

    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    names = names or list(queries)
    fails = []
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            status = check_query(spark, con, queries, oracles, name, SF)
        except Exception as ex:  # noqa: BLE001 — report and continue
            fails.append(name)
            print(
                f"[{i + 1}/{len(names)}] {name}: ERROR {str(ex)[:200]} "
                f"({time.time() - t0:.1f}s)",
                flush=True,
            )
            continue
        if "MISMATCH" in status:
            fails.append(name)
        print(
            f"[{i + 1}/{len(names)}] {name}: {status} ({time.time() - t0:.1f}s)",
            flush=True,
        )
    print(f"FAILURES: {len(fails)} {fails}", flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
