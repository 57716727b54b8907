"""Scale-up generator for local memory-pressure sweeps (VERDICT r10
task #3): replicate a driver testdata SF K times with disjoint key
spaces, preserving per-key fan-outs and group cardinalities.

    python tools/gen_scale.py --src /root/testdata/sf0.1 \
        --dst /root/repo/.scratch/sf1 --factor 10

Design: each replica i offsets every key column by i * (a power of 10
above the source max), so the result is K disjoint sub-universes —
joins stay key-correct, per-part/per-order fan-out is preserved, and
group-by cardinalities scale linearly (low-cardinality groups like
l_returnflag get K× rows per group, which is exactly the partial-agg
pressure we want to measure). Non-key perturbations:

- documents.text gets a per-replica suffix token, so replicas are
  NEAR-duplicates, not exact ones — MinHash/LSH sees ~K near-dup twins
  per doc, a realistic (and adversarial) dedup stress.
- events.ts is shifted by i seconds (stays within the same day
  buckets: day-grouped relations keep their cardinality while distinct
  users scale K×).
- embeddings keeps ONLY replica 0's query vectors (vec_id < 10 is the
  query-set contract); replica copies are offset past the query range.

This is perf-tier data (rows-only sweeps) — it deliberately reuses the
value distributions of the source SF rather than re-deriving TPC-H
generators.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from ai_data_pipeline_spark.catalog import TABLES, load_table
from ai_data_pipeline_spark.session import get_spark


def _pow10_above(n: int) -> int:
    p = 10
    while p <= n:
        p *= 10
    return p


# key columns to offset per table (disjoint sub-universes)
KEYS = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# key -> the table whose primary key defines the offset modulus, so
# FKs and PKs shift by the SAME amount and joins stay aligned
KEY_BASE = {
    "c_custkey": "customer",
    "o_custkey": "customer",
    "s_suppkey": "supplier",
    "l_suppkey": "supplier",
    "p_partkey": "part",
    "l_partkey": "part",
    "o_orderkey": "orders",
    "l_orderkey": "orders",
    "event_id": "events",
    "user_id": "events",
    "doc_id": "documents",
    "vec_id": "embeddings",
}


def replicate(spark, src: str, dst: str, factor: int) -> None:
    # one modulus per base table, from the source max key
    mods: dict[str, int] = {}
    for key, base in KEY_BASE.items():
        if base in mods:
            continue
        df = load_table(spark, src, base)
        pk = KEYS[base][0] if KEYS[base] else None
        mx = df.agg(F.max(pk)).collect()[0][0] if pk else 0
        mods[base] = _pow10_above(int(mx or 0))
    os.makedirs(dst, exist_ok=True)
    for table in TABLES:
        df = load_table(spark, src, table)
        if not KEYS[table]:  # fixed-size dims: copy once
            out = df
        else:
            parts: list[DataFrame] = []
            for i in range(factor):
                rep = df
                for key in KEYS[table]:
                    off = i * mods[KEY_BASE[key]]
                    rep = rep.withColumn(
                        key, (F.col(key) + F.lit(off)).cast(df.schema[key].dataType)
                    )
                if table == "documents" and i > 0:
                    rep = rep.withColumn(
                        "text", F.concat("text", F.lit(f" replica{i:02d}"))
                    )
                if table == "events" and i > 0:
                    rep = rep.withColumn(
                        "ts", F.col("ts") + F.expr(f"INTERVAL {i} SECOND")
                    )
                if table == "embeddings" and i > 0:
                    # keep vec_id<10 (the query-vector contract) unique
                    # to replica 0
                    rep = rep.filter(F.col("vec_id") % mods["embeddings"] >= 10)
                parts.append(rep)
            from functools import reduce

            out = reduce(lambda a, b: a.unionByName(b), parts)
        # match the driver testdata's physical timestamp encoding
        # (TIMESTAMP MICROS adjustedToUTC=false == Spark NTZ) rather
        # than Spark's default INT96, so generated tables exercise the
        # same catalog.normalize_timestamps path as the testdata
        for f_name, kind in TABLES.get(table, []):
            if kind == "timestamp":
                out = out.withColumn(
                    f_name, F.col(f_name).cast("timestamp_ntz")
                )
        # single FILE per table (not a directory), matching the driver
        # testdata layout — read_events_stream's glob-filtered file
        # stream reads {table}.parquet as a plain file
        tmp_dir = f"{dst}/_tmp_{table}"
        out.coalesce(1).write.mode("overwrite").parquet(tmp_dir)
        part = next(
            f for f in os.listdir(tmp_dir) if f.endswith(".parquet")
        )
        path = f"{dst}/{table}.parquet"
        if os.path.isdir(path):
            import shutil

            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)
        os.replace(f"{tmp_dir}/{part}", path)
        import shutil

        shutil.rmtree(tmp_dir)
        print(f"{table}: wrote {path}", flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", required=True)
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()
    spark = get_spark("gen-scale", cpus=8)
    replicate(spark, args.src, args.dst, args.factor)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
