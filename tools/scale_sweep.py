"""Memory-pressure scale sweep (VERDICT r10 task #3): run the most
expensive bench queries at a scaled-up SF (see tools/gen_scale.py) and
record wall time plus executor-truth metrics (shuffle bytes, spill
bytes, peak execution memory) from the Spark UI REST API.

    python tools/gen_scale.py --dst /root/repo/.scratch/sf1 --factor 10
    SPARK_DRIVER_MEMORY=3g python tools/scale_sweep.py \
        --sf-dirs /root/testdata/sf0.1 /root/repo/.scratch/sf1

Prints one JSON line per (query, sf_dir) and a final summary flagging
any query whose runtime scales super-linearly in rows (ratio > factor
x 1.5 slack). Run with a LOW driver memory (e.g. SPARK_DRIVER_MEMORY=3g)
so the 10x tier actually exercises spill paths instead of fitting in
the test heap.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    # the costliest query of each plan family
    "dedup_minhash_estimate",
    "graph_pagerank_nations",
    "q7_nation_trade",
    "q_cheapest_supplier",
    "q8_market_share",
    "sql_recursive_closure",
    "dedup_minhash_lsh",
    "q18_large_orders",
    "sketch_countmin_users",
    "profile_lineitem",
    "q5_region_revenue",
    "ann_ivf",
    "q3_top_orders",
    "corpus_decontaminate",
    "q21_waiting_suppliers",
    "profile_events",
    "emb_kmeans_fixed_point",
    "profile_customer",
    "dedup_clusters",
    "q9_product_profit",
    "dedup_embedding_cosine",
    "q1_pricing_summary",
]

METRIC_KEYS = (
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
    "peakExecutionMemory",
)


def _ui_stages(port: int) -> list[dict]:
    url = f"http://localhost:{port}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(url, timeout=10))
    app_id = apps[0]["id"]
    return json.load(
        urllib.request.urlopen(f"{url}/{app_id}/stages?status=complete", timeout=30)
    )


def _metric_totals(port: int) -> dict[str, int]:
    totals = dict.fromkeys(METRIC_KEYS, 0)
    for st in _ui_stages(port):
        for k in METRIC_KEYS:
            totals[k] += int(st.get(k, 0) or 0)
    return totals


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dirs", nargs="+", required=True)
    ap.add_argument("--queries", nargs="*", default=DEFAULT_QUERIES)
    ap.add_argument("--ui-port", type=int, default=4050)
    args = ap.parse_args()

    # session with the UI enabled (get_spark disables it) and the test
    # posture otherwise identical
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    builder = SparkSession.builder.master(f"local[{cpus}]").appName("scale-sweep")
    spark = (
        builder.config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "3g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(args.ui_port))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    results: dict[tuple[str, str], dict] = {}
    for sf_dir in args.sf_dirs:
        for name in args.queries:
            before = _metric_totals(args.ui_port)
            t0 = time.time()
            err = None
            try:
                df = queries[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as ex:  # noqa: BLE001 — sweep must finish
                err = str(ex)[:160]
            secs = round(time.time() - t0, 2)
            after = _metric_totals(args.ui_port)
            rec = {
                "query": name,
                "sf_dir": sf_dir,
                "sec": secs,
                "err": err,
                **{
                    k: after[k] - before[k]
                    for k in METRIC_KEYS
                    if k != "peakExecutionMemory"
                },
                "peakExecutionMemory": after["peakExecutionMemory"]
                - before["peakExecutionMemory"],
            }
            results[(name, sf_dir)] = rec
            print(json.dumps(rec), flush=True)

    if len(args.sf_dirs) == 2:
        small, big = args.sf_dirs
        print("\n=== scaling ratios (big/small) ===", flush=True)
        flagged = []
        for name in args.queries:
            a, b = results[(name, small)], results[(name, big)]
            if a["err"] or b["err"]:
                print(f"{name}: ERR", flush=True)
                continue
            ratio = round(b["sec"] / max(a["sec"], 0.05), 2)
            spill = b["memoryBytesSpilled"] + b["diskBytesSpilled"]
            print(
                f"{name}: {a['sec']}s -> {b['sec']}s (x{ratio}), "
                f"big spill={spill // 1_000_000}MB "
                f"shuffleW={b['shuffleWriteBytes'] // 1_000_000}MB",
                flush=True,
            )
            if ratio > 15.0:  # 10x data + 1.5 slack
                flagged.append((name, ratio))
        print(f"SUPERLINEAR: {flagged}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
