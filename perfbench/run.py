#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload profile --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One process is one run: it starts a
Spark session (``local[4]``), warms it up on sf0.001, then drives the
workload's operations (see ``workloads.py``) through the package's public
calls as a closed loop with one client, in an order drawn from
``--seed``. It measures whole passes over the operation list until at
least ``--seconds`` have elapsed; every pass starts with empty session
caches. Each operation is timed as its call plus the full
materialization of its result, and charged the CPU time its call and
materialization cost the driver Python process, the driver JVM and
Spark's Python workers; outputs are checked after the measured phase.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics, both CPU time of that
process tree: ``cpu_s_per_op``, the mean over the measured operations,
and ``setup_s``, everything from process start to the end of the
warm-up. Wall-clock times are not among them. On a 4-vCPU virtual
machine whose host stole up to 32 s of CPU time per 30 s pass, ten
``profile`` runs of the same code spread (IQR/median) 0.40 in p50
latency and 0.27 in pass wall, but 0.09 in the CPU time of a pass,
because stolen time is not charged to a process; and the median
wall-clock set-up of ten ``curate`` runs moved 24% between two sets.
Wall-clock set-up (``phases_s``), latency and throughput are printed on
the run's record line; latency and throughput are also reported as
``wall.*`` in traced runs.

``--trace 1`` runs one untraced pass and then one traced pass and
reports the per-layer metrics of the traced pass, with the tracing
overhead against the untraced one; its spans are written to
``.perfbench_work/``.

Inputs are the test tables vendored under ``perfbench/data`` (checked
against ``SHA256SUMS``). Everything the run writes stays under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4
TAIL_PCT = 90


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default="sf0.1", choices=("sf0.1", "sf0.001"),
                   help="scale factor of the measured phase (sf0.001 is the smoke test)")
    return p.parse_args(argv)


def _data_digest(scale: str) -> str:
    """Verify the vendored tables of ``scale``; return their manifest digest."""
    data = os.path.join(HERE, "data")
    with open(os.path.join(data, "SHA256SUMS")) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln.endswith(".parquet") and f" {scale}/" in ln]
    for ln in lines:
        digest, rel = ln.split()
        with open(os.path.join(data, rel), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise SystemExit(f"perfbench: {rel} does not match SHA256SUMS")
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _isolate(root: str, tmp: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into the
    checkout, and let Spark's Python workers import the package."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} pyspark-shell"
    )
    sys.path.insert(0, root)


class _Collected:
    """Hands ``classify()`` the profile DataFrame and keeps the rows its
    ``collect()`` returns, so they can be checked without a second job."""

    def __init__(self, df) -> None:
        self._df = df
        self.rows = None

    def collect(self):
        self.rows = self._df.collect()
        return self.rows

    def __getattr__(self, name):
        return getattr(self._df, name)


class Runner:
    def __init__(self, spark, provider_cls) -> None:
        import __spark_entry__

        self.spark = spark
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self._provider_cls = provider_cls

    def execute(self, op, sf_dir: str) -> dict:
        """Run one operation; return its latency, layer times and output."""
        if op.kind == "profile":
            return self._profile(op, sf_dir)
        t0 = time.perf_counter()
        df = self.queries[op.name](self.spark, sf_dir)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        return {
            "latency": t2 - t0, "df": df, "columns": df.columns, "rows": rows,
            "layers": {"operators.call_s": t1 - t0, "operators.action_s": t2 - t1},
        }

    def _profile(self, op, sf_dir: str) -> dict:
        from ai_data_pipeline_spark.catalog import TABLES, load_table
        from ai_data_pipeline_spark.classify.ai import AIClassifier
        from ai_data_pipeline_spark.classify.hybrid import HybridClassifier
        from ai_data_pipeline_spark.profiling.profiler import profile_table

        table = op.tables[0]
        provider = self._provider_cls()
        ai = AIClassifier([provider])
        t0 = time.perf_counter()
        df = load_table(self.spark, sf_dir, table)
        t1 = time.perf_counter()
        prof = profile_table(df, TABLES[table])
        t2, w2 = time.perf_counter(), time.time()
        captured = _Collected(prof)
        merged = HybridClassifier(ai).classify(captured)
        t3, w3 = time.perf_counter(), time.time()
        return {
            "latency": t3 - t0, "df": prof, "columns": prof.columns,
            "rows": captured.rows, "merged": merged,
            "classify_window_ms": (int(w2 * 1000), int(w3 * 1000) + 1),
            "ai_calls": provider.calls, "ai_parsed": sum(ai.success_counts.values()),
            "layers": {
                "catalog.load_s": t1 - t0, "profiling.build_s": t2 - t1,
                "classify.call_s": t3 - t2,
            },
        }


def _counting_provider():
    from ai_data_pipeline_spark.classify.providers import MockProvider

    class CountingProvider(MockProvider):
        """The deterministic mock provider, counting its calls."""

        calls = 0

        def complete(self, prompt: str) -> str:
            self.calls += 1
            return super().complete(prompt)

    return CountingProvider


def _check(rec: dict, op, runner: Runner, oracle, first_rows: dict) -> str | None:
    """Return why ``rec`` is wrong, or None when its output is correct."""
    from check import normalized

    if rec.get("error"):
        return rec["error"]
    rows = rec["rows"] or []
    got = normalized(rec["columns"], rows)
    if op.kind == "profile":
        names = sorted(r["column_name"] for r in rows)
        if sorted(m["column_name"] for m in rec["merged"]) != names or not all(
            "merge_decision" in m for m in rec["merged"]
        ):
            return "classify() output does not match the profiled columns"
    sql = runner.oracles.get(op.name)
    if sql is None:  # rows-only: the same row set on every repetition
        want = first_rows.setdefault(op.name, got)
    else:
        want = oracle.expected(sql)
    if got != want:
        return (f"output differs from {'the oracle' if sql else 'the first pass'}: "
                f"cols {got[0]} vs {want[0]}, rows {len(got[1])} vs {len(want[1])}")
    return None


def _run_pass(runner, ops, sf_dir, probe=None) -> tuple[list[tuple], float]:
    """One closed-loop pass; returns ([(op, record)], wall seconds)."""
    from tracer import drop_session_caches, plan_s, tree_cpu_s

    jvm = runner.spark.sparkContext._gateway.proc.pid
    drop_session_caches(runner.spark)
    out = []
    t0 = time.perf_counter()
    for op in ops:
        if probe:
            probe.mark()
        cpu0 = tree_cpu_s(jvm)
        try:
            rec = runner.execute(op, sf_dir)
        except Exception as ex:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            rec = {"error": f"{type(ex).__name__}: {str(ex)[:300]}"}
        rec["cpu_s"] = tree_cpu_s(jvm) - cpu0
        if probe and not rec.get("error"):
            tc = time.perf_counter()
            rec["layers"].update(probe.collect(rec.get("classify_window_ms")))
            rec["layers"]["engine.plan_s"] = plan_s(rec["df"])
            rec["trace_s"] = time.perf_counter() - tc
        rec.pop("df", None)
        out.append((op, rec))
    return out, time.perf_counter() - t0


def _quantile(values: list[float], pct: int) -> float:
    """Linear-interpolation percentile (numpy's default). The exclusive
    method would put p90 of a 10-op pass on the single slowest op."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def _layer_metrics(records, untraced_wall, traced_wall, attempted, failed, extra) -> dict:
    from tracer import PROBE_KEYS

    tot = dict.fromkeys(
        ("catalog.load_s", "profiling.build_s", "classify.call_s",
         "operators.call_s", "operators.action_s", "engine.plan_s") + PROBE_KEYS, 0.0)
    ai_calls = ai_parsed = trace_s = latency = 0.0
    for _, rec in records:
        if rec.get("error"):
            continue
        for k, v in rec["layers"].items():
            tot[k] += v
        ai_calls += rec.get("ai_calls", 0)
        ai_parsed += rec.get("ai_parsed", 0)
        trace_s += rec["trace_s"]
        latency += rec["latency"]
    tot["classify.self_s"] = tot.pop("classify.call_s") - tot["profiling.exec_s"]
    tot["classify.ai_calls"] = ai_calls
    tot["classify.ai_parse_ratio"] = ai_parsed / ai_calls if ai_calls else 0.0
    tot["engine.core_util"] = tot["engine.task_s"] / (latency * CORES) if latency else 0.0
    tot["error_rate"] = failed / attempted
    tot["trace.collect_s"] = trace_s
    tot["trace.overhead"] = traced_wall / untraced_wall - 1.0
    tot.update(extra)
    return tot


def _wall_metrics(records, wall, scale) -> dict:
    """Wall-clock latency and throughput of untraced passes."""
    ok = [(op, rec) for op, rec in records if not rec.get("failure")]
    lat = [rec["latency"] for _, rec in records if not rec.get("error")]
    return {
        "wall.latency_p50_s": statistics.median(lat) if lat else 0.0,
        "wall.latency_p90_s": _quantile(lat, TAIL_PCT) if lat else 0.0,
        "wall.rows_per_s": sum(op.declared_rows(scale) for op, _ in ok) / wall,
    }


def _end_to_end(records, setup_s) -> dict:
    cpu = [rec["cpu_s"] for _, rec in records if not rec.get("failure")]
    return {
        "setup_s": setup_s,
        "cpu_s_per_op": sum(cpu) / len(cpu) if cpu else 0.0,
    }


def _units() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def _stop(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    gw = spark.sparkContext._gateway
    jvm_pid = gw.proc.pid
    children = [
        int(d) for d in os.listdir("/proc") if d.isdigit() and _ppid(d) == jvm_pid
    ]
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{c}") for c in children) and time.time() < deadline:
        time.sleep(0.1)


def _ppid(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return -1


def _process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def main(argv=None) -> int:
    started = time.perf_counter() - _process_age_s()
    args = _parse(argv)
    root = os.getcwd()
    needed = ("__spark_entry__.py", "ai_data_pipeline_spark/__init__.py", "tools/drive_contract.py")
    missing = [p for p in needed if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the root of a checkout; missing {missing}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    digest = _data_digest(args.sf)
    _data_digest("sf0.001")
    work = os.path.join(root, ".perfbench_work")
    tmp = os.path.join(work, f"tmp-{os.getpid()}")
    _isolate(root, tmp)
    try:
        result = _run(args, WORKLOADS[args.workload], work, digest, started)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, wl, work: str, digest: str, started: float) -> dict:
    from ai_data_pipeline_spark.session import get_spark
    from check import Oracle
    import tracer

    units = _units()
    data_dir = os.path.join(HERE, "data", args.sf)
    warm_dir = os.path.join(HERE, "data", "sf0.001")
    spark = get_spark("perfbench", cpus=CORES)
    phases = {"session": time.perf_counter() - started}
    try:
        runner = Runner(spark, _counting_provider())
        for name in wl.warmup:
            runner.execute(wl.op(name), warm_dir)
        setup_s = tracer.tree_cpu_s(spark.sparkContext._gateway.proc.pid)
        phases["warmup"] = time.perf_counter() - started - phases["session"]

        oracle = Oracle(data_dir, digest, os.path.join(work, "oracle"))
        ops = wl.order(args.seed)
        for op in ops:  # expected results before the measured phase
            if op.name in runner.oracles:
                oracle.expected(runner.oracles[op.name])
        print(f"perfbench: {wl.name} seed {args.seed} order {[o.name for o in ops]} "
              f"stresses {list(wl.stresses)} bypasses {list(wl.bypasses)}", flush=True)

        t = time.perf_counter()
        host0 = (tracer.steal_s(), tracer.calibrate_s())
        records, walls = [], []
        while not walls or (not args.trace and sum(walls) < args.seconds):
            recs, wall = _run_pass(runner, ops, data_dir)
            records += recs
            walls.append(wall)
        traced = []
        if args.trace:
            probe = tracer.EngineProbe(spark)
            traced, traced_wall = _run_pass(runner, ops, data_dir, probe)
            probe.close()
        host1 = (tracer.steal_s(), tracer.calibrate_s())
        rss = (tracer.vm_hwm_mb(spark.sparkContext._gateway.proc.pid), tracer.vm_hwm_mb("self"))
        phases["measure"], t = time.perf_counter() - t, time.perf_counter()

        first_rows: dict = {}
        failed = 0
        for op, rec in records + traced:
            rec["failure"] = _check(rec, op, runner, oracle, first_rows)
            if rec["failure"]:
                failed += 1
                print(f"perfbench: FAILED {op.name}: {rec['failure']}", file=sys.stderr)
        oracle.close()
        phases["check"], t = time.perf_counter() - t, time.perf_counter()
    finally:
        _stop(spark)
    phases["stop"] = time.perf_counter() - t

    host = {"host.steal_s": host1[0] - host0[0], "host.calib_s": (host0[1] + host1[1]) / 2}
    wall = _wall_metrics(records, sum(walls), args.sf)
    lat = [rec["latency"] for _, rec in records if not rec.get("error")]
    print("perfbench: " + json.dumps({
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        "passes": len(walls), "pass_walls_s": walls, **host, **wall, "rss_jvm_py_mb": rss,
        "p90_samples": len(lat),
        "beyond_p90": sum(1 for v in lat if v > wall["wall.latency_p90_s"]),
        "latencies_s": {op.name: round(rec.get("latency", -1), 4) for op, rec in records},
        "cpu_s": {op.name: round(rec["cpu_s"], 2) for op, rec in records},
    }), flush=True)
    attempted = len(records) + len(traced)
    if args.trace:
        extra = {**host, **wall, "memory.peak_rss_mb": sum(rss)}
        values = _layer_metrics(traced, walls[0], traced_wall, attempted, failed, extra)
        os.makedirs(work, exist_ok=True)
        spans = [{"op": op.name, "latency_s": rec.get("latency"), "layers": rec.get("layers"),
                  "error": rec.get("failure")} for op, rec in traced]
        with open(os.path.join(work, f"trace-{wl.name}-{args.seed}.json"), "w") as fh:
            json.dump(spans, fh, indent=1)
    else:
        values = _end_to_end(records, setup_s)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
