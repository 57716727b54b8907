#!/usr/bin/env python3
"""Smoke test of the benchmark, at sf0.001.

    python3 perfbench/smoke.py      # from the root of a checkout

Passes when every workload, untraced and traced, exits 0 with
``error_rate`` 0 and prints every metric BENCHMARK.json names with its
unit, and when the benchmark, started in a directory that holds only
BENCHMARK.json and its own files, exits non-zero without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile


def _result(stdout: str):
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    problems = []
    for wl in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + [
                "--workload", wl["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--sf", "sf0.001",
            ]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            res = _result(p.stdout)
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v.get("unit") for k, v in (res or {}).get("metrics", {}).items()}
            label = f"{wl['name']} trace={trace}"
            if p.returncode != 0 or res is None:
                problems.append(f"{label}: exit {p.returncode}\n{p.stderr[-3000:]}")
            elif not res["correct"] or res["failed"] or got != want:
                problems.append(f"{label}: correct={res['correct']} failed={res['failed']} "
                                f"metrics differ: {sorted(set(got) ^ set(want))}")
            print(f"{label}: {'ok' if not problems or not problems[-1].startswith(label) else 'FAILED'}",
                  flush=True)

    os.makedirs(".perfbench_work", exist_ok=True)
    with tempfile.TemporaryDirectory(dir=".perfbench_work") as bare:
        shutil.copy("BENCHMARK.json", bare)
        for path in spec["paths"]:
            shutil.copytree(path, os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(spec["command"] + ["--workload", spec["workloads"][0]["name"],
                                              "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        if p.returncode == 0 or _result(p.stdout) is not None:
            problems.append("outside a checkout the benchmark did not refuse to run")
        print(f"outside a checkout: exit {p.returncode}", flush=True)

    for msg in problems:
        print(msg, file=sys.stderr)
    print("smoke:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
