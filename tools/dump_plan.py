"""Print .explain('formatted') and the Exchange/scan counts of named
contract queries.

    python tools/dump_plan.py ann_ivf_pq emb_outlier_distance ...

``SPARK_GRAFT_SF_DIR`` picks the scale-factor directory (default sf0.1).
Catalyst expression ids (``#123``), exchange plan ids and the RDD behind
a checkpoint scan (``MapPartitionsRDD[57] at localCheckpoint at
<call site>``) print as ``#``, ``plan_id=`` and ``MapPartitionsRDD[] at
localCheckpoint``, so the output of two commits diffs line by line.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_data_pipeline_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402


def normalize(plan: str) -> str:
    """Drop the per-session numbering from a plan string."""
    plan = re.sub(r"(\w+RDD)\[\d+\] at (\w+) at \S+", r"\1[] at \2", plan)
    return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+", "#", plan))


def main(names: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump-plan", cpus=8)
    qs = entry_mod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = normalize(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        scans = plan.count("Scan parquet") + plan.count("Scan ExistingRDD")
        print(plan, flush=True)
        print(
            f"{name}: {plan.count('Exchange')} Exchange / {scans} scans",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
