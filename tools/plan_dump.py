"""Dump .explain("formatted") for every registry query to plans/<round>/.

Usage: python tools/plan_dump.py [sf_dir] [suffix] [only ...]

The round directory defaults to the round after the newest
CORRECTNESS_r<N>.json artifact (the round being worked; the same
artifacts tools/refresh_survey.py reads) and is overridden with
SPARK_GRAFT_PLAN_ROUND (e.g. SPARK_GRAFT_PLAN_ROUND=r14).

Writes plans/<round>/<query>_<suffix>.txt (suffix default "before") and prints
a one-line-per-query triage summary: #Exchange, join operators, Python-eval
nodes (BatchEvalPython / ArrowEvalPython / MapInArrow / FlatMapGroupsInPandas),
and whether the scan shows PushedFilters. Plan construction only — queries
whose builders collect (kmeans init, ivf centroid fetch) run those small
jobs, but nothing here times anything.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_0_20_2_ljx_spark.queries import REGISTRY
from hadoop_0_20_2_ljx_spark.session import get_spark
from refresh_survey import latest_artifact_round


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLAN_ROUND")
        or f"r{(latest_artifact_round() or 0) + 1}",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-dump")
    n_ok = n_err = 0
    for name, qd in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        try:
            df = qd.spark(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 - triage tool, record and move on
            print(f"ERR  {name}: {type(e).__name__}: {e}")
            n_err += 1
            continue
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        n_ex = len(re.findall(r"\bExchange\b", plan))
        joins = sorted(
            set(
                re.findall(
                    r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                    r"BroadcastNestedLoopJoin|CartesianProduct)\b",
                    plan,
                )
            )
        )
        pyevals = sorted(
            set(
                re.findall(
                    r"\b(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|"
                    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|PythonUDTF)\w*",
                    plan,
                )
            )
        )
        pushed = "PushedFilters: [" in plan and not re.search(
            r"PushedFilters: \[\]", plan
        )
        print(
            f"OK   {name}: exch={n_ex} joins={','.join(joins) or '-'} "
            f"py={','.join(pyevals) or '-'} pushed={'y' if pushed else 'n'}"
        )
        n_ok += 1
    print(f"dumped {n_ok} plans to {out_dir} ({n_err} errors)")
    return 0 if n_err == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
