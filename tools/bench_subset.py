#!/usr/bin/env python
"""Ad-hoc subset bench for optimization iteration (r13).

Runs a chosen subset of bench.py's workloads under the SAME session
confs, warmup and timing discipline as the full bench, printing one
JSON line {label: {"wall": median_sec, "runs": [...], "shuffle_mb": x,
"input_mb": y}}.  Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/bench_subset.py \
        source_sim stress:bench_source_sim_cap

Arguments are bench registry labels (e.g. ``tpch_q9``) and/or
``stress:<row>`` names of bench.STRESS rows.  Registry labels run
median-of-3 like the real bench; stress rows are single-shot (their
claims are byte ratios).  This is an iteration tool only — the graded
artifact always comes from a full ``python bench.py`` run.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

from hadoop_0_20_2_ljx_spark.queries import REGISTRY  # noqa: E402


def main() -> int:
    labels = sys.argv[1:]
    if not labels:
        print("usage: bench_subset.py <label|stress:row> ...", file=sys.stderr)
        return 2
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = bench.open_session("ljx-bench-subset", cpus)
    qnames = {
        label: bench.REGISTRY_WORKLOADS[label]
        for label in labels
        if not label.startswith("stress:")
    }
    bench.warm_up(spark, cpus, qnames.values())
    b = bench.Bench(spark)
    for label in labels:
        if label.startswith("stress:"):
            b.section(label.split(":", 1)[1])
        else:
            b.timed_runs(
                label,
                lambda qn=qnames[label]: bench._force(
                    REGISTRY[qn].spark(spark, bench.SF_DIR)
                ),
            )
    out = {
        k: {
            "wall": round(v, 3),
            "shuffle_mb": round(b.shuffle_b[k] / 1e6, 2),
            "input_mb": round(b.input_b[k] / 1e6, 2),
        }
        for k, v in b.timings.items()
    }
    for k, runs in b.wall_runs.items():
        out[k]["runs"] = runs
    print(json.dumps(out, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
