#!/usr/bin/env python
"""Driver-contract simulator — the repo's pre-commit correctness gate.

Replays what the round driver does to ``__spark_entry__.py``: import the
module from a NEUTRAL cwd (catches worker-side ModuleNotFoundError that
running inside the repo hides), create one plain SparkSession with no
engine presets, and replay every ``queries()`` entry at the given sf dir
against its ``oracle_sql()`` through ``oracle.replay`` (row count, sorted
column names and an order-insensitive value hash).  Usage:

    cd /tmp && python <repo>/tools/driver_sim.py <sf dir> [q_a,q_b]

The optional second argument names the queries to replay; the commit
gate is the full run.  Expect a final ``ALL PASS of <N>`` line.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from hadoop_0_20_2_ljx_spark.oracle import replay

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    t_all = time.time()
    outcomes = replay(spark, sf_dir, entry_mod.queries(), entry_mod.oracle_sql(), only)
    n_fail = sum(1 for why in outcomes.values() if why)
    print(f"total wall: {time.time() - t_all:.0f}s")
    if n_fail == 0:
        print(f"ALL PASS of {len(outcomes)}")
        return 0
    print(f"FAILURES {n_fail} of {len(outcomes)}")
    return 1


if __name__ == "__main__":
    sys.exit(main())
