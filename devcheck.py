"""Dev loop: run registered queries against the DuckDB oracle at sf0.001.

Usage: python devcheck.py [query-name-prefix ...] [--sf DIR]
Not part of the driver contract — tests/ and __spark_entry__.py are.
"""

from __future__ import annotations

import sys
import time

from hadoop_0_20_2_ljx_spark.oracle import run_query
from hadoop_0_20_2_ljx_spark.queries import REGISTRY
from hadoop_0_20_2_ljx_spark.session import get_spark


def main() -> int:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.001"
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        del args[i : i + 2]
    names = [n for n in REGISTRY if not args or any(n.startswith(p) for p in args)]
    spark = get_spark(shuffle_partitions=8)
    failures = 0
    for name in names:
        t0 = time.time()
        try:
            ok, msg = run_query(name, spark, sf)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXC {type(e).__name__}: {e}"
        status = "PASS" if ok else "FAIL"
        failures += 0 if ok else 1
        print(f"{status} {name} [{time.time()-t0:.1f}s] {msg}", flush=True)
    print(f"{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
