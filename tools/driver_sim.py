#!/usr/bin/env python
"""Driver-contract simulator — the repo's pre-commit correctness gate.

Replays what the round driver does to ``__spark_entry__.py``: import the
module from a NEUTRAL cwd (catches worker-side ModuleNotFoundError that
running inside /root/repo hides), create one plain SparkSession with no
engine presets, run every ``queries()`` entry at the given sf dir, run
the matching ``oracle_sql()`` through DuckDB views over the same parquet,
and compare row count + sorted column names + an order-insensitive
value hash.  Usage:

    cd /tmp && python /root/repo/tools/driver_sim.py /root/testdata/sf0.01

(or copy it to /tmp first — it only needs /root/repo on sys.path, which
it inserts itself).  Expect a final ``ALL PASS of <N>`` line.

Canonicalization mirrors the driver's contract: columns sorted by name,
rows rendered to strings and sorted, numeric values normalized so that
BIGINT/HUGEINT/DECIMAL/DOUBLE renderings of the same number compare
equal (queries are required to round floats identically on both sides —
see queries/base.py — so any residual float mismatch is a real bug).

``replay`` is the one registry loop: ``main`` runs it on one plain
session, and tools/sweep.py runs it under every invariance axis.
"""

from __future__ import annotations

import datetime
import hashlib
import sys
import time
import traceback
from decimal import Decimal

sys.path.insert(0, "/root/repo")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return repr(float(v))
    if isinstance(v, float):
        if v == int(v) and abs(v) < 2**53:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted((canon(k), canon(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def fingerprint(cols: list[str], rows: list) -> tuple[int, tuple, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rendered = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5("\n".join(rendered).encode()).hexdigest()
    return len(rows), tuple(sorted(cols)), h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # optional argv[2]: comma-separated query names — iterate on a few
    # queries fast. The COMMIT GATE is the full run (no second arg).
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    t_all = time.time()
    outcomes = replay(spark, sf_dir, only)
    n_fail = sum(1 for why in outcomes.values() if why)
    print(f"total wall: {time.time() - t_all:.0f}s")
    if n_fail == 0:
        print(f"ALL PASS of {len(outcomes)}")
        return 0
    print(f"FAILURES {n_fail} of {len(outcomes)}")
    return 1


def replay(spark, sf_dir: str, only=None, collect=None) -> dict:
    """Run every registry query (or the names in ``only``) on ``spark``
    and compare each with its DuckDB oracle over the same parquet.

    Returns ``{name: outcome}``: None for a pass, else a one-line reason.
    ``collect(name, df)``, when given, replaces ``df.collect()`` — the
    retry sweep collects through a task-failure injector this way."""
    import duckdb

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    if only is not None:
        # a typo'd name would otherwise match nothing and pass vacuously
        unknown = sorted(set(only) - qs.keys())
        if unknown:
            raise ValueError(f"unknown query name(s): {', '.join(unknown)}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    outcomes: dict[str, str | None] = {}
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            got = collect(name, df) if collect else df.collect()
            rows = [tuple(r) for r in got]
            if name not in oracles:
                print(f"PASS {name} (rows-only: {len(rows)} rows, "
                      f"{time.time() - t0:.1f}s)")
                outcomes[name] = None
                continue
            s_cnt, s_cols, s_hash = fingerprint(cols, rows)
            cur = con.execute(oracles[name])
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
            o_cnt, o_cols_s, o_hash = fingerprint(o_cols, o_rows)
            ok = (s_cnt == o_cnt) and (s_cols == o_cols_s) and (s_hash == o_hash)
            if ok:
                print(f"PASS {name} ({s_cnt} rows, {time.time() - t0:.1f}s)")
                outcomes[name] = None
            else:
                outcomes[name] = (
                    f"rows {s_cnt}/{o_cnt} "
                    f"cols {s_cols}/{o_cols_s} hash {s_hash}/{o_hash}"
                )
                print(f"FAIL {name}: {outcomes[name]}")
        except Exception as ex:  # noqa: BLE001 — report and keep replaying
            print(f"FAIL {name}: EXCEPTION")
            traceback.print_exc()
            outcomes[name] = f"EXCEPTION {ex!r}"[:300]
        sys.stdout.flush()
    return outcomes


if __name__ == "__main__":
    sys.exit(main())
