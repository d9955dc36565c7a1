"""DuckDB-oracle check: the one place a Spark result meets its oracle.

The systematic version of the reference's DBCountPageView.verify()
pattern (examples/.../DBCountPageView.java:72,239 — run the job, then
recompute with embedded SQL and compare): ``replay`` runs each declared
query on PySpark AND its oracle on DuckDB over the same parquet files,
and compares row count, sorted column names and an order-insensitive
hash of the rendered rows (FIXTURES.md oracle protocol). The tier-1
test, tools/driver_sim.py and every tools/sweep.py axis replay through it.

``render`` is the one value renderer: integers and integral floats or
decimals render as plain integers, so BIGINT, HUGEINT, DECIMAL and DOUBLE
renderings of one number agree; other floats round to 1e-9; NaN and ±Inf
render as the tokens ``NaN``, ``Infinity`` and ``-Infinity``.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import sys
import time
import traceback
from collections.abc import Callable, Collection, Mapping
from decimal import Decimal
from typing import Any

import duckdb
import numpy as np
import pandas as pd

from hadoop_0_20_2_ljx_spark.catalog import TABLES, table_path


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Register every fixture table as a view, like the driver does."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def render(v: Any) -> str:
    """One cell as the oracle check compares it."""
    if v is None:
        return "NULL"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return repr(float(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        if v == int(v) and abs(v) < 2**53:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted((render(k), render(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _rendered(cols: list[str], rows, cell: Callable[[Any], str] = render) -> list[str]:
    """Each row's cells in column-name order joined by '|', rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(cell(r[i]) for i in order) for r in rows)


def fingerprint(cols: list[str], rows: list) -> tuple[int, tuple, str]:
    """(row count, sorted column names, md5 of the rendered rows): the
    driver's order-insensitive value hash."""
    text = "\n".join(_rendered(cols, rows))
    return len(rows), tuple(sorted(cols)), hashlib.md5(text.encode()).hexdigest()


def _pandas_cell(v: Any) -> str:
    # pandas holds a NULL of a numeric or time column as NaN / NaT / NA
    return "NULL" if pd.api.types.is_scalar(v) and pd.isna(v) else render(v)


def canon_rows(pdf: pd.DataFrame) -> list[str]:
    """A pandas frame's rows rendered like ``fingerprint``'s input; pandas
    cannot tell NULL from NaN, so every missing marker renders as NULL."""
    return _rendered(list(pdf.columns), pdf.itertuples(index=False, name=None), _pandas_cell)


def _mismatch(cols: list[str], rows: list, o_cols: list[str], o_rows: list) -> str | None:
    """None when the two results fingerprint alike, else a one-line reason
    with the first differing rendered rows."""
    got, want = fingerprint(cols, rows), fingerprint(o_cols, o_rows)
    if got == want:
        return None
    pairs = zip(_rendered(cols, rows), _rendered(o_cols, o_rows))
    diffs = [(a, b) for a, b in pairs if a != b][:3]
    return (f"rows {got[0]}/{want[0]} cols {got[1]}/{want[1]} hash {got[2]}/{want[2]}; "
            f"first diffs (spark, duck): {diffs}")


def replay(
    spark,
    sf_dir: str,
    queries: Mapping[str, Callable],
    oracles: Mapping[str, str],
    only: Collection[str] | None = None,
    collect: Callable | None = None,
) -> dict[str, str | None]:
    """Run every query of ``queries`` (or the names in ``only``) on
    ``spark`` and compare each with its ``oracles`` SQL, run by DuckDB
    over the same parquet; a query without an oracle only has to run.

    ``queries`` and ``oracles`` are the driver contract's ``queries()`` and
    ``oracle_sql()`` mappings. Returns ``{name: outcome}``: None for a
    pass, else a one-line reason. ``collect(name, df)``, when given,
    fetches the rows in place of the DataFrame's own collect — the retry
    sweep collects through a task-failure injector this way."""
    if only is not None:
        # a typo'd name would otherwise match nothing and pass vacuously
        unknown = sorted(set(only) - queries.keys())
        if unknown:
            raise ValueError(f"unknown query name(s): {', '.join(unknown)}")
    con = duckdb_connect(sf_dir)
    outcomes: dict[str, str | None] = {}
    try:
        for name, fn in queries.items():
            if only is not None and name not in only:
                continue
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                cols = df.columns
                rows = [tuple(r) for r in (collect(name, df) if collect else df.collect())]
                if name not in oracles:
                    print(f"PASS {name} (rows-only: {len(rows)} rows, "
                          f"{time.time() - t0:.1f}s)")
                    outcomes[name] = None
                    continue
                cur = con.execute(oracles[name])
                outcomes[name] = _mismatch(
                    cols, rows, [d[0] for d in cur.description], cur.fetchall())
                if outcomes[name] is None:
                    print(f"PASS {name} ({len(rows)} rows, {time.time() - t0:.1f}s)")
                else:
                    print(f"FAIL {name}: {outcomes[name]}")
            except Exception as ex:  # noqa: BLE001 — report and keep replaying
                print(f"FAIL {name}: EXCEPTION")
                traceback.print_exc()
                outcomes[name] = f"EXCEPTION {ex!r}"[:300]
            sys.stdout.flush()
    finally:
        con.close()
    return outcomes
