"""Differential test: KeyFieldBasedComparator char-offset specs against an
independent pure-Python model of sort(1)/KeyFieldHelper semantics
(reference mapred/lib/KeyFieldBasedComparator.java:33-120,
KeyFieldHelper.java). Seeded random lines, several spec combinations,
including a slice spilling across field separators."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.operators.sorts import key_field_order_columns

SEP = "\t"
_SPEC = re.compile(
    r"^-k(?P<f1>\d+)(?:\.(?P<c1>\d+))?(?P<o1>[nr]*)"
    r"(?:,(?P<f2>\d+)(?:\.(?P<c2>\d+))?(?P<o2>[nr]*))?$"
)


def model_key(line: str, spec: str):
    """Independent model: slice by absolute char offsets over the raw line
    (a range larger than its field spills across separators), numeric =
    leading decimal else 0, reverse = descending."""
    m = _SPEC.match(spec)
    f1, c1 = int(m.group("f1")), int(m.group("c1") or 1)
    f2 = int(m.group("f2")) if m.group("f2") else None
    c2 = int(m.group("c2") or 0)
    opts = (m.group("o1") or "") + (m.group("o2") or "")
    fields = line.split(SEP)

    def start_of(f: int) -> int:  # 0-based char index of field f's start
        return sum(len(x) for x in fields[: f - 1]) + (f - 1) * len(SEP)

    if len(fields) < f1:
        sliced = ""
    else:
        begin = start_of(f1) + (c1 - 1)
        if f2 is None:
            end = len(line) - 1
        elif c2 == 0:
            end = start_of(f2) + len(fields[f2 - 1]) - 1 if len(fields) >= f2 else len(line) - 1
        else:
            end = start_of(f2) + (c2 - 1)
        sliced = line[begin : end + 1] if end >= begin else ""
    if "n" in opts:
        mm = re.match(r"^\s*(-?\d+(?:\.\d+)?)", sliced)
        val = float(mm.group(1)) if mm else 0.0
        return (-val if "r" in opts else val, 0)
    # string compare; reverse via a sortable inversion is messy in Python,
    # so the caller handles reverse for string specs
    return sliced


def _rand_lines(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    words = ["alpha", "Beta", "g", "42", "-7", "3.14", "007", "zz9", "", "x y"]
    out = set()
    while len(out) < n:
        k = rng.randint(1, 4)
        out.add(SEP.join(rng.choice(words) + str(rng.randint(0, 99)) for _ in range(k)))
    return sorted(out)


@pytest.mark.parametrize(
    "specs",
    [
        ["-k2.2,2.4n"],
        ["-k1.2,1n", "-k2,2"],
        ["-k2,3"],  # slice spills across the separator between fields 2 and 3
        ["-k1,1nr"],
    ],
)
def test_keyfield_specs_match_python_model(spark, specs):
    lines = _rand_lines(300, seed=hash(tuple(specs)) % 10_000)
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    ordered = df.orderBy(*key_field_order_columns(F.col("line"), specs, SEP))
    got = [r["line"] for r in ordered.collect()]

    def py_key(line: str):
        key = []
        for spec in specs:
            k = model_key(line, spec)
            if isinstance(k, str):
                # string spec: reverse not exercised here except via 'r' on
                # numeric specs (model_key folds it into the number)
                key.append(k)
            else:
                key.append(k[0])
        key.append(line)  # total-order tiebreak, mirrored below
        return tuple(key)

    expect = sorted(lines, key=py_key)
    got_tb = [
        r["line"]
        for r in df.orderBy(
            *[c for s in specs for c in _spark_cols(s)], F.col("line")
        ).collect()
    ]
    assert got_tb == expect


def _spark_cols(spec: str):
    from hadoop_0_20_2_ljx_spark.operators.sorts import key_field_order_columns

    return key_field_order_columns(F.col("line"), [spec], SEP)


@pytest.mark.parametrize(
    "spec",
    ["1.3,1.3", "3.2,3.0nr", "4,4n", "3,3n", "2,3", "1.2,1n", "2.2,2.4n"],
)
def test_kf_slice_sql_matches_engine_slice(spark, spec):
    """Differential pin for the r9 oracle generator (queries/core.py
    _kf_slice_sql): the DuckDB rendering of a -k spec must produce the
    SAME key value as the engine's key_field_slice on every line —
    including lines with missing/short/empty fields, where the
    pre-r9 column-based oracle silently disagreed (concat_ws null-skip
    shifts offsets; base.py boundary)."""
    import duckdb

    from hadoop_0_20_2_ljx_spark.operators.sorts import (
        key_field_slice,
        parse_key_spec,
    )
    from hadoop_0_20_2_ljx_spark.queries.core import _kf_slice_sql

    lines = _rand_lines(250, seed=hash(spec) % 10_000)
    # short/degenerate lines: fewer fields than the spec references,
    # fields shorter than the char offsets, empty fields
    lines += ["", "a", "ab\tc", "\t\t", "7", "x\t", "\tx", "1-URGENT\tF\t12\t34"]
    df = spark.createDataFrame([(l,) for l in lines], "line string")

    k = parse_key_spec(spec)
    c = key_field_slice(F.col("line"), spec, SEP)
    if k["numeric"]:
        num = F.regexp_extract(c, r"^\s*(-?\d+(?:\.\d+)?)", 1)
        c = F.when(num != "", num.cast("double")).otherwise(F.lit(0.0))
    eng = {r["line"]: r["k"] for r in df.select("line", c.alias("k")).collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"(?)" for _ in lines)
        + ") v(line)",
        lines,
    )
    ora = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT line, {_kf_slice_sql(spec)} FROM (SELECT line FROM t) _"
        ).fetchall()
    }
    for l in lines:
        assert eng[l] == ora[l], f"{spec!r} on {l!r}: engine {eng[l]!r} vs oracle {ora[l]!r}"
