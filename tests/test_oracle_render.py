"""The oracle check's value renderer and row fingerprint (no Spark), and
one replay of non-finite cells against DuckDB."""

from __future__ import annotations

import datetime
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

from hadoop_0_20_2_ljx_spark.oracle import canon_rows, fingerprint, render, replay
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize(
    "value, text",
    [
        (None, "NULL"),
        (True, "T"),
        (False, "F"),
        (7, "7"),
        (np.int64(-7), "-7"),
        (3.0, "3"),
        (-0.0, "0"),
        (0.1 + 0.2, "0.3"),
        (1 / 3, "0.333333333"),
        (2.0**60, "1.152921504606847e+18"),
        (float("nan"), "NaN"),
        (float("inf"), "Infinity"),
        (float("-inf"), "-Infinity"),
        (np.float64("nan"), "NaN"),
        (Decimal("12.00"), "12"),
        (Decimal("12.5"), "12.5"),
        (b"\x00\xff", "00ff"),
        ([1, None, 2.5], "[1,NULL,2.5]"),
        (np.array([1.0, float("inf")]), "[1,Infinity]"),
        ({"b": [1], "a": {"x": None}}, "{a:{x:NULL},b:[1]}"),
        (datetime.datetime(2024, 1, 2, 3, 4, 5), "2024-01-02 03:04:05.000000"),
        (pd.Timestamp("2024-01-02 03:04:05.5"), "2024-01-02 03:04:05.500000"),
        (datetime.date(2024, 1, 2), "2024-01-02"),
        ("a|b", "a|b"),
    ],
)
def test_render(value, text):
    assert render(value) == text


def test_one_number_renders_alike_across_types():
    assert {render(5), render(5.0), render(Decimal("5.000")), render(np.int32(5))} == {"5"}


def test_fingerprint_ignores_row_and_column_order():
    a = fingerprint(["x", "y"], [(1, "a"), (2, "b")])
    b = fingerprint(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b
    assert a[:2] == (2, ("x", "y"))
    assert fingerprint(["x", "y"], [(1, "b"), (2, "a")]) != a


def test_canon_rows_maps_pandas_missing_markers_to_null():
    pdf = pd.DataFrame({"b": [1.5, np.nan], "a": ["x", None],
                        "t": [pd.Timestamp("2024-01-01"), pd.NaT]})
    assert canon_rows(pdf) == ["NULL|NULL|NULL", "x|1.5|2024-01-01 00:00:00.000000"]


def test_replay_matches_nonfinite_cells_and_names_a_diff(spark):
    queries = {
        "q_nonfinite": lambda s, sf: s.sql(
            "SELECT double('NaN') AS nan, double('Infinity') AS pinf, "
            "double('-Infinity') AS ninf"),
    }
    oracles = {"q_nonfinite": "SELECT 'NaN'::DOUBLE AS nan, 'inf'::DOUBLE AS pinf, "
                              "'-inf'::DOUBLE AS ninf"}
    assert replay(spark, SF_SMOKE, queries, oracles) == {"q_nonfinite": None}

    oracles = {"q_nonfinite": "SELECT 'NaN'::DOUBLE AS nan, 'inf'::DOUBLE AS pinf, "
                              "'inf'::DOUBLE AS ninf"}
    why = replay(spark, SF_SMOKE, queries, oracles)["q_nonfinite"]
    assert "first diffs (spark, duck): [('NaN|-Infinity|Infinity', 'NaN|Infinity|Infinity')]" in why
    with pytest.raises(ValueError, match="q_typo"):
        replay(spark, SF_SMOKE, queries, oracles, only={"q_typo"})
