"""Row transforms — the reference's Mapper library re-expressed.

Reference counterparts (SURVEY.md §2.3):
  - InverseMapper                (mapred/lib/InverseMapper.java:33):
    an inline select(v, k), no helper
  - RegexMapper                  (mapred/lib/RegexMapper.java:35)
  - TokenCountMapper             (mapred/lib/TokenCountMapper.java:38)
  - FieldSelectionMapReduce      (mapred/lib/FieldSelectionMapReduce.java:25-60)
  - ChainMapper / ChainReducer   (mapred/lib/ChainMapper.java:90)
  - SkipBadRecords               (mapred/SkipBadRecords.java:51)

Everything stays in whole-stage codegen (built-in functions only); the
'mapper chain' is just function composition that Catalyst fuses into one
stage, which is exactly what ChainMapper hand-built.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def regex_matches(df: DataFrame, col: str, pattern: str) -> DataFrame:
    """RegexMapper: emit one row per regex match (the classic 'grep' map).

    Output: (match string). Downstream groupBy(match).count() reproduces
    the Grep example's first job (examples/.../Grep.java:48-69).
    """
    return df.select(
        F.explode(F.regexp_extract_all(F.col(col), F.lit(pattern), 0)).alias("match")
    )


def tokenize(df: DataFrame, col: str, pattern: str = r"\s+") -> DataFrame:
    """TokenCountMapper's tokenizer: split on whitespace, drop empties.

    Output: one row per token, column 'token'.
    """
    return df.select(F.explode(F.split(F.col(col), pattern)).alias("token")).filter(
        F.col("token") != ""
    )


def parse_field_spec(spec: str) -> list[tuple[int, int | None]]:
    """Parse a FieldSelectionMapReduce field spec.

    Grammar (mapred/lib/FieldSelectionMapReduce.java:25-60): comma-separated
    positions, 'a-b' closed ranges, and 'a-' open ranges meaning 'field a
    through the last field'. Returns [(start, stop_exclusive|None), ...]
    with None = open-ended.
    """
    out: list[tuple[int, int | None]] = []
    for piece in spec.split(","):
        piece = piece.strip()
        if not piece:
            continue
        if "-" in piece:
            lo, hi = piece.split("-", 1)
            out.append((int(lo), int(hi) + 1 if hi else None))
        else:
            out.append((int(piece), int(piece) + 1))
    return out


def field_selection(
    df: DataFrame, line_col: str, spec: str, sep: str = "\t", out_sep: str = "\t"
) -> DataFrame:
    """FieldSelectionMapReduce: unix-cut over delimited lines.

    Splits `line_col` on `sep`, selects fields per `spec` (ranges and open
    ranges included), and re-joins with `out_sep` into column 'selected'.
    Pure built-in expressions -> stays in codegen at scale.
    """
    arr = F.split(F.col(line_col), F.lit(sep).cast("string"), -1)
    parts: list[Column] = []
    for start, stop in parse_field_spec(spec):
        if stop is None:
            # open range: slice from start to end (slice is 1-indexed)
            parts.append(
                F.array_join(F.slice(arr, start + 1, F.greatest(F.size(arr) - start, F.lit(0))), out_sep)
            )
        else:
            for i in range(start, stop):
                parts.append(F.element_at(arr, i + 1))
    return df.select(F.concat_ws(out_sep, *parts).alias("selected"))


def chain(df: DataFrame, *stages: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """ChainMapper/ChainReducer: [MAP+ / REDUCE MAP*] in one pass.

    In Spark, composing DataFrame transformations gives the same fusion
    automatically — Catalyst collapses adjacent projections/filters into a
    single whole-stage-codegen'd stage, which is the entire point of the
    reference's chain classes.
    """
    for stage in stages:
        df = stage(df)
    return df
