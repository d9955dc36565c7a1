"""Deterministic data generators.

Reference counterparts (SURVEY.md §2.1 last rows):
  - RandomWriter / RandomTextWriter (examples/.../RandomTextWriter.java:82,158)
  - TeraGen                         (examples/.../terasort/TeraGen.java:44-61)
  - PiEstimator's Halton sequence   (examples/.../PiEstimator.java:154)

Determinism rule (SURVEY.md §7.3): derive every value from the
spark.range row id via md5 — never from partition-local RNG state — so
output is identical at any parallelism AND identical to the DuckDB oracle
which derives the same values from range(n).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tera_gen(spark: SparkSession, n: int, num_partitions: int | None = None) -> DataFrame:
    """TeraGen-shaped rows: (key:10 chars, rowid:10 digits, filler:78).

    The official format (TeraGen.java:44-56) draws key bytes uniformly
    from ' '..'~' with a seeded RNG; we derive them from md5(rowid) so the
    dataset is parallelism-invariant and oracle-reproducible. Hex keys
    sort the same way the byte keys do (lexicographically).
    """
    rng = spark.range(0, n, 1, num_partitions) if num_partitions else spark.range(n)
    key = F.substring(F.md5(F.col("id").cast("string")), 1, 10)
    rowid = F.lpad(F.col("id").cast("string"), 10, "0")
    filler = F.rpad(F.upper(F.substring(F.md5(F.concat(F.col("id").cast("string"), F.lit("f"))), 1, 26)), 78, "X")
    return rng.select(key.alias("key"), rowid.alias("rowid"), filler.alias("filler"))


def random_text(spark: SparkSession, n: int, words_per_row: int = 10) -> DataFrame:
    """RandomTextWriter analog: rows of pseudo-words, fully deterministic.

    Each word is a hex token derived from (row id, position); total output
    bytes scale linearly with n like the reference's fixed-total-bytes
    contract."""
    rng = spark.range(n)
    words = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(words_per_row - 1)),
            lambda i: F.substring(
                F.md5(F.concat_ws("-", F.col("id").cast("string"), i.cast("string"))), 1, 8
            ),
        ),
        " ",
    )
    return rng.select(F.col("id").alias("row_id"), words.alias("text"))


def halton(index: int) -> tuple[float, float]:
    """2D Halton low-discrepancy point, as in PiEstimator.HaltonSequence
    (PiEstimator.java:154): bases (2, 3), offset indexing.

    Implemented from the published van der Corput construction (public
    algorithm; deterministic for a given index).
    """
    out = []
    for base in (2, 3):
        x, denom, i = 0.0, 1.0, index + 1
        while i > 0:
            denom *= base
            x += (i % base) / denom
            i //= base
        out.append(x)
    return out[0], out[1]


def pi_estimate(spark: SparkSession, num_points: int) -> DataFrame:
    """PiEstimator: count Halton points inside the unit circle.

    The Halton evaluation is scalar Python, so it runs as an Arrow-batched
    pandas-ish map over spark.range partitions (the reference runs it as a
    map task per offset range); the count aggregation is JVM-side.
    Deterministic: exact same value for a fixed num_points at any
    parallelism.
    """
    def halton_vec(idx, base: int):
        """Vectorized van der Corput radical inverse — same digit
        recurrence as halton(), all of numpy; entries that run out of
        digits contribute exact zeros, so values match the scalar form
        bit-for-bit."""
        import numpy as np

        i = idx.astype(np.int64) + 1
        x = np.zeros(len(i), dtype=np.float64)
        denom = 1.0
        while i.max(initial=0) > 0:
            denom *= base
            x += (i % base) / denom
            i //= base
        return x

    def score(batches):
        import numpy as np

        for pdf in batches:
            idx = pdf["id"].to_numpy()
            dx = halton_vec(idx, 2) - 0.5
            dy = halton_vec(idx, 3) - 0.5
            inside = (dx * dx + dy * dy <= 0.25).astype(np.int32)
            yield pd.DataFrame({"inside": inside})

    pts = spark.range(num_points).mapInPandas(score, schema="inside int")
    return pts.agg(
        F.round(4.0 * F.sum("inside") / num_points, 9).alias("pi_est"),
        F.lit(num_points).alias("n_points"),
    )


def halton_pi_exact(num_points: int) -> float:
    """Driver-side exact expected value (for the oracle literal)."""
    inside = 0
    for i in range(num_points):
        x, y = halton(i)
        if (x - 0.5) ** 2 + (y - 0.5) ** 2 <= 0.25:
            inside += 1
    return round(4.0 * inside / num_points, 9)
