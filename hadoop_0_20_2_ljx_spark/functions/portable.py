"""Cross-engine deterministic expression builders, as Spark SQL text.

The reference hashes with MD5Hash (io/MD5Hash.java:30) for sampling
filters (mapred/SequenceFileInputFilter.java:195 MD5Filter) and with
hashCode for partitioning (mapred/lib/HashPartitioner.java:35). For our
DuckDB-oracle protocol we need hash functions that evaluate to the SAME
value in Spark SQL and in DuckDB SQL — Spark's `hash()` (murmur3) and
DuckDB's `hash()` differ, so both sides derive integers from md5 hex,
which is bit-identical everywhere.

One builder per expression: md5_int_sql is the md5-prefix hash (its
DuckDB rendering is queries/base.h32_sql / h64_sql), and dot_sql,
cos_sql and sq_dist_sql are the embedding folds over arrays, all three
summing through the one pairwise fold zip_sum_sql, with double_sql /
double_array_sql rendering the literal operands. Every
builder returns SQL text; Column callers wrap it in F.expr (each Column
operator is a py4j round-trip, one parse is milliseconds for the
identical tree).

At scale this stays JVM-side (md5/conv and the folds are built-ins, no
UDF).
"""

from __future__ import annotations

import math


def md5_int_sql(x_sql: str, digits: int) -> str:
    """Non-negative BIGINT from the first `digits` md5 hex digits of the
    SQL expression `x_sql` cast to STRING. 8 digits (32 bits) buckets and
    samples; 15 digits (60 bits) is the wide hash (minhash base, simhash
    votes, fingerprints), which still fits a signed BIGINT in both
    engines. The cast is dropped by the optimizer when `x_sql` is
    already a string."""
    return (
        f"CAST(conv(substring(md5(CAST({x_sql} AS STRING)), 1, {digits}), 16, 10) "
        "AS BIGINT)"
    )


def double_sql(x: float) -> str:
    """SQL double literal; repr round-trips the exact IEEE value. Vectors
    are finite by contract: NaN/Inf have no literal (repr would render
    `nanD`, which Spark resolves as a column name), so they raise."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"non-finite value {x!r} in a double literal: vector math "
            "requires finite vectors"
        )
    return repr(x) + "D"


def double_array_sql(xs) -> str:
    """array<double> literal of the values `xs`, exact to the bit."""
    return "array(" + ", ".join(double_sql(x) for x in xs) + ")"


def zip_sum_sql(a: str, b: str, term: str, zero: str = "0.0D") -> str:
    """Sum over index i of `term` (SQL over the lambda variables x = a[i]
    and y = b[i]), folded left to right from `zero` in index order —
    the summation order the DuckDB oracles replay, so double sums stay
    bit-identical."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), "
        f"{zero}, (acc, v) -> acc + v)"
    )


def dot_sql(a: str, b: str) -> str:
    """Double-precision dot product of two array expressions (matches
    DuckDB's list_inner_product on DOUBLE[] exactly)."""
    return zip_sum_sql(a, b, "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)")


def cos_sql(a: str, b: str, b_norm: str | None = None) -> str:
    """Cosine of two array expressions. `b_norm` is the SQL of b's norm
    when the caller holds it precomputed (a literal centroid's norm);
    by default it is folded from b like a's."""
    if b_norm is None:
        b_norm = f"sqrt({dot_sql(b, b)})"
    return f"{dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * {b_norm})"


def sq_dist_sql(a: str, b: str) -> str:
    """Squared L2 distance of two array<double> expressions (matches
    DuckDB's list_sum of a list_transform, which keeps the replayed-chain
    oracles bitwise-equal)."""
    return zip_sum_sql(a, b, "(x - y) * (x - y)")
