"""One builder per cross-engine expression (static guard, no Spark).

The md5-prefix hash, the whitespace tokenizer and the embedding folds
must evaluate bit-for-bit alike in Spark and in the DuckDB oracles, so
each has exactly one Spark builder and one DuckDB rendering, and the
DuckDB fixture views that oracles run over are registered only by the
one oracle check (oracle.py). A copy written elsewhere could drift from
its owner unnoticed; this test fails on any such copy in the package,
bench.py or tools/. Like tools/collect_audit.py it only reads source, so
it runs instantly.

Whitespace is stripped before matching, so a copy split over lines is
still found.
"""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "hadoop_0_20_2_ljx_spark"

# pattern (whitespace-free source text) -> the one module that may hold it
_BUILDERS = {
    # md5 hex prefix -> integer, Spark side: functions.portable.md5_int_sql
    "conv(substring(md5(": f"{PKG}/functions/portable.py",
    "F.conv(F.substring(F.md5(": f"{PKG}/functions/portable.py",
    # Column array tokenizer: every caller wraps textstats.tokens_sql
    "F.filter(F.split(": f"{PKG}/extensions/textstats.py",
    # array folds: portable.dot_sql / sq_dist_sql
    "aggregate(zip_with(": f"{PKG}/functions/portable.py",
    "F.aggregate(F.zip_with(": f"{PKG}/functions/portable.py",
    # DuckDB renderings: queries/base.words_sql and h32_sql / h64_sql
    "list_filter(regexp_split_to_array(": f"{PKG}/queries/base.py",
    "('0x'||substring(md5(": f"{PKG}/queries/base.py",
    # DuckDB fixture views: oracle.duckdb_connect, for the one comparator
    "ASSELECT*FROMread_parquet(": f"{PKG}/oracle.py",
}

# each builder module must itself hold its pattern, or the guard would
# pass vacuously after a rewrite of the builder's text
_MUST_HOLD = [
    "conv(substring(md5(",
    "aggregate(zip_with(",
    "list_filter(regexp_split_to_array(",
    "('0x'||substring(md5(",
    "ASSELECT*FROMread_parquet(",
]


def _sources() -> dict[str, str]:
    out = {"bench.py": open(os.path.join(ROOT, "bench.py")).read()}
    for top in (PKG, "tools"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            for f in files:
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    out[os.path.relpath(path, ROOT)] = open(path).read()
    return {rel: re.sub(r"\s+", "", text) for rel, text in out.items()}


def test_each_cross_engine_expression_has_one_builder():
    sources = _sources()
    copies = [
        f"{rel}: {pat} (builder: {home})"
        for pat, home in _BUILDERS.items()
        for rel, text in sorted(sources.items())
        if rel != home and pat in text
    ]
    assert not copies, "copies outside the one builder:\n" + "\n".join(copies)


def test_builders_hold_their_expressions():
    sources = _sources()
    missing = [p for p in _MUST_HOLD if p not in sources[_BUILDERS[p]]]
    assert not missing, missing
