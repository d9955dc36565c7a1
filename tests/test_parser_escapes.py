"""Results must not change under spark.sql.parser.escapedStringLiterals.

The corpus tokenizer's regex reaches Spark as a SQL string literal
(textstats.tokens_sql). The default parser unescapes backslashes in
string literals; with escapedStringLiterals on it keeps them verbatim,
so a literal written for one mode means a different regex in the other
(a doubled backslash matches a literal backslash followed by 's': every
document becomes one token, and q_dedup_minhash went from 25 candidate
pairs to 124,750 at sf0.01). tokens_sql picks the literal from the
active session's conf, so both modes must yield the same rows.
"""

from __future__ import annotations

from hadoop_0_20_2_ljx_spark.extensions import dedup
from hadoop_0_20_2_ljx_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE, parser_escapes


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_text_builders_match_default_session_with_escaped_literals(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    builds = {
        "simhash_signatures": lambda: dedup.simhash_signatures(docs, "doc_id", "text"),
        "minhash_band_buckets": lambda: dedup.minhash_band_buckets(docs, "doc_id", "text"),
        "q_pipeline_training": lambda: REGISTRY["q_pipeline_training"].spark(
            spark, SF_SMOKE
        ),
    }
    default = {name: _rows(build()) for name, build in builds.items()}
    with parser_escapes(spark):
        escaped = {name: _rows(build()) for name, build in builds.items()}
    for name in builds:
        assert default[name], name
        assert escaped[name] == default[name], name

