"""Query-registry plumbing.

Every declared query from SURVEY.md §2 is a QueryDef: a PySpark callable
(spark, sf_dir) -> DataFrame plus (when SQL-expressible) the equivalent
DuckDB oracle SQL over the same parquet tables. Column names and rounding
are aligned on both sides because the driver compares sorted-by-name
columns via order-insensitive value hash.

Cross-engine ground rules used throughout:
  - hashes: md5-derived (functions/portable.py) — identical bits in both.
  - float aggregates: explicit round() at the same precision both sides
    (summation order differs between engines; raw double sums don't
    hash-match).
  - timestamps: always output as formatted strings (UTC both sides).
  - computed integers: cast to long/BIGINT both sides.
  - NEVER emit DECIMAL output columns: one in-repo harness fetches the
    oracle via pandas (fetchdf), which converts DuckDB DECIMALs to
    float64 and silently truncates past 2^53 (r5: the fingerprint
    hash-sum). Accumulate in DECIMAL(38,0) when int64 would overflow,
    then fold to BIGINT (e.g. mod 2^63) before emitting.
  - concat_ws SKIPS NULL arguments in BOTH engines: a row
    representation built with it lets NULL<->value flips between
    adjacent columns collide. coalesce each column to a sentinel when
    the rendered string feeds change detection.
  - Unicode whitespace: Java regex \\s (Spark) includes vertical tab
    \\x0B; RE2's \\s (DuckDB) does not — the ONE tokenizer divergence
    on a unicode-salted differential replay (r8; every other salt —
    NBSP, CJK, combining marks, RTL, emoji, ZWJ, ideographic space —
    tokenizes identically, pinned token-by-token in
    tests/test_unicode_boundary.py). The engine's Java-\\s behavior is
    the declared product contract, so every oracle regex over
    whitespace uses the class [{WS}] (WS below), which names \\x0B. Any
    Python-side tokenizer (UDTF/UDF) must use the explicit class
    [ \\t\\n\\x0b\\f\\r]+ — str.split() is UNICODE whitespace and
    silently diverges on NBSP et al. The r8 unicode replay reduced to
    exactly four causes: (1) \\x0B above; (2) str.split() above, fixed;
    (3) DuckDB trim() strips UNICODE whitespace where Spark trim()
    strips ASCII space only (pinned; never trim text that can be
    unicode-whitespace-only); (4) oracle byte approximations like
    ascii(char) are codepoints, faithful to real UTF-8 bytes only on
    ASCII (multimodal features' stand-in oracle).
  - JSON extraction: keep oracle JSON well-formed with non-exponent
    numbers (the fixture props contract). Measured r8: Spark's
    get_json_object parses STRICTLY (a trailing comma returns NULL)
    where DuckDB's JSON cast is lenient (accepts it), and a float
    extracted as string renders its exponent 'E' in Spark vs 'e' in
    DuckDB.
  - NULL ordering defaults DIFFER: Spark ASC = NULLS FIRST, DuckDB
    ASC = NULLS LAST. Registry queries rely on the FIXTURE's non-null
    column contract (keys, text, timestamps are never null there); any
    query sorting or windowing over a genuinely nullable key must pin
    NULLS FIRST/LAST explicitly ON BOTH SIDES. Measured r8 by replaying
    the registry against a 30%-nulled fixture copy: 139/186 hash-matched.
    r9 pinned the riders the r8 verdict named plus the whole r5 cohort's
    (scd2/window_funcs/window_rank NULLS FIRST both sides; asof family
    standard-SQL null-ts contract — note DuckDB's native ASOF pairs a
    null probe with a null build row, so its oracle routes null probes
    around the operator; winsorize/deciles exclude null measurements,
    percentile_cont's semantics; interval-merge excludes null endpoints;
    tumbling/session exclude null event time — a watermark could never
    admit one; keyfield-offsets' oracle now slices the same rendered
    line the engine sorts, because concat_ws skips NULLs and SHIFTS -k
    offsets; udf_histogram's pandas groupby needed dropna=False).
    Post-r10 replay: 161/186. The remaining 25 are two classes, none an
    ordering-default ride on a pinned query: (1) trainers/embedding math
    fed null vectors (q_embed_* x13, q_dedup_embed/_semantic — trainers
    stay strict by contract); (2) text/format roundtrips whose wire form
    cannot represent NULL (scan/sink/recordio/fieldsel/skipbad/
    multimodal — line-rendered fields shift, concat_ws boundary). The
    r9-era class (3) was pinned in full in r10: explicit NULLS
    FIRST/LAST (keyfield), an explicit null-flag struct field where
    engines disagree on null struct-field ordering (secondary sort,
    keep-best dedup), NULL-SAFE recombining joins wherever a nullable
    GROUP key re-enters a join (entropy totals, median x mode,
    approx-quantile gates, JS totals — a bare equi-join silently drops
    the null group that GROUP BY keeps), order-stat exclusion of null
    measurements (median/mode/quantile/weighted-sample priority), slice
    monitors dropping rows whose bin or slice predicate is NULL (JS/KS —
    note least() IGNORES nulls in both engines, so clamp AFTER the null
    filter), null-text-scores-as-empty-doc (classifier, simhash
    sentinel), and SQL aggregate semantics in pandas UDFs (cogroup:
    null-skipping sums, NULL total_cents for a NULL price — int(NaN)
    raised before).
  - NON-FINITE floats (tools/sweep.py's nonfinite axis: the registry
    replayed at sf0.001 with ~10% NaN/+-Inf salted into every double
    column and into embedding vectors; NaN/+-Inf render as explicit
    tokens in the oracle check): 146/188 match their oracle. Of the 42
    divergent (each with its error in sweep.NONFINITE_DIVERGENT), 28
    fail LOUDLY in Spark — the integer-cents determinism contract
    (round(x*100) -> BIGINT) raises CAST_OVERFLOW / ARITHMETIC_OVERFLOW
    under ANSI on Inf/NaN rather than silently folding them; a pipeline
    ingesting non-finite measurements must gate them explicitly (the
    outliers/winsorize family's job), and a loud error is the correct
    posture for a determinism-first engine. The other 14: one pandas
    UDF raises OverflowError (q_udf_cogroup), 7 trainers render a NaN
    centroid as the SQL literal `nanD` (an unresolved column), 5 run
    in Spark while their DuckDB oracles raise, and q_agg_approx_quantile
    differs in its approx_ok flag.
    The r9-era two "genuine semantics" divergences were PINNED in r10
    with exactly the isnan/isinf recipe: q_agg_profile renders
    non-finite min/max as explicit 'NaN'/'Infinity'/'-Infinity' tokens
    on both sides (any printf float rendering is engine-specific beyond
    digits), and q_sort_secondary's packed struct carries an
    ordering-class field (0=NaN, 1=value, 2=null) so NaN ranks GREATEST
    — above +Infinity, first under DESC — both engines' native
    comparator semantics, which desc-via-negation broke (NaN is
    invariant under negation while finite values flip).
"""

from __future__ import annotations

import atexit
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from hadoop_0_20_2_ljx_spark import catalog

# scratch space for sink round-trip queries (gitignored)
TMP_ROOT = "/root/repo/.tmp"


_SCRATCH_REGISTERED: set[str] = set()


def scratch_dir(name: str) -> str:
    """A pid-suffixed scratch dir under TMP_ROOT for write/re-read queries.

    pid suffix: two sessions running the same query concurrently (the
    driver + a local pytest, or the two sweeps) must not share a commit
    dir. The dir is removed at interpreter exit (atexit, like pinning.py's
    checkpoint dir) rather than eagerly — the returned DataFrames are lazy,
    so the files must outlive the query function — and with that hook no
    gate/sweep run leaks scratch files (r6 ADVICE). One hook per path:
    a registry sweep calls the sink queries repeatedly and must not
    accumulate duplicate atexit entries."""
    path = os.path.join(TMP_ROOT, f"{name}-{os.getpid()}")
    os.makedirs(TMP_ROOT, exist_ok=True)
    if path not in _SCRATCH_REGISTERED:
        _SCRATCH_REGISTERED.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


@dataclass(frozen=True)
class QueryDef:
    """One declared query: Spark implementation + optional DuckDB oracle."""

    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog.load(spark, sf_dir, name)


# DuckDB renderings of the cross-engine expressions, one each; every
# oracle renders through these, in lockstep with the Spark builders.


def h32_sql(expr: str) -> str:
    """DuckDB rendering of functions.portable.md5_int_sql(expr, 8)."""
    return f"CAST(('0x' || substring(md5(CAST(({expr}) AS VARCHAR)), 1, 8)) AS BIGINT)"


def h64_sql(expr: str) -> str:
    """DuckDB rendering of functions.portable.md5_int_sql(expr, 15)."""
    return f"CAST(('0x' || substring(md5(CAST(({expr}) AS VARCHAR)), 1, 15)) AS BIGINT)"


# DuckDB whitespace, the inside of a regex class: Java's \s (the Spark
# side's contract) includes the vertical tab \x0B, RE2's \s does not, so
# every oracle regex over whitespace names it explicitly as [{WS}].
WS = "\\s\\v"


def words_sql(col: str) -> str:
    """DuckDB rendering of extensions.textstats.tokens_sql: whitespace
    tokens of `col`, empties dropped."""
    return f"list_filter(regexp_split_to_array({col}, '[{WS}]+'), w -> w <> '')"


def shingles_sql(words: str, k: int) -> str:
    """DuckDB rendering of extensions.dedup.word_shingles_sql over a
    token list: distinct word k-grams, empty below k tokens."""
    return (
        f"CASE WHEN len({words}) >= {k} THEN list_distinct(list_transform("
        f"range(len({words}) - {k} + 1), "
        f"i -> array_to_string(({words})[i+1:i+{k}], ' '))) "
        f"ELSE [] END"
    )


def ngrams_sql(words: str, n: int) -> str:
    """DuckDB rendering of extensions.pipeline_ops.word_ngrams
    (non-distinct, ordered)."""
    return (
        f"CASE WHEN len({words}) >= {n} THEN list_transform("
        f"generate_series(0, len({words}) - {n}), "
        f"i -> array_to_string(({words})[i+1:i+{n}], ' ')) "
        f"ELSE [] END"
    )


def minhash_sig_elem_sql() -> str:
    """DuckDB rendering of dedup.mh_hash_sql over md5_int_sql(g, 15):
    the double-hash minhash family ((v>>30) + s*(v & 2^30-1)) % 2^30
    from one 60-bit md5-derived base value per shingle, for seed `s` over
    the shingle list `sh`. Shingle-less docs hash the sentinel empty gram
    (matching minhash_band_buckets' padding)."""
    v = h64_sql("g")
    return (
        "list_min(list_transform(CASE WHEN len(sh) = 0 THEN [''] ELSE sh END, g -> "
        f"(({v} >> 30) + s * ({v} & 1073741823)) % 1073741824"
        "))"
    )


def quality_expr_sql() -> str:
    """DuckDB rendering of textstats.quality_expr's rounded score over
    `text` — shared by the quality query and the token-budget curation
    oracle (the SAME text must render on both or their orderings
    diverge)."""
    toks = words_sql("text")
    return f"""round(
  0.25 * (CASE WHEN length(text) >= 50 AND length(text) <= 10000 THEN 1.0 ELSE 0.0 END)
+ 0.25 * (CASE WHEN (list_sum(list_transform({toks}, w -> length(w))) / greatest(len({toks}), 1)) >= 2.0
               AND (list_sum(list_transform({toks}, w -> length(w))) / greatest(len({toks}), 1)) <= 12.0
          THEN 1.0 ELSE 0.0 END)
+ 0.25 * (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9{WS}]')) / greatest(length(text), 1))
+ 0.25 * least(1.0, 10.0 * (len(list_filter({toks}, w -> lower(w) IN ('the','a','of','and')))
                            / greatest(len({toks}), 1))), 6)"""
