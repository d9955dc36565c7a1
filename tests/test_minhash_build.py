"""Pins for the minhash SQL-text builds.

minhash_signatures_relational's 16-seed aggregate list,
band_buckets_from_signatures' banded-struct array and
group_similarity_matrix's per-group signature aggregate are built as
parsed SQL text (F.expr / selectExpr over dedup's SQL-text builders)
instead of per-Column py4j calls — the r6 literal-tree lesson applied to
agg/struct lists (measured r14: 5,388 py4j send_commands = 1.36 s of
q_dedup_incremental's driver build collapsed to ~1,470). The parsed
trees must be IDENTICAL to the old Column-built trees: these tests keep
the pre-SQL-text forms verbatim — including the Column helpers they were
built from, copied here so the reference stays independent of the code
under test — and require the optimized plan (modulo expression and
lambda-variable ids, which are session counters) and the produced rows
to match bitwise.
"""

from __future__ import annotations

from conftest import SF_SMOKE, norm_plan
from pyspark.sql import Column
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions import dedup


# --- the Column helpers the old forms used, kept verbatim --------------------
def _tokens(text: Column) -> Column:
    """Whitespace tokens, empties dropped."""
    return F.filter(F.split(text, r"\s+"), lambda w: w != "")


def _pad_empty(arr: Column) -> Column:
    return F.element_at(
        F.transform(
            F.array(arr),
            lambda a: F.when(F.size(a) > 0, a).otherwise(F.array(F.lit(""))),
        ),
        1,
    )


def _word_shingles(text: Column, k: int = 3) -> Column:
    def _grams(ws: Column) -> Column:
        n = F.size(ws)
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
            lambda i: F.array_join(F.slice(ws, i + 1, k), " "),
        )
        return F.when(n >= k, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(_tokens(text)), _grams), 1)


def _h32(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


_MH_MOD = 1 << 30


def _mh_base(g: Column) -> Column:
    """60-bit md5-derived base value for the double-hash family."""
    return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")


def _mh_hash(v: Column, s: int) -> Column:
    """Seed-s member of the family, from the shared base value."""
    return (F.shiftright(v, 30) + F.lit(s) * v.bitwiseAND(F.lit(_MH_MOD - 1))) % F.lit(
        _MH_MOD
    )


# --- the pre-SQL-text builders, kept verbatim --------------------------------
def _old_signatures_relational(df, id_col, text_col, num_hashes=16, shingle_k=3):
    """Pre-r14 minhash_signatures_relational, kept verbatim (the agg
    list built one Column per seed)."""
    ids = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_text"))
    sc = df.sparkSession.sparkContext
    spread = ids.repartition(sc.defaultParallelism, "doc")
    sh = _word_shingles(F.col("_text"), shingle_k)
    padded = _pad_empty(sh)
    hashed = spread.select("doc", F.explode(padded).alias("g")).select(
        "doc", _mh_base(F.col("g")).alias("v")
    )
    return hashed.groupBy("doc").agg(
        *[F.min(_mh_hash(F.col("v"), s)).alias(f"h{s}") for s in range(num_hashes)]
    )


def _old_band_buckets(sigd, num_hashes=16, bands=4):
    """Pre-r14 band_buckets_from_signatures, kept verbatim (the struct
    array built via Column operators)."""
    rows_per_band = num_hashes // bands
    return sigd.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _h32(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"h{b * rows_per_band + i}").cast("string")
                                    for i in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _old_group_signatures(df, group_col, text_col, num_hashes=16, shingle_k=3):
    """group_similarity_matrix's shingle vocabulary and per-group
    signature aggregate as built before the SQL-text builders, kept
    verbatim (pins removed: the pinned frames are compared directly)."""
    sh = _word_shingles(F.col(text_col), shingle_k)
    padded = _pad_empty(sh)
    gs = df.select(F.col(group_col).alias("grp"), F.explode(padded).alias("g")).distinct()
    return (
        gs.select("grp", _mh_base(F.col("g")).alias("v"))
        .groupBy("grp")
        .agg(
            *[F.min(_mh_hash(F.col("v"), s)).alias(f"h{s}") for s in range(num_hashes)],
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


def _new_group_signatures(monkeypatch, df, group_col, text_col):
    """The per-group signature aggregate group_similarity_matrix pins,
    captured by swapping its pin for a recorder (pins: the shingle
    vocabulary, then the signature/size aggregate)."""
    pinned = []
    monkeypatch.setattr(dedup, "pin", lambda frame: pinned.append(frame) or frame)
    dedup.group_similarity_matrix(df, group_col, text_col)
    assert len(pinned) == 2
    return pinned[1]


def _pairs(spark, monkeypatch):
    """(old, new) frame pairs that must match: the band buckets and the
    per-group signature aggregate behind q_corpus_source_sim."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return [
        (
            _old_band_buckets(_old_signatures_relational(docs, "doc_id", "text")),
            dedup.minhash_band_buckets(docs, "doc_id", "text"),
        ),
        (
            _old_group_signatures(docs, "source", "text"),
            _new_group_signatures(monkeypatch, docs, "source", "text"),
        ),
    ]


def test_sqltext_build_plans_are_identical(spark, monkeypatch):
    for old, new in _pairs(spark, monkeypatch):
        assert norm_plan(old) == norm_plan(new)


def test_sqltext_build_rows_are_identical(spark, monkeypatch):
    for old, new in _pairs(spark, monkeypatch):
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0


def test_sqltext_signatures_rows_identical_nondefault_params(spark):
    """Non-default (num_hashes, bands, shingle_k) exercise the SQL-text
    generators off the default path (seed constants, band slicing)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    old = _old_band_buckets(
        _old_signatures_relational(docs, "doc_id", "text", num_hashes=12, shingle_k=2),
        num_hashes=12,
        bands=3,
    )
    new = dedup.minhash_band_buckets(
        docs, "doc_id", "text", num_hashes=12, bands=3, shingle_k=2
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
