"""Empty-input contract for the shared scale infrastructure (r8).

At 100 TB a filter-to-zero slice is normal data flow — a date partition
with no rows, a language gate that drops everything, a dedup that
leaves nothing new — and it must FLOW THROUGH the two-pass prefix-sum /
rank helpers and the ANN routing as zero rows, not crash the job.
Found by replaying the whole registry against schema-identical empty
tables (149/186 passed before these fixes, 155 after; the empty axis
of tools/sweep.py is the repro).

The strict side is pinned too: TRAINERS (kmeans, PQ) raise a clear
ValueError on empty input — a codebook learned from nothing is a bug
upstream, not a value — and the audit suite's ppm ratios raise ANSI
division errors on a zero-row table by design (completeness of nothing
is undefined, not 100%).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_global_row_number_empty_flows_through(spark):
    from hadoop_0_20_2_ljx_spark.operators import sorts

    df = spark.range(0).select(F.col("id").alias("k"))
    out = sorts.with_global_row_number(df, [F.col("k")])
    assert out.count() == 0
    assert out.columns == ["k", "rn"]


def test_global_running_total_empty_flows_through(spark):
    from hadoop_0_20_2_ljx_spark.extensions import pipeline_ops

    df = spark.createDataFrame([], "doc_id long, n long")
    out = pipeline_ops.global_running_total(df, [F.col("doc_id")], "n", "cum")
    assert out.count() == 0


def test_pack_sequences_empty(spark):
    from hadoop_0_20_2_ljx_spark.extensions import pipeline_ops

    df = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert pipeline_ops.pack_sequences(df, "doc_id", "n_tokens", ctx=128).count() == 0


def test_offsets_unchanged_on_nonempty(spark):
    """The empty-input branch must not perturb the non-empty expression:
    ranks over a tiny frame still come out 1..n with the offset map."""
    from hadoop_0_20_2_ljx_spark.operators import sorts

    df = spark.createDataFrame([(3,), (1,), (2,)], "k int")
    got = {r["k"]: r["rn"] for r in sorts.with_global_row_number(df, [F.col("k")]).collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_ivf_routing_empty_codebook_routes_zero_rows(spark):
    from hadoop_0_20_2_ljx_spark.extensions import similarity

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = similarity.ivf_assign(emb, [])
    assert out.count() == 0
    assert out.schema["list_id"].dataType.simpleString() == "int"
    # designated ids over an EMPTY corpus: no centroid rows exist, so the
    # probe routes zero vectors and returns zero neighbors
    assert similarity.ivf_ann(emb, emb, nlist_ids=list(range(8)), k=5).count() == 0
    # an explicitly empty codebook stays a named caller error
    with pytest.raises(ValueError, match="non-empty"):
        similarity.ivf_ann(emb, emb, nlist_ids=[], k=5)


def test_pipes_empty_input_yields_zero_rows(spark):
    from hadoop_0_20_2_ljx_spark.functions.pipes import pipe_records

    df = spark.createDataFrame([], "a string, b string")
    out = pipe_records(df, "cat", "x string, y string")
    assert out.count() == 0
    assert out.columns == ["x", "y"]


def test_trainers_raise_clearly_on_empty(spark):
    from hadoop_0_20_2_ljx_spark.extensions import clustering

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="centroids"):
        clustering.kmeans_lloyd(emb, "embedding", k=8, iters=1, init={})
