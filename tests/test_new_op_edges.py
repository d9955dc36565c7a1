"""Degenerate-input behavior for this round's operators: empty inputs,
constant columns, coreless graphs — the states a production pipeline hits
on a bad day and must pass through without crashing or mis-shaping."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_zorder_constant_column(spark, tmp_path):
    # hi == lo on one dimension: scale denominator clamps to 1, all codes
    # collapse on that axis, write still succeeds and content survives
    from hadoop_0_20_2_ljx_spark.operators import sinks

    df = spark.createDataFrame([(i, 7) for i in range(100)], "a long, b long")
    path = str(tmp_path / "zconst")
    sinks.write_zordered(df, path, "a", "b", num_files=4)
    back = spark.read.parquet(path)
    assert back.count() == 100
    assert back.agg(F.sum("a")).first()[0] == sum(range(100))


def test_kcore_tree_peels_to_empty_and_converges(spark):
    # a tree has no 2-core: peeling must empty out and report converged
    from hadoop_0_20_2_ljx_spark.extensions.graph import kcore_peel

    edges = [(0, i) for i in range(1, 8)] + [(1, 8), (1, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = kcore_peel(df, k=2, rounds=6).collect()
    assert out == []


def test_kcore_clique_survives_intact(spark):
    # K4 is its own 3-core: nothing peels, degrees stay 3, converged
    from hadoop_0_20_2_ljx_spark.extensions.graph import kcore_peel

    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r["node"]: r for r in kcore_peel(df, k=3, rounds=3).collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert all(r["deg"] == 3 and r["converged"] for r in rows.values())


def test_weighted_sample_takes_all_when_group_small(spark):
    # groups smaller than k: every row survives with a dense 1..n rank
    from hadoop_0_20_2_ljx_spark.queries import REGISTRY  # noqa: F401
    from hadoop_0_20_2_ljx_spark.functions.portable import md5_int_sql

    docs = spark.createDataFrame(
        [(1, "s", 10), (2, "s", 20)], "doc_id long, source string, n_chars long"
    )
    pri = F.expr(
        md5_int_sql("concat('ws:', CAST(doc_id AS STRING))", 15)
    ).cast("double") / F.col("n_chars")
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(pri.asc(), "doc_id")
    out = docs.withColumn("rank", F.row_number().over(w)).collect()
    assert sorted(r["rank"] for r in out) == [1, 2]


def test_scd2_single_event_user(spark):
    # one purchase: one open-ended history row, version 1
    from hadoop_0_20_2_ljx_spark.queries import REGISTRY

    src = spark.createDataFrame(
        [(1, 10, "purchase", 12.0, "2024-01-01 00:00:00")],
        "event_id long, user_id long, event_type string, value double, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    # drive the operator shape directly (registry query binds to fixtures)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    ev = src.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.floor(F.round(F.col("value") * 100, 0) / 10000).cast("long").alias("band"),
    )
    changes = ev.withColumn("_prev", F.lag("band").over(w)).where(
        F.col("_prev").isNull() | (F.col("_prev") != F.col("band"))
    )
    out = changes.select(
        "user_id",
        F.coalesce(F.lead("t_us").over(w), F.lit(-1)).alias("valid_to_us"),
        F.row_number().over(w).alias("version"),
    ).collect()
    assert len(out) == 1 and out[0]["valid_to_us"] == -1 and out[0]["version"] == 1


def test_zorder_empty_input(spark, tmp_path):
    from hadoop_0_20_2_ljx_spark.operators import sinks

    df = spark.createDataFrame([], "a long, b long")
    path = str(tmp_path / "zempty")
    sinks.write_zordered(df, path, "a", "b")
    assert spark.read.parquet(path).count() == 0


def test_ivf_ann_centroid_argument_contract(spark):
    """ivf_ann takes exactly one of nlist_ids / centroids — passing both
    or neither is a caller bug named at call time, never a silent pick."""
    import pytest

    from hadoop_0_20_2_ljx_spark.extensions import similarity

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], "vec_id long, embedding array<double>"
    )
    q = emb.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="exactly one"):
        similarity.ivf_ann(emb, q)
    with pytest.raises(ValueError, match="exactly one"):
        similarity.ivf_ann(
            emb, q, nlist_ids=[0, 1], centroids={0: [0.0, 1.0], 1: [5.0, 1.0]}
        )


def test_ivf_ann_trained_centroids_multiprobe(spark):
    """Trained (explicit) centroids compose with nprobe > 1: every
    nprobe=1 neighbor set is contained in the nprobe=2 candidate regime
    (more lists probed can only improve the shortlist), and the trained
    route matches routing by the same centroids passed as designated ids
    when the codebook IS corpus vectors."""
    from hadoop_0_20_2_ljx_spark.extensions import similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") < 4)
    cents = {
        int(r[0]): [float(x) for x in r[1]]
        for r in emb.filter(F.col("vec_id") < 3).collect()
    }
    by_cents_1 = similarity.ivf_ann(emb, q, centroids=cents, k=3, nprobe=1)
    by_ids_1 = similarity.ivf_ann(emb, q, nlist_ids=[0, 1, 2], k=3, nprobe=1)
    assert sorted(map(tuple, by_cents_1.collect())) == sorted(
        map(tuple, by_ids_1.collect())
    )
    got1 = {(r["q_id"], r["neighbor_id"]) for r in by_cents_1.collect()}
    probed2 = similarity.ivf_ann(emb, q, centroids=cents, k=50, nprobe=2)
    got2 = {(r["q_id"], r["neighbor_id"]) for r in probed2.collect()}
    assert got1 <= got2
