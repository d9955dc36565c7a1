"""Iterative clustering over embedding columns: Lloyd's k-means expressed
DataFrame-first. Engine extra for training-data curation (cluster-balanced
sampling, IVF centroid training — extensions/similarity.ivf_assign consumes
exactly this op's output shape).

Scale shape per iteration:
- assignment: ONE projection per scan — centroids are driver-held
  literals (O(k*dim), tiny by definition), folded into a `least(struct)`
  argmin expression; no join, no shuffle, whole-stage codegen.
- update: per-dimension `avg` aggregates — partial (map-side combined)
  sums, one k x dim-sized shuffle per partition, driver receives k rows.
This is the classic MapReduce k-means economics: iterations scan the
corpus, driver traffic is centroids only. For very large k*dim (where a
k x dim expression tree stops being reasonable) switch the assignment to
a pandas-UDF numpy matmul; at k<=few hundred the expression form keeps
everything JVM-side.

Determinism: fixed init + fixed iteration count + strict < argmin with
lowest-cluster tie-break -> bit-stable partition-count-independent
assignments (the DuckDB oracle reproduces them exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.functions.portable import double_array_sql, sq_dist_sql


def _argmin_sql(vec_sql: str, book: dict[int, list[float]]) -> str:
    """least(struct(dist, id)) over a codebook: min distance, ties to the
    smaller cluster id — identical to the Column-form argmin."""
    pairs = ", ".join(
        f"struct({sq_dist_sql(vec_sql, double_array_sql(c))} AS d, {int(ci)} AS c)"
        for ci, c in sorted(book.items())
    )
    return f"least({pairs})"


def assign_clusters(
    df: DataFrame, vec_col: str, centroids: dict[int, list[float]], out_col: str = "cluster"
) -> DataFrame:
    """Nearest-centroid assignment as one projection: `least` over
    (distance, cluster_id) structs = argmin with lowest-id tie-break.
    Built as one parsed SQL expression (see _argmin_sql)."""
    vec_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    return df.withColumn(
        out_col, F.expr(_argmin_sql(vec_sql, centroids)).getField("c")
    )


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str,
    k: int,
    iters: int,
    init: dict[int, list[float]],
) -> tuple[DataFrame, dict[int, list[float]]]:
    """``iters`` Lloyd rounds from the given initial centroids. Round t
    assigns by the round-(t-1) centroids then recomputes means. Returns
    (the last round's assignment DataFrame, the post-update centroids).
    Clusters that lose all members drop out (GROUP BY semantics).

    ``k`` is validated against ``init`` (it is the declared cluster
    count; a mismatched seed dict is a caller bug, not a silent
    reinterpretation)."""
    if k != len(init):
        raise ValueError(f"k={k} but init has {len(init)} centroids")
    dim = len(next(iter(init.values())))
    vec = F.col(vec_col).cast("array<double>")
    cents = {int(j): [float(x) for x in c] for j, c in init.items()}
    if iters == 0:
        return assign_clusters(df, vec_col, cents), cents
    # per-dim means as ONE parsed struct expression: dim separate
    # F.avg(F.element_at(...)) Column builds cost a py4j round-trip each
    # (2·dim per round — the r6 literal-tree lesson applies to agg lists
    # too); the parsed aggregates are IDENTICAL, struct() only wraps the
    # result projection so partial aggregation is untouched.
    vec_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    means_sql = (
        "struct("
        + ", ".join(f"avg(element_at({vec_sql}, {i + 1})) AS d{i}" for i in range(dim))
        + ")"
    )
    assigned = df
    for _ in range(iters):
        assigned = assign_clusters(df, vec_col, cents)
        rows = assigned.groupBy("cluster").agg(F.expr(means_sql).alias("_m")).collect()
        cents = {
            int(r["cluster"]): [float(r["_m"][f"d{i}"]) for i in range(dim)]
            for r in rows
        }
    return assigned, cents


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    k: int,
    iters: int,
) -> list[dict[int, list[float]]]:
    """Product-quantization codebook training: split the vector into ``m``
    contiguous subspaces and run ``iters`` Lloyd rounds in each, seeded by
    the sub-vectors of the first ``k`` ids (deterministic). Driver holds
    only the m x k x (dim/m) codebooks — the corpus is scanned, never
    collected."""
    vec = F.col(vec_col).cast("array<double>")
    init_rows = df.filter(F.col(id_col) < k).select(id_col, vec.alias("_v")).collect()
    dim = len(init_rows[0]["_v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books: list[dict[int, list[float]]] = [
        {
            int(r[id_col]): [float(x) for x in r["_v"][j * sub : (j + 1) * sub]]
            for r in init_rows
        }
        for j in range(m)
    ]
    # One Spark job per Lloyd round for ALL m subspaces: per-row structs
    # (j, code_j, subvector) exploded, then a single groupBy(j, code) with
    # per-dim partial avgs — the same one-shuffle relational shape as the
    # simhash bit votes. Driver receives m*k centroid rows per round.
    vec_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    for _ in range(iters):
        structs = []
        for j, book in enumerate(books):
            subv_sql = f"slice({vec_sql}, {j * sub + 1}, {sub})"
            structs.append(
                f"struct({j} AS j, {_argmin_sql(subv_sql, book)}.c AS code, "
                f"{subv_sql} AS sv)"
            )
        exploded = df.select(
            F.expr("explode(array(" + ", ".join(structs) + "))").alias("s")
        ).select("s.j", "s.code", "s.sv")
        # one parsed struct of per-dim avgs (see kmeans_lloyd: an agg
        # list built per-Column costs a py4j round-trip per dim)
        means_sql = (
            "struct("
            + ", ".join(f"avg(sv[{i}]) AS d{i}" for i in range(sub))
            + ")"
        )
        rows = (
            exploded.groupBy("j", "code").agg(F.expr(means_sql).alias("_m")).collect()
        )
        books = [{} for _ in range(m)]
        for r in rows:
            books[int(r["j"])][int(r["code"])] = [
                float(r["_m"][f"d{i}"]) for i in range(sub)
            ]
    return books


def pq_code_exprs(
    vec_sql: str, books: list[dict[int, list[float]]]
) -> tuple[list[Column], int]:
    """The m argmin code columns for a vector given as a SQL expression
    string (e.g. ``CAST(`embedding` AS ARRAY<DOUBLE>)``) — literal-centroid
    expressions only (no join, no shuffle), one F.expr parse per column.
    Returns (code columns named code_0..code_{m-1}, subspace width)."""
    dim = sum(len(next(iter(b.values()))) for b in books)
    sub = dim // len(books)
    cols = []
    for j, book in enumerate(books):
        subv_sql = f"slice({vec_sql}, {j * sub + 1}, {sub})"
        cols.append(
            F.expr(_argmin_sql(subv_sql, book)).getField("c").alias(f"code_{j}")
        )
    return cols, sub


def pq_encode(
    df: DataFrame, id_col: str, vec_col: str, books: list[dict[int, list[float]]]
) -> DataFrame:
    """Encode every vector as m codebook indices (the int8-per-subspace PQ
    code) in ONE projection — all m argmin assignments are literal-centroid
    expressions, so the scan has no join and no shuffle. At 64 dims /
    m=8 this stores 8 bytes per vector instead of 256/512."""
    cols, _sub = pq_code_exprs(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)", books)
    return df.select(F.col(id_col), *cols)
