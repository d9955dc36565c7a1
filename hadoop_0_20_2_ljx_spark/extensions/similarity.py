"""Similarity search over embedding columns (array<float>).

No reference counterpart — engine extras for the 100 TB pipeline.

Two tiers:
  - brute_force_knn: exact cosine top-k, broadcast the (small) query set
    against the corpus — one scan of the corpus, no shuffle of it; the
    correct baseline and the right answer whenever |queries| is small.
  - bucketed_ann: sign-LSH (random-hyperplane family with axis-aligned
    planes): bucket = sign bits of a fixed dim subset. Queries probe only
    their bucket -> corpus scan is filtered by an equi-join on bucket.
    At 100 TB you'd write the corpus partitioned by bucket so the probe
    prunes partitions; semantics here are identical.

Every score is one of the fold builders of functions/portable.py —
cos_sql for cosine (dot_sql under it), sq_dist_sql for the PQ
asymmetric and exact squared-L2 distances, with double_array_sql /
double_sql rendering the literal centroids and codebooks. They are
double-precision aggregate-over-zip_with folds — JVM-side, deterministic
left-to-right summation (matches the DuckDB oracle's
list_inner_product on DOUBLE[] exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from hadoop_0_20_2_ljx_spark.functions.portable import (
    cos_sql,
    double_array_sql,
    double_sql,
    sq_dist_sql,
)
from hadoop_0_20_2_ljx_spark.operators.scans import spread as _spread


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact top-k by cosine: broadcast queries x scan corpus.

    Output: (q_id, neighbor_id, cos) — rank by (cos desc, neighbor_id) for
    deterministic ties; excludes self-matches.

    The crossJoin(broadcast(queries)) shape is correct ONLY while the
    query set is broadcast-small: the corpus side streams through one scan
    and is never shuffled, but every executor holds all queries. The guard
    below makes that precondition explicit instead of letting a 10 M-row
    query side OOM executors (or silently degrade to a nested-loop join).
    The probe is bounded — take(max_queries+1) fetches at most one row
    past the cap, never the full query side. It is not
    limit(max_queries+1).count(): a limit inside whole-stage codegen names
    its counter from a JVM-wide sequence, so that plan's generated source,
    the codegen cache key, differed per call and recompiled 2 classes on
    every call.
    """
    if len(queries.select(F.lit(1)).take(max_queries + 1)) > max_queries:
        raise ValueError(
            f"brute_force_knn: query side exceeds max_queries={max_queries}; "
            "the query set must be broadcast-small. For large query sets "
            "use bucketed_ann/ivf_ann (sign-LSH / inverted-list probes), "
            "or chunk the queries and union the per-chunk results."
        )
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    c = _spread(corpus).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = c.crossJoin(broadcast(q)).filter(F.col("q_id") != F.col("neighbor_id")).select(
        "q_id", "neighbor_id", F.expr(cos_sql("q_vec", "c_vec")).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def sign_bucket(vec: Column, dims: int = 8) -> Column:
    """Sign-LSH bucket id: bit i set iff vec[i] > 0 (first `dims` dims).

    An axis-aligned instance of the random-hyperplane LSH family —
    deterministic and engine-portable (same arithmetic in the oracle).
    """
    out = F.lit(0)
    for i in range(dims):
        out = out + F.when(F.element_at(vec, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out.cast("int")


def embedding_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bucket_dims: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH blocking.

    Self-equi-join on the sign bucket (never the full cross product), exact
    cosine within a bucket, keep pairs >= threshold. Cost is sum over
    buckets of |bucket|^2 ~= n^2 / 2^bucket_dims for balanced buckets —
    the standard blocking trade; raise bucket_dims as n grows. Vectors
    whose first `bucket_dims` signs differ are never compared (recall <= 1,
    like any LSH near-dup).

    Output: (id_a, id_b, cos) with id_a < id_b.
    """
    c = _spread(corpus).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        sign_bucket(F.col(vec_col), bucket_dims).alias("bucket"),
    )
    a, b = c.alias("a"), c.alias("b")
    pairs = a.join(
        b, on=[F.col("a.bucket") == F.col("b.bucket"), F.col("a.id") < F.col("b.id")]
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.expr(cos_sql("a.vec", "b.vec")).alias("cos"),
    )
    return pairs.filter(F.col("cos") >= threshold).select(
        "id_a", "id_b", F.round("cos", 6).alias("cos")
    )


# Literal-centroid scorers are O(nlist·dim) EXPRESSION TEXT per scan —
# py4j-cheap and fully codegen'd at small nlist, but SQL parsing and
# whole-stage codegen blow up somewhere around 10^3-10^4 centroids (class
# file / expression-tree limits), long before data volume matters. Above
# this bound the centroids ride as DATA instead: a broadcast single-row
# frame carrying array<struct<cid,cvec,cnorm>>, scored by the SAME fold
# arithmetic over the array column — bitwise-identical results (pinned by
# tests/test_ann_quality.py), O(1) expression size, and still no shuffle
# (BroadcastNestedLoopJoin of one row).
LITERAL_NLIST_MAX = 64

# the array-column carrier rides under a reserved name; inputs may not
# carry it (the literal path has no reserved names, so the two paths
# must fail loudly, not diverge silently, on the one input shape where
# they differ)
_CENTS_COL = "__ljx_cents__"


def _centroid_cos_sqls(
    centroids: list[tuple[int, list[float]]], vec_col: str
) -> list[tuple[int, str]]:
    """Per-centroid cosine as SQL TEXT (the literal path). Built as SQL
    text, not Column trees: a k-centroid scorer is O(k·dim) literal nodes
    and each Column operator is a py4j round-trip — one F.expr parse is
    milliseconds for the identical tree. Both routing paths (literal and
    array-column) of ivf_assign and ivf_probe_lists score with cos_sql,
    so the nprobe=1 parity contract cannot break on a one-sided edit."""
    out = []
    for cid, cvec in centroids:
        cnorm = float(sum(x * x for x in cvec)) ** 0.5
        out.append(
            (int(cid), cos_sql(f"`{vec_col}`", double_array_sql(cvec), double_sql(cnorm)))
        )
    return out


def _centroid_array_frame(spark, centroids: list[tuple[int, list[float]]]):
    """The array-column path's centroid carrier: ONE row holding
    array<struct<cid int, cvec array<double>, cnorm double>>. cnorm is
    precomputed with the same Python fold the literal path inlines, so
    the two paths score bitwise-identically."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    rows = [
        (
            [
                (
                    int(cid),
                    [float(x) for x in cvec],
                    float(sum(x * x for x in cvec)) ** 0.5,
                )
                for cid, cvec in centroids
            ],
        )
    ]
    schema = StructType(
        [
            StructField(
                _CENTS_COL,
                ArrayType(
                    StructType(
                        [
                            StructField("cid", IntegerType()),
                            StructField("cvec", ArrayType(DoubleType())),
                            StructField("cnorm", DoubleType()),
                        ]
                    )
                ),
            )
        ]
    )
    return spark.createDataFrame(rows, schema)


def _fetch_centroids(
    corpus: DataFrame, nlist_ids: list[int], id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """The embeddings of the designated ``nlist_ids`` as an id-ordered
    codebook — the deterministic, oracle-reproducible stand-in for a
    k-means training job that ivf_ann and ivfpq_ann route by."""
    return [
        (int(r[0]), [float(x) for x in r[1]])
        for r in corpus.filter(F.col(id_col).isin(nlist_ids))
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    ]


def _use_literal(centroids, literal: bool | None) -> bool:
    return len(centroids) <= LITERAL_NLIST_MAX if literal is None else literal


def ivf_assign(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    literal: bool | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its best centroid
    (max cosine, ties to the smaller centroid id).

    Small nlist (<= LITERAL_NLIST_MAX, or ``literal=True``): centroids are
    driver-side literals, so assignment is a single codegen'd projection
    over one corpus scan — per row, argmax over an array of (cos, cid)
    structs. Large nlist (or ``literal=False``): the same argmax runs over
    a broadcast array COLUMN of centroid structs (one-row crossJoin), so
    expression size stays O(1) — the two paths use one shared cosine fold
    (cos_sql) and are bitwise-identical (tests/test_ann_quality.py). At
    100 TB the assignment writes `partitionBy(list_id)` so probes prune
    partitions.

    An empty ``centroids`` list returns an EMPTY DataFrame (zero rows,
    corpus columns + null-typed list_id). That contract exists because an
    empty codebook arises exactly from an empty training corpus
    (designated-id IVF on a filter-to-zero slice); passing an empty
    codebook WITH a non-empty corpus is caller error and is silently
    emptied — the invariant is not enforced here because checking corpus
    non-emptiness would cost a full action on the scan (r8 ADVICE:
    documented instead).

    Output: corpus columns + list_id.
    """
    if not centroids:
        # An empty codebook happens exactly when the corpus the centroids
        # were drawn from is empty (designated-id IVF on a filter-to-zero
        # slice): route zero vectors to zero lists rather than building
        # an argmax over nothing. Trainers stay strict (kmeans_lloyd
        # raises on an empty init) — this is the ROUTING half.
        return corpus.limit(0).withColumn("list_id", F.lit(None).cast("int"))
    if _use_literal(centroids, literal):
        scored = [
            # struct max compares fields left-to-right; negate cid so cosine
            # ties resolve to the SMALLEST centroid id under max()
            f"struct({cos} AS cos, {-cid} AS ncid)"
            for cid, cos in _centroid_cos_sqls(centroids, vec_col)
        ]
        best = F.expr("array_max(array(" + ", ".join(scored) + "))")
        return corpus.withColumn("list_id", (-best["ncid"]).cast("int"))
    if _CENTS_COL in corpus.columns:
        raise ValueError(f"input may not carry the reserved column {_CENTS_COL}")
    cents_df = _centroid_array_frame(corpus.sparkSession, centroids)
    cos = cos_sql(f"`{vec_col}`", "c.cvec", "c.cnorm")
    best = F.expr(
        f"array_max(transform({_CENTS_COL}, c -> struct({cos} AS cos, -c.cid AS ncid)))"
    )
    return (
        corpus.crossJoin(broadcast(cents_df))
        .withColumn("list_id", (-best["ncid"]).cast("int"))
        .drop(_CENTS_COL)
    )


def ivf_probe_lists(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    nprobe: int = 1,
    literal: bool | None = None,
) -> DataFrame:
    """Multi-probe coarse routing: explode each row to its `nprobe`
    nearest centroid lists (cos desc, ties to the smaller centroid id —
    list 1 is exactly ivf_assign's argmax, so nprobe=1 reproduces the
    single-probe assignment).

    Like ivf_assign, the whole ranking is ONE parsed SQL expression
    (py4j-cheap): sort an array of (negated-cos, cid) structs — struct
    comparison is field-order lexicographic, so ascending array_sort
    gives cos-descending with cid tiebreak — slice the first nprobe,
    explode. Large nlist switches to the same broadcast array-column
    carrier as ivf_assign (identical ranking arithmetic, O(1) expression
    size). Output: input columns + list_id, nprobe rows per input row.

    Empty ``centroids`` => EMPTY result, same documented caller contract
    as ivf_assign (an empty codebook is only valid against an empty
    corpus; a non-empty input is silently emptied).
    """
    if not centroids:
        # empty-corpus routing, same contract as ivf_assign: zero query
        # rows probe zero lists (nprobe is meaningless with no codebook,
        # and validating it against len([])=0 would reject every value)
        return df.limit(0).withColumn("list_id", F.lit(None).cast("int"))
    if not 1 <= nprobe <= len(centroids):
        raise ValueError(f"nprobe must be in [1, {len(centroids)}]")

    # negate cos (IEEE negation is exact) so ascending struct sort
    # ranks cos DESC; cid second field -> ties to the smaller id.
    # Degenerate cosines must land where ivf_assign's array_max puts
    # them or nprobe=1 silently diverges from the single-probe
    # assignment: NULL cos (non-ANSI zero-norm division) ranks WORST
    # under struct-max (null field sorts smallest), but a bare
    # struct(NULL, cid) sorts FIRST ascending -> fold NULL to
    # +Infinity (rank last); NaN cos (NaN input values) ranks
    # GREATEST in Spark's double order (= best), but -NaN is NaN
    # which sorts LAST ascending -> fold NaN to -Infinity (rank
    # first). Legitimate cosines are in [-1, 1], so the sentinels
    # can't collide.
    def ranked_struct(cos: str, cid: str) -> str:
        return (
            f"struct(nanvl(-(nvl({cos}, CAST('-Infinity' AS DOUBLE))), "
            f"CAST('-Infinity' AS DOUBLE)) AS negcos, {cid} AS cid)"
        )

    if _use_literal(centroids, literal):
        scored = [
            ranked_struct(cos, str(cid))
            for cid, cos in _centroid_cos_sqls(centroids, vec_col)
        ]
        # cast INSIDE transform: a generator (explode) cannot be nested in
        # another expression, and the int literals make the array int-typed
        probes = F.expr(
            f"transform(slice(array_sort(array({', '.join(scored)})), 1, {nprobe}), "
            "s -> CAST(s.cid AS INT))"
        )
        return df.withColumn("list_id", F.explode(probes))
    if _CENTS_COL in df.columns:
        raise ValueError(f"input may not carry the reserved column {_CENTS_COL}")
    cents_df = _centroid_array_frame(df.sparkSession, centroids)
    inner = ranked_struct(cos_sql(f"`{vec_col}`", "c.cvec", "c.cnorm"), "c.cid")
    probes = F.expr(
        f"transform(slice(array_sort(transform({_CENTS_COL}, c -> {inner})), "
        f"1, {nprobe}), s -> CAST(s.cid AS INT))"
    )
    return (
        df.crossJoin(broadcast(cents_df))
        .withColumn("list_id", F.explode(probes))
        .drop(_CENTS_COL)
    )


def ivf_ann(
    corpus: DataFrame,
    queries: DataFrame,
    nlist_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
    centroids: dict[int, list[float]] | None = None,
    literal: bool | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize corpus and queries against a shared
    centroid set, probe the query's `nprobe` nearest inverted lists,
    exact cosine within them. ``literal`` forwards to the routers'
    path switch (None = auto by LITERAL_NLIST_MAX).

    The centroid set is either the embeddings of the given ``nlist_ids``
    — a deterministic, oracle-reproducible stand-in for a k-means
    training job — or an explicit ``centroids`` codebook (cluster id ->
    vector, e.g. clustering.kmeans_lloyd's post-update centroids: the
    trained-quantizer composition). The partition/probe topology (the
    Spark-side substance: one corpus scan to assign, equi-join on
    list_id to probe) is identical either way. Recall < 1 by design;
    nprobe is the standard recall/cost knob — candidates (and probe
    cost) grow ~linearly with nprobe while the corpus side is untouched
    (each vector still lives in exactly ONE list, so the join stays an
    equi-join and a candidate pair appears at most once — no dedup stage
    needed).
    """
    if (nlist_ids is None) == (centroids is None):
        raise ValueError("pass exactly one of nlist_ids / centroids")
    if not (nlist_ids or centroids):
        # an empty codebook would route every row to a NULL list and
        # return an empty result with no error — name the caller bug
        raise ValueError("the centroid codebook must be non-empty")
    if centroids is not None:
        cents = [
            (int(c), [float(x) for x in v]) for c, v in sorted(centroids.items())
        ]
    else:
        cents = _fetch_centroids(corpus, nlist_ids, id_col, vec_col)
    c = ivf_assign(_spread(corpus), cents, vec_col, literal=literal).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "list_id"
    )
    q_assign = (
        ivf_assign(queries, cents, vec_col, literal=literal)
        if nprobe == 1  # keep the proven single-probe plan byte-stable
        else ivf_probe_lists(queries, cents, vec_col, nprobe, literal=literal)
    )
    q = q_assign.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), "list_id"
    )
    scored = (
        c.join(broadcast(q), on="list_id")
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .select("q_id", "neighbor_id", F.expr(cos_sql("q_vec", "c_vec")).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def ivfpq_ann(
    corpus: DataFrame,
    queries: DataFrame,
    nlist_ids: list[int],
    books: list[dict[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF coarse routing + PQ asymmetric-distance scoring — the composed
    billion-scale ANN shape (FAISS IVFPQ): route by inverted list, score
    candidates against their 8-byte PQ codes instead of raw vectors.
    ``nprobe`` > 1 probes the query's n nearest lists (ivf_probe_lists;
    same recall/cost contract as ivf_ann — candidates grow ~linearly,
    each corpus vector still lives in exactly ONE list so the probe
    stays an equi-join with no dedup stage).

    The asymmetric distance (ADC) keeps the QUERY exact and reconstructs
    only the candidate: adc(q, x) = sum_j ||q_j - codebook_j[code_j(x)]||².
    Everything is one scan + one equi-join on list_id: coarse assignment
    and the m code columns are literal-centroid projections (no shuffle),
    queries broadcast, and the per-pair score is a codegen'd fold over
    m x sub doubles — at 100 TB the candidate side streams its CODES
    (m bytes/vector), never raw vectors, which is the whole point of PQ:
    the probe's shuffle/IO is dim/ (m·1 byte) smaller than exact scoring.
    Ranking is (adc asc, neighbor_id) so ties are deterministic.
    """
    cents = _fetch_centroids(corpus, nlist_ids, id_col, vec_col)
    from hadoop_0_20_2_ljx_spark.extensions.clustering import pq_code_exprs

    code_cols, sub = pq_code_exprs(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)", books)
    for book in books:
        codes = sorted(book)
        if codes != list(range(len(codes))):
            raise ValueError("ivfpq_ann needs contiguous 0..k-1 code ids")
    cand = ivf_assign(_spread(corpus), cents, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "list_id", *code_cols
    )
    q_assign = (
        ivf_assign(queries, cents, vec_col)
        if nprobe == 1  # keep the proven single-probe plan byte-stable
        else ivf_probe_lists(queries, cents, vec_col, nprobe)
    )
    q = q_assign.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        "list_id",
    )
    # per-subspace codebooks as literal array-of-arrays indexed by code;
    # the whole ADC is ONE parsed SQL expression (py4j-cheap) with the
    # same per-subspace fold order as before — oracle doubles unchanged
    terms = []
    for j, book in enumerate(books):
        arr = "array(" + ", ".join(double_array_sql(book[c]) for c in sorted(book)) + ")"
        cent = f"element_at({arr}, code_{j} + 1)"
        terms.append(sq_dist_sql(f"slice(q_vec, {j * sub + 1}, {sub})", cent))
    adc = F.expr("0.0D + " + " + ".join(terms))
    scored = (
        cand.join(broadcast(q), on="list_id")
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .select("q_id", "neighbor_id", adc.alias("adc"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", F.round("adc", 6).alias("adc"))
    )


def bucketed_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bucket_dims: int = 8,
) -> DataFrame:
    """ANN: probe only the query's sign-LSH bucket, exact cosine within.

    Recall < 1 by design (that's the scale trade); candidates drop from
    |corpus| to |bucket| ~ |corpus| / 2^bucket_dims.
    """
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        sign_bucket(F.col(vec_col), bucket_dims).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        sign_bucket(F.col(vec_col), bucket_dims).alias("bucket"),
    )
    scored = c.join(broadcast(q), on="bucket").filter(F.col("q_id") != F.col("neighbor_id")).select(
        "q_id", "neighbor_id", F.expr(cos_sql("q_vec", "c_vec")).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def ivfpq_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    nlist_ids: list[int],
    books: list[dict[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine: int = 20,
    nprobe: int = 1,
) -> DataFrame:
    """The FAISS refine stage composed on ivfpq_ann: ADC over PQ codes
    shortlists ``refine`` candidates per query, then EXACT squared-L2 on
    raw vectors re-ranks just that shortlist down to ``k`` — recovering
    most of the recall PQ quantization loses while touching raw vectors
    for only |queries| x refine rows.

    100 TB shape: stage 1 is ivfpq_ann unchanged (candidates stream
    8-byte codes, raw vectors never enter the probe join); stage 2
    fetches raw vectors via an equi-join of the O(q x refine) shortlist
    against the corpus — unhinted, so AQE broadcasts the shortlist while
    it fits and the corpus streams through WITHOUT a shuffle; the exact
    arithmetic runs on refine rows per query, never per-list candidate
    counts. Ranking is (dist asc, neighbor_id) for deterministic ties.
    """
    short = ivfpq_ann(
        corpus, queries, nlist_ids, books, id_col, vec_col, k=refine, nprobe=nprobe
    ).select("q_id", "neighbor_id")
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_nv"),
    )
    qvec = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    dist = F.expr(sq_dist_sql("_qv", "_nv"))
    ex = (
        short.join(cvec, "neighbor_id")
        .join(broadcast(qvec), "q_id")
        .select("q_id", "neighbor_id", dist.alias("dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("neighbor_id"))
    return (
        ex.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", F.round("dist", 6).alias("dist"))
    )
