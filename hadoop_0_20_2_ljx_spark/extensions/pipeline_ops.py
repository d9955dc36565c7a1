"""Training-data pipeline operators beyond per-doc scoring: intra-doc
repetition, benchmark contamination, stratified (domain-mix) sampling,
and sequence packing. Engine extras for the 100 TB curation brief (no
reference counterpart; nearest ancestors are TokenCountMapper /
RegexMapper / the sampling filters, SURVEY.md §2.3/2.7).

Scale notes per op:
- repetition_score: pure per-row expressions (codegen, no shuffle).
- ngram_contamination: explode -> equi-join on the n-gram — the banded-
  LSH economics again; never a cross product. The benchmark side is tiny
  in practice and broadcasts (AQE decides); the train side streams.
- stratified_sample: stateless hash-threshold per row — no shuffle, no
  driver sampling pass, reproducible under retry (portable md5 hash,
  not rand()).
- pack_sequences: the only op that needs a global order; uses the same
  two-pass range-partition prefix-sum as sorts.with_global_row_number
  (driver sees O(num_partitions) rows), NOT a single-partition window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_0_20_2_ljx_spark.extensions.textstats import tokens_sql
from hadoop_0_20_2_ljx_spark.functions.portable import md5_int_sql
from hadoop_0_20_2_ljx_spark.pinning import pin


def word_ngrams(text_col: str, n: int) -> Column:
    """Space-joined word n-grams of the lowercased text; [] when the doc
    has fewer than n words.

    The token array is bound once as a lambda variable (the
    dedup.word_shingles_sql pattern): Catalyst does no CSE inside
    higher-order-function lambdas, so referencing `toks` from the
    per-index lambda re-ran the regexp split per gram — O(tokens^2)
    per document, fixed r8 (output bitwise identical)."""

    def _grams(ws: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(ws) - n)
        grams = F.transform(idx, lambda i: F.array_join(F.slice(ws, i + 1, n), " "))
        return F.when(F.size(ws) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    toks = F.expr(tokens_sql(f"lower(`{text_col}`)"))
    return F.element_at(F.transform(F.array(toks), _grams), 1)


def repetition_score(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Gopher-style intra-doc repetition: fraction of word n-grams that are
    duplicates of an earlier n-gram in the same doc (0 = no repetition).
    Pure expressions — per-row, no shuffle, whole-stage codegen.

    Emits the exact integer numerator/denominator alongside the float
    fraction so downstream aggregation (and the cross-engine oracle) can
    stay in integer arithmetic."""
    grams = word_ngrams(text_col, n)
    total = F.size(grams).cast("long")
    dup = total - F.size(F.array_distinct(grams)).cast("long")
    rep = F.when(total > 0, dup / total.cast("double")).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        total.alias("n_ngrams"),
        dup.alias("n_dup_ngrams"),
        F.round(rep, 6).alias("rep_frac"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split documents into overlapping fixed-token-budget chunks — the
    context-window preparation step between curation and packing (the
    1->N emission shape of the reference Mapper contract,
    mapred/Mapper.java:124-158, as a pure relational explode).

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens); the last
    chunk may be short; a doc shorter than one chunk yields exactly one
    chunk. Pure expressions (sequence + posexplode + slice) — per-row
    codegen, no shuffle, no UDF; chunk_hash is the portable md5 of the
    re-joined token span so the chunk CONTENT (not just counts) is
    oracle-checkable.
    """
    if stride <= 0 or chunk_tokens <= 0 or stride > chunk_tokens:
        raise ValueError("need 0 < stride <= chunk_tokens")
    toks = F.expr(tokens_sql(f"`{text_col}`"))
    n = F.size(toks)
    # number of chunks: 1 + ceil(max(0, n - chunk_tokens) / stride)
    n_chunks = (
        F.lit(1)
        + F.floor(
            (F.greatest(n - chunk_tokens, F.lit(0)) + stride - 1) / F.lit(stride)
        ).cast("int")
    )
    ids = F.sequence(F.lit(0), n_chunks - 1)
    exploded = df.select(
        F.col(id_col), toks.alias("_toks"), F.posexplode(ids).alias("chunk_id", "_i")
    )
    span = F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens)
    return exploded.select(
        id_col,
        "chunk_id",
        F.size(span).cast("long").alias("n_tokens"),
        F.md5(F.array_join(span, " ")).alias("chunk_hash"),
    )


def keep_latest_versions(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """CDC-style upsert compaction: keep each key's newest row (by ts,
    ties broken by a unique id so the winner is deterministic under any
    partitioning — the cross-engine window rule from queries/base.py).
    The relational form of the reference's override() composite join
    semantics (mapred/join/OverrideRecordReader.java:44: rightmost source
    wins) applied time-wise: latest version wins.

    One shuffle on the key; row_number (not max+join) so the whole row
    survives without a second pass over the input."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).desc(), F.col(tiebreak_col).desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def ngram_contamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination scan: training docs sharing at least one
    word ``n``-gram with any benchmark doc, with the count of distinct
    shared n-grams per doc.

    Relational shape: explode both sides to (gram) / (gram, id), distinct
    the benchmark grams, equi-join on gram, groupBy train id. Cost is
    sum over grams of freq_train x freq_bench — no O(|train| x |bench|)
    stage, so it survives a 100 TB train side; the bench side (an eval
    suite) is small and ends up broadcast by AQE. Per-doc gram dedup is
    array_distinct BEFORE the explode — row-local, so the train side
    reaches the join with NO shuffle at all (its only exchange is the
    final narrow groupBy on ids); a post-explode distinct would shuffle
    every gram string of the full corpus.
    """
    bench_grams = (
        bench.select(
            F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("gram")
        ).distinct()
    )
    train_grams = train.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("gram"),
    )
    return (
        train_grams.join(bench_grams, "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_ngrams"))
    )


def stratified_sample(
    df: DataFrame, group_col: str, rates: dict[str, float], key_col: str
) -> DataFrame:
    """Domain-mixing sampler: keep each row with its group's probability,
    decided by a deterministic hash threshold on ``key_col`` (reproducible
    across retries and engines — the same retry-safety argument as
    operators/skew._row_salt; never rand()). Groups absent from ``rates``
    are dropped. Stateless per row: no shuffle, no driver pass."""
    bps = F.create_map(
        *[
            x
            for g, rate in sorted(rates.items())
            for x in (F.lit(g), F.lit(int(round(rate * 10000))))
        ]
    )
    bucket = F.expr(md5_int_sql(f"`{key_col}`", 8)) % 10000
    return df.filter(bucket < F.coalesce(bps[F.col(group_col)], F.lit(0)))


def quantize_embeddings(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (the storage/IO saver for
    embedding corpora: 4x smaller than float32, 8x than float64).
    scale = max|x|/127; q_i = floor(x_i/scale + 0.5) — explicit
    half-up rounding so both engines (and any rerun) agree bit-for-bit,
    independent of banker's-rounding defaults. Pure expressions, no
    shuffle."""
    vec = F.col(vec_col).cast("array<double>")
    scale = (
        F.greatest(F.array_max(F.transform(vec, lambda x: F.abs(x))), F.lit(1e-30)) / 127.0
    )
    q = F.transform(vec, lambda x: F.floor(x / scale + 0.5).cast("int"))
    return df.select(F.col(id_col), scale.alias("scale"), q.alias("qvec"))


def global_shuffle(df: DataFrame, key_col: str, pos_col: str = "shuffle_pos") -> DataFrame:
    """Deterministic global permutation for training-order shuffling:
    position = rank under (md5-derived hash of key, key). Reproducible
    across runs/engines/retries (portable hash, not rand()), and the rank
    uses the two-pass range-partition shape — no single-partition window."""
    from hadoop_0_20_2_ljx_spark.operators.sorts import with_global_row_number

    h = F.expr(md5_int_sql(f"`{key_col}`", 15))
    out = with_global_row_number(
        df.withColumn("_h", h), [F.col("_h"), F.col(key_col)], pos_col
    )
    return out.drop("_h")


def global_running_total(
    df: DataFrame,
    order_exprs: list[Column],
    value_col: str,
    out_col: str,
    exclusive: bool = True,
) -> DataFrame:
    """Exclusive (or inclusive) running total of ``value_col`` under the
    TOTAL order given by ``order_exprs`` — the two-pass range-partition
    prefix sum: range-partition on the sort key, per-partition window
    cumsum, then add each partition's collected offset (driver sees
    O(num_partitions) summary rows, never data rows). The same scale
    shape as sorts.with_global_row_number; a global single-partition
    window would serialize the corpus through one task.

    ``order_exprs`` must be a tie-broken total order (end with a unique
    id) or per-partition window order is nondeterministic under retry.
    """
    spark = df.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n_part, *order_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .transform(pin)
    )
    parts = ranged.groupBy("_pid").agg(F.sum(value_col).alias("_s")).collect()
    offsets: list[Column] = []
    acc = 0
    for r in sorted(parts, key=lambda r: r["_pid"]):
        offsets.extend([F.lit(int(r["_pid"])), F.lit(acc)])
        acc += int(r["_s"] or 0)
    # Empty input => no offsets; a zero-arg create_map() is VOID-keyed
    # and fails analysis when indexed (see sorts.with_global_row_number)
    if offsets:
        off = F.coalesce(F.create_map(*offsets)[F.col("_pid")], F.lit(0))
    else:
        off = F.lit(0)
    w = Window.partitionBy("_pid").orderBy(*order_exprs)
    cum = F.sum(value_col).over(w) + off
    if exclusive:
        cum = cum - F.col(value_col)
    return ranged.withColumn(out_col, cum.cast("long")).drop("_pid")


def pack_sequences(
    df: DataFrame, id_col: str, tokens_col: str, ctx: int, bin_col: str = "bin_id"
) -> DataFrame:
    """Sequence packing for context-window training: concatenate docs in
    ``id_col`` order into a token stream and assign each doc the
    ctx-window its first token lands in (bin_id = floor(cum_before /
    ctx)) — the deterministic concat-then-chunk packing used by LLM data
    loaders, expressed relationally over global_running_total.
    """
    out = global_running_total(df, [F.col(id_col)], tokens_col, "_cb", exclusive=True)
    return out.withColumn(bin_col, F.floor(F.col("_cb") / ctx).cast("long")).drop("_cb")


def select_token_budget(
    df: DataFrame,
    tokens_col: str,
    order_exprs: list[Column],
    budget: int,
    cum_col: str = "cum_before",
) -> DataFrame:
    """Greedy best-first corpus selection under a global token budget:
    order the corpus by ``order_exprs`` (quality-descending with a
    unique-id tiebreak), take the shortest prefix whose token total
    reaches ``budget`` — the "top N tokens of the corpus" curation cut
    used to size a training mix. A row is kept iff the tokens BEFORE it
    total < budget, so the selection includes the document that crosses
    the boundary and is exactly a prefix of the total order
    (retry-reproducible; no rand(), no sampling drift).

    Cost is one range-partition pass (global_running_total); the budget
    predicate is partition-local after that. Nearest reference ancestor:
    the fixed-size output contract of TotalOrderPartitioner sampling
    (mapred/lib/InputSampler.java) — bound the OUTPUT, keep the cut
    deterministic.
    """
    out = global_running_total(df, order_exprs, tokens_col, cum_col, exclusive=True)
    return out.where(F.col(cum_col) < budget)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_exprs: list[Column],
    quota: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Per-group quota cap: keep at most ``quota`` rows per group,
    preferring the ``order_exprs`` order (must be tie-broken total within
    a group) — the per-domain/per-host document cap of web-corpus
    curation, where unbounded hosts would otherwise dominate the mix.

    Scale shape: Spark rewrites the row_number-<=-k filter into a
    WindowGroupLimit: every map task locally keeps only its top-quota
    rows per group BEFORE the exchange, so the shuffle carries at most
    quota rows per (group, input partition) instead of the whole group —
    the skewed-host case (one domain = billions of rows) never
    materializes a full per-group sort. Plan-pinned in
    tests/test_pipeline_ops.py.
    """
    w = Window.partitionBy(group_col).orderBy(*order_exprs)
    return df.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= quota
    )


def temperature_sample(
    df: DataFrame, group_col: str, key_col: str, alpha: float = 0.5
) -> DataFrame:
    """Temperature-flattened mixture resampling (the multilingual-LM
    recipe: target share of group g ∝ share_g^alpha, alpha<1 flattens
    the mix toward uniform). Realized as per-row keep/drop with
    keep-rate r_g = (n_min/n_g)^(1-alpha), so the smallest group keeps
    everything and dominant groups are thinned toward it.

    Same determinism machinery as stratified_sample: the rate becomes
    integer basis points and each row's fate is a hash threshold on
    ``key_col`` — reproducible across retries, partitionings, engines.
    Group counts are a tiny aggregate re-entering via broadcast; the
    data-sized pass is a single stateless filter.
    """
    # the O(groups) count table feeds BOTH the min-aggregate and the rates
    # join; materialize it once or each consumer re-scans the full corpus
    # (pruning differences defeat exchange reuse)
    counts = (
        df.groupBy(F.col(group_col).alias("_tg"))
        .agg(F.count(F.lit(1)).alias("_tn"))
        .transform(pin)
    )
    n_min = counts.agg(F.min("_tn").alias("_tnmin"))
    rates = counts.join(F.broadcast(n_min)).select(
        "_tg",
        "_tn",
        # round-to-nearest, not floor: pow isn't correctly rounded (Java
        # vs C libm may differ by 1 ulp), and floor flips a whole hash
        # bucket of rows exactly when pow*10000 lands ON an integer (e.g.
        # share ratio 1/4 at alpha=.5 -> 5000.0); nearest is ulp-immune
        F.round(
            F.pow(F.col("_tnmin").cast("double") / F.col("_tn"), F.lit(1.0 - alpha))
            * 10000
        )
        .cast("long")
        .alias("_tbps"),
    )
    bucket = F.expr(md5_int_sql(f"`{key_col}`", 8)) % 10000
    return (
        df.join(F.broadcast(rates), df[group_col] == rates["_tg"])
        .where(bucket < F.col("_tbps"))
        .drop("_tg", "_tbps")
        .withColumnRenamed("_tn", "group_total")
    )


def decontaminate_spans(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Span-REMOVAL decontamination: where ngram_contamination only flags
    training docs sharing a word ``n``-gram with the benchmark suite, this
    cuts the matching spans out — for every hit at word position i, words
    [i, i+n) are dropped and the survivors re-joined (lowercased, the
    n-gram normalization) — the actual remediation step an eval-hygiene
    pipeline runs after detection.

    Output: (id, n_tokens_before, n_tokens_after, clean_text) for EVERY
    train doc; untouched docs have before == after. Overlapping hits
    compose naturally (a word is dropped if ANY hit span covers it).

    100 TB shape: the bench gram vocabulary is small (an eval suite) and
    reaches the equi-join distinct-ed; the train side explodes
    (id, pos, gram) row-locally and its only wide exchange is the
    per-doc groupBy folding hit positions into ONE array. The rewrite
    join re-enters with O(contaminated docs) rows — unhinted, AQE
    broadcasts it while it fits — so clean docs stream through the left
    join without a data-sized shuffle, and total cost is
    sum_g freq_train(g) x freq_bench(g) + O(contamination), never
    O(|train| x |bench|). Same detection topology as ngram_contamination;
    nearest reference ancestor is the side-file lookup + rewrite shape of
    DistributedCache joins (mapred/lib/join, filemap side lookups).
    """
    bench_grams = (
        bench.select(
            F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("gram")
        ).distinct()
    )
    hits = (
        train.select(
            F.col(id_col),
            F.posexplode(word_ngrams(text_col, n)).alias("_pos", "gram"),
        )
        .join(bench_grams, "gram")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("_pos")).alias("_ps"))
    )
    tr = train.withColumn("_w", F.expr(tokens_sql(f"lower(`{text_col}`)")))
    joined = tr.join(hits, id_col, "left")
    ps = F.coalesce(F.col("_ps"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("_w"),
        lambda w, i: ~F.exists(ps, lambda s: (i >= s) & (i < s + n)),
    )
    return joined.select(
        F.col(id_col),
        F.size("_w").cast("long").alias("n_tokens_before"),
        F.size(kept).cast("long").alias("n_tokens_after"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def domain_reweight(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    key_col: str,
    target_bp: dict[str, int] | None = None,
    rate_col: str = "rate_bp",
) -> DataFrame:
    """Reweight the corpus toward a TARGET group mixture by computed
    deterministic keep-rates: measure each group's current share of
    ``weight_col`` mass (tokens, usually), derive the keep-rate that
    lands the group on its target share of the ORIGINAL total —
    rate_bp(g) = min(10000, 10000 * target_mass(g) / cur_mass(g)) —
    and keep each row by a hash threshold on ``key_col``. Downsampling
    only (rates cap at 1.0): over-represented groups thin to the target,
    under-represented ones pass whole — the standard one-pass mixture
    adjustment (upsampling is a repeat-epochs decision, not a filter).

    ``target_bp`` maps group -> basis points of the target mixture
    (groups absent keep nothing); None = uniform over the groups present.
    All of the rate arithmetic is BIGINT (DIV, never float /), so the
    kept set is bit-reproducible across engines, retries and partition
    counts — the stratified_sample determinism argument, but with the
    rates COMPUTED from the corpus instead of handed in.

    Scale shape: one partial-agg scan to O(groups) mass rows, a tiny
    total/count roll-up of THAT (never a second corpus scan), and an
    unhinted O(groups) re-entry join (AQE broadcasts it) feeding a
    stateless per-row filter. No collect: the rates stay distributed.
    """
    cur = df.groupBy(group_col).agg(F.sum(weight_col).cast("long").alias("_cur"))
    tot = cur.agg(
        F.sum("_cur").cast("long").alias("_tot"), F.count(F.lit(1)).alias("_k")
    )
    if target_bp is None:
        tgt_sql = "_tot DIV _k"
    else:
        # group keys are arbitrary strings: they enter as F.lit values, never
        # as SQL text, so no key passes through the SQL parser (whose
        # backslash and quote handling depends on the session's
        # escapedStringLiterals mode)
        bp_of = F.lit(0).cast("long")
        for g, bp in target_bp.items():
            bp_of = F.when(
                F.col(group_col) == F.lit(g), F.lit(int(bp)).cast("long")
            ).otherwise(bp_of)
        cur = cur.withColumn("_tbp", bp_of)
        tgt_sql = "(_tot * _tbp) DIV 10000"
    rates = cur.join(F.broadcast(tot)).selectExpr(
        f"{group_col} AS _rg",
        f"least(10000L, (10000L * ({tgt_sql})) DIV _cur) AS {rate_col}",
    )
    bucket = F.expr(md5_int_sql(f"`{key_col}`", 8)) % 10000
    return (
        df.join(rates, df[group_col] == rates["_rg"])
        .where(bucket < F.col(rate_col))
        .drop("_rg")
    )
