"""Declared queries: data-quality audit family (extensions/audit.py).

The reference's equivalent is Reporter-counter bookkeeping read off the
JobTracker UI (mapred/Counters.java:47); here each audit is a first-class
query whose result a pipeline gates on. All metrics derive from exact
integer aggregates (see extensions/audit.py docstring), so every value —
including the statistical outlier SET and the JS drift score — is
bit-exact across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions import audit
from hadoop_0_20_2_ljx_spark.queries.base import QueryDef, T, h64_sql, words_sql


# --- Deequ-style constraint suite -------------------------------------------
def _audit_constraints(spark: SparkSession, sf: str) -> DataFrame:
    """Six checks over orders/lineitem in one result: completeness,
    key uniqueness, referential integrity, numeric range, accepted
    values. Deequ's cardinal rule — ALL of a table's metrics in ONE
    pass: each table gets a single multi-metric aggregate whose 1-row
    result explodes into its check rows (a per-check union of
    single-check aggregates re-scans the table once per check — 8 scans
    where 4 suffice; the standalone helpers in extensions/audit.py
    remain for single-check use). Referential integrity keeps its own
    anti-join pass over the two key columns."""
    orders = T(spark, sf, "orders")
    li = T(spark, sf, "lineitem")
    ppm = audit.PPM

    def _ppm(num: F.Column, den: F.Column) -> F.Column:
        return F.floor(F.lit(ppm) * num / den).cast("long")

    def _rows(agg_df, names_metrics):
        structs = [
            F.struct(
                F.lit(name).alias("check_name"), metric.alias("metric_ppm")
            )
            for name, metric in names_metrics
        ]
        return agg_df.select(F.explode(F.array(*structs)).alias("c")).select(
            "c.check_name",
            "c.metric_ppm",
            (F.col("c.metric_ppm") >= ppm).alias("passed"),
        )

    oagg = orders.agg(
        F.count(F.lit(1)).alias("_n"),
        F.count("o_custkey").alias("_nn"),
        F.countDistinct("o_orderkey").alias("_dk"),
        F.sum(F.when(F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0))
        .cast("long")
        .alias("_st"),
    )
    orows = _rows(
        oagg,
        [
            ("complete:o_custkey", _ppm(F.col("_nn"), F.col("_n"))),
            ("unique:o_orderkey", _ppm(F.col("_dk"), F.col("_n"))),
            ("accepted:o_orderstatus", _ppm(F.col("_st"), F.col("_n"))),
        ],
    )
    lagg = li.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50), 1).otherwise(0))
        .cast("long")
        .alias("_q"),
        F.sum(F.when((F.col("l_discount") >= 0.0) & (F.col("l_discount") <= 0.1), 1).otherwise(0))
        .cast("long")
        .alias("_d"),
    )
    lrows = _rows(
        lagg,
        [
            ("range:l_quantity", _ppm(F.col("_q"), F.col("_n"))),
            ("range:l_discount", _ppm(F.col("_d"), F.col("_n"))),
        ],
    )
    ri = audit.referential_check(li, "l_orderkey", orders, "o_orderkey")
    return orows.unionByName(ri).unionByName(lrows)


_CONSTRAINTS_SQL = """
SELECT 'complete:o_custkey' AS check_name,
       CAST(floor(1000000 * count(o_custkey) / count(*)) AS BIGINT) AS metric_ppm,
       floor(1000000 * count(o_custkey) / count(*)) >= 1000000 AS passed
FROM orders
UNION ALL
SELECT 'unique:o_orderkey',
       CAST(floor(1000000 * count(DISTINCT o_orderkey) / count(*)) AS BIGINT),
       floor(1000000 * count(DISTINCT o_orderkey) / count(*)) >= 1000000
FROM orders
UNION ALL
SELECT 'ref:l_orderkey',
       CAST(floor(1000000 * (n - o) / n) AS BIGINT),
       floor(1000000 * (n - o) / n) >= 1000000
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN p.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o
  FROM lineitem l
  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) p ON l.l_orderkey = p.o_orderkey
)
UNION ALL
SELECT 'range:l_quantity',
       CAST(floor(1000000 * sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 ELSE 0 END) / count(*)) AS BIGINT),
       floor(1000000 * sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 ELSE 0 END) / count(*)) >= 1000000
FROM lineitem
UNION ALL
SELECT 'accepted:o_orderstatus',
       CAST(floor(1000000 * sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 ELSE 0 END) / count(*)) AS BIGINT),
       floor(1000000 * sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 ELSE 0 END) / count(*)) >= 1000000
FROM orders
UNION ALL
SELECT 'range:l_discount',
       CAST(floor(1000000 * sum(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.1 THEN 1 ELSE 0 END) / count(*)) AS BIGINT),
       floor(1000000 * sum(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.1 THEN 1 ELSE 0 END) / count(*)) >= 1000000
FROM lineitem
"""


# --- per-group exact z-score outliers ---------------------------------------
def _agg_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Events whose value deviates > 2 sigma from their event_type mean.
    The decision boundary is evaluated in pure integers (see
    extensions/audit.py zscore_outliers) so the outlier set cannot flip
    with float summation order."""
    ev = T(spark, sf, "events")
    return audit.zscore_outliers(
        ev,
        "event_type",
        F.round(F.col("value") * 100, 0),
        ["event_id"],
        z_threshold=2,
    )


_OUTLIERS_SQL = """
WITH base AS (
  SELECT event_id, event_type AS g, CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
), stats AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS q
  FROM base GROUP BY 1
)
SELECT event_id, g AS event_type, c AS cents,
       CAST(floor(10000.0 * (n * c - s) / sqrt(CAST(n * q - s * s AS DOUBLE))) AS BIGINT) AS z_bp
FROM base JOIN stats USING (g)
WHERE (n * c - s) * (n * c - s) > 4 * (n * q - s * s) AND n * q - s * s > 0
"""


# --- distribution drift (Jensen-Shannon, integer nano-units) ----------------
def _agg_drift_js(spark: SparkSession, sf: str) -> DataFrame:
    """JS divergence of each event_type's value distribution between the
    first and second half of the month — the slice-vs-slice drift
    monitor. Bin terms are floored to integer nano-units before the
    per-group sum, so the score is order-independent.

    NULL contract (r10 pin): null measurements and null timestamps are
    excluded HERE, not just by drift_counts' null-bin filter — least()
    IGNORES nulls in both engines, so least(floor(NULL/50), 9) is 9, and
    an unfiltered null value would silently land in the overflow bin."""
    ev = T(spark, sf, "events").where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    return audit.distribution_drift_js(
        ev,
        "event_type",
        F.least(F.floor(F.col("value") / 50).cast("long"), F.lit(9)),
        F.col("ts") < F.lit("2024-01-16"),
        n_bins=10,
    )


# NULL contract (r10 pin, drift_counts docstring): null measurements and
# null-slice-predicate rows are in NO histogram; a NULL group keeps its
# own group, so the totals join is null-safe (USING(g) dropped it).
_DRIFT_SQL = """
WITH b AS (
  SELECT event_type AS g,
         least(CAST(floor(value / 50) AS BIGINT), 9) AS bin,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS h
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), c AS (
  SELECT g, bin,
         CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM b GROUP BY 1, 2
), t AS (
  SELECT g, CAST(sum(c1) AS BIGINT) AS t1, CAST(sum(c2) AS BIGINT) AS t2
  FROM c GROUP BY 1
)
SELECT g AS event_type,
       CAST(sum(CAST(floor(1000000000.0 * (
         CASE WHEN c1 > 0
              THEN p * ln(p / ((p + q) / 2)) / 2
              ELSE 0.0 END
         + CASE WHEN c2 > 0
                THEN q * ln(q / ((p + q) / 2)) / 2
                ELSE 0.0 END)) AS BIGINT)) AS BIGINT) AS js_nano
FROM (
  -- empty-slice guard, twin of js_from_counts: a group wholly inside
  -- one slice treats the missing slice as the zero distribution (JS
  -- degenerates to ln2/2 per occupied bin) instead of 0/0 NaN — found
  -- by the r8 pre-1970 timestamp replay, where the date split left
  -- every row in one slice
  SELECT c.g AS g, c1, c2,
         CASE WHEN t1 > 0 THEN c1 / t1 ELSE 0.0 END AS p,
         CASE WHEN t2 > 0 THEN c2 / t2 ELSE 0.0 END AS q
  FROM c JOIN t ON c.g IS NOT DISTINCT FROM t.g
)
GROUP BY 1
"""


def _agg_drift_ks(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-sample KS per event_type between the month halves — the
    BINLESS companion to q_agg_drift_js: no bin-width guess, the full
    empirical CDF, max gap found in the cross-multiplied integer domain
    (DECIMAL(38,0) internally, BIGINT ppm out)."""
    ev = T(spark, sf, "events")
    return audit.distribution_drift_ks(
        ev, "event_type", F.col("value"), F.col("ts") < F.lit("2024-01-16")
    )


_DRIFT_KS_SQL = """
WITH pts AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS a
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), vals AS (
  SELECT g, v, CAST(sum(a) AS BIGINT) AS da, CAST(sum(1 - a) AS BIGINT) AS db
  FROM pts GROUP BY 1, 2
), c AS (
  SELECT g, v, da, db,
         sum(da) OVER (PARTITION BY g ORDER BY v) AS ca,
         sum(db) OVER (PARTITION BY g ORDER BY v) AS cb,
         sum(da) OVER (PARTITION BY g) AS na,
         sum(db) OVER (PARTITION BY g) AS nb
  FROM vals
), d AS (
  SELECT g, na, nb, abs(ca * nb - cb * na) AS diff,
         CAST(floor(v * 1000000) AS BIGINT) AS vm
  FROM c
), best AS (
  SELECT g, diff, vm, na, nb,
         row_number() OVER (PARTITION BY g ORDER BY diff DESC, vm ASC) AS rk
  FROM d
)
SELECT g AS event_type,
       CAST((1000000 * diff) // (na * nb) AS BIGINT) AS ks_ppm,
       vm AS at_value_micros,
       CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b
FROM best WHERE rk = 1 AND na > 0 AND nb > 0
"""


QUERIES: dict[str, QueryDef] = {
    "q_audit_constraints": QueryDef(
        _audit_constraints,
        _CONSTRAINTS_SQL,
        "Deequ-style constraint suite (completeness/uniqueness/RI/range/"
        "accepted-values) as one result; integer-ppm metrics",
    ),
    "q_agg_outliers": QueryDef(
        _agg_outliers,
        _OUTLIERS_SQL,
        "per-group z-score outliers with an integer-exact decision "
        "boundary (no float-sum boundary flips)",
    ),
    "q_agg_drift_js": QueryDef(
        _agg_drift_js,
        _DRIFT_SQL,
        "Jensen-Shannon slice-drift per group, bin terms floored to "
        "integer nano-units (order-independent sum)",
    ),
    "q_agg_drift_ks": QueryDef(
        _agg_drift_ks,
        _DRIFT_KS_SQL,
        "exact two-sample Kolmogorov-Smirnov slice-drift per group: "
        "binless full-CDF max gap in the cross-multiplied integer domain",
    ),
}


# --- corpus diversity: per-source token entropy ------------------------------
def _text_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token-distribution entropy (extensions/relevance.py
    token_entropy) — nano-unit integer sums, order-independent."""
    from hadoop_0_20_2_ljx_spark.extensions.relevance import token_entropy

    return token_entropy(T(spark, sf, "documents"), "source", "text")


_ENTROPY_SQL = f"""WITH tok AS (
  SELECT source,
         unnest({words_sql('text')}) AS tok
  FROM documents
), c AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
), t AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS vocab
  FROM c GROUP BY 1
)
SELECT c.source, max(t.n) AS n_tokens, max(t.vocab) AS vocab,
       CAST(sum(CAST(floor(1000000000.0 * (-(c.c / t.n) * ln(c.c / t.n))) AS BIGINT)) AS BIGINT)
         AS entropy_nano
FROM c JOIN t ON c.source IS NOT DISTINCT FROM t.source
GROUP BY 1
"""
# NULL contract (r10 pin): SQL GROUP BY keeps a NULL group and the Spark
# side groups via window partitionBy (null-keeping), so the oracle's
# per-source totals join must be NULL-SAFE — a bare equi-join silently
# drops the null-source group (the one cross-engine divergence on the
# 30%-nulled replay). Null TEXT contributes no tokens on both sides
# (split(NULL) -> no rows in either engine).

QUERIES["q_text_entropy"] = QueryDef(
    _text_entropy,
    _ENTROPY_SQL,
    "per-source token-distribution entropy in integer nano-units "
    "(corpus diversity monitor)",
)


# --- snapshot reconciliation (CDC validation / replica divergence) ----------
def _diff_snapshots(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """The shared diff fixture: two derived snapshots of orders (keys
    ending 9 only in the new snapshot, keys ending 0 only in the old;
    status edited on %7, cents bumped on %13; priority untouched — its
    changed:priority row proves per-column attribution reports zero,
    not absence)."""
    snap = T(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.col("o_orderpriority").alias("priority"),
    )
    old = snap.where(F.col("k") % 10 != 9)
    new = (
        snap.where(F.col("k") % 10 != 0)
        .withColumn(
            "status",
            F.when(F.col("k") % 7 == 0, F.lit("X")).otherwise(F.col("status")),
        )
        .withColumn(
            "cents",
            F.col("cents") + F.when(F.col("k") % 13 == 0, 1).otherwise(0),
        )
    )
    return old, new


def _audit_table_diff(spark: SparkSession, sf: str) -> DataFrame:
    """One co-partitioned full-outer join + one partial aggregate over
    the shared diff fixture (extensions/audit.py snapshot_diff)."""
    old, new = _diff_snapshots(spark, sf)
    return audit.snapshot_diff(old, new, ["k"], ["status", "cents", "priority"])


def _audit_diff_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Bucket-pruned diff over the SAME fixture — and the oracle is the
    PLAIN full-diff SQL: fingerprint-based pruning must lose nothing,
    so incremental and full answers are required to be identical
    (extensions/audit.py incremental_snapshot_diff)."""
    old, new = _diff_snapshots(spark, sf)
    return audit.incremental_snapshot_diff(
        old, new, ["k"], ["status", "cents", "priority"], n_buckets=64
    )


_TABLE_DIFF_SQL = """
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderpriority AS priority
  FROM orders
), o AS (SELECT * FROM snap WHERE k % 10 <> 9),
n AS (
  SELECT k,
         CASE WHEN k % 7 = 0 THEN 'X' ELSE status END AS status,
         cents + CASE WHEN k % 13 = 0 THEN 1 ELSE 0 END AS cents,
         priority
  FROM snap WHERE k % 10 <> 0
), j AS (
  SELECT o.k AS ok, n.k AS nk, o.status AS os, n.status AS ns,
         o.cents AS oc, n.cents AS nc, o.priority AS op, n.priority AS np
  FROM o FULL JOIN n ON o.k = n.k
), a AS (
  SELECT
    CAST(sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS added,
    CAST(sum(CASE WHEN nk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed,
    CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL AND
      (os IS DISTINCT FROM ns OR oc IS DISTINCT FROM nc OR op IS DISTINCT FROM np)
      THEN 1 ELSE 0 END) AS BIGINT) AS changed,
    CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL AND
      os IS NOT DISTINCT FROM ns AND oc IS NOT DISTINCT FROM nc
      AND op IS NOT DISTINCT FROM np THEN 1 ELSE 0 END) AS BIGINT) AS unchanged,
    CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
      AND os IS DISTINCT FROM ns THEN 1 ELSE 0 END) AS BIGINT) AS chg_status,
    CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
      AND oc IS DISTINCT FROM nc THEN 1 ELSE 0 END) AS BIGINT) AS chg_cents,
    CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
      AND op IS DISTINCT FROM np THEN 1 ELSE 0 END) AS BIGINT) AS chg_priority
  FROM j
)
SELECT 'added' AS diff_kind, added AS n FROM a
UNION ALL SELECT 'removed', removed FROM a
UNION ALL SELECT 'changed', changed FROM a
UNION ALL SELECT 'unchanged', unchanged FROM a
UNION ALL SELECT 'changed:status', chg_status FROM a
UNION ALL SELECT 'changed:cents', chg_cents FROM a
UNION ALL SELECT 'changed:priority', chg_priority FROM a
"""


# --- anti-entropy bucket fingerprint ----------------------------------------
def _audit_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """64-bucket commutative hash-sum fingerprint of orders
    (extensions/audit.py bucket_fingerprint): one scan, row-local md5,
    64-group partial agg — replica comparison without data movement."""
    orders = T(spark, sf, "orders")
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
        F.col("o_orderpriority"),
    )
    return audit.bucket_fingerprint(orders, F.col("o_orderkey"), row, 64)


_ROW_REPR = ("concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus, "
             "CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), "
             "o_orderpriority)")
# h64_sql keeps the md5->BIGINT rendering in ONE place (the DuckDB
# rendering of functions/portable.md5_int_sql(x, 15), which the Spark
# side's extensions/audit.bucket_fingerprint calls) so a hash-scheme
# change cannot silently drift the two apart
_FINGERPRINT_SQL = f"""
WITH r AS (
  SELECT o_orderkey % 64 AS bucket,
         {h64_sql(_ROW_REPR)} AS h
  FROM orders
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(h AS DECIMAL(38,0))) % 9223372036854775808 AS BIGINT)
         AS fingerprint
FROM r GROUP BY 1
"""


# --- per-group winsorization at exact order statistics ----------------------
def _agg_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorize event value-cents per event_type at the exact p5/p95
    order statistics (extensions/audit.py winsorized_stats): integer
    ceil-rank bounds, no percentile interpolation, one shared group
    partitioning."""
    ev = T(spark, sf, "events")
    return audit.winsorized_stats(
        ev,
        "event_type",
        F.round(F.col("value") * 100, 0),
        F.col("event_id"),
        lo_pct=5,
        hi_pct=95,
    )


_WINSORIZE_SQL = """
WITH base AS (
  SELECT event_type AS g, CAST(round(value * 100, 0) AS BIGINT) AS c,
         event_id AS id
  FROM events
  WHERE value IS NOT NULL
), r AS (
  SELECT g, c,
         row_number() OVER (PARTITION BY g ORDER BY c, id) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM base
), b AS (
  SELECT g,
         min(CASE WHEN rn = greatest(1, (n * 5 + 99) // 100) THEN c END) AS lo,
         min(CASE WHEN rn = greatest(1, (n * 95 + 99) // 100) THEN c END) AS hi
  FROM r GROUP BY 1
)
SELECT r.g AS event_type,
       CAST(max(r.n) AS BIGINT) AS n_rows,
       CAST(max(b.lo) AS BIGINT) AS lo_cents,
       CAST(max(b.hi) AS BIGINT) AS hi_cents,
       CAST(sum(CASE WHEN r.c < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
       CAST(sum(CASE WHEN r.c > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
       CAST(sum(least(greatest(r.c, b.lo), b.hi)) AS BIGINT) AS wsum_cents
FROM r JOIN b ON r.g IS NOT DISTINCT FROM b.g
GROUP BY 1
"""


QUERIES["q_audit_table_diff"] = QueryDef(
    _audit_table_diff,
    _TABLE_DIFF_SQL,
    "keyed snapshot reconciliation: added/removed/changed/unchanged + "
    "per-column change attribution in one full-outer join + one aggregate",
)
QUERIES["q_audit_fingerprint"] = QueryDef(
    _audit_fingerprint,
    _FINGERPRINT_SQL,
    "order-independent per-bucket hash-sum table fingerprint "
    "(anti-entropy replica check; no data movement)",
)
QUERIES["q_audit_diff_incremental"] = QueryDef(
    _audit_diff_incremental,
    _TABLE_DIFF_SQL,
    "fingerprint-localized incremental diff: dirty-bucket pruning with "
    "the full-diff SQL as oracle (pruning must be lossless)",
)
QUERIES["q_agg_winsorize"] = QueryDef(
    _agg_winsorize,
    _WINSORIZE_SQL,
    "per-group winsorized sum + clip counts at exact integer-rank "
    "order statistics (no engine-dependent percentile interpolation)",
)


# --- exact decile bands ------------------------------------------------------
def _agg_deciles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type EXACT decile values (extensions/audit.py
    order_stat_summary): integer ceil-rank order statistics —
    engine-exact where approx_percentile / interpolating percentile
    oracles are not hash-comparable."""
    ev = T(spark, sf, "events")
    return audit.order_stat_summary(
        ev,
        "event_type",
        F.round(F.col("value") * 100, 0),
        F.col("event_id"),
        n_bands=10,
    )


_DECILES_SQL = """
WITH base AS (
  SELECT event_type AS g, CAST(round(value * 100, 0) AS BIGINT) AS c,
         event_id AS id
  FROM events
  WHERE value IS NOT NULL
), r AS (
  SELECT g, c,
         row_number() OVER (PARTITION BY g ORDER BY c, id) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM base
), d AS (SELECT unnest(range(1, 10)) AS band)
SELECT r.g AS event_type, CAST(d.band AS BIGINT) AS band, r.c AS cents
FROM r JOIN d ON r.rn = greatest(1, (r.n * d.band + 9) // 10)
"""

QUERIES["q_agg_deciles"] = QueryDef(
    _agg_deciles,
    _DECILES_SQL,
    "per-group exact decile values at integer ceil-ranks (no "
    "interpolation — hash-exact cross-engine quantile summary)",
)
