"""Runnable workload programs: the reference's ExampleDriver roster.

Reference: src/examples/.../ExampleDriver.java:38-63 registers 18 programs;
each entry below is the same program re-expressed on DataFrames. A user of
the reference runs `hadoop jar hadoop-examples.jar wordcount in out`; here
it's `python -m hadoop_0_20_2_ljx_spark.jobs wordcount [sf_dir]`.

Programs that read "input files" read the documents fixture table (or the
path given); generators take a row count. `dbcount` runs against an
embedded DuckDB file (the container has no JDBC driver jar; real clusters
swap in sources/jdbc.py); `sleep` is a scheduler no-op kept for roster
completeness.
"""

from __future__ import annotations

import sys
import time
from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.operators import aggregates, sorts, transforms
from hadoop_0_20_2_ljx_spark.operators.generators import pi_estimate, random_text, tera_gen

DEFAULT_SF = "/root/testdata/sf0.001"


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return catalog.load(spark, sf, "documents")


# --- the roster --------------------------------------------------------------
def wordcount(spark: SparkSession, sf: str = DEFAULT_SF) -> DataFrame:
    """WordCount.java — token counts (combiner semantics are Catalyst's
    partial aggregation)."""
    return aggregates.word_count(_docs(spark, sf))


def aggregatewordcount(spark: SparkSession, sf: str = DEFAULT_SF) -> DataFrame:
    """AggregateWordCount.java — ValueAggregator LongValueSum over tokens."""
    return aggregates.word_count(_docs(spark, sf))


def aggregatewordhist(spark: SparkSession, sf: str = DEFAULT_SF) -> DataFrame:
    """AggregateWordHistogram.java — ValueHistogram report over tokens."""
    toks = transforms.tokenize(_docs(spark, sf), "text")
    return aggregates.value_histogram(toks, F.lit("WORD_HISTOGRAM"), F.col("token"))


def grep(spark: SparkSession, sf: str = DEFAULT_SF, pattern: str = r"s[a-z]+") -> DataFrame:
    """Grep.java — job 1: regex match counts; job 2: desc-count sort."""
    m = transforms.regex_matches(_docs(spark, sf), "text", pattern)
    return m.groupBy("match").count().orderBy(F.desc("count"), "match")


def randomwriter(spark: SparkSession, n: str = "100000") -> DataFrame:
    """RandomWriter.java — deterministic synthetic K/V rows (seed-stable
    under parallelism: derived from row ids, never task-local RNG)."""
    return random_text(spark, int(n))


def randomtextwriter(spark: SparkSession, n: str = "100000") -> DataFrame:
    return random_text(spark, int(n), words_per_row=20)


def sort_job(spark: SparkSession, sf: str = DEFAULT_SF) -> DataFrame:
    """Sort.java — total-order sort of generated K/V data."""
    return sorts.total_order_sort(random_text(spark, 100_000), "text")


def pi(spark: SparkSession, n_points: str = "100000") -> DataFrame:
    """PiEstimator.java — Halton-sequence Monte Carlo (deterministic)."""
    return pi_estimate(spark, int(n_points))


def secondarysort(spark: SparkSession, sf: str = DEFAULT_SF) -> DataFrame:
    """SecondarySort.java — values ordered within key groups."""
    li = catalog.load(spark, sf, "lineitem")
    return sorts.secondary_sort_stream(
        li.select("l_orderkey", "l_linenumber", "l_quantity"),
        "l_orderkey",
        F.col("l_quantity").desc(),
        F.col("l_linenumber").asc(),
    )


def join(spark: SparkSession, sf: str = DEFAULT_SF) -> DataFrame:
    """Join.java — join over sorted, equally-partitioned datasets."""
    o = catalog.load(spark, sf, "orders")
    c = catalog.load(spark, sf, "customer").withColumnRenamed("c_custkey", "o_custkey")
    return o.join(c, "o_custkey").select("o_orderkey", "o_custkey", "c_name", "o_totalprice")


def multifilewc(spark: SparkSession, sf: str = DEFAULT_SF) -> DataFrame:
    """MultiFileWordCount.java — wordcount over a many-source union."""
    d = _docs(spark, sf)
    u = d.filter(F.col("doc_id") % 2 == 0).unionByName(d.filter(F.col("doc_id") % 2 == 1))
    return aggregates.word_count(u)


def teragen(spark: SparkSession, n: str = "1000000") -> DataFrame:
    """TeraGen.java — (10B key)(10B rowid)(78B filler) rows."""
    return tera_gen(spark, int(n))


def terasort(spark: SparkSession, n: str = "1000000") -> DataFrame:
    """TeraSort.java — total-order sort of TeraGen rows (range-partitioned,
    the TotalOrderPartitioner's sampling done by Spark's RangePartitioner)."""
    return sorts.total_order_sort(tera_gen(spark, int(n)), "key")


def teravalidate(spark: SparkSession, n: str = "1000000") -> DataFrame:
    """TeraValidate.java — distributed order check: per-partition (min, max,
    count) summary; boundaries must be monotone across partition ids."""
    sorted_df = terasort(spark, n)
    summary = (
        sorted_df.select("key", F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.min("key").alias("lo"), F.max("key").alias("hi"), F.count("*").alias("cnt"))
        .orderBy("pid")
    )
    rows = summary.collect()
    bounds = [r for r in rows if r["cnt"] > 0]
    ok = all(a["hi"] <= b["lo"] for a, b in zip(bounds, bounds[1:]))
    total = sum(r["cnt"] for r in rows)
    return spark.createDataFrame(
        [(bool(ok), total, len(bounds))], "sorted boolean, n_rows long, n_partitions int"
    )


def sleep(spark: SparkSession, seconds: str = "1") -> DataFrame:
    """SleepJob.java — scheduler exerciser; here a parallel no-op delay."""
    s = float(seconds)
    spark.range(32, numPartitions=32).foreachPartition(lambda it: time.sleep(s / 32))
    return spark.createDataFrame([(True,)], "slept boolean")


def dbcount(spark: SparkSession, n: str = "10000", *args: str) -> DataFrame:
    """DBCountPageView.java:72,239 — pageview counting with a database
    source and sink plus an embedded-SQL verify, run end-to-end against an
    embedded DuckDB file. For the genuine JDBC wire path (DBInputFormat
    partitioned SELECT + DBOutputFormat batched INSERT through a real
    driver) see dbcount_jdbc, which runs against embedded Derby.

    Mirrors the reference's phases: populate Access(url, referrer, ts)
    deterministically (initialize/populateAccess), count views per url in
    Spark (PageviewMapper + LongSumReducer), write Pageview(url, pageview)
    back to the database, then verify() recomputes both totals and
    per-url counts with embedded SQL — the exact pattern this repo's
    whole oracle harness generalizes.
    """
    import os
    import tempfile

    import duckdb

    rows = int(n)
    dbpath = os.path.join(tempfile.gettempdir(), f"ljx_dbcount_{os.getpid()}.duckdb")
    if os.path.exists(dbpath):
        os.remove(dbpath)
    con = duckdb.connect(dbpath)
    try:
        con.execute(
            "CREATE TABLE Access AS SELECT "
            "'url_' || CAST((i * 2654435761) % 97 AS VARCHAR) AS url, "
            "'ref_' || CAST((i * 40503) % 13 AS VARCHAR) AS referrer, "
            f"i AS ts FROM range({rows}) t(i)"
        )
        access = spark.createDataFrame(con.execute("SELECT * FROM Access").fetchdf())
        counts = access.groupBy("url").agg(F.count("*").cast("long").alias("pageview"))
        con.register("counts_pdf", counts.toPandas())
        con.execute("CREATE TABLE Pageview AS SELECT url, pageview FROM counts_pdf")
        totals_ok, counts_ok = con.execute(
            "SELECT (SELECT count(*) FROM Access) = (SELECT sum(pageview) FROM Pageview), "
            "NOT EXISTS (SELECT 1 FROM "
            "(SELECT url, count(*) AS c FROM Access GROUP BY url) a "
            "FULL JOIN Pageview p USING (url) "
            "WHERE coalesce(a.c, -1) <> coalesce(p.pageview, -2))"
        ).fetchone()
        n_urls = counts.count()
        if not (totals_ok and counts_ok):
            raise AssertionError("dbcount verify failed: DB counts != job counts")
        return spark.createDataFrame(
            [(rows, int(n_urls), True)], "n_access long, n_urls int, verified boolean"
        )
    finally:
        con.close()
        if os.path.exists(dbpath):
            os.remove(dbpath)


def dbcount_jdbc(spark: SparkSession, n: str = "10000", *args: str) -> DataFrame:
    """DBCountPageView over the real JDBC wire: Access generated in Spark,
    written through DBOutputFormat-style batched INSERTs, re-read through
    DBInputFormat-style partitioned SELECTs, counted, Pageview written
    back, then verified by SQL in the database itself (embedded Derby —
    ships in Spark's jars, so this exercises the same code path as any
    production database)."""
    import os
    import shutil
    import tempfile

    from hadoop_0_20_2_ljx_spark.sources.jdbc import (
        read_jdbc_partitioned,
        write_jdbc_batched,
    )

    rows = int(n)
    dbdir = os.path.join(tempfile.gettempdir(), f"ljx_dbcount_derby_{os.getpid()}")
    shutil.rmtree(dbdir, ignore_errors=True)
    url = f"jdbc:derby:{dbdir};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    access = spark.range(rows).select(
        F.col("id").alias("rid"),
        F.concat(F.lit("url_"), ((F.col("id") * 2654435761) % 97).cast("string")).alias("url"),
        F.concat(F.lit("ref_"), ((F.col("id") * 40503) % 13).cast("string")).alias("referrer"),
    )
    write_jdbc_batched(access, url, "Access", mode="overwrite", batch_size=1000, driver=driver)
    back = read_jdbc_partitioned(
        spark, url, "Access", partition_column='"rid"',
        lower_bound=0, upper_bound=rows, num_partitions=4, driver=driver,
    )
    counts = back.groupBy("url").agg(F.count("*").cast("long").alias("pageview"))
    write_jdbc_batched(counts, url, "Pageview", mode="overwrite", batch_size=1000, driver=driver)
    # verify() in the database, as DBCountPageView.java:239 does
    totals = spark.read.format("jdbc").option("url", url).option("driver", driver).option(
        "dbtable",
        # table names were written unquoted (Derby folds them to upper
        # case); column names were written quoted lower case
        '(SELECT (SELECT count(*) FROM Access) AS "n_access", '
        '(SELECT sum("pageview") FROM Pageview) AS "n_views", '
        '(SELECT count(*) FROM Pageview) AS "n_urls" FROM SYSIBM.SYSDUMMY1) t',
    ).load().collect()[0]
    verified = int(totals["n_access"]) == rows == int(totals["n_views"])
    shutil.rmtree(dbdir, ignore_errors=True)
    if not verified:
        raise AssertionError("dbcount_jdbc verify failed")
    return spark.createDataFrame(
        [(rows, int(totals["n_urls"]), True)], "n_access long, n_urls int, verified boolean"
    )


def gridmix(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """GridMixRunner.java:105-304 — the five-workload benchmark mix, run
    as one JobControl DAG over the documents fixture:

      streamSort   identity map/reduce total-order sort (:106)
      webdataScan  keep ~0.2% sample scan (:172, -keepmap 0.2)
      combiner     wordcount with map-side combine (:203)
      monsterQuery 3 CHAINED passes, each keep 10% at map and 40% at
                   reduce, pass i reading pass i-1 (:230-278)
      webdataSort  full sort of the scan sample (:279)

    Sampling uses the deterministic portable hash (never rand()), so the
    whole mix is reproducible. Output: (workload, rows_out, checksum).
    """
    from hadoop_0_20_2_ljx_spark.functions.portable import md5_int_sql
    from hadoop_0_20_2_ljx_spark.operators.sorts import total_order_sort
    from hadoop_0_20_2_ljx_spark.plans.jobcontrol import Job, JobControl

    docs = catalog.load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("key"), F.col("text").alias("value")
    )

    def h32(c: str) -> Column:
        return F.expr(md5_int_sql(f"`{c}`", 8))

    def chk(df: DataFrame, *cols: str) -> tuple[int, int]:
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(sum((h32(c) for c in cols), F.lit(0)) % 1000003),
                F.lit(0),
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    def stream_sort(_: dict) -> tuple[int, int]:
        return chk(total_order_sort(docs, "key"), "key", "value")

    def webdata_scan(_: dict) -> DataFrame:
        return docs.filter(h32("key") % 1000 < 2)

    def combiner(_: dict) -> tuple[int, int]:
        words = docs.select(F.explode(F.split("value", r"\s+")).alias("w")).filter(
            F.col("w") != ""
        )
        return chk(words.groupBy("w").agg(F.count("*").cast("string").alias("c")), "w", "c")

    def mq_pass(i: int):
        def run(deps: dict) -> DataFrame:
            src = docs if i == 0 else deps[f"mq_{i - 1}"]
            kept = src.filter((h32("key") + i) % 100 < 10)
            # reduce phase: group by key, keep 40% of groups
            grouped = kept.groupBy("key").agg(F.min("value").alias("value"))
            return grouped.filter((h32("key") + 7 * i) % 100 < 40)

        return run

    jc = JobControl()
    jc.add_job(Job("stream_sort", stream_sort))
    jc.add_job(Job("webdata_scan", webdata_scan))
    jc.add_job(Job("combiner", combiner))
    for i in range(3):
        jc.add_job(Job(f"mq_{i}", mq_pass(i), deps=[f"mq_{i - 1}"] if i else []))
    jc.add_job(
        Job(
            "webdata_sort",
            lambda deps: chk(total_order_sort(deps["webdata_scan"], "key"), "key", "value"),
            deps=["webdata_scan"],
        )
    )
    res = jc.run()
    out = [
        ("streamSort", *res["stream_sort"]),
        ("webdataScan", *chk(res["webdata_scan"], "key", "value")),
        ("combiner", *res["combiner"]),
        ("monsterQuery", *chk(res["mq_2"], "key", "value")),
        ("webdataSort", *res["webdata_sort"]),
    ]
    return spark.createDataFrame(out, "workload string, rows_out long, checksum long")


# --- sudoku: distributed backtracking (Sudoku.java) --------------------------
def _sudoku_solve(grid: list[int], start: int = 0) -> Iterator[list[int]]:
    """Plain backtracking over a 81-cell grid (0 = empty)."""
    try:
        i = grid.index(0, start)
    except ValueError:
        yield list(grid)
        return
    r, c = divmod(i, 9)
    used = set()
    for j in range(9):
        used.add(grid[r * 9 + j])
        used.add(grid[j * 9 + c])
    br, bc = 3 * (r // 3), 3 * (c // 3)
    for dr in range(3):
        for dc in range(3):
            used.add(grid[(br + dr) * 9 + (bc + dc)])
    for v in range(1, 10):
        if v not in used:
            grid[i] = v
            yield from _sudoku_solve(grid, i + 1)
            grid[i] = 0


def sudoku(spark: SparkSession, puzzle: str | None = None) -> DataFrame:
    """Sudoku.java, distributed the way DistributedPentomino splits its
    search (DistributedPentomino.java generates prefix placements as map
    inputs): branch the first empty cell's candidates on the driver, solve
    each branch as a task, union the solutions.
    """
    puzzle = puzzle or (
        "530070000600195000098000060800060003400803001700020006060000280000419005000080079"
    )
    grid = [int(ch) for ch in puzzle]
    if len(grid) != 81:
        raise ValueError("puzzle must be 81 digits, 0 for empty")
    first = grid.index(0) if 0 in grid else -1
    def valid(g: list[int], i: int, v: int) -> bool:
        r, c = divmod(i, 9)
        if v in (g[r * 9 + j] for j in range(9)) or v in (g[j * 9 + c] for j in range(9)):
            return False
        br, bc = 3 * (r // 3), 3 * (c // 3)
        return all(g[(br + dr) * 9 + (bc + dc)] != v for dr in range(3) for dc in range(3))

    if first < 0:
        branches = [grid]
    else:
        branches = []
        for v in range(1, 10):
            if valid(grid, first, v):
                g = list(grid)
                g[first] = v
                branches.append(g)

    def solve_branch(gs: Iterator[list[int]]) -> Iterator[tuple[str]]:
        for g in gs:
            for sol in _sudoku_solve(list(g)):
                yield ("".join(map(str, sol)),)

    # Branches fix different values of the same cell, so their solution
    # sets are disjoint — no dedup needed.
    rdd = spark.sparkContext.parallelize(branches, len(branches)).mapPartitions(solve_branch)
    return rdd.toDF(["solution"])


def pentomino(
    spark: SparkSession, width: int = 6, height: int = 10, depth: int = 2
) -> DataFrame:
    """DistributedPentomino.java:40-60 — dancing-links tile search, split
    into one task per depth-``depth`` choice prefix. Defaults mirror the
    reference main (6x10 board, depth 2). Output (prefix, solution) rows
    match the reference's Text/Text map output."""
    from hadoop_0_20_2_ljx_spark.operators.dancing import distributed_pentomino

    return distributed_pentomino(
        spark, width=int(width), height=int(height), depth=int(depth)
    )


PROGRAMS: dict[str, tuple[Callable[..., DataFrame], str]] = {
    "wordcount": (wordcount, "count words in the documents table"),
    "aggregatewordcount": (aggregatewordcount, "ValueAggregator wordcount"),
    "aggregatewordhist": (aggregatewordhist, "ValueHistogram over words"),
    "grep": (grep, "regex match counts, desc-sorted"),
    "randomwriter": (randomwriter, "deterministic random K/V rows"),
    "randomtextwriter": (randomtextwriter, "deterministic random text rows"),
    "sort": (sort_job, "total-order sort of generated data"),
    "pi": (pi, "Halton Monte Carlo pi"),
    "pentomino": (pentomino, "distributed pentomino tiling (prefix-split DLX)"),
    "secondarysort": (secondarysort, "values ordered within key groups"),
    "sudoku": (sudoku, "distributed sudoku solver"),
    "sleep": (sleep, "parallel no-op delay"),
    "join": (join, "orders x customer join"),
    "multifilewc": (multifilewc, "wordcount over multi-source union"),
    "dbcount": (dbcount, "pageview count with embedded-DB source/sink + SQL verify"),
    "dbcount_jdbc": (dbcount_jdbc, "dbcount over the real JDBC wire (embedded Derby)"),
    "gridmix": (gridmix, "the gridmix2 five-workload benchmark mix as one DAG"),
    "teragen": (teragen, "TeraSort input generator"),
    "terasort": (terasort, "global sort of TeraGen rows"),
    "teravalidate": (teravalidate, "distributed sort validation"),
}


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in PROGRAMS:
        print("usage: python -m hadoop_0_20_2_ljx_spark.jobs <program> [args...]")
        for name, (_, desc) in PROGRAMS.items():
            print(f"  {name:18s} {desc}")
        return 1
    from hadoop_0_20_2_ljx_spark.session import get_spark

    fn, _ = PROGRAMS[argv[0]]
    df = fn(get_spark(app_name=f"ljx-job-{argv[0]}"), *argv[1:])
    df.show(20, truncate=False)
    print(f"[{argv[0]}] rows: {df.count()}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
