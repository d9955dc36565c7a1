#!/usr/bin/env python
"""Registry-wide optimized-plan audit for the two redundancy classes that
produced real r8 scale bugs; run after adding or reshaping queries.

1. DUPLICATED EXPENSIVE CALLS inside one plan (the no-CSE-through-HOF-
   trees class): Catalyst performs no common-subexpression elimination
   inside higher-order-function lambdas OR across a Project's output
   list when the shared subtree contains a HOF (HOFs are
   CodegenFallback; codegen subexpression elimination rescues bare
   split/md5 — measured ratio 1.0-1.3x — but not filter/transform/
   aggregate trees, measured 1.7x at 500 tokens and growing with doc
   length). A high count of one call PREFIX is only a lead: the embed
   family legitimately stamps k distinct centroid folds that share a
   prefix. Eyeball before acting; fix with the bind-once idiom
   (F.element_at(F.transform(F.array(expr), lam), 1) — see
   extensions/textstats.py, CLAUDE.md r8 lessons).

2. SAME-TABLE RESCANS (the common-subplan class): Catalyst never
   deduplicates common subplans, so composing per-doc features by
   joining derived DataFrames re-runs the shared upstream per branch
   (q_pipeline_training re-ran its dedup agg 4x). Legitimate >=3 scans
   exist (n-ary override joins, rerank re-entry, two-snapshot diffs,
   funnel stages) — the bug signature is the SAME projection+agg chain
   repeated, fixed either by composing features as Column expressions
   in one select or by pinning the shared table (extensions/dedup.py
   ngram_jaccard_pairs / duplicate_substring_spans).

3. BUILD-JOB LEDGER (the eager-job layer): the Spark jobs each query
   runs while it is built, before any action — pins, sizing counts,
   training and iteration loops. Every fixture table is loaded once
   first, so the ledger counts no schema inference (catalog.load caches
   it per session). The counts are locked in tools/job_ledger.json; a
   count above its entry fails the audit, a count below it asks for a
   refresh.

Usage:  python tools/plan_audit.py [sf_dir] [--snapshot]   (default sf0.001)
A gate: exits 1 when a query raises while building, when a flag has no
reviewed reason in _ACCEPTED (known-intentional shapes are listed there
with the reason the audit keeps showing them), when a plan shape differs
from tools/plan_shapes.json, or when a query runs more build jobs than
tools/job_ledger.json records. --snapshot rewrites both files, so shape
and job diffs are then the intended refresh and do not fail the run.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# name -> why its flag is intentional (reviewed r8)
_ACCEPTED = {
    "q_dedup_minhash": "distinct band hashes h0/h4/h8/h12 per join side + one "
    "per-shingle md5 share the md5(cast prefix — verified distinct args",
    "q_dedup_incremental": "same band-hash prefix collision",
    "q_dedup_jaccard_est": "same",
    "q_agg_cms": "4 distinct depth hashes x build/probe join sides; md5 is "
    "codegen-able (subexpr-eliminated at runtime)",
    "q_pipeline_training": "gates pushed below the dedup agg duplicate the "
    "bound lang/quality exprs: 2 evals/row in the Filter + 3/group in the "
    "agg output, each bind-once internally — the pushdown is the win",
    "q_embed_ivfpq": "k distinct PQ sub-distance folds share a call prefix",
    "q_embed_ivfpq_nprobe": "same",
    "q_embed_ivfpq_rerank": "same + documented exact-rerank corpus re-entry",
    "q_embed_ivf": "k distinct centroid folds (literal path, nlist<=64)",
    "q_embed_ivf_nprobe": "same",
    "q_embed_ivf_bcast": "array-path fold count is per-centroid by design",
    "q_embed_kmeans_ivf": "same",
    "q_embed_kmeans_ivf_bcast": "same",
    "q_embed_kmeans": "same",
    "q_embed_pq": "m x k distinct codebook folds",
    "q_embed_knn": "cosine folds per query row",
    "q_embed_ann": "same",
    "q_dedup_embed": "same",
    "q_dedup_semantic": "kmeans-blocking centroid folds",
    "q_join_override": "n-ary override semantics scan part 3x by design",
    "q_sample_domain_reweight": "accepted dup-scan; pinned no-corpus-exchange",
    "q_text_decontaminate": "detect + rewrite corpus scans by design, plus "
    "the 1/97 bench-slice gram build (third Relation, not corpus-sized work)",
    "q_pipeline_funnel": "four distinct funnel stages, not a rescan bug",
    "q_sink_zorder": "column-range bounds pass + data pass",
    "q_agg_approx_quantile": "exact-vs-approx contract compares two sides",
    "q_audit_table_diff": "two snapshots by definition",
    "q_sort_keyfield_offsets": "38x bare split rescued by codegen subexpr elim (measured 1.0x)",
    "q_join_bloom": "k xxhash64 probe conjuncts — Filter ANDs get no codegen "
    "CSE so the base hash must be cheap standalone (r13: native-type "
    "xxhash64 measured 72ns/eval vs 1165ns string-cast; probes on both "
    "plan sides until the exact join, superset-safe)",
}

EXPENSIVE = re.compile(
    r"\b(regexp_extract_all|regexp_extract|regexp_replace|rlike|split|"
    r"sha2|md5|xxhash64|crc32|from_json|get_json_object|to_json|"
    r"filter|transform|aggregate|zip_with)\(([^()]{0,120})"
)


_SNAPSHOT = __file__.replace("plan_audit.py", "plan_shapes.json")
_LEDGER = __file__.replace("plan_audit.py", "job_ledger.json")

# name -> why its build-job count varies between builds; --snapshot builds
# these _VARY_BUILDS times and records the maximum.
_JOBS_VARY = {
    "q_dedup_clusters": "varied by one job between builds while every load "
    "still inferred its schema (21 in each of 20 builds since); its "
    "connected-components rounds pin under AQE, where the stage-completion "
    "order can decide how many of a pin's per-stage jobs run",
}
_VARY_BUILDS = 10

# Logical-plan node/call counts that are deterministic at any fixture
# size (AQE and broadcast thresholds act on the PHYSICAL plan, so these
# survive re-generated fixtures and re-runs). A diff here is a plan-shape
# change to explain, not necessarily a bug — the r8 wins (join removal,
# bind-once) would each have shown up as exactly one expected diff line.
_SHAPE_KEYS = ("Join", "Aggregate", "Window", "Generate", "Relation", "split(", "md5(")


def _shape(plan: str) -> dict[str, int]:
    return {k: plan.count(k) for k in _SHAPE_KEYS}


def _load(path: str) -> dict:
    try:
        with open(path) as fh:
            return json.load(fh)
    except OSError:
        return {}
    except ValueError as e:
        # corrupt/truncated snapshot: audit against an empty baseline
        # (every entry reported as new) instead of aborting (r8 ADVICE)
        print(f"WARN {os.path.basename(path)} unreadable ({e}); auditing against empty baseline")
        return {}


def main() -> int:
    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    from hadoop_0_20_2_ljx_spark import catalog
    from hadoop_0_20_2_ljx_spark.session import count_jobs

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    snapshot_mode = "--snapshot" in sys.argv
    sf = args[0] if args else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        # plan text past the 25th field of a projection would print as
        # "... N more fields" and hide its calls from the counts below
        .config("spark.sql.debug.maxToStringFields", str(2**31 - 1))
        .getOrCreate()
    )
    prior = _load(_SNAPSHOT)
    prior_jobs = _load(_LEDGER)
    # the registry's wrappers set the session's confs on every call; set
    # them first, so these loads infer each schema under the confs the
    # queries load with and no query's count includes an inference job
    entry_mod._configure(spark)
    for table in catalog.TABLES:
        catalog.load(spark, sf, table)
    errors = 0
    flagged = 0
    shape_diffs = 0
    job_rises = 0
    shapes: dict[str, dict[str, int]] = {}
    ledger: dict[str, int] = {}
    for name, fn in sorted(entry_mod.queries().items()):
        builds = _VARY_BUILDS if snapshot_mode and name in _JOBS_VARY else 1
        try:
            for _ in range(builds):
                df, jobs = count_jobs(spark, lambda fn=fn: fn(spark, sf))
                ledger[name] = max(jobs, ledger.get(name, 0))
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {str(e)[:100]}")
            errors += 1
            continue
        if name in prior_jobs and prior_jobs[name] != ledger[name]:
            rise = ledger[name] > prior_jobs[name]
            job_rises += rise
            print(f"JOBS {name}: {prior_jobs[name]}->{ledger[name]}" + ("" if rise else " (fewer)"))
        shapes[name] = _shape(plan)
        if name in prior and prior[name] != shapes[name]:
            shape_diffs += 1
            delta = {
                k: f"{prior[name].get(k, 0)}->{shapes[name][k]}"
                for k in _SHAPE_KEYS
                if prior[name].get(k, 0) != shapes[name][k]
            }
            print(f"SHAPE {name}: {delta}")
        dup_calls = {
            k: v
            for k, v in Counter(m.group(0) for m in EXPENSIVE.finditer(plan)).items()
            if v >= 6
        }
        scans = Counter(
            cols.split(",")[0].split("#")[0]
            for cols, _fmt in re.findall(r"Relation \[([^\]]*)\] (\w+)", plan)
        )
        rescans = {k: v for k, v in scans.items() if v >= 3}
        if not dup_calls and not rescans:
            continue
        tag = f"  [accepted: {_ACCEPTED[name]}]" if name in _ACCEPTED else ""
        flagged += 0 if name in _ACCEPTED else 1
        print(f"== {name}{tag}")
        for k, v in sorted(dup_calls.items(), key=lambda kv: -kv[1])[:4]:
            print(f"   {v:4d}x {k[:120]}")
        if rescans:
            print(f"   rescans: {dict(rescans)}")
    print(f"\nbuild errors: {errors}")
    print(f"unaccepted flags: {flagged} (0 = every flag has a reviewed reason)")
    if prior:
        print(
            f"plan-shape diffs vs snapshot: {shape_diffs} "
            "(each needs an explanation or a refreshed snapshot)"
        )
    if prior_jobs:
        print(
            f"build-job increases vs ledger: {job_rises} "
            f"(build jobs: {sum(ledger.values())} now, {sum(prior_jobs.values())} in the ledger)"
        )
    if snapshot_mode:
        for path, data in ((_SNAPSHOT, shapes), (_LEDGER, ledger)):
            with open(path, "w") as fh:
                json.dump(data, fh, indent=0, sort_keys=True)
            print(f"snapshot written: {path} ({len(data)} queries)")
    spark.stop()
    failed = errors or flagged or ((shape_diffs or job_rises) and not snapshot_mode)
    print("PLAN AUDIT: FAIL" if failed else "PLAN AUDIT: OK")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
