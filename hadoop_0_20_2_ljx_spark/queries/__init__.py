"""The declared-query registry: SURVEY.md §2's corpus, each entry a
PySpark implementation + DuckDB oracle (oracle.py runs the comparison).
"""

from __future__ import annotations

from hadoop_0_20_2_ljx_spark.queries.base import QueryDef  # noqa: F401


# Iteration-order priority (evidence rotation): the driver records EXACTLY
# the first 50 registry rows per round. Priority: (a) queries with NO
# driver row yet or whose implementation/oracle changed this round
# (unproven claims are worse than aging proofs), then (b) the
# oldest-evidence queries. After round 6 every query carries a green
# external row (newest: 50 r6 / 49 r5 / 45 r4 / 39 r3 — recomputed from
# CORRECTNESS_r01..06; the r6-era "11 remaining r3 names" note was a
# miscount the r6 verdict corrected). Local pytest and
# tools/driver_sim.py re-prove ALL queries at sf0.01 every gate run, and
# tools/sweep.py re-proves them under every invariance axis,
# regardless — the driver rows are the hard external signal, not the
# only signal. Correctness itself is order-independent (each query is
# self-contained).
_NEEDS_FRESH_EVIDENCE = [
    # Round 14 window = exactly 50 names (optimization round 2 of 2):
    #
    # (head, 7) changed THIS round — results oracle-identical by design
    # but changed plans/builders are unproven claims until externally
    # re-proven: q_dedup_simhash + q_dedup_simhash_pairs (the vote
    # aggregation is bit-sliced into 20-bit lanes: 20 packed SUM buffers
    # instead of 60, per-bit counts integer-identical, oracles untouched
    # — r13 VERDICT item 3 — and the whole builder is SQL-text parsed,
    # trees identical modulo id counters), q_join_bloom (explicit isNotNull probe
    # conjunct: the xxhash64 move made NULL keys hash to fixed
    # positions, so the guard restores the md5-era join-prefilter
    # semantics — r13 ADVICE item 1), and the four minhash-family
    # queries (q_dedup_minhash/incremental/clusters/jaccard_est: the
    # seed aggregates + band structs are now built as parsed SQL text —
    # optimized plans identical modulo id counters, pinned in
    # tests/test_minhash_build.py, but the builder changed).
    #
    # (item 6, 12) the r13 VERDICT's front-load list: the 11 q_embed_*
    # queries whose shared Lloyd/PQ build path changed in r13 (change 2)
    # without landing in the r13 external window (their newest proof
    # predates the change), plus q_audit_fingerprint (bucket_fingerprint
    # gained the hash64 parameter in r13 change 4; the declared md5 path
    # must be re-proven too).
    #
    # (fill, 31) the oldest-evidence cohort: 31 alphabetically-first of
    # the 39 remaining r10-latest names (ages recomputed from
    # CORRECTNESS_r01..13 at r14 start: 43 r10 / 49 r11 / 46 r12 /
    # 50 r13; 4 of the r10 cohort already sit in the head/item-6 blocks).
    # q_sink_text_roundtrip, q_sort_keyfield, q_sort_secondary,
    # q_text_classifier, q_text_entropy, q_udf_cogroup, q_udf_pipes,
    # q_udf_scalar spill to the r15 window head (committed block below).
    #
    # (head) changed after the r14 window: q_graph_kcore (kcore_peel
    # stops at its fixed point — one (nodes, alive) probe per pinned
    # degree table; output identical to the fixed-round loop, oracle
    # untouched). It moved here from the fill cohort below, which now
    # holds 30 names.
    #
    # (head) new after the r14 window: the three Hadoop container
    # round trips (SequenceFile + Sorter, MapFile/SetFile/ArrayFile,
    # BloomMapFile), registered with DuckDB oracles; the fill cohort's
    # last three names (q_sink_parquet_roundtrip, q_sink_partitioned,
    # q_sink_sorted_lookup) spill below the cut line to keep 50.
    "q_sink_seqfile_roundtrip",
    "q_sink_mapfile_roundtrip",
    "q_sink_bloommap_roundtrip",
    "q_graph_kcore",
    # (head) changed this round:
    "q_dedup_simhash",
    "q_dedup_simhash_pairs",
    "q_join_bloom",
    "q_dedup_minhash",
    "q_dedup_incremental",
    "q_dedup_clusters",
    "q_dedup_jaccard_est",
    # (item 6) r13-changed build path, external proof predates it:
    "q_embed_kmeans_ivf_bcast",
    "q_embed_ann",
    "q_embed_ivf",
    "q_embed_ivf_bcast",
    "q_embed_ivf_nprobe",
    "q_embed_ivfpq",
    "q_embed_ivfpq_nprobe",
    "q_embed_ivfpq_rerank",
    "q_embed_kmeans_ivf",
    "q_embed_knn",
    "q_embed_quantize",
    "q_audit_fingerprint",
    # (fill) r10-latest cohort, alphabetical:
    "q_agg_hot_keys",
    "q_agg_item_sim",
    "q_agg_median_mode",
    "q_agg_numeric_hist",
    "q_agg_outliers",
    "q_agg_pivot",
    "q_agg_profile",
    "q_agg_stats",
    "q_agg_string_agg",
    "q_audit_table_diff",
    "q_corpus_dataset_card",
    "q_dedup_canonical",
    "q_dedup_embed",
    "q_dedup_fuzzy",
    "q_dedup_keep_latest",
    "q_fn_pentomino",
    "q_graph_pagerank",
    "q_join_3way",
    "q_join_broadcast",
    "q_join_full_outer",
    "q_join_semi_anti",
    "q_num_pi",
    "q_sample_group_split",
    "q_sample_weighted",
    "q_set_distinct",
    "q_set_intersect_except",
    "q_set_union",
    # ---- 50-row cut line ----
    # spilled from the fill cohort by the three container round trips:
    # q_sink_parquet_roundtrip, q_sink_partitioned, q_sink_sorted_lookup.
    # committed r15 block: after this window lands, the oldest cohort is
    # the 8 r10 spill names (q_sink_text_roundtrip, q_sort_keyfield,
    # q_sort_secondary, q_text_classifier, q_text_entropy, q_udf_cogroup,
    # q_udf_pipes, q_udf_scalar) + the 49 r11-latest names
    # (q_agg_approx_distinct, q_agg_cms, q_agg_conversion,
    # q_agg_domain_mix, q_agg_retention, q_agg_rolling,
    # q_audit_constraints, ... recompute from CORRECTNESS_r01..14 at r15
    # start) — take the 8 + 42 oldest to fill 50, plus whatever r15 adds
    # or changes (changed queries take the head).
]


def _build() -> dict[str, QueryDef]:
    registry: dict[str, QueryDef] = {}
    from hadoop_0_20_2_ljx_spark.queries import (
        agg,
        analytic,
        audit,
        core,
        curation,
        ext,
        join_set,
        sink,
        tpch,
        udf_misc,
    )

    for mod in (core, agg, join_set, sink, udf_misc, ext, analytic, curation, tpch, audit):
        for k, v in mod.QUERIES.items():
            if k in registry:
                raise ValueError(f"duplicate query name {k}")
            registry[k] = v
    missing = [k for k in _NEEDS_FRESH_EVIDENCE if k not in registry]
    if missing:
        raise ValueError(f"priority list references unknown queries: {missing}")
    front = {k: registry[k] for k in _NEEDS_FRESH_EVIDENCE}
    rest = {k: v for k, v in registry.items() if k not in front}
    return {**front, **rest}


REGISTRY: dict[str, QueryDef] = _build()
