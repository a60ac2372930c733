"""Registry-wide plan-regression sweep: every registered query's
physical plan is audited once, and the 100-TB-scale posture is pinned as
set equalities — a refactor that introduces a cartesian product, forces
a nested-loop join, drops a parquet filter pushdown, or moves a hot path
onto row-at-a-time Python fails HERE, before any benchmark notices.

Planning-only for almost every query (a handful of operators — LSH
candidate gating, IVF centroid builds — run bounded jobs at plan-build
time); the whole sweep costs a few minutes at the test fixture scale.
"""

from __future__ import annotations

import pytest

from hbase_bulkload_spark.plans import physical_plan, scan_summaries

# conftest.py puts this checkout's root on the import path
import __spark_entry__ as entrymod  # noqa: E402

# Nested-loop joins the registry DELIBERATELY contains. q_join_cross is
# the declared cross-join operator (25 rows × 5 rows). Every other entry
# broadcasts a SCALAR frame — a 1-row aggregate (corpus totals, TTL
# cutoff timestamps, compaction watermarks, quantile thresholds) joined
# onto the fact side, which is the idiomatic Spark spelling of a scalar
# subquery and moves O(1) bytes regardless of data scale.
BNLJ_ALLOWED = {
    "q_join_cross",
    "q_kv_scan",
    "q_compaction",
    "q_ttl_filter",
    "q_dedup_embed",
    "q_dedup_semantic",  # 1-row broadcast centroid array (map-only assignment)
    "q_sim_pairs",
    "q_sim_pairs_lsh",  # bounded GEMM twin + 1-row verdict crossJoin
    "q_sim_pairs_ivf_clustered",  # same shape: 1-row counts x 1-row verdict
    # bounded-twin verdict queries (round 7): 1-row corpus-count frame
    # crossJoined onto the 1-row recall verdict — O(1) bytes moved
    "q_dedup_near_verdict",
    "q_dedup_incremental_minhash",
    "q_dedup_incremental_embed",  # bounded block-grid fan-out (La×Lb packed rows)
    # banding-vs-brute verdict arms: all-pairs over the md5-ranked
    # checked subset, ≤ BRUTE_CHECK_CAP broadcast (id, int64) rows —
    # bounded by the cap, independent of corpus size
    "q_dedup_simhash",
    "q_multimodal_phash",
    "q_multimodal_phash_real",
    "q_text_tfidf",
    "q_text_logprob",
    "q_curate_corpus",
    "q_mix_corpus",
    "q_skew_report",  # 1-row broadcast grand-total onto the per-key counts
}

# Row-at-a-time Python (BatchEvalPython) is allowed ONLY in the declared
# Python-UDTF demo (SURVEY op 51); its production twin (q_unpivot_kv) is
# codegen'd built-ins. Pandas/Arrow UDFs (ArrowEvalPython) are the
# sanctioned Python path and are not restricted here.
ROW_PYTHON_ALLOWED = {"q_udtf_cells"}

# Queries whose parquet scans carry non-empty PushedFilters today —
# pinned so a refactor that breaks pushdown (e.g. wrapping a filter
# column in a non-pushable expression) is caught. New filtered queries
# should be added here.
PUSHDOWN_REQUIRED = {
    "q_sql_exists", "q_string_fuzzy", "q_kv_scan", "q_compaction",
    "q_stream_tumbling", "q_stream_sliding", "q_stream_session",
    "q_stream_join", "q_events_funnel", "q_events_gapfill",
    "q_events_retention", "q_events_anomaly", "q_decontaminate",
    "q_dedup_near_verdict", "q_sim_pairs_lsh", "q_text_fingerprint",
    "q_multimodal_resize", "q_multimodal_frames", "q_curate_corpus",
    "q_sample_stratified", "q_mix_corpus", "q_embed_quantize",
    "q_join_inner", "q_join_broadcast", "q_join_semi", "q_join_anti",
    "q_join_range", "q_join_range_binned", "q_join_asof", "q_sql_star",
    "q_sql_tpch3", "q_sql_tpch5", "q_join_salted", "q_agg_percentile",
    "q_merge_upsert", "q_set_intersect_except", "q_ttl_filter",
}


@pytest.fixture(scope="module")
def plans(spark, sf_dir) -> dict[str, str]:
    out = {}
    for name, fn in entrymod.queries().items():
        out[name] = physical_plan(fn(spark, sf_dir))
    return out


def test_no_cartesian_product_anywhere(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert offenders == [], offenders


def test_nested_loop_joins_only_where_declared(plans):
    got = {n for n, p in plans.items() if "BroadcastNestedLoopJoin" in p}
    assert got == BNLJ_ALLOWED, (
        f"new nested-loop joins: {sorted(got - BNLJ_ALLOWED)}; "
        f"stale allowlist entries: {sorted(BNLJ_ALLOWED - got)}"
    )


def test_row_at_a_time_python_only_in_udtf_demo(plans):
    got = {n for n, p in plans.items() if "BatchEvalPython" in p}
    assert got == ROW_PYTHON_ALLOWED, sorted(got ^ ROW_PYTHON_ALLOWED)


def test_parquet_filter_pushdown_is_preserved(plans):
    got = set()
    for name, plan in plans.items():
        scans = scan_summaries(plan)
        if any(
            s["pushed_filters"].strip() for s in scans if s["format"] == "parquet"
        ):
            got.add(name)
    missing = PUSHDOWN_REQUIRED - got
    assert missing == set(), f"queries that stopped pushing filters: {sorted(missing)}"
