"""Plan-property regression guards (hbase_bulkload_spark/plans): the
scale claims of SURVEY.md §4 pinned as assertions — if a refactor adds a
shuffle to the ingest pipeline or un-broadcasts a dimension join, these
fail before any benchmark notices."""

from __future__ import annotations

from hbase_bulkload_spark.plans import (
    count_broadcast_joins,
    count_exchanges,
    physical_plan,
    scan_summaries,
)

# conftest.py puts this checkout's root on the import path
import __spark_entry__ as entrymod  # noqa: E402

QUERIES = entrymod.queries()


def test_bulkload_pipeline_single_exchange(spark, sf_dir):
    """The flagship's core scale property: exactly ONE placement shuffle
    (wide rows by bucket), unpivot and sort both after it — the unpivot's
    Expand prints above the exchange, so wide rows cross it. The
    parallelism floor's round-robin move (fires only on the local
    single-row-group fixture) is not a placement exchange."""
    plan = physical_plan(QUERIES["q_bulkload_pipeline"](spark, sf_dir))
    assert count_exchanges(plan, ignore_roundrobin=True) == 1, plan
    lines = plan.splitlines()
    expand = next(i for i, ln in enumerate(lines) if " Expand " in ln)
    placement = next(
        i for i, ln in enumerate(lines)
        if "Exchange " in ln and "RoundRobinPartitioning" not in ln
    )
    assert expand < placement, plan


def test_broadcast_rollup_never_shuffles_facts(spark, sf_dir):
    """Star rollup: both dim joins broadcast; the only exchange is the
    final aggregation's."""
    plan = physical_plan(QUERIES["q_join_broadcast"](spark, sf_dir))
    assert count_broadcast_joins(plan) == 2, plan
    assert count_exchanges(plan) <= 1, plan


def test_scan_prunes_columns(spark, sf_dir):
    """A 2-column projection must not read all 16 lineitem columns."""
    plan = physical_plan(QUERIES["q_date_funcs"](spark, sf_dir))
    scans = scan_summaries(plan)
    assert scans, plan
    assert all(s["read_schema"].count(",") < 8 for s in scans), scans


def test_scalar_queries_have_no_exchange(spark, sf_dir):
    """Pure projection/filter queries must stay map-only."""
    for name in ("q_rowkey_concat", "q_unpivot_kv", "q_math_funcs", "q_project"):
        plan = physical_plan(QUERIES[name](spark, sf_dir))
        assert count_exchanges(plan, ignore_roundrobin=True) == 0, (name, plan)


def test_index_lookup_broadcasts_keyset(spark, sf_dir):
    """Secondary-index lookup: a selective predicate's keyset passes the
    size gate and broadcasts into a semi-join — the base cell scan is
    never shuffled."""
    plan = physical_plan(QUERIES["q_kv_index_lookup"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert count_exchanges(plan, ignore_roundrobin=True) == 0, plan


def test_index_lookup_gate_degrades_unselective_keyset(spark, sf_dir):
    """Past the broadcast gate (unselective predicate — here forced with
    limit 0) the hint must be OMITTED: still a semi-join, but planned
    from size estimates, never a forced broadcast of an unbounded
    keyset. autoBroadcastJoinThreshold=-1 simulates a keyset too big to
    auto-broadcast — with the old hardcoded hint this still planned
    BroadcastHashJoin (the forced-OOM shape); gated, it must not."""
    from pyspark.sql import functions as F

    from hbase_bulkload_spark.queries.ingest import q_kv_index_lookup

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q_kv_index_lookup(
            spark, sf_dir, predicate=F.col("z8").isNotNull(), broadcast_limit=0
        )
        plan = physical_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_binned_range_join_avoids_nested_loop(spark, sf_dir):
    """A no-equi-key containment join plans a NestedLoopJoin; the
    bin-to-equi rewrite must plan a hash join on the bin id with
    identical results."""
    from pyspark.sql import functions as F

    from hbase_bulkload_spark.operators.relational import binned_range_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    periods = (
        orders.select(F.date_trunc("MONTH", "o_orderdate").alias("s"))
        .distinct()
        .select("s", (F.col("s") + F.expr("INTERVAL 10 DAYS")).alias("e"))
    )
    naive = li.join(
        periods, (li.l_shipdate >= periods.s) & (li.l_shipdate < periods.e)
    )
    assert "NestedLoopJoin" in physical_plan(naive)
    binned = binned_range_join(li, "l_shipdate", periods, "s", "e", bin_days=16)
    plan = physical_plan(binned)
    assert "NestedLoopJoin" not in plan, plan
    assert binned.count() == naive.count()


def test_runtime_bloom_filter_fires_when_broadcast_impossible(spark, sf_dir):
    """At 100 TB the dims that matter stop being broadcast-able; Spark's
    runtime bloom filter then pre-filters the fact side of a shuffle
    join with the selective side's key bloom (semi-join pushdown). Pin
    that the session inherits the optimizer rule: with broadcast off and
    the application-side size gate zeroed (simulating a >10 GB scan),
    the plan must contain bloom_filter_agg + might_contain."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    gate = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    old_gate = spark.conf.get(gate)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(gate, "0")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        plan = physical_plan(li.join(o, li.l_orderkey == o.o_orderkey))
        assert "bloom_filter_agg" in plan and "might_contain" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(gate, old_gate)


def test_aqe_splits_skewed_join(spark):
    """The engine's other skew answer (besides explicit salting): AQE's
    OptimizeSkewedJoin must split a pathological key at runtime. Build a
    join where one key carries ~all fact rows, execute it with thresholds
    scaled to the fixture, and assert the executed plan marks the
    sort-merge join as skew-handled."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(60_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pay"),
        )
        dim = spark.range(1000).select(F.col("id").alias("k"), F.lit("d").alias("d"))
        j = fact.join(dim, "k")
        # collect() executes THIS DataFrame's QueryExecution, so its
        # adaptive plan is the finalized one (a write would re-plan)
        assert len(j.collect()) == 60_000
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_count_exchanges_excludes_all_broadcast_forms():
    """EXECUTOR_BROADCAST exchanges move only the small side and must not
    count as shuffles under ANY partitioning spelling."""
    assert count_exchanges("Exchange SinglePartition EXECUTOR_BROADCAST, [plan_id=1]") == 0
    assert count_exchanges("Exchange hashpartitioning(k, 32) EXECUTOR_BROADCAST") == 0
    assert count_exchanges("Exchange SinglePartition, true, [plan_id=2]") == 1
    assert count_exchanges("Exchange hashpartitioning(k, 32), REPARTITION") == 1
    assert count_exchanges("Exchange rangepartitioning(k ASC, 32)") == 1
    by_id = (
        "Exchange shufflepartitionidpassthrough(direct_shuffle_partition_id("
        "cast(b#1 as int)), 4), REPARTITION_BY_NUM, [plan_id=37]"
    )
    assert count_exchanges(by_id) == count_exchanges(by_id, ignore_roundrobin=True) == 1
    rr = "Exchange RoundRobinPartitioning(32), REPARTITION_BY_NUM"
    assert count_exchanges(rr) == 1
    assert count_exchanges(rr, ignore_roundrobin=True) == 0
    assert count_exchanges("Exchange hashpartitioning(k, 32)", ignore_roundrobin=True) == 1


def test_binned_range_join_non_midnight_end_on_bin_boundary(spark):
    """Regression: with an interval whose (exclusive) end is NOT
    midnight-aligned and whose end DAY lands exactly on a bin boundary,
    facts on the end day that satisfy ts < end must still match. The old
    upper bound floor((day(end)-1)/bin) excluded the boundary bin and
    silently dropped them; the fix includes it and lets the residual
    containment filter discard non-matches."""
    from pyspark.sql import functions as F

    from hbase_bulkload_spark.operators.relational import binned_range_join

    # bin_days=4 → bins [epoch day 0-3], [4-7], ... 1970-01-05 is day 4,
    # a bin boundary. Interval end 1970-01-05 06:00 (non-midnight).
    facts = spark.createDataFrame(
        [
            ("1970-01-02 12:00:00",),  # inside, bin 0
            ("1970-01-05 03:00:00",),  # end day, before end → MUST match
            ("1970-01-05 07:00:00",),  # end day, after end → no match
            ("1970-01-06 00:00:00",),  # past end day → no match
        ],
        "ts_s string",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [("1970-01-01 00:00:00", "1970-01-05 06:00:00")], "s_s string, e_s string"
    ).select(
        F.col("s_s").cast("timestamp").alias("s"),
        F.col("e_s").cast("timestamp").alias("e"),
    )
    naive = facts.join(iv, (facts.ts >= iv.s) & (facts.ts < iv.e))
    binned = binned_range_join(facts, "ts", iv, "s", "e", bin_days=4)
    got = sorted(str(r.ts) for r in binned.collect())
    want = sorted(str(r.ts) for r in naive.collect())
    assert got == want
    assert "1970-01-05 03:00:00" in " ".join(got)


def test_ivf_pairs_one_vector_exchange_no_pair_shuffle(spark, sf_dir):
    """q_sim_pairs_ivf's scale property (round 10): the only exchanges
    carrying vectors are the cell groupBy's hash exchange (n·n_assign
    rows) and the final pair-id dedup — candidate pairs are generated
    AND verified inside the per-cell GEMM, so no exchange ever carries
    a candidate-pair row with payloads (the ~1e10-row shuffle that
    ENOSPC'd the round-9 100x probe on the sign-LSH arm), and nothing
    degenerates to a nested-loop/cartesian join."""
    plan = physical_plan(QUERIES["q_sim_pairs_ivf"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    # cell repartition + pair dedup (+ at most a parallelism-floor
    # round-robin on the tiny test fixture): bounded exchange count
    assert count_exchanges(plan, ignore_roundrobin=True) <= 2, plan
