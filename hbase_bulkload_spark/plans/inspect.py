"""Physical-plan inspection helpers.

The engine's scale posture (SURVEY.md §4) is a set of *plan properties*:
filters pushed to scans, pruned read schemas, dimension joins broadcast,
no redundant exchanges, unpivot after the ingest exchange. These helpers
make those properties assertable in tests and auditable as a report
(``python -m hbase_bulkload_spark.plans.audit`` → PLANS.md).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The executed (pre-AQE-refinement) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(plan: str, ignore_roundrobin: bool = False) -> int:
    """Shuffle boundaries in the plan: every ``Exchange`` whatever its
    partitioning (hash, range, single, ``repartitionById``'s partition-id
    passthrough, ...), except broadcast exchanges — those move only the
    small side.

    ``ignore_roundrobin=True`` additionally excludes RoundRobin
    repartitions — pure parallelism moves that place no data-placement
    constraint (only datasets.parallelism_floor emits one, and only for
    unsplittable single-row-group local inputs). Tests asserting a
    query's *placement* shuffle count pass it so the floor's
    local-input remedy doesn't read as an algorithmic regression;
    the default keeps counting them so an accidental ``repartition()``
    in an operator still trips the audit."""
    pat = r"\bExchange (?!.*EXECUTOR_BROADCAST)"
    if ignore_roundrobin:
        pat += r"(?!RoundRobinPartitioning)"
    return len(re.findall(pat, plan))


def count_broadcast_joins(plan: str) -> int:
    return plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")


def scan_summaries(plan: str) -> list[dict[str, str]]:
    """One entry per file scan: format, pushed filters, read schema."""
    out = []
    # plan text: "FileScan parquet [cols] ..." or "FileScan parquet tbl[cols] ..."
    for m in re.finditer(r"FileScan (\w+) \S*\[([^\]]*)\]([^\n]*)", plan):
        line = m.group(0)
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", line)
        schema = re.search(r"ReadSchema: (\S+)", line)
        out.append(
            {
                "format": m.group(1),
                "columns": m.group(2),
                "pushed_filters": pushed.group(1) if pushed else "",
                "read_schema": schema.group(1) if schema else "",
            }
        )
    return out
