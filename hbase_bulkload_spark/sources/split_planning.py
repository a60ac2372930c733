"""Byte-range split planning for the Python-codec container scans
(Avro OCF, RCFile): one plan row per split, sized adaptively.

Spark's own file-source planner sizes splits as
``min(maxPartitionBytes, max(openCostInBytes, totalBytes/cores))``
(`FilePartition.maxSplitBytes`) so small datasets still fan out across
the cluster. The fixed 128 MB default here had the small-data half of
that policy missing: a 28 MB, 8-file table planned 8 single-split tasks
on 32 cores, capping a CPU-bound Python decode at ¼ of the machine.

``open_cost`` is deliberately smaller than Spark's 4 MB default: these
codecs decode in Python at tens of MB/s/core (vs GB/s for the JVM
parquet reader), so a 1 MB split still carries far more decode work
than its scheduling overhead.
"""

from __future__ import annotations

DEFAULT_MAX_SPLIT = 128 << 20  # HDFS-block-ish upper bound
DEFAULT_OPEN_COST = 1 << 20  # Python decode ≫ task overhead at 1 MB

#: One row per split: the byte range plus the header facts its decode
#: task needs, so the task opens the data file cold.
SPLIT_SCHEMA = (
    "path string, start long, end long, data_start long, sync string, codec string"
)


def adaptive_split_size(
    total_bytes: int,
    parallelism: int,
    max_split: int = DEFAULT_MAX_SPLIT,
    open_cost: int = DEFAULT_OPEN_COST,
) -> int:
    """Spark's maxSplitBytes formula: fill ``parallelism`` tasks when
    the data is small, never exceed ``max_split`` when it is large,
    and never go below ``open_cost`` per split."""
    bytes_per_core = total_bytes // max(parallelism, 1) + 1
    return int(min(max_split, max(open_cost, bytes_per_core)))


def byte_split_frame(spark, files, split_size: int | None = None):
    """The plan frame of a sync-anchored container scan. ``files`` holds
    ``(path, sync, data_start, file_size, codec)`` per file; each file's
    data region ``[data_start, file_size)`` is cut into ``split_size``
    byte ranges, so scan parallelism tracks data volume, not file count.
    ``split_size=None`` sizes splits with :func:`adaptive_split_size`
    over the total data bytes and the session's default parallelism.
    Returns one row (:data:`SPLIT_SCHEMA`) and one partition per split."""
    if split_size is None:
        split_size = adaptive_split_size(
            sum(size - start for _, _, start, size, _ in files),
            spark.sparkContext.defaultParallelism,
        )
    plan = [
        (path, b, min(b + split_size, size), start, sync.hex(), codec)
        for path, sync, start, size, codec in files
        for b in range(start, size, split_size)
    ]
    # one split per partition WITHOUT an Exchange node: numSlices at
    # parallelize time, not a post-hoc repartition shuffle
    return spark.createDataFrame(
        spark.sparkContext.parallelize(plan, len(plan)), SPLIT_SCHEMA
    )
