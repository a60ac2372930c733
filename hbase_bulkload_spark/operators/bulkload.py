"""The bulk-load pipeline (SURVEY.md §2.5-2.6): validate → derive keys →
unpivot to KV cells → range/bucket partition → sort within partitions →
sorted Snappy columnar sink.

Reference dataflow being re-expressed:
- `HFileOutputFormat2.configureIncrementalLoad`
  (`BulkImporterFromText.java:104-108`) installs a TotalOrderPartitioner
  over the table's region start keys plus a PutSortReducer — i.e. a
  total-order repartition + per-partition sort, one sorted Snappy HFile
  per region (`BulkImporterFromText.java:108-111`).
- Regions are pre-split 10 ways on '0'..'9' (`create_table.rb:1`).

Spark-first: the bucket is an *explicit column* (first hex char of the
uniformly-distributed MD5 key — 16-way; the reference's raw digest bytes
vs ASCII splits mismatch is a documented deviation, SURVEY.md §2.14
note). One bucket exchange + `sortWithinPartitions` reproduces the
region-aligned sorted-file contract with exactly one shuffle, and the
key's uniform distribution makes that shuffle skew-free by construction
— the property that survives a 100 TB scale-up. Every bulk-load sink
maps the 16 buckets onto :func:`write_tasks` partitions by value, so
the write task count follows the cores, not the region count (the
reference hardcodes 10 regions, `RowKeyConverter.java:8`).

Every bulk-load sink exchanges wide rows (`bulkload_wide`), one
shuffled record per input row. The HFile sink takes them unaligned
(`hfile_load.write_region_hfiles`, behind `hfile_load.bulkload_to_table`
and the streaming HFile sink): it sorts them (`region_align_wide`, its
only caller) and its writer tasks explode the sorted rows into cells
in qualifier byte order; the parquet sink unpivots them after the
exchange (`bulkload_pipeline` → `write_bulkload`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_bulkload_spark.functions.keys import (
    composite_rowkey,  # noqa: F401 - perfbench traces it under this module
    composite_rowkey_sql,
    positional_qualifier_bytes,
    raw_binary_rowkey_sql,
    sql_name,
)
from hbase_bulkload_spark.operators.kv import CURRENT_FAMILY, unpivot_kv

#: Tasks per core for an ingest's scan splits (`cli.ingest`) and
#: bulk-load write partitions (:func:`write_tasks`). At ``local[2]`` on
#: a 4-vCPU VM (2 scan + 2 write tasks instead of 4 + 4), perfbench's
#: 30k-row CSV → HFile ingest went 43.2k → 56.9k rows/s (medians of 10
#: interleaved pairs, 10/10 won) together with the one-split parse and
#: the SQL-text plan build; the task count alone took an ingest from
#: 732 to 684 ms, and 2 scan tasks with 1 write task per core
#: ran no faster than 1 and 1, so one constant sizes both.
TASKS_PER_CORE = 1


def _rowkey_sql(key_cols: Sequence[str], raw_binary_keys: bool) -> str:
    return (
        raw_binary_rowkey_sql(*key_cols) if raw_binary_keys
        else composite_rowkey_sql(*key_cols)
    )


def _bucket_sql(rowkey: str, raw_binary_keys: bool) -> str:
    # the first hex nibble either way: raw digest bytes bucket on their
    # hex form, so layout and sort order match the 128-hex key's
    return (
        f"lower(substring(hex({rowkey}), 1, 1))" if raw_binary_keys
        else f"substring({rowkey}, 1, 1)"
    )


def _cells(
    df: DataFrame,
    rowkey: Column,
    value_cols: Sequence[str],
    family: str,
    raw_binary_keys: bool,
    positional_qualifiers: bool,
    ts: Column | None = None,
    drop_null: bool = True,
) -> DataFrame:
    """`unpivot_kv` cells of ``df`` with their ``bucket``, qualifiers
    mapped to `Bytes.toBytes(i)` under ``positional_qualifiers``."""
    kv = unpivot_kv(df, rowkey, value_cols, family=family, ts=ts, drop_null=drop_null)
    if positional_qualifiers:
        qmap = F.create_map(
            *[
                lit
                for i, c in enumerate(value_cols)
                for lit in (F.lit(c), F.lit(positional_qualifier_bytes(i)))
            ]
        )
        kv = kv.withColumn("qualifier", F.element_at(qmap, F.col("qualifier")))
    return kv.withColumn("bucket", F.expr(_bucket_sql("rowkey", raw_binary_keys)))


def bulkload_kv(
    df: DataFrame,
    key_cols: Sequence[str],
    value_cols: Sequence[str],
    family: str = CURRENT_FAMILY,
    ts: Column | None = None,
    drop_null: bool = True,
    raw_binary_keys: bool = False,
    positional_qualifiers: bool = False,
) -> DataFrame:
    """Wide records → bulk-load-ready KV frame with rowkey + bucket.

    Mirrors the mapper: makeRowKey(fields 0..3) → one cell per column
    (`BulkImporterFromText.java:57-66`). All JVM-side expressions; the
    plan is map-only until the caller's terminal exchange — the same
    shape as the reference's map phase.

    Reference-fidelity opt-ins (both default off — the normalized
    128-hex key + name qualifiers are the engine's canonical contract):

    - ``raw_binary_keys``: rowkey becomes the reference's 64 RAW digest
      bytes (`RowKeyConverter.java:26-29`), binary-typed; the bucket is
      still the first hex nibble, so layout and sort order are
      unchanged (hex is an order-preserving byte encoding).
    - ``positional_qualifiers``: qualifiers become `Bytes.toBytes(i)`
      4-byte big-endian ints (`BulkImporterFromText.java:65`),
      binary-typed, mapped from column names by a literal map — a
      legacy consumer of the reference reads these cells unchanged.
    """
    return _cells(
        df, F.expr(_rowkey_sql(key_cols, raw_binary_keys)), value_cols, family,
        raw_binary_keys, positional_qualifiers, ts=ts, drop_null=drop_null,
    )


def bulkload_wide(
    df: DataFrame,
    key_cols: Sequence[str],
    value_cols: Sequence[str],
    raw_binary_keys: bool = False,
    positional_qualifiers: bool = False,
) -> tuple[DataFrame, list[bytes]]:
    """The wide prelude shared by :func:`bulkload_pipeline` and every
    HFile sink: one row per record — ``rowkey``, one string column per
    value column (same names, same order), ``bucket`` — plus the
    qualifier bytes of those value columns: the UTF-8 column names, or
    `Bytes.toBytes(i)` with ``positional_qualifiers``. Map-only, like
    :func:`bulkload_kv`, whose key, bucket and fidelity modes it
    shares; the HFile sink applies :func:`region_align_wide`, its
    exchange. One ``selectExpr`` of SQL text: the bucket is the rowkey
    expression's first character, which whole-stage codegen computes
    once for both columns."""
    rowkey = _rowkey_sql(key_cols, raw_binary_keys)
    wide = df.selectExpr(
        f"{rowkey} AS rowkey",
        *[f"CAST({sql_name(c)} AS STRING) AS {sql_name(c)}" for c in value_cols],
        f"{_bucket_sql(rowkey, raw_binary_keys)} AS bucket",
    )
    qualifiers = [
        positional_qualifier_bytes(i) if positional_qualifiers else c.encode()
        for i, c in enumerate(value_cols)
    ]
    return wide, qualifiers


def bulkload_pipeline(
    df: DataFrame,
    key_cols: Sequence[str],
    value_cols: Sequence[str],
    family: str = CURRENT_FAMILY,
    raw_binary_keys: bool = False,
    positional_qualifiers: bool = False,
) -> DataFrame:
    """The parquet sink's plan: the cells of :func:`bulkload_kv` (same
    columns and fidelity modes), region-aligned by exchanging the *wide*
    rows of :func:`bulkload_wide` and unpivoting after — one shuffled
    record per input row instead of one per cell, each repeating the
    128-hex rowkey. `unpivot` is a narrow Generate, so the bucket
    placement survives it and the terminal `sortWithinPartitions` needs
    no further exchange."""
    wide, _ = bulkload_wide(df, key_cols, value_cols, raw_binary_keys=raw_binary_keys)
    # NOTE (round-7 A/B): sorting the WIDE frame before the unpivot and
    # relying on Generate's order-preservation is ~9x less sort work on
    # paper, but it is WRONG for duplicate rowkeys (each duplicate row
    # re-emits its qualifiers from the top — ...z8, z0... inversions),
    # and the measured win was nil (2.2 s -> 2.4 s noop materialization
    # at sf0.1: the Expand + string copy dominates, not the sort). The
    # exploded-frame sort is both correct and no slower. (The HFile
    # sinks do sort wide rows: their writer task re-orders each run of
    # equal rowkeys by qualifier, see hfile_load.write_wide_batches.)
    return _cells(
        _to_write_tasks(wide), F.col("rowkey"), value_cols, family,
        raw_binary_keys, positional_qualifiers,
    ).sortWithinPartitions("bucket", "rowkey", "qualifier")


def region_align(kv: DataFrame) -> DataFrame:
    """The cell-exchange reference shape, run by no sink: co-locate each
    bucket by a 16-way hash, sort cells within each partition by
    (rowkey, qualifier) — HBase cell order, the PutSortReducer contract
    (`BulkImporterFromText.java:108`)."""
    return kv.repartition(16, "bucket").sortWithinPartitions(
        "bucket", "rowkey", "qualifier"
    )


def region_boundaries(raw_binary_keys: bool = False) -> list[bytes]:
    """Start keys of the 16 regions, one per hex-nibble bucket
    (`create_table.rb:1` pre-splits analogously on '0'..'9'); for raw
    digest keys the same fences over raw bytes, from the empty key."""
    if raw_binary_keys:
        return [b""] + [bytes([i << 4]) for i in range(1, 16)]
    return [format(i, "x").encode() for i in range(16)]


def write_tasks(spark: SparkSession) -> int:
    """Write partitions of every bulk-load sink: the 16 hex-nibble
    buckets, capped at :data:`TASKS_PER_CORE` per core of the session's
    default parallelism."""
    return min(16, spark.sparkContext.defaultParallelism * TASKS_PER_CORE)


def _to_write_tasks(wide: DataFrame) -> DataFrame:
    """The one exchange of every bulk-load sink: ``repartitionById``
    sends bucket nibble ``b`` to partition ``b * n // 16`` of ``n =``
    :func:`write_tasks`, so each partition holds a contiguous run of
    whole buckets — no hash collisions, no empty tasks, and one output
    file per bucket. A hex digit lands in its own run; any other bucket
    (an empty one, or a value index over values that do not start with
    a hex digit) goes to partition 0 — still written whole, only less
    balanced. A ``REPARTITION_BY_NUM`` shuffle is never coalesced by
    AQE, so the placement survives planning."""
    n = write_tasks(wide.sparkSession)
    part = F.expr(f"CAST(CAST(conv(bucket, 16, 10) AS INT) * {n} DIV 16 AS INT)")
    return wide.repartitionById(n, part)


def region_align_wide(wide: DataFrame) -> DataFrame:
    """:func:`region_align` for the wide frame of :func:`bulkload_wide`:
    one exchange moving one row per record instead of one per cell
    (:func:`_to_write_tasks`), sorted within partitions by (bucket,
    rowkey). Called by the HFile sink (`hfile_load.write_region_hfiles`)
    on its input; cell order within a row is the sink's writer loop's
    job. Contract: ``bucket`` is monotone in the rowkey (its first
    character, or the first nibble of a raw key), so the (bucket,
    rowkey) sort is rowkey order."""
    return _to_write_tasks(wide).sortWithinPartitions("bucket", "rowkey")


def write_bulkload(cells: DataFrame, path: str) -> None:
    """Sorted, bucket-partitioned, Snappy columnar sink for the aligned
    cells of :func:`bulkload_pipeline` — the analog of the HFile
    directory handed to `LoadIncrementalHFiles.doBulkLoad`
    (`BulkImporterFromText.java:129-130`); the engine's contract ends at
    region-aligned sorted files (SURVEY.md §2.1 op 9): one file per
    bucket directory, sorted by (rowkey, qualifier)."""
    (
        cells.write.mode("overwrite")
        .partitionBy("bucket")
        .option("compression", "snappy")
        .parquet(path)
    )
