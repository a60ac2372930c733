"""The reference's ingest record surface (SURVEY.md §2.1) on Spark.

The reference reads one logical shape — a flat record of 9 nullable
string columns (`COLUMN_COUNT = 9`, `BulkImporterFromText.java:43`;
`pw_schema.avsc:6-51`) — from four physical formats: hive-text
(SOH-delimited, `BulkImporterFromText.java:54`), naive CSV
(`BulkImporterFromCSVText.java:54`), columnar RCFile
(`BulkImporterFromRC.java:94-95`), and Avro (`BulkImporterFromAvro.java:91`).

Here the 9-column record frame is derived *deterministically* from the
driver's `lineitem` parquet (so the DuckDB oracle can reproduce it
relationally), materialized once per scale factor into real text / CSV /
ORC files under a cache dir, and read back through Spark's native
sources. ORC stands in for RCFile as the columnar row-group format
(SURVEY.md §2.1 op 4 names Parquet; ORC is used so the scan exercises a
*second* native columnar reader distinct from the parquet base tables).

Malformed records (wrong arity) and null fields are injected on
deterministic predicates so the arity filter (`q_filter_arity`) and
null suppression (`q_filter_notnull`) have known, oracle-checkable
counts (FIXTURES.md F1 "malformed rows" guidance).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Cache of derived fixture inputs: ``.fixtures`` in the checkout this
#: package runs from, so two checkouts never read each other's
#: derivations; ``SPARK_GRAFT_FIXTURE_DIR`` overrides the path.
FIXTURE_ROOT = os.environ.get(
    "SPARK_GRAFT_FIXTURE_DIR",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".fixtures",
    ),
)

SOH = "\x01"  # hive default field delimiter, BulkImporterFromText.java:54
COLUMN_COUNT = 9  # BulkImporterFromText.java:43
RECORD_COLS = [f"z{i}" for i in range(COLUMN_COUNT)]

# Deterministic injection predicates (shared with the DuckDB oracle —
# keep in sync with oracle_sql in __spark_entry__.py):
MALFORMED_MOD = 97  # rows with l_orderkey % 97 == 0 get 8 fields, not 9
NULL_MOD = 53  # rows with l_orderkey % 53 == 0 carry a NULL z8


def wide9(
    spark: SparkSession, sf_dir: str, with_nulls: bool = True, floor: bool = True
) -> DataFrame:
    """The canonical 9-nullable-string-column record frame (§1.1), derived
    from lineitem. Column value choices avoid any float→string formatting
    (engine-dependent): keys, flags, a date string, an integral quantity.

    ``floor=True`` (default) reads through datasets.parallelism_floor —
    right for the md5×4 / unpivot / shuffle-after consumers that
    dominate this frame's use (the driver's sf0.1 lineitem is one
    unsplittable 600k-row row group). Single-expression consumers
    (one md5, a reverse, a projection) pass ``floor=False``: measured
    at sf0.1, the exchange costs them 2-3× more than single-task
    compute does (e.g. q_rowkey_md5 0.31 s unfloored vs 0.68 s
    floored; q_rowkey_concat flips — 1.15 s vs 0.85 s)."""
    from hbase_bulkload_spark.datasets import parallelism_floor

    src = os.path.join(sf_dir, "lineitem.parquet")
    li = spark.read.parquet(src)
    if floor:
        li = parallelism_floor(spark, li, path=src)
    z8 = F.col("l_suppkey").cast("string")
    if with_nulls:
        z8 = F.when(F.col("l_orderkey") % NULL_MOD == 0, F.lit(None)).otherwise(z8)
    return li.select(
        F.col("l_orderkey").cast("string").alias("z0"),
        F.col("l_partkey").cast("string").alias("z1"),
        F.col("l_suppkey").cast("string").alias("z2"),
        F.col("l_linenumber").cast("string").alias("z3"),
        F.col("l_returnflag").alias("z4"),
        F.col("l_linestatus").alias("z5"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("z6"),
        F.col("l_quantity").cast("bigint").cast("string").alias("z7"),
        z8.alias("z8"),
        F.col("l_orderkey").alias("_seq"),  # injection predicate driver
    )


def _fixture_path(sf_dir: str, name: str) -> str:
    return os.path.join(FIXTURE_ROOT, os.path.basename(os.path.normpath(sf_dir)), name)


def _materialize(df_writer, path: str) -> str:
    """Write once; a _SUCCESS marker makes re-runs free."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df_writer(path)
    return path


def delimited_lines_path(spark: SparkSession, sf_dir: str, sep: str = SOH) -> str:
    """Hive-text fixture: one SOH-joined line per record, with malformed
    (8-field) rows injected at `_seq % 97 == 0`. `concat_ws` drops NULL
    fields, so NULL-z8 rows are also 8-field — both engines agree.
    """
    w = wide9(spark, sf_dir)
    full = F.concat_ws(sep, *RECORD_COLS)
    short = F.concat_ws(sep, *RECORD_COLS[:-1])
    lines = w.select(
        F.when(F.col("_seq") % MALFORMED_MOD == 0, short).otherwise(full).alias("value")
    )
    name = "records_soh.txt" if sep == SOH else "records_sep.txt"
    return _materialize(
        lambda p: lines.coalesce(8).write.mode("overwrite").text(p),
        _fixture_path(sf_dir, name),
    )


def csv_path(spark: SparkSession, sf_dir: str) -> str:
    """CSV fixture via Spark's CSV writer (NULL → empty field; the naive
    `split(",")` reference semantics hold because no value contains a
    comma, so quoting never engages)."""
    w = wide9(spark, sf_dir).select(*RECORD_COLS)
    return _materialize(
        lambda p: w.coalesce(8).write.mode("overwrite").csv(p),
        _fixture_path(sf_dir, "records_csv"),
    )


def orc_path(spark: SparkSession, sf_dir: str) -> str:
    """Columnar fixture (ORC = the RCFile analog with a native reader)."""
    w = wide9(spark, sf_dir).select(*RECORD_COLS)
    return _materialize(
        lambda p: w.coalesce(8).write.mode("overwrite").orc(p),
        _fixture_path(sf_dir, "records_orc"),
    )


def rcfile_path(spark: SparkSession, sf_dir: str) -> str:
    """True RCFile fixture (`RCFileMapReduceInputFormat` analog,
    BulkImporterFromRC.java:94-95): the 9-string record frame written as
    real RCFiles (sources.rcfile, public Hive layout) one file per
    partition by the executors. Deflate-compressed per column so the
    scan also exercises the codec path."""
    from hbase_bulkload_spark.sources import rcfile

    path = _fixture_path(sf_dir, "records_rc")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        w = wide9(spark, sf_dir).select(*RECORD_COLS).repartition(8)
        rcfile.write_partitioned(w, path, codec="deflate")
    return path


def avro_path(spark: SparkSession, sf_dir: str) -> str:
    """Avro OCF fixture (the `pw_schema.avsc` shape: 9 nullable strings),
    written one file per partition by the executors (sources.avro_ocf)."""
    from hbase_bulkload_spark.sources import avro_ocf

    path = _fixture_path(sf_dir, "records_avro")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        w = wide9(spark, sf_dir).select(*RECORD_COLS).repartition(8)
        schema = avro_ocf.nullable_string_record("PWData", RECORD_COLS)
        avro_ocf.write_partitioned(w, path, schema)
    return path


def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 1: raw line scan (`TextInputFormat`, BulkImporterFromText.java:94)."""
    return spark.read.text(delimited_lines_path(spark, sf_dir))


def parse_delimited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 2 + 10: SOH decode + arity filter, as one declarative plan.

    `split` + `size == COLUMN_COUNT` + per-index `getItem` — the exact
    mapper dataflow (`BulkImporterFromText.java:54-59`), but Catalyst
    pipelines it inside the scan stage (no materialized intermediate).
    """
    lines = scan_text(spark, sf_dir)
    parts = F.split(F.col("value"), SOH)
    return (
        lines.select(parts.alias("p"))
        .filter(F.size("p") == COLUMN_COUNT)
        .select(*[F.col("p").getItem(i).alias(RECORD_COLS[i]) for i in range(COLUMN_COUNT)])
    )


def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 3: CSV scan with a declared all-string schema (superset of the
    reference's naive split — adds quoting/escaping for free)."""
    schema = ", ".join(f"{c} string" for c in RECORD_COLS)
    return spark.read.schema(schema).csv(csv_path(spark, sf_dir))


def scan_columnar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 4: columnar scan (vectorized ORC reader; column pruning and
    predicate pushdown reach the file, unlike the reference's RC mapper
    which materializes every column — SURVEY.md §4.1)."""
    return spark.read.orc(orc_path(spark, sf_dir))


def scan_rcfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 4 (true format): RCFile row-group scan via the pure-Python
    layout codec (sources.rcfile.scan_splits) — byte-range splits,
    per-column decompression, decode-time column pruning. The ORC scan
    (`scan_columnar`) remains the *native columnar* analog; this one
    reads the reference's actual wire format."""
    from hbase_bulkload_spark.sources import rcfile

    return rcfile.scan_splits(spark, rcfile_path(spark, sf_dir), RECORD_COLS)


def scan_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 5: Avro record scan (`AvroKeyInputFormat<PWData>`,
    BulkImporterFromAvro.java:91). No spark-avro jar ships here, so the
    scan is the sync-marker SPLIT reader (sources.avro_ocf.scan_splits):
    byte-range splits planned from per-file headers, Arrow-batched
    ``mapInPandas`` block decode — intra-file parallel, schema-generic
    like the reference's `schema.getFields()` walk
    (BulkImporterFromAvro.java:55-57)."""
    from hbase_bulkload_spark.sources import avro_ocf

    return avro_ocf.scan_splits(spark, avro_path(spark, sf_dir))


def jsonl_path(spark: SparkSession, sf_dir: str) -> str:
    """JSON-lines corpus fixture: the `documents` table as one JSON
    object per line — the interchange format real web-corpus pipelines
    exchange (one doc per line, flat metadata)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return _materialize(
        lambda p: docs.coalesce(8).write.mode("overwrite").json(p),
        _fixture_path(sf_dir, "documents_jsonl"),
    )


DOCUMENTS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines corpus scan with an EXPLICIT schema. At 100 TB schema
    inference is never acceptable — it reads the corpus once just to
    guess types — and a pinned schema keeps column pruning effective
    (Spark's JSON reader skips parsing fields the query never selects).
    Column order is normalized to the documents contract."""
    path = jsonl_path(spark, sf_dir)
    return spark.read.schema(DOCUMENTS_SCHEMA).json(path).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def write_corpus_jsonl(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ("lang",)
) -> None:
    """Corpus JSONL sink: one JSON object per line, sharded into a
    directory per partition value (`lang=en/part-*.json` ...) — the
    layout downstream training jobs glob a language subset from without
    listing the whole corpus. Shard count follows the upstream
    partitioning; at scale, `df.repartition(n, *partition_by)` first to
    set shard sizes. Executors write in parallel; the driver only
    commits."""
    df.write.mode("overwrite").partitionBy(*partition_by).json(path)
