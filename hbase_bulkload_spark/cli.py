"""Command-line bulk-load entry points — the reference's user surface.

The reference is operated as four CLI tools, one per input format
(`BulkImporterFromText.java:164-168`, `BulkImporterFromCSVText.java:164-168`,
`BulkImporterFromRC.java:165-169`, `BulkImporterFromAvro.java:159-163`;
canonical invocation `sample_run.sh:1`):

    hadoop jar bulkimport.jar <ImporterClass> <hbase-site.xml> <input> <output>

This module is the Spark-native equivalent, one tool with a format flag:

    python -m hbase_bulkload_spark --format {text,csv,columnar,avro} \
        [--columns 9] [--key-cols 0,1,2,3] \
        [--sep $'\\x01'] [--sink {parquet,hfile}] INPUT OUTPUT

Per format, the pipeline is the reference lifecycle (SURVEY.md §3) as one
declarative plan: scan → arity/null validate → composite MD5 rowkey over
the key columns (`RowKeyConverter.java:13-30`) → hex-bucket exchange of
the wide rows → wide→long KV unpivot (one cell per column, family 'c') →
per-partition sort → Snappy parquet, one sorted non-overlapping file per
bucket — the analog of the HFile directory handed to `doBulkLoad`
(`operators.bulkload.bulkload_pipeline`). The `hbase-site.xml` argument
has no analog (no HBase cluster in scope); the 16 hex-nibble buckets
are the regions.

`--sink hfile` writes the reference's artifact itself: snappy HFile v3
files placed into a table of 16 regions, one per hex-nibble bucket, by
one call (`operators.hfile_load.bulkload_to_table`) on the WIDE rows
(rowkey, bucket, one column per value). The sink exchanges and sorts
them and explodes them into cells inside the writer task, so the Arrow
hop, like the shuffle, carries each rowkey once instead of once per
cell. `read_text` and `read_csv` share one split-and-arity-gate body
and differ only in the split expression, which runs once per line, as
the reference mapper's one `split` does. The
reference sizes its job by region count (one reducer per region); here
the work is sized by the input and the cores: a text/csv scan splits at
about one task per core (`_scan_splits`), and either sink's write runs
`min(16, cores)` tasks, each writing whole buckets
(`operators.bulkload.write_tasks`).

Deviations (documented, SURVEY.md §2.2/§2.14): key columns default to
0-3 for every format (the RC variant's out-of-bounds `value.get(20)` is
not reproduced); qualifiers are column names everywhere (the reference
mixes positional ints and field names).
"""

from __future__ import annotations

import argparse
import contextlib
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_bulkload_spark.operators.bulkload import TASKS_PER_CORE

SOH = "\x01"  # hive default delimiter, BulkImporterFromText.java:54

#: Formats whose scan is sized here: the delimited-text ones, both read
#: with ``spark.read.text``. A columnar split cannot cross a row group,
#: so cutting a small ORC/parquet file finer only adds empty tasks;
#: avro and rcfile plan their own byte-range splits.
SIZED_SCAN_FORMATS = ("text", "csv")
OPEN_COST_BYTES = "spark.sql.files.openCostInBytes"
MIN_PARTITION_NUM = "spark.sql.files.minPartitionNum"
#: Smallest scan split, and the per-file open cost the split planner
#: counts: an input below this is one scan task. Small next to the
#: split of a few-MB input, so that input's last split is not much
#: shorter than the others (at local[2] a 2.46 MB CSV cuts into
#: 1.36 MB + 1.10 MB).
SCAN_SPLIT_FLOOR = 256 << 10


def _cols(n: int) -> list[str]:
    return [f"z{i}" for i in range(n)]


def _split_lines(
    spark: SparkSession, path: str, n_columns: int, fields: str, observation
) -> DataFrame:
    """The one delimited-line parse of :func:`read_text` and
    :func:`read_csv`: scan ``path`` as lines, split each by the
    ``fields`` SQL expression over ``value``, keep a line iff it has exactly
    ``n_columns`` fields, and name them ``z0..``.

    The split sits under a Generate (``explode`` of a one-element
    array), so it runs once per line: the optimizer cannot push the
    arity filter, which reads the generated array, below it, as it
    would below a plain projection (and split again there).
    ``observation`` counts the lines scanned (n_input), those that pass
    the gate (n_valid) and the highest scan partition that read a line
    (last_scan_task), all off that one split."""
    arity = f"size(p) = {n_columns}"
    parsed = spark.read.text(path).selectExpr(f"explode(array({fields})) AS p")
    if observation is not None:
        parsed = parsed.observe(
            observation,
            F.expr("count(1) AS n_input"),
            F.expr(f"count_if({arity}) AS n_valid"),
            F.expr("max(spark_partition_id()) AS last_scan_task"),
        )
    return parsed.where(arity).selectExpr(
        *[f"p[{i}] AS {c}" for i, c in enumerate(_cols(n_columns))]
    )


def read_text(
    spark: SparkSession,
    path: str,
    n_columns: int,
    sep: str = SOH,
    observation=None,
) -> DataFrame:
    """Delimited-text scan + decode + arity gate (ops 1, 2, 10): keep a
    line iff it splits into exactly `n_columns` fields, like the mapper's
    `words.length == COLUMN_COUNT` check (`BulkImporterFromText.java:56`).

    ``observation`` (a `pyspark.sql.Observation`) attaches the
    skip-log side channel (`println("skipping record …")`,
    `BulkImporterFromText.java:68-70`) Spark-natively: input and
    surviving line counts are accumulated DURING the one scan — no
    second pass, no accumulator races (observed metrics are
    exactly-once per action)."""
    # the separator as a hex literal: any string, with no SQL escaping
    fields = f"split(value, CAST(X'{sep.encode().hex()}' AS STRING))"
    return _split_lines(spark, path, n_columns, fields, observation)


def read_csv(
    spark: SparkSession, path: str, n_columns: int, observation=None
) -> DataFrame:
    """CSV scan (op 3) reproducing the reference mapper's dataflow
    exactly (`BulkImporterFromCSVText.java:54-56`): naive `split(",")`
    (no quoting — a quoted comma splits, as in the reference) followed
    by the strict arity gate `words.length == COLUMN_COUNT`. Java's
    `String.split` drops *trailing* empty strings (Spark's keeps them),
    reproduced by trimming trailing commas before the split — a plain
    trim, not the regex `,+$`, whose `$` also matches before a final
    Unicode line terminator (U+2028, U+0085) and so stripped the comma
    of `a,b,c,\u2028`, which Java splits into 4 fields. So a row
    whose last field is empty fails the gate and is skipped, exactly
    like the reference; that is why the CSV path drops NULL-in-last-
    column rows that the columnar/Avro importers keep (those skip null
    *fields*, not rows). Mid-row empty fields decode as empty strings
    and become cells, matching the reference's `p.addColumn`.

    Note `mode=DROPMALFORMED` on `spark.read.csv` was measured and
    rejected: malformed detection only fires for columns the parser
    actually materializes, so under column pruning (`df.count()`, key-
    only projections) the gate silently vanishes.
    """
    fields = "split(TRIM(TRAILING ',' FROM value), ',', -1)"
    return _split_lines(spark, path, n_columns, fields, observation)


def read_columnar(spark: SparkSession, path: str, fmt: str = "orc") -> DataFrame:
    """Columnar scan (op 4, the RCFile analog): ORC or Parquet — either
    native vectorized reader with pruning/pushdown, unlike the RC mapper
    which materializes every column (SURVEY.md §4.1)."""
    return spark.read.orc(path) if fmt == "orc" else spark.read.parquet(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro OCF scan (op 5): the sync-marker split reader — byte-range
    splits planned from per-file headers, Arrow-batched block decode,
    schema-generic like the reference's `schema.getFields()` walk
    (`BulkImporterFromAvro.java:55-57`). Intra-file parallel, so scan
    task count tracks data volume rather than file count."""
    from hbase_bulkload_spark.sources import avro_ocf

    return avro_ocf.scan_splits(spark, path)


def read_jsonl(spark: SparkSession, path: str, n_columns: int) -> DataFrame:
    """JSONL record scan (one JSON object per line, the web-corpus
    interchange format) with an explicit pinned all-string schema — no
    inference pass, so the read is one scan and column pruning stays
    effective; missing fields decode as nulls (and null key fields hash
    as md5(''), the same empty-field normalization as the Avro path)."""
    schema = ", ".join(f"{c} string" for c in _cols(n_columns))
    return spark.read.schema(schema).json(path)


def read_rcfile(spark: SparkSession, path: str, n_columns: int) -> DataFrame:
    """RCFile scan (op 4, the reference's actual wire format —
    `RCFileMapReduceInputFormat`, `BulkImporterFromRC.java:94-95`):
    byte-range splits from per-file headers, per-column decompression
    through the pure-Python layout codec."""
    from hbase_bulkload_spark.sources import rcfile

    return rcfile.scan_splits(spark, path, _cols(n_columns))


def _input_bytes(df: DataFrame) -> int:
    """Bytes of the files the one file scan under ``df`` lists: the size
    statistic of its leaf relation, as Spark's file index summed it."""
    return df._jdf.queryExecution().analyzed().collectLeaves().head().stats().sizeInBytes()


@contextlib.contextmanager
def _scan_splits(spark: SparkSession):
    """File scans planned inside aim at :data:`TASKS_PER_CORE` tasks per
    core: one, so at local[2] a few-MB CSV scans in 2 tasks. Spark's
    planner splits at ``min(maxPartitionBytes,
    max(openCostInBytes, Σ(file + openCostInBytes) / minPartitionNum))``;
    with minPartitionNum at that task count and
    :data:`SCAN_SPLIT_FLOOR` as the open cost instead of 4 MiB (which
    kept a 2.4 MB CSV in one task), a few-MB input splits by the cores,
    an input below the floor stays one task, and a large one still
    splits at maxPartitionBytes. Spark reads the file confs when it
    plans an action (a per-read maxPartitionBytes option is ignored in
    4.1), so they are set around the action and restored after it."""
    conf = {
        OPEN_COST_BYTES: str(SCAN_SPLIT_FLOOR),
        MIN_PARTITION_NUM: str(spark.sparkContext.defaultParallelism * TASKS_PER_CORE),
    }
    prior = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def ingest(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    fmt: str = "csv",
    n_columns: int = 9,
    key_cols: list[int] | None = None,
    sep: str = SOH,
    fix_permissions: int | None = None,
    raw_binary_keys: bool = False,
    positional_qualifiers: bool = False,
    sink: str = "parquet",
    collect_metrics: bool = False,
) -> dict | None:
    """One importer run, end to end (the `run()` body of each reference
    entry point, SURVEY.md §3.1, as a single Spark plan).

    Task sizing: a text/csv scan splits at about
    :data:`TASKS_PER_CORE` tasks per core (:func:`_scan_splits`); either
    sink writes with ``operators.bulkload.write_tasks(spark)`` tasks.

    ``collect_metrics=True`` returns that sizing —
    {input_bytes, scan_tasks, write_tasks}, ``None`` for what was not
    sized here — and, for text/csv, attaches `Observation`s so the run
    also returns {n_input, n_valid, n_skipped} accumulated during the
    single pass: the reference's skip-log side channel without a second
    job (the schema-gated formats have no row-skip path). ``scan_tasks``
    is observed too: the highest scan partition that read a line, plus
    one."""
    from hbase_bulkload_spark.operators.bulkload import (
        bulkload_pipeline,
        bulkload_wide,
        region_boundaries,
        write_bulkload,
        write_tasks,
    )

    obs = None
    if collect_metrics and fmt in ("text", "csv"):
        from pyspark.sql import Observation

        obs = Observation()

    if fmt == "text":
        df = read_text(spark, input_path, n_columns, sep=sep, observation=obs)
    elif fmt == "csv":
        df = read_csv(spark, input_path, n_columns, observation=obs)
    elif fmt == "columnar":
        df = read_columnar(spark, input_path)
    elif fmt == "avro":
        df = read_avro(spark, input_path)
    elif fmt == "rcfile":
        df = read_rcfile(spark, input_path, n_columns)
    elif fmt == "jsonl":
        df = read_jsonl(spark, input_path, n_columns)
    else:  # pragma: no cover - argparse choices gate this
        raise ValueError(f"unknown format {fmt!r}")

    cols = df.columns
    keys = [cols[i] for i in (key_cols or [0, 1, 2, 3])]
    fidelity = dict(
        raw_binary_keys=raw_binary_keys, positional_qualifiers=positional_qualifiers
    )
    with _scan_splits(spark) if fmt in SIZED_SCAN_FORMATS else contextlib.nullcontext():
        if sink == "hfile":
            from hbase_bulkload_spark.operators.hfile_load import bulkload_to_table

            # wide rows cross the exchange and the Arrow hop; the writer
            # tasks explode them into cells
            wide, qualifiers = bulkload_wide(df, keys, cols, **fidelity)
            bulkload_to_table(
                wide, output_path, region_boundaries(raw_binary_keys),
                qualifiers=qualifiers,
            )
        else:
            write_bulkload(bulkload_pipeline(df, keys, cols, **fidelity), output_path)

    if fix_permissions is not None:  # op 8 post-processing (reference: 0o777)
        from hbase_bulkload_spark.sources.fsutil import set_permissions_recursive

        set_permissions_recursive(output_path, fix_permissions)

    if not collect_metrics:
        return None
    sizing = {
        "input_bytes": None,
        "scan_tasks": None,
        "write_tasks": write_tasks(spark),
    }
    if obs is None:
        return sizing
    seen = obs.get
    n_input, n_valid, last_scan_task = (
        seen["n_input"], seen["n_valid"], seen["last_scan_task"]
    )
    # the reference's "skipping record" println, aggregated
    print(
        f"ingest: {n_input} records in, {n_valid} valid, "
        f"{n_input - n_valid} skipped",
        file=sys.stderr,
    )
    return {
        "n_input": n_input,
        "n_valid": n_valid,
        "n_skipped": n_input - n_valid,
        **sizing,
        "input_bytes": _input_bytes(df),
        "scan_tasks": None if last_scan_task is None else last_scan_task + 1,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m hbase_bulkload_spark",
        description="Bulk-load ingest: scan, validate, derive keys, unpivot "
        "to KV cells, and write region-aligned sorted Snappy parquet.",
    )
    p.add_argument("input", help="input file or directory")
    p.add_argument("output", help="output directory (overwritten)")
    p.add_argument(
        "--format",
        choices=["text", "csv", "columnar", "avro", "rcfile", "jsonl"],
        default="csv",
        help="input format (default csv, the reference's canonical path; "
        "rcfile reads the RC importer's true wire format; jsonl is "
        "one-JSON-object-per-line with a pinned schema)",
    )
    p.add_argument("--columns", type=int, default=9, help="record arity (default 9)")
    p.add_argument(
        "--key-cols",
        default="0,1,2,3",
        help="comma-separated key column indexes (default 0,1,2,3)",
    )
    p.add_argument(
        "--sink",
        choices=["parquet", "hfile"],
        default="parquet",
        help="output format: region-aligned sorted Snappy parquet, one "
        "file per bucket in 16 bucket= directories (the analytics-native "
        "default), or true HFile v3 files bulk-loaded into a 16-region "
        "table layout (the reference's artifact, HFileOutputFormat2 + "
        "doBulkLoad); either writes with min(16, cores) tasks",
    )
    p.add_argument("--sep", default=SOH, help="text-format field delimiter (default SOH)")
    p.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="Spark conf override, repeatable — the ToolRunner generic "
        "-D option surface (`BulkImporterFromCSVText.java:164-168`); "
        "runtime-mutable SQL confs apply even to a pre-existing session",
    )
    p.add_argument(
        "--raw-binary-keys",
        action="store_true",
        help="emit the reference's 64 raw digest bytes as a binary "
        "rowkey (RowKeyConverter.java:26-29) instead of 128-hex",
    )
    p.add_argument(
        "--positional-qualifiers",
        action="store_true",
        help="emit Bytes.toBytes(i) 4-byte big-endian column-position "
        "qualifiers (BulkImporterFromText.java:65) instead of names",
    )
    p.add_argument(
        "--fix-permissions",
        default=None,
        help="octal mode to chmod the output tree to (the reference "
        "forces 777, BulkImporterFromText.java:119-126; off by default)",
    )
    args = p.parse_args(argv)

    from hbase_bulkload_spark.session import get_spark

    overrides = {}
    for kv in args.conf:
        if "=" not in kv:
            p.error(f"--conf expects K=V, got {kv!r}")
        k, v = kv.split("=", 1)
        overrides[k] = v
    spark = get_spark("bulkload-cli", extra_conf=overrides)
    # getOrCreate ignores builder confs on an existing session; re-apply
    # the runtime-mutable ones so `--conf` behaves like ToolRunner -D
    # regardless of session reuse
    for k, v in overrides.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — builder already tried
    ingest(
        spark,
        args.input,
        args.output,
        fmt=args.format,
        n_columns=args.columns,
        key_cols=[int(i) for i in args.key_cols.split(",")],
        sep=args.sep,
        fix_permissions=(
            int(args.fix_permissions, 8) if args.fix_permissions is not None else None
        ),
        raw_binary_keys=args.raw_binary_keys,
        positional_qualifiers=args.positional_qualifiers,
        sink=args.sink,
        collect_metrics=True,
    )
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
