"""Bulk-load output invariants (SURVEY.md §5.2 item 3): within every
output partition keys are non-decreasing; bucket key-ranges are disjoint;
bucket assignment is total; written files are sorted and Snappy parquet —
the reference's HFile contract (`BulkImporterFromText.java:104-111`)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hbase_bulkload_spark.operators.bulkload import (
    TASKS_PER_CORE,
    bulkload_kv,
    bulkload_pipeline,
    bulkload_wide,
    region_align,
    write_bulkload,
)
from hbase_bulkload_spark.sources.records import RECORD_COLS, wide9

KEYS = RECORD_COLS[:4]


def _kv(spark, sf_dir):
    return bulkload_kv(wide9(spark, sf_dir), KEYS, RECORD_COLS)


def test_partitions_internally_sorted(spark, sf_dir):
    aligned = region_align(_kv(spark, sf_dir))

    def check(it):
        prev = None
        for row in it:
            cur = (row.bucket, row.rowkey, row.qualifier)
            assert prev is None or prev <= cur, (prev, cur)
            prev = cur
        yield {"ok": True}

    bad = aligned.rdd.mapPartitions(check).filter(lambda d: not d["ok"]).count()
    assert bad == 0


@pytest.mark.parametrize(
    "modes",
    [{}, {"raw_binary_keys": True}, {"positional_qualifiers": True},
     {"raw_binary_keys": True, "positional_qualifiers": True}],
    ids=["names", "raw-keys", "positional", "reference"],
)
def test_pipeline_shape_equivalent_and_sorted(spark, sf_dir, modes):
    """The shuffle-lean pipeline (wide-row exchange, unpivot after) must
    produce exactly the cell set of the KV-exchange shape in every
    key/qualifier mode, and keep every partition internally sorted."""
    wide = wide9(spark, sf_dir)
    pipe = bulkload_pipeline(wide, KEYS, RECORD_COLS, **modes)
    ref = region_align(bulkload_kv(wide, KEYS, RECORD_COLS, **modes)).select(*pipe.columns)
    assert pipe.exceptAll(ref).count() == 0
    assert ref.exceptAll(pipe).count() == 0

    def check(it):
        prev = None
        for row in it:
            cur = (row.bucket, row.rowkey, row.qualifier)
            assert prev is None or prev <= cur, (prev, cur)
            prev = cur
        yield {"ok": True}

    bad = pipe.rdd.mapPartitions(check).filter(lambda d: not d["ok"]).count()
    assert bad == 0


def test_bucket_ranges_disjoint(spark, sf_dir):
    stats = (
        _kv(spark, sf_dir)
        .groupBy("bucket")
        .agg(F.min("rowkey").alias("lo"), F.max("rowkey").alias("hi"))
        .orderBy("bucket")
        .collect()
    )
    assert len(stats) == 16
    for a, b in zip(stats, stats[1:]):
        assert a.hi < b.lo  # ranges ordered and non-overlapping


def test_write_bulkload_contract(spark, sf_dir, tmp_path):
    """16 bucket directories of one Snappy file each, every file sorted
    by (rowkey, qualifier) — with AQE partition coalescing on, which a
    REPARTITION_BY_NUM exchange is not subject to."""
    out = str(tmp_path / "bulkload_out")
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    write_bulkload(bulkload_pipeline(wide9(spark, sf_dir), KEYS, RECORD_COLS), out)
    dirs = sorted(glob.glob(os.path.join(out, "bucket=*")))
    assert len(dirs) == 16
    for d in dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, d
        t = pq.read_table(files[0], columns=["rowkey", "qualifier"])
        cells = list(zip(t.column("rowkey").to_pylist(), t.column("qualifier").to_pylist()))
        assert cells == sorted(cells), d
        meta = pq.ParquetFile(files[0]).metadata
        assert meta.row_group(0).column(0).compression == "SNAPPY"


def test_parallelism_floor(spark, tmp_path):
    """Floor semantics: a single-row-group scan gains one round-robin
    exchange up to defaultParallelism; an input already at >= cores/2
    partitions passes through UNTOUCHED (no exchange added)."""
    from hbase_bulkload_spark.datasets import parallelism_floor

    p = str(tmp_path / "one.parquet")
    spark.range(1000).coalesce(1).write.parquet(p)
    narrow = spark.read.parquet(p)
    assert narrow.rdd.getNumPartitions() == 1
    floored = parallelism_floor(spark, narrow)
    assert floored.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert floored.count() == 1000

    wide = spark.range(1000).repartition(spark.sparkContext.defaultParallelism)
    assert parallelism_floor(spark, wide) is wide

    # path mode measures ROW-GROUP splittability, not planned splits: a
    # many-row-group file is left untouched even though it is one file,
    # while the single-row-group file above floors regardless of how
    # many byte-range splits Spark would plan for it
    import pyarrow as pa
    import pyarrow.parquet as pq

    multi = str(tmp_path / "multi.parquet")
    pq.write_table(
        pa.table({"id": list(range(1000))}), multi, row_group_size=25
    )
    df_multi = spark.read.parquet(multi)
    assert parallelism_floor(spark, df_multi, path=multi) is df_multi
    floored2 = parallelism_floor(spark, spark.read.parquet(p), path=p)
    assert (
        floored2.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


# ---------------------------------------------------------------------------
# Wide rows through the HFile writer (every HFile sink's shape)
# ---------------------------------------------------------------------------

def _records(spark, n_rows, n_cols, dup=1, seed=7):
    """``n_rows`` distinct key tuples over ``n_cols`` string columns,
    each tuple repeated ``dup`` times with different values; every 7th
    value is null and every 11th is empty, and rows arrive shuffled."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n_rows):
        for d in range(dup):
            vals = [
                None if (i + j + d) % 7 == 0 else
                "" if (i + j + d) % 11 == 0 else f"v{i}.{j}.{d}"
                for j in range(n_cols)
            ]
            rows.append([f"k{i}", f"{i % 5}", "a", "b", *vals[4:]])
    rng.shuffle(rows)
    schema = ", ".join(f"z{j} string" for j in range(n_cols))
    return spark.createDataFrame(rows, schema)


def _file_cells(paths):
    from hbase_bulkload_spark.sources import hfile as hf

    return {p: [(r, q, v) for r, f, q, _ts, v in hf.iter_hfile(p)] for p in paths}


@pytest.mark.parametrize("fidelity", [False, True], ids=["names", "reference"])
def test_wide_writer_byte_identical_to_cells(spark, tmp_path, fidelity):
    """Per bucket, the wide-row writer emits exactly the bytes of a
    reference that does not use Spark to write: the collected
    `bulkload_kv` cells of a dup-free input, sorted per bucket by
    (rowkey, qualifier) and written by `sources.hfile.write_hfile` —
    nulls dropped, empty strings kept, 12 qualifiers in byte order — in
    both qualifier/key modes."""
    from hbase_bulkload_spark.operators import hfile_load as hl
    from hbase_bulkload_spark.sources import hfile as hf

    def as_bytes(x):
        return x.encode() if isinstance(x, str) else bytes(x)

    cols = [f"z{j}" for j in range(12)]
    df = _records(spark, 300, 12)
    modes = dict(raw_binary_keys=fidelity, positional_qualifiers=fidelity)
    per_bucket: dict[str, list] = {}
    for r in bulkload_kv(df, cols[:4], cols, **modes).collect():
        per_bucket.setdefault(r.bucket, []).append(
            (as_bytes(r.rowkey), as_bytes(r.family), as_bytes(r.qualifier), 0,
             as_bytes(r.value))
        )
    want = {}
    for b, cells in per_bucket.items():
        path = tmp_path / f"ref-{b}.hfile"
        hf.write_hfile(
            str(path), sorted(cells, key=lambda c: (c[0], c[2])),
            compression="snappy",
        )
        want[b] = path.read_bytes()

    wide, quals = bulkload_wide(df, cols[:4], cols, **modes)
    rows = hl.write_region_hfiles(wide, str(tmp_path / "wide"), qualifiers=quals)
    got = {}
    for m in rows:
        with open(m["path"], "rb") as f:
            got[m["bucket"]] = f.read()
    assert len(want) == 16 and set(got) == set(want)
    for b in want:
        assert got[b] == want[b], f"bucket {b} differs"


def test_wide_writer_duplicate_keys_across_batches(spark, tmp_path, monkeypatch):
    """Triplicated key tuples with 2-row Arrow batches: every run of
    equal rowkeys straddles a batch cut, so the writer must carry the
    run over. Cells stay in (rowkey, qualifier) order and each row's
    cell multiset equals the input's. The ``n`` write tasks of a
    2-core session (``2 * TASKS_PER_CORE``) hold contiguous runs of
    whole buckets: bucket ``b`` is one file, written by task
    ``b * n // 16``."""
    from collections import Counter

    from pyspark import SparkContext

    from hbase_bulkload_spark.operators import hfile_load as hl

    cols = RECORD_COLS
    df = _records(spark, 60, len(cols), dup=3)
    want: dict[bytes, Counter] = {}
    for r in bulkload_kv(df, cols[:4], cols).collect():
        want.setdefault(r.rowkey.encode(), Counter())[
            (r.qualifier.encode(), r.value.encode())
        ] += 1

    wide, quals = bulkload_wide(df, cols[:4], cols)
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda _: 2))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        manifest = hl.write_region_hfiles(
            wide, str(tmp_path / "wide"), qualifiers=quals
        )
    finally:
        spark.conf.set(key, prior)

    task_of = {
        m["bucket"]: int(os.path.basename(m["path"]).split("-")[1]) for m in manifest
    }
    assert len(task_of) == len(manifest)
    n = 2 * TASKS_PER_CORE
    assert task_of == {b: int(b, 16) * n // 16 for b in task_of}

    got: dict[bytes, Counter] = {}
    for path, cells in _file_cells([m["path"] for m in manifest]).items():
        keys = [(r, q) for r, q, _ in cells]
        assert keys == sorted(keys), f"{path}: cells out of order"
        for r, q, v in cells:
            got.setdefault(r, Counter())[(q, v)] += 1
    assert got == want


def test_wide_writer_rejects_mismatched_qualifiers(spark, tmp_path):
    from hbase_bulkload_spark.operators import hfile_load as hl

    wide, quals = bulkload_wide(_records(spark, 4, 5), ["z0"], ["z0", "z1"])
    with pytest.raises(ValueError, match="qualifiers"):
        hl.write_region_hfiles(wide, str(tmp_path / "w"), qualifiers=quals[:1])
