"""format('hfile') Python DataSource: same cells as the operator-path
scan, task count = planned block splits, and rowkey predicates prune
files/blocks at planning time while Spark re-applies them for
correctness (filters are never claimed)."""

from __future__ import annotations

import pytest

from hbase_bulkload_spark.operators import hfile_load as hl
from hbase_bulkload_spark.sources.hfile_datasource import (
    HFileReader,
    register,
)


@pytest.fixture(scope="module")
def table_dir(spark, sf_dir, tmp_path_factory):
    from hbase_bulkload_spark.operators.bulkload import bulkload_pipeline
    from hbase_bulkload_spark.sources import records

    base = tmp_path_factory.mktemp("hfile_ds")
    kv = bulkload_pipeline(
        records.wide9(spark, sf_dir), records.RECORD_COLS[:4], records.RECORD_COLS
    )
    boundaries = [format(i, "x").encode() for i in range(16)]
    manifest = hl.write_region_hfiles(kv, str(base / "staging"))
    hl.do_bulk_load(
        [m["path"] for m in manifest], str(base / "table"), boundaries, spark=spark
    )
    return str(base / "table")


def test_multi_get_matches_scan(spark, table_dir):
    """Distributed multi-get (Table.get(List<Get>)): for a sampled
    keyset, the fetched cells must equal the full scan filtered to
    those keys; absent keys return nothing; the keyset-DataFrame form
    behaves as a keyed lookup join."""
    full = hl.scan_hfiles(spark, table_dir).collect()
    all_keys = sorted({r.rowkey for r in full})
    want_keys = all_keys[::97][:25]  # spread across regions
    got = hl.multi_get(spark, table_dir, want_keys).collect()
    want = [r for r in full if r.rowkey in set(want_keys)]
    cols = ("region", "rowkey", "family", "qualifier", "ts", "value")
    assert sorted(tuple(getattr(r, c) for c in cols) for r in got) == sorted(
        tuple(getattr(r, c) for c in cols) for r in want
    )
    assert len(got) > 0
    # absent keys: bloom short-circuit, zero cells (keys sort inside the
    # table's key range so file routing alone cannot exclude them)
    absent = [k[:-2] + "zz" for k in want_keys[:5]]
    assert hl.multi_get(spark, table_dir, absent).count() == 0
    # DataFrame keyset form
    kdf = spark.createDataFrame([(k,) for k in want_keys], "rowkey string")
    assert hl.multi_get(spark, table_dir, kdf).count() == len(want)


def test_multi_get_binary_mode(spark, table_dir):
    """binary=True returns raw bytes for every cell column, value-equal
    to the string mode's encodings (canonical hex keys are UTF-8)."""
    full = hl.scan_hfiles(spark, table_dir).collect()
    keys = sorted({r.rowkey for r in full})[:5]
    s_rows = hl.multi_get(spark, table_dir, keys).collect()
    b_rows = hl.multi_get(spark, table_dir, keys, binary=True).collect()
    conv = sorted(
        (r.region, r.rowkey.decode(), r.family.decode(), r.qualifier.decode(),
         r.ts, r.value.decode())
        for r in b_rows
    )
    want = sorted(
        (r.region, r.rowkey, r.family, r.qualifier, r.ts, r.value)
        for r in s_rows
    )
    assert conv == want and len(conv) > 0
    assert all(isinstance(r.rowkey, (bytes, bytearray)) for r in b_rows)


@pytest.fixture(scope="module")
def prefix_table(tmp_path_factory):
    """Two regions of rows that are prefixes of one another (k1, k10,
    k100, ...), three cells each, values holding other rows' bytes."""
    from hbase_bulkload_spark.sources import hfile as hf

    base = tmp_path_factory.mktemp("prefix_table")
    rows = sorted(
        f"{p}{i}{s}" for p in "km" for i in range(1, 6) for s in ("", "0", "00")
    )
    for region, part in (("region-0000", "k"), ("region-0001", "m")):
        fam_dir = base / region / "c"
        fam_dir.mkdir(parents=True)
        w = hf.HFileWriter(str(fam_dir / "f.hfile"), "snappy")
        for r in (r for r in rows if r[0] == part):
            for q in ("a", "b", "c"):
                w.add(r.encode(), b"c", q.encode(), 0, f"{q}:{r}:{r}0".encode())
        w.close()
    return str(base)


def _cells(rows):
    return sorted(
        (r.region, r.rowkey, r.family, r.qualifier, r.ts, r.value) for r in rows
    )


#: requested keys: repeated, unsorted, absent ones in range, and rows
#: that are prefixes of other rows
_PREFIX_KEYS = ["k10", "k1", "m300", "k1", "k100", "m3", "k1000", "m3", "k", "m2"]


def test_multi_get_key_list_is_one_narrow_stage(spark, prefix_table):
    """A key list is deduped in the driver: no Exchange in the executed
    plan, one job, and the cells equal the filtered full scan."""
    sc = spark.sparkContext
    df = hl.multi_get(spark, prefix_table, _PREFIX_KEYS)
    sc.setJobGroup("multi-get-key-list", "plan shape")
    try:
        got = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("multi-get-key-list")) == 1
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    full = hl.scan_hfiles(spark, prefix_table).collect()
    want = [r for r in full if r.rowkey in set(_PREFIX_KEYS)]
    assert _cells(got) == _cells(want) and len(want) == 6 * 3


def test_multi_get_keyset_dataframe_duplicates(spark, prefix_table):
    """A keyset DataFrame with repeated keys spread over partitions
    returns each cell exactly once."""
    kdf = spark.createDataFrame(
        [(k,) for k in _PREFIX_KEYS * 3], "rowkey string"
    ).repartition(4)
    got = hl.multi_get(spark, prefix_table, kdf).collect()
    full = hl.scan_hfiles(spark, prefix_table).collect()
    want = [r for r in full if r.rowkey in set(_PREFIX_KEYS)]
    assert _cells(got) == _cells(want)


def test_multi_get_binary_matches_binary_scan(spark, prefix_table):
    """binary=True returns the bytes a binary scan reads for the same
    rows, prefix rows included."""
    got = hl.multi_get(spark, prefix_table, _PREFIX_KEYS, binary=True).collect()
    full = hl.scan_hfiles(spark, prefix_table, binary=True).collect()
    want = [r for r in full if r.rowkey.decode() in set(_PREFIX_KEYS)]
    assert _cells(got) == _cells(want) and len(want) > 0


def test_value_index_seek(spark, sf_dir, table_dir, tmp_path):
    """The materialized secondary index: build the (value -> rowkey)
    index table with the bulkload contract, then index_seek = exact
    range scan of the index + multi-get of the base table. Result must
    equal the relational answer (all cells of rows whose z8 cell holds
    the value), and the index range scan must not read other values'
    entries."""
    from hbase_bulkload_spark.operators.bulkload import bulkload_pipeline
    from hbase_bulkload_spark.sources import records
    from pyspark.sql import functions as F

    kv = bulkload_pipeline(
        records.wide9(spark, sf_dir), records.RECORD_COLS[:4], records.RECORD_COLS
    ).select("rowkey", "family", "qualifier", "value", "bucket")
    idx_dir = str(tmp_path / "z8_index")
    # two regions to prove boundary splitting applies to the index too
    manifest = hl.build_value_index(kv, "z8", idx_dir, boundaries=[b"", b"5"])
    assert {m["region"] for m in manifest} == {0, 1}
    assert all("/region-0000-" in m["path"] for m in manifest if m["region"] == 0)
    assert all("/region-0001-" in m["path"] for m in manifest if m["region"] == 1)

    val = (
        kv.filter(F.col("qualifier") == "z8")
        .groupBy("value")
        .count()
        .orderBy(F.desc("count"), "value")
        .first()["value"]
    )
    got = hl.index_seek(spark, idx_dir, table_dir, val)
    want_keys = {
        r.rowkey
        for r in kv.filter(
            (F.col("qualifier") == "z8") & (F.col("value") == val)
        ).collect()
    }
    assert want_keys
    want = kv.filter(F.col("rowkey").isin(list(want_keys))).select(
        "rowkey", "qualifier", "value"
    )
    cols = ["rowkey", "qualifier", "value"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.collect())
    )
    # a value absent from the corpus seeks to zero rows
    assert hl.index_seek(spark, idx_dir, table_dir, "no-such-value").count() == 0

    # the seek's index scan must be block-PRUNED, not a full read: the
    # planned block set for the value's range is a strict subset of the
    # unbounded plan's
    full_blocks = sum(
        len(p[3]) for p in hl.plan_block_splits(idx_dir, 64 << 10)
    )
    start = (val + hl.INDEX_KEY_SEP).encode()
    stop = (val + "\x01").encode()
    pruned_blocks = sum(
        len(p[3])
        for p in hl.plan_block_splits(
            idx_dir, 64 << 10, start_row=start, stop_row=stop
        )
    )
    assert 0 < pruned_blocks < full_blocks, (pruned_blocks, full_blocks)


def test_datasource_matches_operator_scan(spark, table_dir):
    register(spark)
    ds = spark.read.format("hfile").load(table_dir)
    op = hl.scan_hfiles(spark, table_dir)
    cols = ["region", "rowkey", "family", "qualifier", "value"]
    got = sorted(map(tuple, ds.select(*cols).collect()))
    want = sorted(map(tuple, op.select(*cols).collect()))
    assert got == want and len(got) > 0


def test_datasource_task_count_follows_split_bytes(spark, table_dir):
    register(spark)
    few = spark.read.format("hfile").option("split_bytes", 1 << 30).load(table_dir)
    many = spark.read.format("hfile").option("split_bytes", 4 << 10).load(table_dir)
    n_few = few.rdd.getNumPartitions()
    n_many = many.rdd.getNumPartitions()
    assert n_few < n_many
    assert many.count() == few.count()


def test_datasource_rowkey_filter_prunes_and_stays_correct(spark, table_dir):
    from pyspark.sql import functions as F

    register(spark)
    ds = spark.read.format("hfile").load(table_dir)
    all_rows = ds.collect()
    keys = sorted({r.rowkey for r in all_rows})
    lo = keys[len(keys) // 4]
    filtered = ds.filter(F.col("rowkey") >= lo)
    want = [r for r in all_rows if r.rowkey >= lo]
    assert sorted(map(tuple, filtered.collect())) == sorted(map(tuple, want))
    # whole region files below lo disappear at PLANNING time
    assert filtered.rdd.getNumPartitions() < ds.rdd.getNumPartitions()


def test_push_filters_tighten_bounds_without_claiming():
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        LessThan,
        StringStartsWith,
    )

    r = HFileReader({"path": "/nonexistent"})
    fs = [
        GreaterThanOrEqual(("rowkey",), "ab"),
        LessThan(("rowkey",), "f0"),
        StringStartsWith(("other_col",), "x"),  # not rowkey: ignored
    ]
    back = list(r.pushFilters(fs))
    assert back == fs  # everything handed back to Spark
    assert r.start_row == b"ab" and r.stop_row == b"f0"

    r2 = HFileReader({"path": "/nonexistent"})
    list(r2.pushFilters([EqualTo(("rowkey",), "cc")]))
    assert r2.start_row == b"cc" and r2.stop_row == b"cc\x00"

    r3 = HFileReader({"path": "/nonexistent"})
    list(r3.pushFilters([StringStartsWith(("rowkey",), "ab")]))
    assert r3.start_row == b"ab" and r3.stop_row == b"ac"

    # superset property: stop must exceed every possible continuation
    # of the prefix, including ones extending with 0xFF bytes
    r4 = HFileReader({"path": "/nonexistent"})
    list(r4.pushFilters([StringStartsWith(("rowkey",), "a\xff")]))
    pfx = "a\xff".encode()
    assert r4.start_row == pfx and r4.stop_row is not None
    assert r4.stop_row > pfx + b"\xff" * 8

    # empty prefix matches everything: NO stop bound may be set (the
    # old prefix+b'\xff' fallback pruned rows above b'\xff')
    r5 = HFileReader({"path": "/nonexistent"})
    list(r5.pushFilters([StringStartsWith(("rowkey",), "")]))
    assert r5.stop_row is None


def test_datasource_writer_roundtrip(spark, sf_dir, tmp_path):
    """df.write.format('hfile') must produce files that bulk-load and
    scan back to exactly the KV frame, with a committed manifest; a
    frame missing the KV contract columns is rejected."""
    import json
    import os

    from pyspark.sql import functions as F

    from hbase_bulkload_spark.operators.bulkload import bulkload_pipeline
    from hbase_bulkload_spark.sources import records

    register(spark)
    kv = bulkload_pipeline(
        records.wide9(spark, sf_dir), records.RECORD_COLS[:4], records.RECORD_COLS
    )
    out = str(tmp_path / "staging")
    kv.write.format("hfile").mode("overwrite").save(out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest and all(os.path.exists(m["path"]) for m in manifest)
    assert sum(m["entry_count"] for m in manifest) == kv.count()

    boundaries = [format(i, "x").encode() for i in range(16)]
    hl.do_bulk_load(
        [m["path"] for m in manifest], str(tmp_path / "table"), boundaries,
        spark=spark,
    )
    scanned = hl.scan_hfiles(spark, str(tmp_path / "table"))
    cols = ["rowkey", "family", "qualifier", "value"]
    got = sorted(map(tuple, scanned.select(*cols).collect()))
    want = sorted(map(tuple, kv.select(*cols).collect()))
    assert got == want

    with pytest.raises(Exception, match="missing"):
        kv.select("rowkey", "value").write.format("hfile").mode(
            "overwrite"
        ).save(str(tmp_path / "bad"))


def test_datasource_writer_rejects_append(spark, sf_dir, tmp_path):
    from hbase_bulkload_spark.operators.bulkload import bulkload_pipeline
    from hbase_bulkload_spark.sources import records

    register(spark)
    kv = bulkload_pipeline(
        records.wide9(spark, sf_dir), records.RECORD_COLS[:4], records.RECORD_COLS
    ).limit(50)
    out = str(tmp_path / "staging")
    kv.write.format("hfile").mode("overwrite").save(out)
    with pytest.raises(Exception, match="overwrite"):
        kv.write.format("hfile").mode("append").save(out)
    # overwrite replaces cleanly
    kv.write.format("hfile").mode("overwrite").save(out)


def test_datasource_binary_read_mode(spark, table_dir):
    register(spark)
    b = spark.read.format("hfile").option("binary", "true").load(table_dir)
    s = spark.read.format("hfile").load(table_dir)
    assert dict(b.dtypes)["rowkey"] == "binary" and dict(s.dtypes)["rowkey"] == "string"
    got = sorted(r.rowkey.decode() for r in b.select("rowkey").collect())
    want = sorted(r.rowkey for r in s.select("rowkey").collect())
    assert got == want


def test_datasource_column_pruning_option(spark, table_dir):
    register(spark)
    pruned = (
        spark.read.format("hfile").option("columns", "value").load(table_dir)
    )
    assert pruned.columns == ["region", "rowkey", "value"]
    full = spark.read.format("hfile").load(table_dir)
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.select("region", "rowkey", "value").collect())
    )
    with pytest.raises(Exception, match="unknown columns"):
        spark.read.format("hfile").option("columns", "bogus").load(
            table_dir
        ).schema
