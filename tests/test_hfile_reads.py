"""HFile table reads beside the full scan: distributed multi-get
(string and binary modes, key lists and keyset DataFrames), decode-side
column pruning, and the materialized secondary-index seek."""

from __future__ import annotations

import pytest

from hbase_bulkload_spark.operators import hfile_load as hl


@pytest.fixture(scope="module")
def table_dir(spark, sf_dir, tmp_path_factory):
    from hbase_bulkload_spark.operators.bulkload import bulkload_wide
    from hbase_bulkload_spark.sources import records

    base = tmp_path_factory.mktemp("hfile_ds")
    wide, quals = bulkload_wide(
        records.wide9(spark, sf_dir), records.RECORD_COLS[:4], records.RECORD_COLS
    )
    boundaries = [format(i, "x").encode() for i in range(16)]
    hl.bulkload_to_table(wide, str(base / "table"), boundaries, quals)
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
    from hbase_bulkload_spark.operators.bulkload import (
        bulkload_pipeline,
        bulkload_wide,
    )
    from hbase_bulkload_spark.sources import records
    from pyspark.sql import functions as F

    args = (
        records.wide9(spark, sf_dir), records.RECORD_COLS[:4], records.RECORD_COLS
    )
    kv = bulkload_pipeline(*args).select(
        "rowkey", "family", "qualifier", "value", "bucket"
    )
    wide, _ = bulkload_wide(*args)
    idx_dir = str(tmp_path / "z8_index")
    # two regions to prove boundary splitting applies to the index too
    manifest = hl.build_value_index(wide, "z8", idx_dir, boundaries=[b"", b"5"])
    assert {m["region"] for m in manifest} == {0, 1}
    assert all("/region-0000-" in m["path"] for m in manifest if m["region"] == 0)
    assert all("/region-0001-" in m["path"] for m in manifest if m["region"] == 1)
    # one index cell per entry: family i, qualifier r
    idx_cells = hl.scan_hfiles(spark, idx_dir).select("family", "qualifier")
    assert [tuple(r) for r in idx_cells.distinct().collect()] == [("i", "r")]

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


def test_value_index_on_hex_regions_splits_nothing(spark, sf_dir, tmp_path):
    """On the 16 hex-nibble boundaries each index bucket, the value's
    first character (a digit for z8), is one staged file that lands
    whole in the region of that digit: one file per distinct leading
    digit, none split at load."""
    from pyspark.sql import functions as F

    from hbase_bulkload_spark.operators.bulkload import bulkload_wide
    from hbase_bulkload_spark.sources import records

    wide, _ = bulkload_wide(
        records.wide9(spark, sf_dir), records.RECORD_COLS[:4], records.RECORD_COLS
    )
    leads = {
        r[0]
        for r in wide.filter(F.col("z8").isNotNull())
        .select(F.substring("z8", 1, 1))
        .distinct()
        .collect()
    }
    assert len(leads) > 2
    boundaries = [format(i, "x").encode() for i in range(16)]
    manifest = hl.build_value_index(
        wide, "z8", str(tmp_path / "z8_index"), boundaries=boundaries
    )
    assert sorted(m["region"] for m in manifest) == sorted(int(c, 16) for c in leads)
    split = (".bottom.hfile", ".top.hfile")
    assert not [m["path"] for m in manifest if m["path"].endswith(split)]


def test_scan_hfiles_column_pruning(spark, table_dir):
    """``columns`` prunes the decode to the named cells: region and
    rowkey are always kept, the values equal the full scan's
    projection, and an unknown name raises before any planning."""
    pruned = hl.scan_hfiles(spark, table_dir, columns=("value",))
    assert pruned.columns == ["region", "rowkey", "value"]
    full = hl.scan_hfiles(spark, table_dir)
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.select("region", "rowkey", "value").collect())
    )
    with pytest.raises(ValueError, match="unknown columns"):
        hl.scan_hfiles(spark, "/nonexistent", columns=("bogus",))
