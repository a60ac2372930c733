"""HFile v3 codec + bulk-load handoff tests (sources/hfile.py,
operators/hfile_load.py): the reference's actual sink format
(`HFileOutputFormat2`, `BulkImporterFromText.java:108-111`) and the
`LoadIncrementalHFiles.doBulkLoad` placement/split contract
(`BulkImporterFromText.java:129-130`), verified by round-trip — writer
and reader share no state, and checksums are re-validated on every
read."""

from __future__ import annotations

import glob
import os
import struct

import pytest

from hbase_bulkload_spark.sources import hfile as hf
from hbase_bulkload_spark.operators import hfile_load as hl


def cells(n, fam=b"c", quals=(b"q0", b"q1")):
    """n rows x len(quals) cells, rows zero-padded so byte order == int
    order, cell-sorted the way the writer requires."""
    out = []
    for i in range(n):
        row = f"{i:08d}".encode()
        for q in sorted(quals):
            out.append((row, fam, q, 7, b"v%d-%s" % (i, q)))
    return out


# ---------------------------------------------------------------------------
# protobuf primitives
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("v", [0, 1, 127, 128, 300, 2**31, 2**60])
def test_pb_varint_roundtrip(v):
    buf = hf.pb_varint(v)
    out, pos = hf.pb_read_varint(buf, 0)
    assert (out, pos) == (v, len(buf))


def test_pb_parse_mixed():
    msg = hf.pb_uint(3, 42) + hf.pb_bytes(11, b"abc") + hf.pb_uint(3, 7)
    fields = hf.pb_parse(msg)
    assert fields[3] == [42, 7]
    assert fields[11] == [b"abc"]


def test_key_codec_roundtrip():
    key = hf.encode_key(b"row1", b"fam", b"qualifier", 123456789)
    assert hf.decode_key(key) == (b"row1", b"fam", b"qualifier", 123456789)


# ---------------------------------------------------------------------------
# file round-trips
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("codec", [None, "gz", "snappy"])
def test_roundtrip_codecs(tmp_path, codec):
    data = cells(500)
    path = str(tmp_path / "t.hfile")
    m = hf.write_hfile(path, data, compression=codec, block_size=2048)
    assert m["entry_count"] == len(data)
    assert m["n_blocks"] > 1  # multi-block file
    assert list(hf.iter_hfile(path)) == data


def test_add_many_matches_add_bytes(tmp_path):
    """The batch encoder ``add_many_arrow`` must produce a byte-identical
    file to per-cell ``add`` — same blocks, same index, same trailer —
    from binary and from string arrays, across chunked calls that land
    mid-block."""
    import pyarrow as pa

    data = cells(700, quals=(b"q0", b"q1", b"q2"))
    p1 = str(tmp_path / "percell.hfile")
    w1 = hf.HFileWriter(p1, "snappy", block_size=2048)
    for row, fam, qual, ts, value in data:
        w1.add(row, fam, qual, ts, value)
    m1 = w1.close()

    for typ in (pa.binary(), pa.string()):
        p2 = str(tmp_path / f"bulk-{typ}.hfile")
        w2 = hf.HFileWriter(p2, "snappy", block_size=2048)
        # feed in uneven chunks so batch calls start mid-block
        for lo in range(0, len(data), 311):
            chunk = data[lo : lo + 311]
            rk, fam, qual, val = (
                pa.array([c[i] if typ == pa.binary() else c[i].decode() for c in chunk], typ)
                for i in (0, 1, 2, 4)
            )
            w2.add_many_arrow(rk, fam, qual, 7, val)  # cells() stamps ts=7
        m2 = w2.close()
        assert m1["entry_count"] == m2["entry_count"] == len(data)
        assert open(p1, "rb").read() == open(p2, "rb").read(), typ


def test_trailer_and_fileinfo(tmp_path):
    data = cells(100)
    path = str(tmp_path / "t.hfile")
    hf.write_hfile(path, data, block_size=1024)
    with open(path, "rb") as f:
        t = hf.read_trailer(f)
        assert (t.major, t.minor) == (3, 3)
        assert t.entry_count == len(data)
        assert t.compression == "snappy"
        info = hf.read_file_info(f, t)
        idx = hf.read_root_index(f, t)
    assert info[hf.FILEINFO_LASTKEY] == hf.encode_key(b"00000099", b"c", b"q1", 7)
    assert len(idx) == t.data_index_count
    # index entries carry each block's true first key, in offset order
    assert idx[0][2] == hf.encode_key(b"00000000", b"c", b"q0", 7)
    assert [e[0] for e in idx] == sorted(e[0] for e in idx)
    assert hf.file_key_range(path) == (b"00000000", b"00000099")


def test_corruption_detected(tmp_path):
    path = str(tmp_path / "t.hfile")
    hf.write_hfile(path, cells(200), compression=None, block_size=1024)
    with open(path, "rb") as f:
        t = hf.read_trailer(f)
    # flip one byte inside the first cell's VALUE (offset 31 = 8 length
    # bytes + 23 key bytes): the block stays structurally valid, so only
    # the checksum can reject it
    with open(path, "r+b") as f:
        f.seek(t.first_data_offset + hf.HEADER_SIZE + 31)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(ValueError, match="checksum"):
        list(hf.iter_hfile(path))


def test_block_headers_on_disk(tmp_path):
    """The published block layout, checked against raw bytes: magic,
    sizes, prev-offset chain, checksum type."""
    path = str(tmp_path / "t.hfile")
    hf.write_hfile(path, cells(300), compression=None, block_size=2048)
    with open(path, "rb") as f:
        t = hf.read_trailer(f)
        entries = hf.read_root_index(f, t)
        raw = {off: (f.seek(off), f.read(hf.HEADER_SIZE))[1] for off, _, _ in entries}
    prev = -1
    for off, _size, _key in entries:
        h = raw[off]
        assert h[:8] == hf.DATA_MAGIC
        assert struct.unpack_from(">q", h, 16)[0] == prev
        assert h[24] == hf.CHECKSUM_CRC32
        assert struct.unpack_from(">i", h, 25)[0] == hf.BYTES_PER_CHECKSUM
        prev = off
    assert t.first_data_offset == entries[0][0]
    assert t.last_data_offset == entries[-1][0]
    assert os.path.getsize(path) >= hf.TRAILER_SIZE


def test_point_get(tmp_path):
    path = str(tmp_path / "t.hfile")
    hf.write_hfile(path, cells(1000), block_size=2048)
    assert hf.hfile_get(path, b"00000000") == [
        (b"q0", 7, b"v0-q0"), (b"q1", 7, b"v0-q1"),
    ]
    assert hf.hfile_get(path, b"00000777") == [
        (b"q0", 7, b"v777-q0"), (b"q1", 7, b"v777-q1"),
    ]
    assert hf.hfile_get(path, b"00000999") == [
        (b"q0", 7, b"v999-q0"), (b"q1", 7, b"v999-q1"),
    ]
    assert hf.hfile_get(path, b"00001000") == []  # past the end
    assert hf.hfile_get(path, b"0000077a") == []  # between rows


def test_row_bloom(tmp_path, monkeypatch):
    """Row bloom: zero false negatives over every present row, absent
    rows short-circuit before any index/data block read, ~1% false
    positives, and bloom-less files (bloom=False, or pre-bloom) still
    serve gets through the index."""
    data = cells(500)
    path = str(tmp_path / "b.hfile")
    hf.write_hfile(path, data, block_size=2048)

    with open(path, "rb") as f:
        t = hf.read_trailer(f)
        bloom = hf.read_bloom(f, t)
    assert bloom is not None
    # no false negatives
    for i in range(500):
        assert hf.bloom_may_contain(bloom, f"{i:08d}".encode())
    # false-positive rate ~1%
    fp = sum(
        hf.bloom_may_contain(bloom, f"absent-{i}".encode()) for i in range(2000)
    )
    assert fp < 2000 * 0.05
    # absent-row get stops at the bloom: no DATA block is ever decoded
    reads = []
    orig = hf._read_block

    def spy(f, offset, codec, expect_magic=None):
        reads.append(expect_magic)
        return orig(f, offset, codec, expect_magic)

    monkeypatch.setattr(hf, "_read_block", spy)
    assert hf.hfile_get(path, b"zzzz-not-there") == []
    assert hf.DATA_MAGIC not in reads
    assert hf.ROOT_INDEX_MAGIC not in reads
    # present rows still resolve with the bloom on
    assert hf.hfile_get(path, b"00000123") == [
        (b"q0", 7, b"v123-q0"), (b"q1", 7, b"v123-q1"),
    ]
    monkeypatch.setattr(hf, "_read_block", orig)

    # bloom=False files carry no bloom keys and still serve gets
    p2 = str(tmp_path / "nb.hfile")
    w = hf.HFileWriter(p2, "snappy", block_size=2048, bloom=False)
    for row, fam, qual, ts, value in data:
        w.add(row, fam, qual, ts, value)
    w.close()
    with open(p2, "rb") as f:
        assert hf.read_bloom(f, hf.read_trailer(f)) is None
    assert hf.hfile_get(p2, b"00000123") == [
        (b"q0", 7, b"v123-q0"), (b"q1", 7, b"v123-q1"),
    ]
    assert hf.hfile_get(p2, b"zzzz-not-there") == []


def test_multilevel_index_roundtrip(tmp_path):
    """A file whose block count exceeds the index chunk grows a
    multi-level index: depth recorded in the trailer, full scans and
    point gets agree with the single-level file's results, and old
    single-level files keep depth 1."""
    data = cells(900, quals=(b"q0", b"q1"))
    flat = str(tmp_path / "flat.hfile")
    hf.write_hfile(flat, data, block_size=1024)

    deep = str(tmp_path / "deep.hfile")
    w = hf.HFileWriter(deep, "snappy", block_size=1024, index_chunk=4)
    for row, fam, qual, ts, value in data:
        w.add(row, fam, qual, ts, value)
    m = w.close()

    with open(flat, "rb") as f:
        assert hf.read_trailer(f).index_levels == 1
    with open(deep, "rb") as f:
        t = hf.read_trailer(f)
        assert t.index_levels >= 3  # >16 blocks at chunk 4 → 3+ levels
        assert t.data_index_count <= 4  # root fits one chunk
        # the flattened tree re-finds every data block
        entries = hf.read_data_index(f, t)
        assert len(entries) == m["n_blocks"]
    # identical logical content through the tree
    assert list(hf.iter_hfile(deep)) == list(hf.iter_hfile(flat)) == data
    # point gets walk the levels
    for probe in (b"00000000", b"00000450", b"00000899"):
        assert hf.hfile_get(deep, probe) == hf.hfile_get(flat, probe)
    assert hf.hfile_get(deep, b"00000900") == []
    # splitting a multi-level file works (re-encode path)
    bot, top = hf.split_hfile(
        deep, b"00000450",
        str(tmp_path / "b.hfile"), str(tmp_path / "t2.hfile"),
    )
    assert bot["entry_count"] + top["entry_count"] == len(data)
    assert hf.file_key_range(str(tmp_path / "b.hfile"))[1] == b"00000449"


def test_rows_never_straddle_blocks(tmp_path):
    """The writer rolls blocks only at row boundaries, so a row's cells
    are always co-located (keeps point-gets single-block)."""
    path = str(tmp_path / "t.hfile")
    hf.write_hfile(path, cells(400, quals=(b"a", b"b", b"z")), block_size=512)
    with open(path, "rb") as f:
        t = hf.read_trailer(f)
        entries = hf.read_root_index(f, t)
        last_rows = set()
        for off, _size, _key in entries:
            plain = hf._read_block(f, off, t.compression, hf.DATA_MAGIC)
            rows = [c[0] for c in hf._decode_cells(plain)]
            assert not set(rows) & last_rows
            last_rows = set(rows)


def _straddling_table(tmp_path, index_chunk):
    """A one-file table of 5 rows x 4 qualifiers whose data blocks roll
    every 3 cells, mid-row, as HBase's writer may: every row straddles
    a block boundary (and, at ``index_chunk=2``, index blocks too)."""
    data = cells(5, quals=(b"a", b"b", b"c", b"d"))
    fam_dir = tmp_path / "table" / "region-0000" / "c"
    fam_dir.mkdir(parents=True)
    path = str(fam_dir / "f.hfile")
    w = hf.HFileWriter(path, "snappy", index_chunk=index_chunk)
    for n, c in enumerate(data, 1):
        w.add(*c)
        if n % 3 == 0:
            w._flush_data()
    w.close()
    return str(tmp_path / "table"), path, data


@pytest.mark.parametrize("index_chunk", [128, 2])
def test_straddling_rows_read_back_whole(tmp_path, index_chunk):
    """A row whose cells span data blocks comes back whole from get,
    multi_get and a start_row range scan: each equals the full scan
    filtered to the wanted rows."""
    table, path, data = _straddling_table(tmp_path, index_chunk)
    with open(path, "rb") as f:
        t = hf.read_trailer(f)
        assert len(hf.read_data_index(f, t)) == 7
    assert t.index_levels == (1 if index_chunk == 128 else 3)
    assert list(hf.iter_hfile(path)) == data
    rows = sorted({c[0] for c in data})
    for row in rows:
        assert hf.hfile_get(path, row) == [
            (q, ts, v) for r, _f, q, ts, v in data if r == row
        ]
    assert hf.hfile_multi_get(path, rows[::-1]) == data
    for start in rows:
        got = []
        for split_path, _region, codec, blocks in hl.plan_block_splits(
            table, start_row=start
        ):
            with open(split_path, "rb") as f:
                for off, _size in blocks:
                    plain = hf._read_block(f, off, codec, hf.DATA_MAGIC)
                    got.extend(c for c in hf._decode_cells(plain) if c[0] >= start)
        assert got == [c for c in data if c[0] >= start]


def test_split_hfile(tmp_path):
    data = cells(100)
    src = str(tmp_path / "t.hfile")
    hf.write_hfile(src, data, block_size=1024)
    bot, top = hf.split_hfile(
        src, b"00000040", str(tmp_path / "b.hfile"), str(tmp_path / "u.hfile")
    )
    assert (bot["first_row"], bot["last_row"]) == (b"00000000", b"00000039")
    assert (top["first_row"], top["last_row"]) == (b"00000040", b"00000099")
    got = list(hf.iter_hfile(bot["path"])) + list(hf.iter_hfile(top["path"]))
    assert got == data


def test_split_hfile_empty_half(tmp_path):
    src = str(tmp_path / "t.hfile")
    hf.write_hfile(src, cells(10))
    bot, top = hf.split_hfile(
        src, b"00000000", str(tmp_path / "b.hfile"), str(tmp_path / "u.hfile")
    )
    assert bot is None  # nothing below the split point; file not written
    assert top["entry_count"] == 20
    assert not os.path.exists(str(tmp_path / "b.hfile"))


# ---------------------------------------------------------------------------
# doBulkLoad placement
# ---------------------------------------------------------------------------

def test_bulk_load_aligned(tmp_path):
    """Files that fit inside a region are renamed in untouched."""
    staging, table = tmp_path / "staging", tmp_path / "table"
    staging.mkdir()
    paths = []
    for lo, hi, name in [(0, 40, "a"), (40, 80, "b"), (80, 100, "c")]:
        p = str(staging / f"{name}.hfile")
        hf.write_hfile(p, cells(100)[lo * 2 : hi * 2])
        paths.append(p)
    loaded = hl.do_bulk_load(
        paths, str(table), [b"", b"00000040", b"00000080"]
    )
    assert {(m["region"], os.path.basename(m["path"])) for m in loaded} == {
        (0, "a.hfile"), (1, "b.hfile"), (2, "c.hfile"),
    }
    assert not list(staging.iterdir())  # moved, not copied


def test_bulk_load_splits_crossing_file(tmp_path):
    """One file spanning all three regions is split iteratively, and the
    loaded table holds exactly the original cells in the right regions."""
    staging, table = tmp_path / "staging", tmp_path / "table"
    staging.mkdir()
    data = cells(90)
    p = str(staging / "wide.hfile")
    hf.write_hfile(p, data)
    boundaries = [b"", b"00000030", b"00000060"]
    loaded = hl.do_bulk_load([p], str(table), boundaries)
    assert sorted(m["region"] for m in loaded) == [0, 1, 2]
    got = []
    for m in sorted(loaded, key=lambda m: m["region"]):
        rows = list(hf.iter_hfile(m["path"]))
        lo = boundaries[m["region"]]
        hi = (
            boundaries[m["region"] + 1]
            if m["region"] + 1 < len(boundaries)
            else b"\xff"
        )
        assert all(lo <= r[0] < hi for r in rows)
        got.extend(rows)
    assert got == data


def test_bulk_load_rejects_out_of_range(tmp_path):
    p = str(tmp_path / "t.hfile")
    hf.write_hfile(p, cells(10))
    with pytest.raises(ValueError, match="precedes"):
        hl.do_bulk_load([p], str(tmp_path / "table"), [b"99999999"])


def test_compact_region(tmp_path):
    """Two overlapping files (as two bulk loads would leave) merge into
    one sorted file; version retention keeps the newest 2 per (row,
    qualifier) and TTL drops expired cells — create_table.rb:1 semantics
    at the file level."""
    fam_dir = tmp_path / "r" / "c"
    fam_dir.mkdir(parents=True)
    # load 1: rows 0..49 at ts=100; load 2: rows 25..74 at ts=200, plus
    # an old ts=5 version (expired under ttl_min_ts=10)
    hf.write_hfile(
        str(fam_dir / "a.hfile"),
        [(f"{i:04d}".encode(), b"c", b"q", 100, b"old") for i in range(50)],
    )
    hf.write_hfile(
        str(fam_dir / "b.hfile"),
        [
            c
            for i in range(25, 75)
            for c in (
                (f"{i:04d}".encode(), b"c", b"q", 200, b"new"),
                (f"{i:04d}".encode(), b"c", b"q", 5, b"ancient"),
            )
        ],
    )
    m = hl.compact_region(str(fam_dir), max_versions=2, ttl_min_ts=10)
    assert m["n_input_files"] == 2
    assert m["dropped_expired"] == 50  # every ts=5 cell
    assert m["dropped_versions"] == 0  # never more than 2 live versions
    files = sorted(os.listdir(fam_dir))
    assert files == ["compacted-00000.hfile"]
    cells = list(hf.iter_hfile(str(fam_dir / files[0])))
    # 0..24 one version, 25..49 two versions (200 then 100), 50..74 one
    assert len(cells) == 25 + 50 + 25
    keys = [(c[0], c[3]) for c in cells]
    assert keys == sorted(keys, key=lambda k: (k[0], -k[1]))
    assert hf.hfile_get(str(fam_dir / files[0]), b"0030") == [
        (b"q", 200, b"new"), (b"q", 100, b"old"),
    ]


def test_compact_region_version_cap(tmp_path):
    fam_dir = tmp_path / "c"
    fam_dir.mkdir()
    for ts in (1, 2, 3, 4):
        hf.write_hfile(
            str(fam_dir / f"t{ts}.hfile"), [(b"r", b"c", b"q", ts, b"v%d" % ts)]
        )
    m = hl.compact_region(str(fam_dir), max_versions=3)
    assert m["dropped_versions"] == 1
    cells = list(hf.iter_hfile(m["path"]))
    assert [c[3] for c in cells] == [4, 3, 2]  # newest three, desc


# ---------------------------------------------------------------------------
# Spark integration: write → load → scan round trip
# ---------------------------------------------------------------------------

def test_spark_roundtrip(spark, sf_dir, tmp_path):
    from hbase_bulkload_spark.operators.bulkload import bulkload_pipeline, bulkload_wide
    from hbase_bulkload_spark.sources import records

    args = (
        records.wide9(spark, sf_dir), records.RECORD_COLS[:4], records.RECORD_COLS
    )
    kv = bulkload_pipeline(*args)
    wide, quals = bulkload_wide(*args)
    boundaries = [format(i, "x").encode() for i in range(16)]
    out = str(tmp_path / "load")
    hl.bulkload_to_table(wide, out, boundaries, quals)
    scanned = hl.scan_hfiles(spark, out)
    want = kv.select("rowkey", "family", "qualifier", "value").orderBy(
        "rowkey", "qualifier"
    )
    got = scanned.select("rowkey", "family", "qualifier", "value").orderBy(
        "rowkey", "qualifier"
    )
    assert got.collect() == want.collect()
    # every scanned cell's region matches its rowkey's bucket nibble
    bad = scanned.filter(
        ~scanned.region.endswith(scanned.rowkey.substr(1, 1))
    ).count()
    assert bad == 0


def test_scan_range_pushdown(spark, tmp_path, monkeypatch):
    """Scan(startRow, stopRow): correct [start, stop) results AND block
    pruning — the planned block set must shrink versus a full scan."""
    staging = str(tmp_path / "staging")
    os.makedirs(staging)
    p = os.path.join(staging, "a.hfile")
    hf.write_hfile(
        p,
        [(f"{i:04d}".encode(), b"c", b"q", 0, b"v%d" % i) for i in range(2000)],
        compression=None,
        block_size=1024,  # many small blocks so pruning is observable
    )
    hl.do_bulk_load([p], str(tmp_path / "t"), [b""])

    # count planned blocks by shrinking split_bytes to one block per task
    full = hl.scan_hfiles(spark, str(tmp_path / "t"), split_bytes=1)
    ranged = hl.scan_hfiles(
        spark,
        str(tmp_path / "t"),
        split_bytes=1,
        start_row=b"0500",
        stop_row=b"0520",
    )
    got = sorted(r.rowkey for r in ranged.collect())
    assert got == [f"{i:04d}" for i in range(500, 520)]
    assert ranged.rdd.getNumPartitions() < full.rdd.getNumPartitions() / 10
    # fully-pruned range: empty frame, same schema, no tasks
    none = hl.scan_hfiles(spark, str(tmp_path / "t"), start_row=b"zzzz")
    assert none.count() == 0
    assert none.schema == full.schema


def test_cli_hfile_sink(spark, tmp_path):
    """--sink hfile end-to-end: CSV in, loaded 16-region table out."""
    from hbase_bulkload_spark import cli

    src = tmp_path / "in.csv"
    rows = [",".join(str(i * 10 + j) for j in range(9)) for i in range(200)]
    src.write_text("\n".join(rows) + "\n")
    out = str(tmp_path / "table")
    cli.ingest(spark, str(src), out, fmt="csv", sink="hfile")
    scanned = hl.scan_hfiles(spark, out)
    cells = scanned.collect()
    assert len(cells) == 200 * 9
    assert {r.rowkey[:1] for r in cells} <= set("0123456789abcdef")
    for r in cells[:50]:
        region_start = r.region.rsplit("-", 1)[1]
        assert r.rowkey.startswith(region_start)


def test_write_region_hfiles_rejects_missing_key_columns(spark, tmp_path):
    """A wide frame without rowkey or bucket is rejected on the driver,
    naming the missing column, before any job starts — also when the
    value columns still match the qualifiers."""
    no_bucket = spark.createDataFrame(
        [("0a", "v")], "rowkey string, z0 string"
    )
    no_rowkey = spark.createDataFrame(
        [("0a", "v", "0")], "key string, z0 string, bucket string"
    )
    out = tmp_path / "out"
    sc = spark.sparkContext
    sc.setJobGroup("hfile-missing-columns", "input check")
    try:
        with pytest.raises(ValueError, match=r"missing \['bucket'\]"):
            hl.write_region_hfiles(no_bucket, str(out), qualifiers=[b"z0"])
        with pytest.raises(ValueError, match=r"missing \['rowkey'\]"):
            hl.write_region_hfiles(
                no_rowkey, str(out), qualifiers=[b"key", b"z0"]
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("hfile-missing-columns") == []
    assert not out.exists()


def test_null_bucket_rejected(spark, tmp_path):
    """A wide row with a null bucket has no region: its write task
    raises a ValueError naming the bucket column (surfaced by Spark as
    the task's Python error), and the bulk load places no file in any
    region directory and leaves no staging directory behind."""
    from pyspark.errors import PythonException

    wide = spark.createDataFrame(
        [("0a", "v0", "0"), ("1b", "v1", None), ("2c", "v2", "2")],
        "rowkey string, r string, bucket string",
    )
    rejected = r"ValueError: bucket column has 1 null"
    with pytest.raises(PythonException, match=rejected):
        hl.write_region_hfiles(wide, str(tmp_path / "w"), qualifiers=[b"r"])
    out = tmp_path / "t"
    with pytest.raises(PythonException, match=rejected):
        hl.bulkload_to_table(wide, str(out), [b"", b"1", b"2"], qualifiers=[b"r"])
    assert glob.glob(str(out / "region-*" / "*" / "*")) == []
    assert not (out / "_staging").exists()


def test_bulkload_to_table_family(spark, tmp_path):
    """One family end to end: ``bulkload_to_table(..., family="i")``
    writes every cell with family ``i`` and places the files under
    store directories named ``i``."""
    wide = spark.createDataFrame(
        [("0a", "v0", "0"), ("1b", "v1", "1")],
        "rowkey string, r string, bucket string",
    )
    out = str(tmp_path / "t")
    loaded = hl.bulkload_to_table(
        wide, out, [b"", b"1"], qualifiers=[b"r"], family="i"
    )
    assert {m["region"] for m in loaded} == {0, 1}
    assert {os.path.basename(os.path.dirname(m["path"])) for m in loaded} == {"i"}
    got = hl.scan_hfiles(spark, out).select("rowkey", "family", "qualifier")
    assert sorted(map(tuple, got.collect())) == [
        ("0a", "i", "r"), ("1b", "i", "r")
    ]


def test_spark_roundtrip_with_splits(spark, tmp_path):
    """Staging files written for 4 coarse buckets, loaded into 8 finer
    regions — every file must split, through the Spark-parallel path."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "rowkey": [f"{i:04d}" for i in range(400)],
            "q": [f"v{i}" for i in range(400)],
        }
    )
    pdf["bucket"] = pdf.rowkey.str[0]
    wide = spark.createDataFrame(pdf)
    boundaries = [f"{i:04d}".encode() for i in range(0, 400, 50)]
    load = tmp_path / "load"
    hl.bulkload_to_table(wide, str(load), boundaries, [b"q"])
    scanned = hl.scan_hfiles(spark, str(load))
    out = scanned.select("region", "rowkey", "value").collect()
    assert len(out) == 400
    assert {r.rowkey for r in out} == set(pdf.rowkey)
    # everything moved or replaced by halves
    assert not (load / "_staging").exists()
    # 8 regions x >=1 file each
    regions = {r.region for r in out}
    assert len(regions) == 8


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _cell_bytes = st.binary(min_size=0, max_size=24)

    @given(
        rows=st.lists(
            st.tuples(
                st.binary(min_size=1, max_size=16),  # rowkey
                st.lists(
                    st.tuples(_cell_bytes, st.integers(0, 2**62), _cell_bytes),
                    min_size=1,
                    max_size=3,
                    unique_by=lambda q: q[0],
                ),
            ),
            min_size=1,
            max_size=40,
            unique_by=lambda r: r[0],
        ),
        codec=st.sampled_from(["snappy", "gz", None]),
        block_size=st.sampled_from([64, 512, 65536]),
        index_chunk=st.sampled_from([2, 128]),
    )
    @settings(max_examples=40, deadline=None)
    def test_hfile_roundtrip_property(rows, codec, block_size, index_chunk):
        """Arbitrary binary rows/qualifiers/values (empty values, NUL
        bytes, any codec, tiny blocks forcing multi-level indexes)
        survive the write→iter→point-get path exactly, and the batch
        encoder and Arrow decoder agree with the scalar ones."""
        import tempfile

        import pyarrow as pa

        # writer contract: cells sorted by (row, qualifier)
        rows = sorted(rows, key=lambda r: r[0])
        data = [
            (rk, b"f", qual, ts, val)
            for rk, quals in rows
            for qual, ts, val in sorted(quals, key=lambda q: q[0])
        ]
        with tempfile.NamedTemporaryFile(suffix=".hfile", delete=False) as f:
            path = f.name
        try:
            w = hf.HFileWriter(path, codec, block_size, index_chunk=index_chunk)
            for c in data:
                w.add(*c)
            m = w.close()
            assert m["entry_count"] == len(data)
            assert list(hf.iter_hfile(path)) == data
            for rk, quals in rows:
                want = [
                    (q, ts, v) for q, ts, v in sorted(quals, key=lambda x: x[0])
                ]
                assert hf.hfile_get(path, rk) == want

            # differential: the batch encoder must write the bytes the
            # scalar ``add`` writes for the same cells at one timestamp,
            # and the vectorized Arrow decode must equal the scalar
            # decoder on the same payloads — arbitrary binary cells,
            # empty values, NULs, every codec
            ts0 = data[0][3]
            ref_path, arrow_path = path + ".add", path + ".arrow"
            try:
                w1 = hf.HFileWriter(ref_path, codec, block_size, index_chunk=index_chunk)
                for rk, fam, qual, _ts, val in data:
                    w1.add(rk, fam, qual, ts0, val)
                w1.close()
                w2 = hf.HFileWriter(arrow_path, codec, block_size, index_chunk=index_chunk)
                rk, fam, qual, val = (
                    pa.array([c[i] for c in data], pa.binary()) for i in (0, 1, 2, 4)
                )
                w2.add_many_arrow(rk, fam, qual, ts0, val)
                w2.close()
                assert open(ref_path, "rb").read() == open(arrow_path, "rb").read()
            finally:
                for p in (ref_path, arrow_path):
                    if os.path.exists(p):
                        os.unlink(p)
            with open(path, "rb") as f:
                tr = hf.read_trailer(f)
                plains = [
                    hf._read_block(f, off, tr.compression, hf.DATA_MAGIC)
                    for off, _s, _k in hf.read_data_index(f, tr)
                ]
            got = hf.decode_cells_arrow(b"".join(plains), binary=True)
            names = ("rowkey", "family", "qualifier", "ts", "value")
            assert list(zip(*(got[k].to_pylist() for k in names))) == [
                c for p in plains for c in hf._decode_cells(p)
            ]
        finally:
            os.unlink(path)

    @given(
        stems=st.lists(
            st.binary(min_size=1, max_size=6), min_size=1, max_size=10, unique=True
        ),
        ext=st.binary(min_size=1, max_size=3),
        n_quals=st.integers(1, 3),
        roll_every=st.sampled_from([0, 1, 2, 5]),
        bloom=st.booleans(),
        index_chunk=st.sampled_from([2, 128]),
        picks=st.lists(st.integers(0, 10**6), max_size=30),
        absent=st.lists(st.binary(max_size=7), max_size=5),
    )
    @settings(max_examples=60, deadline=None)
    def test_multi_get_seek_property(
        stems, ext, n_quals, roll_every, bloom, index_chunk, picks, absent
    ):
        """The in-block seek equals the full scan filtered to the
        requested rows: every stem is a prefix of another row, values
        embed other rows' length-prefixed bytes, requests repeat, come
        unsorted and mix in absent rows, blocks roll mid-row
        (``roll_every`` cells; 0 = the writer's own row-boundary rolls),
        and files are written with and without a row bloom."""
        import tempfile

        rows = sorted(set(stems) | {r + ext for r in stems})
        data = []
        for i, r in enumerate(rows):
            other = rows[(i + 1) % len(rows)]
            for q in range(n_quals):
                value = struct.pack(">H", len(other)) + other + r
                data.append((r, b"f", b"q%d" % q, q, value))
        with tempfile.NamedTemporaryFile(suffix=".hfile", delete=False) as f:
            path = f.name
        try:
            w = hf.HFileWriter(
                path, "snappy", 512, index_chunk=index_chunk, bloom=bloom
            )
            for n, c in enumerate(data, 1):
                w.add(*c)
                if roll_every and n % roll_every == 0:
                    w._flush_data()
            w.close()
            requested = [rows[p % len(rows)] for p in picks] + absent
            want = [c for c in hf.iter_hfile(path) if c[0] in set(requested)]
            assert hf.hfile_multi_get(path, requested) == want
            for r in set(requested):
                assert hf.hfile_get(path, r) == [
                    (q, ts, v) for row, _f, q, ts, v in want if row == r
                ]
        finally:
            os.unlink(path)

except ImportError:  # pragma: no cover - hypothesis is baked in per TESTDATA
    pass


def test_multilevel_point_reads_are_logarithmic(tmp_path, monkeypatch):
    """Round-6 depth hardening: on a depth ≥ 3 index tree, a point get
    must read exactly one index block per sub-root level plus ONE data
    block (O(log n) IO — the property the tree exists for), and a
    batched multi_get must memoize blocks across keys (strictly fewer
    reads than independent gets). Counted by instrumenting _read_block,
    classified by expected magic."""
    data = cells(900, quals=(b"q0", b"q1"))
    deep = str(tmp_path / "deep3.hfile")
    w = hf.HFileWriter(deep, "snappy", block_size=1024, index_chunk=4)
    for row, fam, qual, ts, value in data:
        w.add(row, fam, qual, ts, value)
    w.close()
    with open(deep, "rb") as f:
        t = hf.read_trailer(f)
    assert t.index_levels >= 3

    reads: list[bytes | None] = []
    orig = hf._read_block

    def counting(f, offset, codec, expect_magic=None):
        reads.append(expect_magic)
        return orig(f, offset, codec, expect_magic)

    monkeypatch.setattr(hf, "_read_block", counting)

    # single get, present row: 1 root + (levels-1) tree walk + 1 data
    reads.clear()
    assert hf.hfile_get(deep, b"00000450")
    assert reads.count(hf.DATA_MAGIC) == 1
    assert reads.count(hf.ROOT_INDEX_MAGIC) == 1
    assert reads.count(None) == t.index_levels - 1

    # bloom-filtered absent row: no index walk, no data block
    reads.clear()
    assert hf.hfile_get(deep, b"zz-absent") == []
    assert reads.count(hf.DATA_MAGIC) == 0
    assert reads.count(None) == 0

    # batched multi_get: block memoization beats independent gets
    probe = [f"{i:08d}".encode() for i in range(0, 900, 90)]
    reads.clear()
    got = hf.hfile_multi_get(deep, probe)
    assert {r for r, *_ in got} == set(probe)
    n_multi = len(reads)
    reads.clear()
    for row in probe:
        assert hf.hfile_get(deep, row)
    n_indep = len(reads)
    assert n_multi < n_indep


def test_adaptive_split_bytes_clamps_and_targets():
    """r11: split sizing derives from total bytes (guide §2.2/§6) —
    floor keeps tiny local tables fanning out, ceiling bounds per-task
    bytes, the middle targets OVERSUB_TASKS_PER_CORE tasks per core."""
    from hbase_bulkload_spark.operators import hfile_load as hl

    # tiny table → floor (the fixed-2MiB behavior of rounds ≤10)
    assert hl._adaptive_split_bytes(60 << 20, 32) == hl.DEFAULT_SPLIT_BYTES
    # mid-size: 64 GiB on 32 cores → 64Gi/128 = 512 MiB → ceiling
    assert hl._adaptive_split_bytes(64 << 30, 32) == hl.MAX_SPLIT_BYTES
    # in-band: 1 GiB on 32 cores → 8 MiB splits (~128 tasks)
    got = hl._adaptive_split_bytes(1 << 30, 32)
    assert got == (1 << 30) // (hl.OVERSUB_TASKS_PER_CORE * 32)
    assert hl.DEFAULT_SPLIT_BYTES <= got <= hl.MAX_SPLIT_BYTES
    # cores=None falls back to os.cpu_count(), still clamped
    assert (
        hl.DEFAULT_SPLIT_BYTES
        <= hl._adaptive_split_bytes(1 << 40, None)
        <= hl.MAX_SPLIT_BYTES
    )


def test_q_bulkload_hfile_table_in_scratch_root(spark, sf_dir):
    """q_bulkload_hfile's table sits in the per-process scratch root,
    which is removed when the process exits."""
    import glob
    import subprocess
    import sys

    from hbase_bulkload_spark.queries import ingest

    df = ingest.q_bulkload_hfile(spark, sf_dir)
    work = os.path.join(
        ingest.scratch_root(), f"hfile_load_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    assert len(glob.glob(os.path.join(work, "region-*", "c", "*.hfile"))) == 16
    assert df.count() == 16  # the lazy frame reads the live table

    root = subprocess.run(
        [sys.executable, "-c",
         "from hbase_bulkload_spark.queries.ingest import scratch_root; "
         "print(scratch_root())"],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout.strip()
    assert root and not os.path.exists(root)
