"""Avro OCF source (SURVEY.md §2.1 op 5; sources/avro_ocf.py).

Covers the codec round-trip at the byte level (union null branches,
multi-block files, non-string primitives) and the distributed scan's
parity with the parquet-derived record frame (SURVEY.md §7.4 item 5:
"correctness of the Avro decode itself covered by a unit test comparing
against the parquet read of the same synthetic data").
"""

from __future__ import annotations

import os

import pytest

from hbase_bulkload_spark.sources import avro_ocf, records


def test_ocf_roundtrip_nullable_strings(tmp_path):
    schema = avro_ocf.nullable_string_record("T", ["a", "b"])
    rows = [("x", None), (None, "y"), ("", "é中"), (None, None)]
    p = str(tmp_path / "t.avro")
    assert avro_ocf.write_ocf(p, schema, rows) == 4
    assert list(avro_ocf.iter_ocf(p)) == rows


def test_ocf_multi_block(tmp_path):
    schema = avro_ocf.nullable_string_record("T", ["a"])
    rows = [(f"v{i}",) for i in range(avro_ocf.BLOCK_ROWS * 2 + 17)]
    p = str(tmp_path / "big.avro")
    assert avro_ocf.write_ocf(p, schema, rows) == len(rows)
    assert list(avro_ocf.iter_ocf(p)) == rows


def test_ocf_primitives(tmp_path):
    schema = {
        "type": "record",
        "name": "P",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "u", "type": ["null", "long"]},
        ],
    }
    rows = [(-1, 1.5, True, None), (2**40, -0.25, False, -(2**33))]
    p = str(tmp_path / "p.avro")
    avro_ocf.write_ocf(p, schema, rows)
    assert list(avro_ocf.iter_ocf(p)) == rows


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(
            st.tuples(
                st.one_of(st.none(), st.text(max_size=40)),
                st.one_of(st.none(), st.text(max_size=40)),
                st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)),
            ),
            max_size=50,
        )
    )
    @settings(max_examples=50, deadline=None)
    def test_ocf_roundtrip_property(tmp_rows):
        """Any mix of nulls, unicode, and full-range longs survives the
        OCF round trip byte-exactly."""
        schema = {
            "type": "record",
            "name": "H",
            "fields": [
                {"name": "a", "type": ["null", "string"]},
                {"name": "b", "type": ["null", "string"]},
                {"name": "c", "type": ["null", "long"]},
            ],
        }
        import tempfile

        with tempfile.NamedTemporaryFile(suffix=".avro", delete=False) as f:
            path = f.name
        try:
            avro_ocf.write_ocf(path, schema, tmp_rows)
            assert list(avro_ocf.iter_ocf(path)) == tmp_rows
        finally:
            os.unlink(path)

except ImportError:  # pragma: no cover - hypothesis is baked in per TESTDATA
    pass


def test_scan_avro_matches_wide9(spark, sf_dir):
    got = records.scan_avro(spark, sf_dir)
    want = records.wide9(spark, sf_dir).select(*records.RECORD_COLS)
    key = lambda r: tuple("" if v is None else v for v in r)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    # nulls must survive the avro round trip (unlike the text fixture)
    assert got.filter(got.z8.isNull()).count() == want.filter(want.z8.isNull()).count() > 0


def test_avro_fixture_files_exist(spark, sf_dir):
    path = records.avro_path(spark, sf_dir)
    parts = [f for f in os.listdir(path) if f.endswith(".avro")]
    assert len(parts) >= 1


def test_scan_splits_single_large_file(spark, tmp_path):
    """Sync-marker splitting: ONE container file with many blocks scans
    as multiple tasks (parallelism tracks bytes, not file count), with
    exact row parity and no duplicates across split boundaries."""
    schema = avro_ocf.nullable_string_record("T", ["a", "b"])
    rows = [(f"k{i:06d}", None if i % 7 == 0 else f"v{i}") for i in range(30_000)]
    src = str(tmp_path / "one")
    os.makedirs(src)
    avro_ocf.write_ocf(os.path.join(src, "big.avro"), schema, rows)

    fsize = os.path.getsize(os.path.join(src, "big.avro"))
    split = fsize // 5  # force ~6 splits from the single file
    df = avro_ocf.scan_splits(spark, src, split_size=split)
    assert df.rdd.getNumPartitions() > 1
    got = [(r.a, r.b) for r in df.collect()]
    assert sorted(got) == sorted(rows)


def test_scan_splits_boundary_cases(spark, tmp_path):
    """Split edges: a split whose range contains no block start yields
    nothing; tiny split sizes (every block its own split) still decode
    every row exactly once."""
    schema = avro_ocf.nullable_string_record("T", ["a"])
    rows = [(f"r{i}",) for i in range(10_000)]
    src = str(tmp_path / "tiny")
    os.makedirs(src)
    avro_ocf.write_ocf(os.path.join(src, "t.avro"), schema, rows)
    df = avro_ocf.scan_splits(spark, src, split_size=4096)
    assert df.rdd.getNumPartitions() >= 4
    got = [r.a for r in df.collect()]
    assert sorted(got) == sorted(r[0] for r in rows)


def test_scan_splits_primitive_schema(spark, tmp_path):
    """The split scan surfaces non-string primitives with honest Spark
    types (long/double/boolean), not stringified values."""
    schema = {
        "type": "record",
        "name": "P",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "u", "type": ["null", "long"]},
        ],
    }
    rows = [(i, i * 0.5, None if i % 2 else i * 10) for i in range(1000)]
    src = str(tmp_path / "prim")
    os.makedirs(src)
    avro_ocf.write_ocf(os.path.join(src, "p.avro"), schema, rows)
    df = avro_ocf.scan_splits(spark, src)
    assert df.schema.simpleString() == "struct<i:bigint,d:double,u:bigint>"
    assert sorted((r.i, r.d, r.u) for r in df.collect()) == sorted(rows)


@pytest.mark.parametrize("codec", ["deflate", "snappy"])
def test_compressed_roundtrip_and_split_scan(spark, tmp_path, codec):
    """Compressed codecs: write compresses (file strictly smaller than
    the null-codec twin), whole-file decode and the sync-marker split
    scan both recover every row exactly once."""
    schema = avro_ocf.nullable_string_record("T", ["a", "b"])
    rows = [(f"key{i:06d}", None if i % 11 == 0 else f"val{i}" * 3) for i in range(20_000)]
    src = str(tmp_path / "comp")
    os.makedirs(src)
    p_comp = os.path.join(src, "c.avro")
    p_null = str(tmp_path / "n.avro")
    assert avro_ocf.write_ocf(p_comp, schema, rows, codec=codec) == len(rows)
    avro_ocf.write_ocf(p_null, schema, rows)
    assert os.path.getsize(p_comp) < os.path.getsize(p_null)

    assert list(avro_ocf.iter_ocf(p_comp)) == rows

    fsize = os.path.getsize(p_comp)
    df = avro_ocf.scan_splits(spark, src, split_size=max(fsize // 5, 1))
    assert df.rdd.getNumPartitions() > 1
    assert sorted((r.a, r.b) for r in df.collect()) == sorted(rows)


def test_snappy_crc_validated(tmp_path):
    """A corrupted snappy block fails the spec's uncompressed-data CRC."""
    schema = avro_ocf.nullable_string_record("T", ["a"])
    p = str(tmp_path / "s.avro")
    avro_ocf.write_ocf(p, schema, [(f"row{i}",) for i in range(100)], codec="snappy")
    data = bytearray(open(p, "rb").read())
    data[-21] ^= 0xFF  # flip a byte inside the last block's payload/CRC
    open(p, "wb").write(data)
    with pytest.raises((ValueError, OSError)):
        list(avro_ocf.iter_ocf(p))


def test_unsupported_codec_rejected(tmp_path):
    """A codec outside null/deflate must fail loudly at header time."""
    schema = avro_ocf.nullable_string_record("T", ["a"])
    p = str(tmp_path / "x.avro")
    avro_ocf.write_ocf(p, schema, [("r",)])
    # surgically rewrite the avro.codec metadata VALUE (len-prefixed
    # "null" right after the key) — plain replace would hit the schema
    # JSON's union "null" first
    data = open(p, "rb").read().replace(b"avro.codec\x08null", b"avro.codec\x08zstd", 1)
    bad = str(tmp_path / "bad.avro")
    open(bad, "wb").write(data)
    with pytest.raises(NotImplementedError, match="codec"):
        avro_ocf.header_info(bad)
