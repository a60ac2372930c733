"""RCFile layout codec tests (sources/rcfile.py): Hadoop vlong
primitives, run-length cell-length streams, round-trips (plain +
deflate), byte-range split reading, and decode-time column pruning —
the reference's third input format (`RCFileMapReduceInputFormat`,
`BulkImporterFromRC.java:94-95`) as a real wire format, not an ORC
stand-in."""

from __future__ import annotations

import glob
import os

import pytest

from hbase_bulkload_spark.sources import rcfile


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "v", [0, 1, -1, -112, -113, 127, 128, 255, 256, 65535, 2**31 - 1,
          -(2**31), 2**54, -(2**54)]
)
def test_vlong_roundtrip(v):
    buf = rcfile.enc_vlong(v)
    out, pos = rcfile.dec_vlong(buf, 0)
    assert (out, pos) == (v, len(buf))


def test_vlong_single_byte_range():
    # Hadoop packs -112..127 into one byte
    assert len(rcfile.enc_vlong(-112)) == 1
    assert len(rcfile.enc_vlong(127)) == 1
    assert len(rcfile.enc_vlong(128)) == 2


def test_rle_lengths_roundtrip():
    lens = [5, 5, 5, 3, 7, 7, 1, 1, 1, 1]
    enc = rcfile._rle_lengths(lens)
    assert rcfile._dec_lengths(enc, len(lens)) == lens
    # runs shrink the stream: 10 lengths but only 4 distinct runs
    assert len(enc) < 10


def test_rle_lengths_no_runs():
    lens = [1, 2, 3, 4]
    assert rcfile._dec_lengths(rcfile._rle_lengths(lens), 4) == lens


# ---------------------------------------------------------------------------
# file round-trips
# ---------------------------------------------------------------------------

ROWS = [
    ("a", "bb", None),
    ("", "x", "yy"),
    ("longer value here", "bb", "z"),
    (None, None, "end"),
]


@pytest.mark.parametrize("codec", [None, "deflate"])
def test_write_read_roundtrip(tmp_path, codec):
    p = str(tmp_path / "t.rc")
    n = rcfile.write_rcfile(p, ROWS, 3, codec=codec, rows_per_group=2)
    assert n == 4
    assert list(rcfile.iter_rcfile(p)) == ROWS


def test_column_pruning_decodes_projection_only(tmp_path):
    p = str(tmp_path / "t.rc")
    rcfile.write_rcfile(p, ROWS, 3)
    out = list(rcfile.iter_rcfile(p, columns=[2, 0]))
    # projection preserves FILE column order (like parquet ReadSchema)
    assert out == [(r[0], r[2]) for r in ROWS]


def test_header_info(tmp_path):
    p = str(tmp_path / "t.rc")
    rcfile.write_rcfile(p, ROWS, 3, codec="deflate")
    n_cols, codec, sync, data_start, size = rcfile.header_info(p)
    assert (n_cols, codec, len(sync)) == (3, "deflate", 16)
    assert 0 < data_start < size


def test_range_reader_covers_file_exactly(tmp_path):
    """Splitting the byte range at arbitrary points must yield every row
    exactly once (the Hadoop input-split ownership protocol)."""
    p = str(tmp_path / "t.rc")
    rows = [(f"r{i}", f"v{i % 7}" * (i % 5 + 1)) for i in range(500)]
    rcfile.write_rcfile(p, rows, 2, rows_per_group=32)
    n_cols, codec, sync, data_start, size = rcfile.header_info(p)

    for n_splits in (1, 2, 3, 7):
        step = (size - data_start) // n_splits + 1
        got = []
        b = data_start
        while b < size:
            e = min(b + step, size)
            got.extend(
                rcfile.iter_rcfile_range(p, b, e, data_start, sync, 2, codec)
            )
            b = e
        assert got == rows, f"n_splits={n_splits}"


def _strip_anchors(path: str, keep: set[int]) -> None:
    """Rewrite a package-written RCFile (one anchor before every group)
    without the sync anchors of the groups not in ``keep`` — the layout
    Hive's writer leaves: no anchor before the first group, then one
    per sync interval."""
    _, _, sync, data_start, _ = rcfile.header_info(path)
    anchor = rcfile.SYNC_ESCAPE + sync
    data = open(path, "rb").read()
    lead, *groups = data[data_start:].split(anchor)
    assert lead == b""
    with open(path, "wb") as f:
        f.write(data[:data_start])
        for i, g in enumerate(groups):
            f.write((anchor if i in keep else b"") + g)


def test_truncated_group_rejected(tmp_path):
    """A file cut inside its last row group raises, naming the file and
    the group's offset, instead of returning shortened cells."""
    p = str(tmp_path / "cut.rc")
    rcfile.write_rcfile(p, ROWS, 3, rows_per_group=2)
    data = open(p, "rb").read()
    open(p, "wb").write(data[:-3])
    with pytest.raises(ValueError, match=r"cut\.rc: truncated row group at byte \d+"):
        list(rcfile.iter_rcfile(p))


@pytest.mark.parametrize("codec", [None, "deflate"])
@pytest.mark.parametrize(
    "n_rows, rows_per_group, keep",
    [(500, 32, {3, 4, 9}), (20, rcfile.DEFAULT_ROWS_PER_GROUP, set())],
    ids=["inner-anchors", "one-group-no-anchor"],
)
def test_groups_without_anchor_read_back(
    spark, tmp_path, codec, n_rows, rows_per_group, keep
):
    """Groups with no sync anchor in front of them belong to the split
    that holds the last anchor before them, or to the split holding
    ``data_start`` when none is: every row comes back exactly once from
    the range reader at any split count and from the Spark scan."""
    src = tmp_path / "rc"
    src.mkdir()
    p = str(src / "hive_like.rc")
    rows = [(f"r{i}", f"v{i % 7}" * (i % 5 + 1)) for i in range(n_rows)]
    rcfile.write_rcfile(p, rows, 2, codec=codec, rows_per_group=rows_per_group)
    _strip_anchors(p, keep)
    n_cols, codec, sync, data_start, size = rcfile.header_info(p)
    assert (rcfile.SYNC_ESCAPE + sync) not in open(p, "rb").read()[
        data_start : data_start + 20
    ]

    for n_splits in (1, 2, 3, 7):
        step = (size - data_start) // n_splits + 1
        got = []
        for b in range(data_start, size, step):
            got.extend(rcfile.iter_rcfile_range(
                p, b, min(b + step, size), data_start, sync, n_cols, codec
            ))
        assert got == rows, f"n_splits={n_splits}"

    split = (size - data_start) // 3 + 1  # later splits start mid-file
    df = rcfile.scan_splits(spark, str(src), ["a", "b"], split_size=split)
    assert df.rdd.getNumPartitions() == 3
    assert sorted((r.a, r.b) for r in df.collect()) == sorted(rows)


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

def test_scan_splits_matches_orc_fixture(spark, sf_dir):
    from pyspark.sql import functions as F

    from hbase_bulkload_spark.sources import records

    rc = records.scan_rcfile(spark, sf_dir)
    orc = records.scan_columnar(spark, sf_dir)
    assert rc.columns == orc.columns
    assert rc.count() == orc.count()
    # value parity incl. nulls: anti-join both ways is empty
    assert rc.exceptAll(orc).count() == 0
    assert orc.exceptAll(rc).count() == 0
    # null convention survives: z8 nulls exist and match
    assert (
        rc.filter(F.col("z8").isNull()).count()
        == orc.filter(F.col("z8").isNull()).count()
        > 0
    )


def test_scan_splits_intra_file_parallelism(spark, tmp_path):
    """One large file must produce >1 task when split_size is small."""
    import pandas as pd

    path = str(tmp_path / "rc_one")
    os.makedirs(path)
    rows = [(str(i), "x" * 50) for i in range(5000)]
    rcfile.write_rcfile(os.path.join(path, "big.rc"), rows, 2, rows_per_group=64)

    df = rcfile.scan_splits(spark, path, ["a", "b"], split_size=16 << 10)
    assert df.rdd.getNumPartitions() > 1
    got = df.toPandas().sort_values("a", key=lambda s: s.astype(int))
    assert list(got["a"]) == [r[0] for r in rows]
    assert len(glob.glob(os.path.join(path, "*.rc"))) == 1
    assert isinstance(got, pd.DataFrame)


def test_scan_splits_column_pruning(spark, tmp_path):
    path = str(tmp_path / "rc_proj")
    os.makedirs(path)
    rcfile.write_rcfile(os.path.join(path, "p.rc"), ROWS, 3)
    df = rcfile.scan_splits(spark, path, ["c0", "c1", "c2"], columns=["c2"])
    assert df.columns == ["c2"]
    assert {r["c2"] for r in df.collect()} == {None, "yy", "z", "end"}


def test_rcfile_name_count_mismatch_rejected(spark, tmp_path):
    """A names list that does not match the files' column count is
    rejected on the driver, naming the file."""
    path = str(tmp_path / "rc_names")
    os.makedirs(path)
    rcfile.write_rcfile(os.path.join(path, "p.rc"), ROWS, 3)
    with pytest.raises(ValueError, match=r"p\.rc: 3 columns, 2 names"):
        rcfile.scan_splits(spark, path, ["a", "b"])


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        rows=st.lists(
            st.tuples(
                st.one_of(st.none(), st.text(max_size=30)),
                st.one_of(st.none(), st.text(max_size=30)),
                st.one_of(st.none(), st.text(max_size=30)),
            ),
            min_size=1,
            max_size=40,
        ),
        codec=st.sampled_from([None, "deflate"]),
        rows_per_group=st.sampled_from([1, 3, 64]),
    )
    @settings(max_examples=40, deadline=None)
    def test_rcfile_roundtrip_property(rows, codec, rows_per_group):
        """Any mix of nulls, empty strings, and unicode survives the
        RCFile round trip across group sizes and codecs."""
        import os
        import tempfile

        with tempfile.NamedTemporaryFile(suffix=".rc", delete=False) as f:
            path = f.name
        try:
            n = rcfile.write_rcfile(
                path, rows, 3, codec=codec, rows_per_group=rows_per_group
            )
            assert n == len(rows)
            assert list(rcfile.iter_rcfile(path)) == rows
        finally:
            os.unlink(path)

except ImportError:  # pragma: no cover - hypothesis is baked in per TESTDATA
    pass
