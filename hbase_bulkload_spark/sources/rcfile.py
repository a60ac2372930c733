"""RCFile columnar scan (SURVEY.md §2.1 op 4) without Hive.

The reference's third input format is RCFile
(`RCFileMapReduceInputFormat`, `BulkImporterFromRC.java:94-95`), read as
`BytesRefArrayWritable` raw byte slices per row (`BulkImporterFromRC.java:45`).
No Hive serde ships in this container, so this module implements the
public RCFile layout (Hive `org.apache.hadoop.hive.ql.io.RCFile`)
directly, for the subset the engine needs:

- header: magic ``RCF`` + version 1, compressed flag, optional codec
  class name, SequenceFile-style metadata (must carry
  ``hive.io.rcfile.column.number``), 16-byte sync marker;
- row groups: ``[sync-escape -1 + sync]`` then three 4-byte ints
  (record length, key length, compressed key length) followed by the
  KeyBuffer and the per-column value buffers;
- KeyBuffer: Hadoop-vlong number-of-rows, then per column the
  (compressed, uncompressed, length-buffer) sizes and a run-length
  encoded vlong stream of per-row cell lengths (a negative value ``~n``
  repeats the previous length ``n`` more times — Hive
  ``ColumnBuffer.append`` semantics);
- values: each column's cell bytes concatenated, compressed *per
  column* when a codec is set (the property that makes RCFile columnar:
  a reader can skip whole columns without decompressing them). The
  ``deflate`` codec here is zlib (Hadoop ``DefaultCodec`` stream
  format).

Spark integration mirrors ``sources.avro_ocf``: executors write one
``part-N.rc`` per partition; the scan plans byte-range splits from
per-file headers and each split decodes the row groups whose last sync
anchor falls inside it (Hadoop's ``RCFileRecordReader`` rule) —
intra-file parallelism tracks bytes, not file count. Column
*pruning* happens at decode time: un-projected columns are never
decompressed or sliced (the RCFile read path the reference never had —
its mapper materializes every column, `BulkImporterFromRC.java:60-64`).

Nulls use the Hive text-serde convention ``\\N`` (the fixture's values
never collide with it).
"""

from __future__ import annotations

import mmap
import os
import struct
import zlib
from collections.abc import Iterable, Iterator

MAGIC = b"RCF\x01"  # magic + CURRENT_VERSION
SYNC_ESCAPE = b"\xff\xff\xff\xff"  # int -1: "a sync marker follows"
COLUMN_COUNT_KEY = "hive.io.rcfile.column.number"
DEFLATE_CODEC = "org.apache.hadoop.io.compress.DefaultCodec"
NULL_BYTES = b"\\N"  # hive text null sequence
DEFAULT_ROWS_PER_GROUP = 4096


# ---------------------------------------------------------------------------
# Hadoop primitives (WritableUtils.writeVLong, Text, SequenceFile.Metadata)
# ---------------------------------------------------------------------------

def enc_vlong(i: int) -> bytes:
    """Hadoop variable-length long (NOT zigzag): one byte for
    -112..127, else a sign+length prefix byte then big-endian bytes."""
    if -112 <= i <= 127:
        return struct.pack("b", i)
    ln = -112
    if i < 0:
        i = ~i
        ln = -120
    tmp = i
    while tmp:
        tmp >>= 8
        ln -= 1
    out = bytearray(struct.pack("b", ln))
    n_bytes = -(ln + 120) if ln < -120 else -(ln + 112)
    for idx in range(n_bytes, 0, -1):
        out.append((i >> ((idx - 1) * 8)) & 0xFF)
    return bytes(out)


def dec_vlong(buf, pos: int) -> tuple[int, int]:
    first = struct.unpack_from("b", buf, pos)[0]
    pos += 1
    if first >= -112:
        return first, pos
    negative = first < -120
    n_bytes = (-(first + 120)) if negative else (-(first + 112))
    acc = 0
    for _ in range(n_bytes):
        acc = (acc << 8) | buf[pos]
        pos += 1
    return (~acc if negative else acc), pos


def _enc_text(s: str) -> bytes:
    raw = s.encode("utf-8")
    return enc_vlong(len(raw)) + raw


def _dec_text(buf, pos: int) -> tuple[str, int]:
    n, pos = dec_vlong(buf, pos)
    return bytes(buf[pos : pos + n]).decode("utf-8"), pos + n


def _sync_marker(seed: str) -> bytes:
    # deterministic (fixture bytes reproducible); spec only requires 16
    # bytes unlikely to appear in data
    import hashlib

    return hashlib.md5(seed.encode()).digest()


# ---------------------------------------------------------------------------
# Write
# ---------------------------------------------------------------------------

def _rle_lengths(lengths: list[int]) -> bytes:
    """Hive ColumnBuffer run-length encoding of per-row cell lengths:
    emit a length once; a following ``~run`` repeats it ``run`` times."""
    out = bytearray()
    prev = -1
    run = 0
    for ln in lengths:
        if ln == prev:
            run += 1
        else:
            if prev >= 0:
                out += enc_vlong(prev)
                if run > 0:
                    out += enc_vlong(~run)
            prev = ln
            run = 0
    if prev >= 0:
        out += enc_vlong(prev)
        if run > 0:
            out += enc_vlong(~run)
    return bytes(out)


def _dec_lengths(buf: bytes, n_rows: int) -> list[int]:
    out: list[int] = []
    pos = 0
    prev = 0
    while len(out) < n_rows and pos < len(buf):
        v, pos = dec_vlong(buf, pos)
        if v < 0:
            out.extend([prev] * (~v))
        else:
            prev = v
            out.append(v)
    if len(out) != n_rows:
        raise ValueError(f"length stream decoded {len(out)} of {n_rows} rows")
    return out


def write_rcfile(
    path: str,
    rows: Iterable[tuple],
    n_cols: int,
    codec: str | None = None,
    rows_per_group: int = DEFAULT_ROWS_PER_GROUP,
) -> int:
    """Write one RCFile. ``rows`` are tuples of ``str | bytes | None``
    (None → ``\\N``). ``codec`` is None or ``"deflate"`` (zlib, the
    Hadoop DefaultCodec stream). A sync anchor precedes every row group
    so byte-range splits can align on any group; readers need none
    (Hive anchors only once per sync interval). Returns row count."""
    if codec not in (None, "deflate"):
        raise NotImplementedError(f"rcfile codec {codec!r}")
    sync = _sync_marker(f"rcfile|{n_cols}|{codec}")

    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(b"\x01" if codec else b"\x00")  # compressed boolean
        if codec:
            f.write(_enc_text(DEFLATE_CODEC))
        meta = {COLUMN_COUNT_KEY: str(n_cols)}
        f.write(struct.pack(">i", len(meta)))  # SequenceFile.Metadata
        for k, v in meta.items():
            f.write(_enc_text(k) + _enc_text(v))
        f.write(sync)

        n_total = 0
        cols: list[list[bytes]] = [[] for _ in range(n_cols)]

        def flush():
            nonlocal cols
            n_rows = len(cols[0]) if cols and cols[0] else 0
            if not n_rows:
                return
            val_bufs = []
            key = bytearray(enc_vlong(n_rows))
            for c in range(n_cols):
                plain = b"".join(cols[c])
                packed = zlib.compress(plain, 6) if codec else plain
                lens = _rle_lengths([len(x) for x in cols[c]])
                key += enc_vlong(len(packed))  # eachColumnValueLen
                key += enc_vlong(len(plain))  # ...UncompressedValueLen
                key += enc_vlong(len(lens))
                key += lens
                val_bufs.append(packed)
            key_bytes = bytes(key)
            key_packed = zlib.compress(key_bytes, 6) if codec else key_bytes
            value_len = sum(len(b) for b in val_bufs)
            f.write(SYNC_ESCAPE + sync)
            # record len (uncompressed key + value), key len, on-disk key len
            f.write(struct.pack(">iii", len(key_bytes) + value_len,
                                len(key_bytes), len(key_packed)))
            f.write(key_packed)
            for b in val_bufs:
                f.write(b)
            cols = [[] for _ in range(n_cols)]

        for row in rows:
            if len(row) != n_cols:
                raise ValueError(f"row arity {len(row)} != {n_cols}")
            for c, v in enumerate(row):
                if v is None:
                    cols[c].append(NULL_BYTES)
                elif isinstance(v, bytes):
                    cols[c].append(v)
                else:
                    cols[c].append(str(v).encode("utf-8"))
            n_total += 1
            if len(cols[0]) >= rows_per_group:
                flush()
        flush()
    return n_total


# ---------------------------------------------------------------------------
# Read
# ---------------------------------------------------------------------------

def _read_header(buf: memoryview) -> tuple[int, str | None, bytes, int]:
    """Parse header → (n_cols, codec, sync, data_start)."""
    if bytes(buf[:4]) != MAGIC:
        raise ValueError("not an RCFile (RCF version 1)")
    pos = 4
    compressed = buf[pos] != 0
    pos += 1
    codec = None
    if compressed:
        cls, pos = _dec_text(buf, pos)
        if cls != DEFLATE_CODEC:
            raise NotImplementedError(f"rcfile codec {cls!r}")
        codec = "deflate"
    (n_meta,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    meta: dict[str, str] = {}
    for _ in range(n_meta):
        k, pos = _dec_text(buf, pos)
        v, pos = _dec_text(buf, pos)
        meta[k] = v
    n_cols = int(meta[COLUMN_COUNT_KEY])
    sync = bytes(buf[pos : pos + 16])
    return n_cols, codec, sync, pos + 16


def header_info(path: str) -> tuple[int, str | None, bytes, int, int]:
    """Read ONLY the header: (n_cols, codec, sync, data_start, size)."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        head = f.read(min(size, 1 << 16))
    n_cols, codec, sync, data_start = _read_header(memoryview(head))
    return n_cols, codec, sync, data_start, size


def _decode_group(
    buf, pos: int, n_cols: int, codec: str | None, project: list[int] | None
) -> tuple[list[list[bytes | None]], int]:
    """Decode one row group starting at its record-length int. Returns
    (columns-as-cell-lists for projected columns, position past group).
    Un-projected columns are skipped without decompression."""
    rec_len, key_len, key_disk_len = struct.unpack_from(">iii", buf, pos)
    pos += 12
    key = bytes(buf[pos : pos + key_disk_len])
    if codec:
        key = zlib.decompress(key)
    pos += key_disk_len

    kp = 0
    n_rows, kp = dec_vlong(key, kp)
    col_disk: list[int] = []
    col_lens: list[list[int]] = []
    for _ in range(n_cols):
        disk_len, kp = dec_vlong(key, kp)
        _plain_len, kp = dec_vlong(key, kp)
        lens_len, kp = dec_vlong(key, kp)
        col_disk.append(disk_len)
        col_lens.append(_dec_lengths(key[kp : kp + lens_len], n_rows))
        kp += lens_len

    wanted = set(range(n_cols)) if project is None else set(project)
    out: list[list[bytes | None]] = []
    for c in range(n_cols):
        if c not in wanted:
            pos += col_disk[c]  # skip: no decompress, no slicing
            continue
        blob = bytes(buf[pos : pos + col_disk[c]])
        pos += col_disk[c]
        if codec:
            blob = zlib.decompress(blob)
        cells: list[bytes | None] = []
        off = 0
        for ln in col_lens[c]:
            raw = blob[off : off + ln]
            off += ln
            cells.append(None if raw == NULL_BYTES else raw)
        out.append(cells)
    return out, pos


def iter_rcfile(path: str, columns: list[int] | None = None) -> Iterator[tuple]:
    """Decode a whole RCFile into row tuples of ``str | None``
    (projected to ``columns`` when given): :func:`iter_rcfile_range`
    over the file's whole data region."""
    n_cols, codec, sync, data_start, size = header_info(path)
    return iter_rcfile_range(
        path, data_start, size, data_start, sync, n_cols, codec, columns
    )


def iter_rcfile_range(
    path: str,
    start: int,
    end: int,
    data_start: int,
    sync: bytes,
    n_cols: int,
    codec: str | None,
    columns: list[int] | None = None,
) -> Iterator[tuple]:
    """Hadoop ``RCFileRecordReader`` over the split ``[start, end)``: a
    row group belongs to the split that holds the last sync anchor
    (``-1`` escape + sync marker) before it, and the groups before the
    first anchor belong to the split that holds ``data_start``. The
    split starts at ``data_start`` or at its first anchor, walks the
    groups one after another by their on-disk sizes, and stops at the
    first anchor at or past ``end``, so it reads past ``end`` only to
    finish the groups it owns. Any anchor layout reads back whole: this
    module's writer anchors every group, Hive's one per sync interval."""
    anchor = SYNC_ESCAPE + sync
    with open(path, "rb") as f, mmap.mmap(
        f.fileno(), 0, access=mmap.ACCESS_READ
    ) as buf:
        size = len(buf)
        if start <= data_start:
            pos = data_start
        else:
            pos = buf.find(anchor, start, end + len(anchor) - 1)
            if pos == -1:
                return  # no anchor in the split: it owns no group
        while pos < size:
            if buf[pos : pos + 4] == SYNC_ESCAPE:
                if buf[pos + 4 : pos + 20] != sync:
                    raise ValueError(f"{path}: sync marker mismatch at byte {pos}")
                if pos >= end:
                    return
                pos += 20
            if pos + 12 > size:
                raise ValueError(f"{path}: truncated row group at byte {pos}")
            # record length counts the uncompressed key; on disk the key
            # takes key_disk_len bytes and the values the rest
            rec_len, key_len, key_disk_len = struct.unpack_from(">iii", buf, pos)
            group_end = pos + 12 + key_disk_len + rec_len - key_len
            if not pos + 12 + key_disk_len <= group_end <= size:
                raise ValueError(f"{path}: truncated row group at byte {pos}")
            cols, _ = _decode_group(buf, pos, n_cols, codec, columns)
            for row in zip(*cols):
                yield tuple(None if c is None else c.decode("utf-8") for c in row)
            pos = group_end


def scan_splits(
    spark,
    path: str,
    names: list[str],
    split_size: int | None = None,
    columns: list[str] | None = None,
):
    """The RCFile scan operator (op 4, `BulkImporterFromRC.java:94-95`):
    byte-range splits planned from per-file headers
    (`sources.split_planning.byte_split_frame`), Arrow-batched
    ``mapInPandas`` row-group decode. ``columns`` prunes decode to a
    projection — skipped columns are never decompressed (the columnar
    property; Hive reads `hive.io.file.readcolumn.ids` the same way).
    All string-typed, matching `BytesRefArrayWritable` byte-slice
    semantics (`BulkImporterFromRC.java:45,61-63`)."""
    import glob as _glob

    import pandas as pd

    from hbase_bulkload_spark.sources.split_planning import byte_split_frame

    files = sorted(_glob.glob(os.path.join(path, "*.rc")))
    if not files:
        raise FileNotFoundError(f"no .rc files under {path}")

    out_names = names if columns is None else [c for c in names if c in columns]
    proj = None if columns is None else [names.index(c) for c in out_names]

    headers = []
    for p in files:
        n_cols, codec, sync, data_start, fsize = header_info(p)
        if n_cols != len(names):
            raise ValueError(f"{p}: {n_cols} columns, {len(names)} names")
        headers.append((p, sync, data_start, fsize, codec or ""))
    sdf = byte_split_frame(spark, headers, split_size)

    def decode(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                rows = list(
                    iter_rcfile_range(
                        r.path, r.start, r.end, r.data_start,
                        bytes.fromhex(r.sync), len(names), r.codec or None,
                        proj,
                    )
                )
                yield pd.DataFrame(rows, columns=out_names, dtype=object)

    out_schema = ", ".join(f"{n} string" for n in out_names)
    return sdf.mapInPandas(decode, out_schema)


def write_partitioned(
    df, path: str, codec: str | None = None
) -> int:
    """Materialize a DataFrame (all-string columns) as one RCFile per
    partition, written by the executors in parallel."""
    os.makedirs(path, exist_ok=True)
    n_cols = len(df.columns)

    def write_part(idx: int, rows) -> Iterator[int]:
        part = os.path.join(path, f"part-{idx:05d}.rc")
        yield write_rcfile(part, (tuple(r) for r in rows), n_cols, codec)

    total = df.rdd.mapPartitionsWithIndex(write_part).sum()
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass
    return total
