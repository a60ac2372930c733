"""HFile v3 writer/reader (SURVEY.md §2.1 ops 7+9) — the reference's
actual sink format, in pure Python.

The reference's terminal artifact is a directory of HFiles written by
`HFileOutputFormat2` (`BulkImporterFromText.java:108-111`) and handed to
`LoadIncrementalHFiles.doBulkLoad` (`BulkImporterFromText.java:129-130`).
No HBase jar or cluster exists in this container, so — exactly as
``sources.rcfile`` and ``sources.avro_ocf`` do for the input formats —
this module implements the published HFile version-3 layout (HBase book
appendix E "HFile format"; classes `HFileBlock`, `FixedFileTrailer`,
`HFileBlockIndex`, `HFileInfo` of `org.apache.hadoop.hbase.io.hfile`)
directly:

- **blocks**: 33-byte header (8-byte magic e.g. ``DATABLK*``,
  onDiskSizeWithoutHeader, uncompressedSizeWithoutHeader,
  prevBlockOffset of the previous same-type block, checksum type,
  bytesPerChecksum, onDiskDataSizeWithHeader) + per-block-compressed
  payload + CRC32 checksums computed over header+payload in
  ``bytesPerChecksum`` chunks (`HFileBlock` minor version 3);
- **cells**: the KeyValue wire format — int key length, int value
  length, key = (short row length, row, byte family length, family,
  qualifier, long timestamp, byte type=Put), then the value bytes;
- **data index**: a block-index TREE of (long offset, int
  on-disk-size-with-header, vint-prefixed first key) entries — one
  root block (``IDXROOT2``) for small files, growing bottom-up through
  leaf (``IDXLEAF2``) and intermediate (``IDXINTE2``) levels once a
  level exceeds ``INDEX_CHUNK_ENTRIES``, with the depth recorded in
  the trailer (`HFileBlockIndex`); point gets walk one block per level,
  scans/splits read depth−1 index levels. (Simplification vs HBase:
  non-root blocks reuse the root entry encoding rather than HBase's
  secondary-offset layout — documented, byte-self-consistent);
- **row bloom**: a ``BLMFBLK2`` chunk (BloomType.ROW — 10 bits/row,
  7 double hashes over the row's md5 halves, ~1% false positives);
  point gets consult it first so an absent row costs one small block
  read. Location/shape ride in file-info keys (simplification vs
  HBase's GENERAL_BLOOM_META + meta index — same data, one fewer
  indirection, noted at the key definitions);
- **file info**: ``FILEINF2`` block holding ``PBUF`` + a
  varint-delimited protobuf map (``FileInfoProto`` of
  ``HFile.proto``) with ``hfile.LASTKEY`` / ``hfile.AVG_KEY_LEN`` /
  ``hfile.AVG_VALUE_LEN`` — the protobuf wire encoding is hand-rolled
  (varint + length-delimited fields, nothing else is needed);
- **trailer**: 4096-byte fixed trailer — ``TRABLK"$`` magic, a
  varint-delimited ``FileTrailerProto`` (file-info / load-on-open
  offsets, data-index count+size, entry count, index depth,
  first/last data block offsets, comparator, compression ordinal),
  zero padding, and the version int ``major | minor << 24`` as the
  file's final 4 bytes (`FixedFileTrailer`, v3 trailer size 4 KiB);
- **compression**: per-block, through the Hadoop *block stream*
  framing (int uncompressed length, then int-length-prefixed codec
  chunks): ``snappy`` (raw snappy via pyarrow — the codec the
  reference configures, `BulkImporterFromText.java:110-111`), ``gz``
  (zlib/gzip), or none. Ordinals follow
  ``Compression.Algorithm``: GZ=1, NONE=2, SNAPPY=3.

Byte-level fidelity is verified by round-trip (writer↔reader never
share state: the reader re-derives everything from the bytes) and by
checksum/corruption tests; with no HBase in the container, a live
`hbase hfile -p` cross-check is the one validation this repo cannot
run, and docstrings say so rather than claim it.

Scale posture: one HFile per region bucket is written *by the
executors* (`operators.hfile_load.write_region_hfiles`), and scans plan
**block-range splits from the root index** (a few KB read per file on
the driver) so read parallelism tracks bytes, not file count — the same
split discipline as the RCFile/Avro scans.

Measured single-core codec throughput (round 5, 200k bulkload-shaped
cells — 32-byte hex rowkeys, 8 cells/row, short qualifiers/values;
logical = uncompressed cell bytes, warm min-of-5): snappy encode
112 MB/s (1.4M cells/s) with the Arrow-assembled ``add_many_arrow``
(round 4's Python-bytes assembly measured 55 MB/s on the same shape),
decode ~50 MB/s. At 32 cores ≈ 3.6 GB/s/node encode; what remains of
`q_bulkload_hfile`'s cost is the decode side of its scan-back plus
snappy+CRC32. A JVM/Rust codec is the upgrade path if a deployment
needs multi-GB/s per node; the wire format and split planning stay
as-is.
"""

from __future__ import annotations

import hashlib
import math
import os
import struct
import zlib
from bisect import bisect_left, bisect_right
from collections.abc import Iterable, Iterator

from hbase_bulkload_spark.sources.rcfile import dec_vlong, enc_vlong

# block magics — BlockType of org.apache.hadoop.hbase.io.hfile
DATA_MAGIC = b"DATABLK*"
ROOT_INDEX_MAGIC = b"IDXROOT2"
LEAF_INDEX_MAGIC = b"IDXLEAF2"
INTERMEDIATE_INDEX_MAGIC = b"IDXINTE2"
FILE_INFO_MAGIC = b"FILEINF2"
TRAILER_MAGIC = b'TRABLK"$'

#: Max entries per index block before the data index grows another
#: level (HFileBlockIndex splits on hfile.index.block.max.size — 128 KiB
#: of encoded entries; 128 entries of our ~140 B encoding keeps index
#: blocks a few KiB while exercising the same growth path).
INDEX_CHUNK_ENTRIES = 128

PB_MAGIC = b"PBUF"  # ProtobufMagic.PB_MAGIC
COMPARATOR = b"org.apache.hadoop.hbase.CellComparator"
TRAILER_SIZE = 4096  # FixedFileTrailer size for major version 3
MAJOR_VERSION = 3
MINOR_VERSION = 3  # minor >= 1 → checksummed block headers
HEADER_SIZE = 33
BYTES_PER_CHECKSUM = 16384
CHECKSUM_CRC32 = 1  # ChecksumType.CRC32C=2; CRC32 is zlib-computable
KEYTYPE_PUT = 4
DEFAULT_BLOCK_SIZE = 65536  # HColumnDescriptor.DEFAULT_BLOCKSIZE

# Compression.Algorithm ordinals
COMPRESSION_ORDINAL = {"gz": 1, None: 2, "snappy": 3}
ORDINAL_COMPRESSION = {v: k for k, v in COMPRESSION_ORDINAL.items()}

#: The codec of every HFile the package writes for a table: the
#: reference's families are SNAPPY (`create_table.rb:1`) and its
#: writer compresses with it (`BulkImporterFromText.java:110-111`).
#: Readers take each file's codec from its trailer.
TABLE_CODEC = "snappy"

FILEINFO_LASTKEY = b"hfile.LASTKEY"
FILEINFO_AVG_KEY_LEN = b"hfile.AVG_KEY_LEN"
FILEINFO_AVG_VALUE_LEN = b"hfile.AVG_VALUE_LEN"
# row-bloom metadata (BloomType.ROW). Simplification vs HBase: the
# bloom chunk's location/shape ride in file-info keys instead of a
# dedicated GENERAL_BLOOM_META block + meta index — same information,
# one fewer indirection, documented here so a reader knows the
# deviation. Absent keys = file written without a bloom.
FILEINFO_BLOOM_OFFSET = b"hfile.BLOOM_OFFSET"
FILEINFO_BLOOM_NBITS = b"hfile.BLOOM_NBITS"
FILEINFO_BLOOM_NHASH = b"hfile.BLOOM_NHASH"
BLOOM_CHUNK_MAGIC = b"BLMFBLK2"  # BlockType.BLOOM_CHUNK
BLOOM_BITS_PER_KEY = 10  # ~1% false-positive rate
BLOOM_NHASH = 7  # round(ln2 * bits_per_key)


# ---------------------------------------------------------------------------
# Protobuf wire primitives (hand-rolled: varints + length-delimited only)
# ---------------------------------------------------------------------------

def pb_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def pb_read_varint(buf, pos: int) -> tuple[int, int]:
    acc = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc, pos
        shift += 7


def pb_uint(field: int, v: int) -> bytes:
    return pb_varint(field << 3) + pb_varint(v)


def pb_bytes(field: int, b: bytes) -> bytes:
    return pb_varint(field << 3 | 2) + pb_varint(len(b)) + b


def pb_parse(buf: bytes) -> dict[int, list]:
    """Parse a message into {field: [values]} — varint fields come back
    as ints, length-delimited as bytes. That is the whole subset
    FileTrailerProto / FileInfoProto / BytesBytesPair use."""
    out: dict[int, list] = {}
    pos = 0
    while pos < len(buf):
        tag, pos = pb_read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, pos = pb_read_varint(buf, pos)
        elif wire == 2:
            n, pos = pb_read_varint(buf, pos)
            v = bytes(buf[pos : pos + n])
            pos += n
        else:  # pragma: no cover - the three messages use wires 0 and 2
            raise ValueError(f"unsupported protobuf wire type {wire}")
        out.setdefault(field, []).append(v)
    return out


# ---------------------------------------------------------------------------
# Hadoop block-compression stream framing
# ---------------------------------------------------------------------------

def _compress_stream(plain: bytes, codec: str) -> bytes:
    """Hadoop BlockCompressorStream: int uncompressed length, then one or
    more int-length-prefixed codec chunks (we emit one)."""
    if codec == "gz":
        comp = zlib.compress(plain, 6)
    elif codec == "snappy":
        import pyarrow as pa

        comp = pa.Codec("snappy").compress(plain, asbytes=True)
    else:  # pragma: no cover
        raise NotImplementedError(f"hfile codec {codec!r}")
    return struct.pack(">i", len(plain)) + struct.pack(">i", len(comp)) + comp


def _decompress_stream(data: bytes, codec: str) -> bytes:
    out = bytearray()
    pos = 0
    while pos < len(data):
        (ulen,) = struct.unpack_from(">i", data, pos)
        pos += 4
        got = 0
        while got < ulen:
            (clen,) = struct.unpack_from(">i", data, pos)
            pos += 4
            chunk = data[pos : pos + clen]
            pos += clen
            if codec == "gz":
                plain = zlib.decompress(chunk)
            else:
                import pyarrow as pa

                plain = pa.Codec("snappy").decompress(
                    chunk, ulen - got, asbytes=True
                )
            out += plain
            got += len(plain)
    return bytes(out)


# ---------------------------------------------------------------------------
# Cells
# ---------------------------------------------------------------------------

def encode_key(row: bytes, fam: bytes, qual: bytes, ts: int) -> bytes:
    """KeyValue key: short row len, row, byte family len, family,
    qualifier, long timestamp, byte key type (Put)."""
    return b"".join(
        (
            struct.pack(">H", len(row)),
            row,
            struct.pack("B", len(fam)),
            fam,
            qual,
            struct.pack(">q", ts),
            struct.pack("B", KEYTYPE_PUT),
        )
    )


def decode_key(key: bytes) -> tuple[bytes, bytes, bytes, int]:
    (rl,) = struct.unpack_from(">H", key, 0)
    row = key[2 : 2 + rl]
    fl = key[2 + rl]
    fam = key[3 + rl : 3 + rl + fl]
    qual = key[3 + rl + fl : -9]
    (ts,) = struct.unpack_from(">q", key, len(key) - 9)
    return row, fam, qual, ts


def _decode_cells(plain: bytes) -> Iterator[tuple[bytes, bytes, bytes, int, bytes]]:
    pos = 0
    end = len(plain)
    unpack_ii = struct.Struct(">ii").unpack_from
    while pos < end:
        klen, vlen = unpack_ii(plain, pos)
        pos += 8
        key = plain[pos : pos + klen]
        value = plain[pos + klen : pos + klen + vlen]
        pos += klen + vlen
        row, fam, qual, ts = decode_key(key)
        yield row, fam, qual, ts, value


# ---------------------------------------------------------------------------
# Writer
# ---------------------------------------------------------------------------

_PACK_H = struct.Struct(">H").pack
_PACK_QB = struct.Struct(">qB").pack
_UNPACK_II = struct.Struct(">ii").unpack_from
_UNPACK_Q = struct.Struct(">q").unpack_from


def _enc_index_entries(entries: list[tuple[int, int, bytes]]) -> bytes:
    """Index-block payload: (long offset, int on-disk size, vint-len
    first key) per child — the same encoding at every tree level."""
    return b"".join(
        struct.pack(">q", off) + struct.pack(">i", size) + enc_vlong(len(key)) + key
        for off, size, key in entries
    )


class HFileWriter:
    """Streaming single-file writer. ``add`` must be called in cell order
    (rowkey, qualifier) — the bulk-load contract the PutSortReducer
    establishes upstream (`BulkImporterFromText.java:108`). Blocks roll
    at row boundaries once past ``block_size`` so a row never straddles
    blocks (HBase rolls at cell boundaries and permits straddling, which
    the readers handle; rolling on the row boundary keeps a point get to
    one data block without changing the format)."""

    def __init__(
        self,
        path: str,
        compression: str | None = TABLE_CODEC,
        block_size: int = DEFAULT_BLOCK_SIZE,
        index_chunk: int = INDEX_CHUNK_ENTRIES,
        bloom: bool = True,
    ):
        if compression not in COMPRESSION_ORDINAL:
            raise NotImplementedError(f"hfile codec {compression!r}")
        self.path = path
        self.compression = compression
        self.block_size = block_size
        self.index_chunk = index_chunk
        self.bloom = bloom
        self._bloom_hashes: list[bytes] = []  # md5 digest per distinct row
        self._f = open(path, "wb")
        self._cells: list[bytes] = []
        self._cells_len = 0
        self._first_key: bytes | None = None
        self._last_row: bytes | None = None
        self._index: list[tuple[int, int, bytes]] = []  # offset, size, first key
        self._prev_offset: dict[bytes, int] = {}
        self.entry_count = 0
        self.total_uncompressed = 0
        self._key_len_sum = 0
        self._value_len_sum = 0
        self.last_key: bytes | None = None
        self.first_row: bytes | None = None
        self.last_row: bytes | None = None

    def _write_block(self, magic: bytes, plain: bytes) -> tuple[int, int]:
        """Emit one checksummed block; returns (offset, on-disk size)."""
        offset = self._f.tell()
        payload = (
            _compress_stream(plain, self.compression)
            if self.compression
            else plain
        )
        n_chunks = math.ceil((HEADER_SIZE + len(payload)) / BYTES_PER_CHECKSUM)
        header = b"".join(
            (
                magic,
                struct.pack(">i", len(payload) + 4 * n_chunks),
                struct.pack(">i", len(plain)),
                struct.pack(">q", self._prev_offset.get(magic, -1)),
                struct.pack("B", CHECKSUM_CRC32),
                struct.pack(">i", BYTES_PER_CHECKSUM),
                struct.pack(">i", HEADER_SIZE + len(payload)),
            )
        )
        block = header + payload
        sums = b"".join(
            struct.pack(">I", zlib.crc32(block[i : i + BYTES_PER_CHECKSUM]))
            for i in range(0, len(block), BYTES_PER_CHECKSUM)
        )
        self._f.write(block + sums)
        self._prev_offset[magic] = offset
        self.total_uncompressed += HEADER_SIZE + len(plain)
        return offset, len(block) + len(sums)

    def _flush_data(self) -> None:
        if not self._cells:
            return
        offset, size = self._write_block(DATA_MAGIC, b"".join(self._cells))
        self._index.append((offset, size, self._first_key))
        self._cells = []
        self._cells_len = 0
        self._first_key = None

    def add(self, row: bytes, fam: bytes, qual: bytes, ts: int, value: bytes) -> None:
        if self._cells_len >= self.block_size and row != self._last_row:
            self._flush_data()
        if self.bloom and row != self._last_row:  # rows sorted: one hash per row
            self._bloom_hashes.append(hashlib.md5(row).digest())
        key = encode_key(row, fam, qual, ts)
        cell = struct.pack(">ii", len(key), len(value)) + key + value
        if self._first_key is None:
            self._first_key = key
        if self.first_row is None:
            self.first_row = row
        self._cells.append(cell)
        self._cells_len += len(cell)
        self._last_row = row
        self.last_row = row
        self.last_key = key
        self.entry_count += 1
        self._key_len_sum += len(key)
        self._value_len_sum += len(value)

    def add_many_arrow(
        self,
        ra,
        fa,
        qa,
        ts: int,
        va,
    ) -> None:
        """The batch ``add``: one cell per position of the ``pa.Array``
        inputs (binary or string — strings are cast once, the UTF-8
        encode the scalar path pays per value), all stamped ``ts``. This
        is the zero-conversion entry point for ``mapInArrow`` executors:
        Spark's Arrow batch columns feed straight in, so no per-cell
        Python bytes objects are EVER created on the write path
        (measured ~2 s of a ~4.7 s write wall at sf0.1 was mapInPandas'
        object-array materialization). Byte-identical to the scalar
        ``add`` loop (pinned by tests/test_hfile.py).

        The cell stream is concatenated in C by Arrow's
        ``binary_join_element_wise`` — fixed-width header fields
        (key/value lengths, row length, family length) become
        FixedSizeBinary arrays built from big-endian numpy views, the
        timestamp+type tail is one scalar, variable fields stay as
        binary arrays. Block boundaries
        replicate the scalar path's roll rule exactly (flush before
        cell i iff buffered bytes >= block_size AND row(i) != row(i-1))
        via two ``searchsorted`` probes per block over the Arrow offsets
        vector; bloom hashes are computed only at row-change positions.
        ~3x the scalar assembly throughput (90 -> ~260 MB/s
        single-thread on the bench cell shape), leaving snappy+CRC32 as
        the next ceiling."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def as_binary(arr):
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
                arr = pc.cast(arr, pa.binary())
            elif pa.types.is_large_binary(arr.type):
                arr = pc.cast(arr, pa.binary())
            return arr

        ra, fa, qa, va = as_binary(ra), as_binary(fa), as_binary(qa), as_binary(va)
        n = len(ra)
        if n == 0:
            return

        def _nbytes(arr: pa.Array) -> int:
            # exact payload bytes of a (possibly sliced) binary array
            o = np.frombuffer(arr.buffers()[1], np.int32)
            return int(o[arr.offset + len(arr)]) - int(o[arr.offset])

        est_bytes = _nbytes(ra) + _nbytes(fa) + _nbytes(qa) + _nbytes(va) + 25 * n
        if n > 4_000_000 or (est_bytes > 1 << 30 and n > 1):
            mid = n // 2
            self.add_many_arrow(
                ra.slice(0, mid), fa.slice(0, mid), qa.slice(0, mid), ts,
                va.slice(0, mid),
            )
            self.add_many_arrow(
                ra.slice(mid), fa.slice(mid), qa.slice(mid), ts, va.slice(mid)
            )
            return
        lr = pc.binary_length(ra).cast(pa.int64()).to_numpy()
        lf = pc.binary_length(fa).cast(pa.int64()).to_numpy()
        lq = pc.binary_length(qa).cast(pa.int64()).to_numpy()
        lv = pc.binary_length(va).cast(pa.int64()).to_numpy()
        klen = 12 + lr + lf + lq  # 2+row+1+fam+qual+8(ts)+1(type)
        # wire-format field-width guards, matching the scalar path's
        # struct.pack('>H') / bytes((len,)) OverflowError on the same
        # input — without them the >u2 / uint8 casts below would WRAP
        # and silently emit a corrupt file
        if n and int(lr.max()) > 0xFFFF:
            raise ValueError(
                f"rowkey length {int(lr.max())} exceeds the 2-byte wire field"
            )
        if n and int(lf.max()) > 0xFF:
            raise ValueError(
                f"family length {int(lf.max())} exceeds the 1-byte wire field"
            )

        def fsb(two_d: "np.ndarray") -> pa.Array:
            width = two_d.shape[1] * two_d.dtype.itemsize
            buf = pa.py_buffer(np.ascontiguousarray(two_d).tobytes())
            return pa.Array.from_buffers(pa.binary(width), n, [None, buf]).cast(pa.binary())

        hdr = np.empty((n, 2), dtype=">i4")
        hdr[:, 0] = klen
        hdr[:, 1] = lv
        cells = pc.binary_join_element_wise(
            fsb(hdr),
            fsb(lr.astype(">u2").reshape(-1, 1)),
            ra,
            fsb(lf.astype(np.uint8).reshape(-1, 1)),
            fa,
            qa,
            pa.scalar(_PACK_QB(ts, KEYTYPE_PUT), pa.binary()),
            va,
            pa.scalar(b"", pa.binary()),  # separator
        )
        if isinstance(cells, pa.ChunkedArray):
            cells = cells.combine_chunks()
        data = memoryview(cells.buffers()[2])
        base = cells.offset  # 0 for freshly-built arrays, but be exact
        offs = np.frombuffer(cells.buffers()[1], np.int32)[base : base + n + 1].astype(np.int64)

        def key_at(i: int) -> bytes:
            ks = int(offs[i]) + 8
            return bytes(data[ks : ks + int(klen[i])])

        # row-change flags relative to the running stream (C-level compare)
        chg = np.empty(n, bool)
        chg[0] = ra[0].as_py() != self._last_row
        if n > 1:
            chg[1:] = pc.not_equal(ra.slice(1), ra.slice(0, n - 1)).to_numpy(
                zero_copy_only=False
            )
        change_idx = np.flatnonzero(chg)
        if self.bloom:
            md5, bloom = hashlib.md5, self._bloom_hashes
            # one take() materializes ONLY the distinct-row prefix bytes
            for r in ra.take(pa.array(change_idx)):
                bloom.append(md5(r.as_py()).digest())

        # block boundaries: a[i] = buffered bytes before cell i
        a = self._cells_len + offs[:n]
        block_size = self.block_size
        bounds: list[int] = []
        s = 0  # stream offset of current block start
        while True:
            j = int(np.searchsorted(a, s + block_size, side="left"))
            k = int(np.searchsorted(change_idx, j, side="left"))
            if k >= change_idx.size:
                break
            i = int(change_idx[k])
            bounds.append(i)
            s = int(a[i])

        prev = 0
        for b_i in bounds:
            head = b"".join(self._cells) if prev == 0 else b""
            plain = head + bytes(data[int(offs[prev]) : int(offs[b_i])])
            fk = self._first_key if (prev == 0 and self._first_key is not None) else key_at(prev)
            off, size = self._write_block(DATA_MAGIC, plain)
            self._index.append((off, size, fk))
            if prev == 0:
                self._cells, self._cells_len, self._first_key = [], 0, None
            prev = b_i
        tail = bytes(data[int(offs[prev]) : int(offs[n])])
        self._cells.append(tail)
        self._cells_len += len(tail)
        if self._first_key is None:
            self._first_key = key_at(prev)
        last_row = ra[n - 1].as_py()
        self._last_row = last_row

        if self.first_row is None:
            self.first_row = ra[0].as_py()
        self.last_row = last_row
        self.last_key = key_at(n - 1)
        self.entry_count += n
        self._key_len_sum += int(klen.sum())
        self._value_len_sum += int(lv.sum())

    def close(self) -> dict:
        self._flush_data()
        if not self._index:
            raise ValueError("refusing to write an empty HFile")
        first_data_offset = self._index[0][0]
        last_data_offset = self._index[-1][0]

        # load-on-open section: the data index (grown bottom-up — leaf
        # blocks, then intermediate levels, until one root block holds
        # the remainder; a small file stays single-level), then file
        # info. Each index block carries the same (offset, size,
        # vint-len first-key) entry encoding; non-root blocks are parsed
        # to exhaustion, the root by the trailer's entry count.
        # row bloom chunk (BloomType.ROW): m = 10 bits/row, k = 7 double
        # hashes from the row's md5 halves — ~1% false positives. Bit
        # sets are vectorized (numpy bitwise_or.at over all k probes).
        bloom_info: list[tuple[bytes, bytes]] = []
        if self.bloom and self._bloom_hashes:
            import numpy as np

            d = np.frombuffer(b"".join(self._bloom_hashes), dtype=">u8")
            d = d.reshape(-1, 2).astype(np.uint64)
            m = ((max(64, len(self._bloom_hashes) * BLOOM_BITS_PER_KEY) + 7) // 8) * 8
            ks = np.arange(BLOOM_NHASH, dtype=np.uint64)
            g = (d[:, :1] + ks[None, :] * d[:, 1:2]) % np.uint64(m)
            bits = np.zeros(m // 8, dtype=np.uint8)
            np.bitwise_or.at(
                bits, (g >> np.uint64(3)).ravel(),
                (np.uint64(1) << (g & np.uint64(7))).ravel().astype(np.uint8),
            )
            bloom_offset, _ = self._write_block(BLOOM_CHUNK_MAGIC, bits.tobytes())
            bloom_info = [
                (FILEINFO_BLOOM_OFFSET, struct.pack(">q", bloom_offset)),
                (FILEINFO_BLOOM_NBITS, struct.pack(">i", m)),
                (FILEINFO_BLOOM_NHASH, struct.pack(">i", BLOOM_NHASH)),
            ]

        entries = self._index
        levels = 1
        while len(entries) > self.index_chunk:
            magic = LEAF_INDEX_MAGIC if levels == 1 else INTERMEDIATE_INDEX_MAGIC
            parents = []
            for i in range(0, len(entries), self.index_chunk):
                chunk = entries[i : i + self.index_chunk]
                off, size = self._write_block(magic, _enc_index_entries(chunk))
                parents.append((off, size, chunk[0][2]))
            entries = parents
            levels += 1
        index_plain = _enc_index_entries(entries)
        load_on_open_offset, _ = self._write_block(ROOT_INDEX_MAGIC, index_plain)

        n = self.entry_count
        info_entries = [
            (FILEINFO_AVG_KEY_LEN, struct.pack(">i", self._key_len_sum // n)),
            (FILEINFO_AVG_VALUE_LEN, struct.pack(">i", self._value_len_sum // n)),
            (FILEINFO_LASTKEY, self.last_key),
            *bloom_info,
        ]
        info_pb = b"".join(
            pb_bytes(1, pb_bytes(1, k) + pb_bytes(2, v)) for k, v in info_entries
        )
        file_info_offset, _ = self._write_block(
            FILE_INFO_MAGIC, PB_MAGIC + pb_varint(len(info_pb)) + info_pb
        )

        trailer_pb = b"".join(
            (
                pb_uint(1, file_info_offset),
                pb_uint(2, load_on_open_offset),
                pb_uint(3, len(index_plain)),
                pb_uint(4, self.total_uncompressed),
                pb_uint(5, len(entries)),  # ROOT-level entry count
                pb_uint(6, 0),  # meta index count
                pb_uint(7, self.entry_count),
                pb_uint(8, levels),  # data index depth
                pb_uint(9, first_data_offset),
                pb_uint(10, last_data_offset),
                pb_bytes(11, COMPARATOR),
                pb_uint(12, COMPRESSION_ORDINAL[self.compression]),
            )
        )
        trailer = TRAILER_MAGIC + pb_varint(len(trailer_pb)) + trailer_pb
        pad = TRAILER_SIZE - len(trailer) - 4
        trailer += b"\x00" * pad + struct.pack(
            ">i", MAJOR_VERSION | MINOR_VERSION << 24
        )
        self._f.write(trailer)
        self._f.close()
        return {
            "path": self.path,
            "entry_count": self.entry_count,
            "n_blocks": len(self._index),
            "first_row": self.first_row,
            "last_row": self.last_row,
        }


def write_hfile(
    path: str,
    cells: Iterable[tuple[bytes, bytes, bytes, int, bytes]],
    compression: str | None = TABLE_CODEC,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> dict:
    w = HFileWriter(path, compression, block_size)
    for row, fam, qual, ts, value in cells:
        w.add(row, fam, qual, ts, value)
    return w.close()


# ---------------------------------------------------------------------------
# Reader
# ---------------------------------------------------------------------------

class Trailer:
    __slots__ = (
        "file_info_offset",
        "load_on_open_offset",
        "data_index_count",
        "index_levels",
        "entry_count",
        "first_data_offset",
        "last_data_offset",
        "compression",
        "major",
        "minor",
    )


def read_trailer(f) -> Trailer:
    f.seek(0, os.SEEK_END)
    size = f.tell()
    if size < TRAILER_SIZE:
        raise ValueError("file shorter than an HFile trailer")
    f.seek(size - TRAILER_SIZE)
    raw = f.read(TRAILER_SIZE)
    (version,) = struct.unpack_from(">i", raw, TRAILER_SIZE - 4)
    major, minor = version & 0x00FFFFFF, version >> 24
    if major != MAJOR_VERSION:
        raise ValueError(f"unsupported HFile major version {major}")
    if raw[:8] != TRAILER_MAGIC:
        raise ValueError("bad trailer magic")
    n, pos = pb_read_varint(raw, 8)
    fields = pb_parse(raw[pos : pos + n])
    t = Trailer()
    t.file_info_offset = fields[1][0]
    t.load_on_open_offset = fields[2][0]
    t.data_index_count = fields[5][0]
    t.entry_count = fields[7][0]
    t.index_levels = fields[8][0]
    t.first_data_offset = fields[9][0]
    t.last_data_offset = fields[10][0]
    t.compression = ORDINAL_COMPRESSION[fields[12][0]]
    t.major, t.minor = major, minor
    return t


def _read_block(
    f, offset: int, codec: str | None, expect_magic: bytes | None = None
) -> bytes:
    """Read + verify one block at ``offset``; returns decompressed payload."""
    f.seek(offset)
    header = f.read(HEADER_SIZE)
    magic = header[:8]
    if expect_magic is not None and magic != expect_magic:
        raise ValueError(f"expected {expect_magic!r} block, found {magic!r}")
    on_disk_without_header, plain_len = struct.unpack_from(">ii", header, 8)
    (on_disk_data_with_header,) = struct.unpack_from(">i", header, 29)
    payload_len = on_disk_data_with_header - HEADER_SIZE
    body = f.read(on_disk_without_header)
    payload, sums = body[:payload_len], body[payload_len:]
    block = header + payload
    for i, off in enumerate(range(0, len(block), BYTES_PER_CHECKSUM)):
        (want,) = struct.unpack_from(">I", sums, 4 * i)
        if zlib.crc32(block[off : off + BYTES_PER_CHECKSUM]) != want:
            raise ValueError(f"checksum mismatch in block at offset {offset}")
    plain = _decompress_stream(payload, codec) if codec else payload
    if len(plain) != plain_len:
        raise ValueError("uncompressed size mismatch")
    return plain


def _parse_index_entries(
    plain: bytes, count: int | None = None
) -> list[tuple[int, int, bytes]]:
    """Decode index entries from a block payload; ``count`` bounds the
    root block (trailer-known), non-root blocks parse to exhaustion."""
    entries = []
    pos = 0
    while (pos < len(plain)) if count is None else (len(entries) < count):
        off, size = struct.unpack_from(">qi", plain, pos)
        pos += 12
        klen, pos = dec_vlong(plain, pos)
        entries.append((off, size, plain[pos : pos + klen]))
        pos += klen
    return entries


def read_root_index(f, trailer: Trailer) -> list[tuple[int, int, bytes]]:
    """Root data index entries: (offset, on-disk size, first key) —
    children are data blocks at depth 1, index blocks below otherwise."""
    plain = _read_block(
        f, trailer.load_on_open_offset, trailer.compression, ROOT_INDEX_MAGIC
    )
    return _parse_index_entries(plain, trailer.data_index_count)


def read_data_index(f, trailer: Trailer) -> list[tuple[int, int, bytes]]:
    """All DATA-block entries, walking the index tree breadth-first —
    the full-scan / split-planning view of a (possibly multi-level)
    index. Reads depth-1 levels of index blocks beyond the root; a
    single-level file costs exactly the old one root read."""
    entries = read_root_index(f, trailer)
    for _ in range(trailer.index_levels - 1):
        children: list[tuple[int, int, bytes]] = []
        for off, _size, _key in entries:
            plain = _read_block(f, off, trailer.compression, None)
            children.extend(_parse_index_entries(plain))
        entries = children
    return entries


def read_file_info(f, trailer: Trailer) -> dict[bytes, bytes]:
    plain = _read_block(
        f, trailer.file_info_offset, trailer.compression, FILE_INFO_MAGIC
    )
    if plain[:4] != PB_MAGIC:
        raise ValueError("file info lacks PBUF magic")
    n, pos = pb_read_varint(plain, 4)
    pairs = pb_parse(plain[pos : pos + n])
    out = {}
    for entry in pairs.get(1, []):
        kv = pb_parse(entry)
        out[kv[1][0]] = kv[2][0]
    return out


def read_bloom(
    f, trailer: Trailer, info: dict[bytes, bytes] | None = None
) -> tuple[bytes, int, int] | None:
    """(bitset, n_bits, n_hashes) of the row bloom, or None for files
    written without one (incl. all pre-bloom files — the keys are simply
    absent from their file info)."""
    if info is None:
        info = read_file_info(f, trailer)
    if FILEINFO_BLOOM_OFFSET not in info:
        return None
    (off,) = struct.unpack(">q", info[FILEINFO_BLOOM_OFFSET])
    (m,) = struct.unpack(">i", info[FILEINFO_BLOOM_NBITS])
    (k,) = struct.unpack(">i", info[FILEINFO_BLOOM_NHASH])
    bits = _read_block(f, off, trailer.compression, BLOOM_CHUNK_MAGIC)
    return bits, m, k


def bloom_may_contain(bloom: tuple[bytes, int, int], row: bytes) -> bool:
    """Standard double-hashing membership probe: g_i = h1 + i*h2 mod m
    over the row's md5 halves. False ⇒ the row is definitely absent."""
    bits, m, k = bloom
    d = hashlib.md5(row).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:16], "big")
    for i in range(k):
        # mask to 64 bits: the writer's probe runs in uint64 (numpy),
        # so the combined hash must wrap before the modulo
        g = ((h1 + i * h2) & 0xFFFFFFFFFFFFFFFF) % m
        if not (bits[g >> 3] >> (g & 7)) & 1:
            return False
    return True


def file_key_range(path: str) -> tuple[bytes, bytes]:
    """(first row, last row) from index + file info only — the metadata
    `LoadIncrementalHFiles.groupOrSplit` reads to place a file."""
    with open(path, "rb") as f:
        t = read_trailer(f)
        first_key = read_root_index(f, t)[0][2]
        last_key = read_file_info(f, t)[FILEINFO_LASTKEY]
    return decode_key(first_key)[0], decode_key(last_key)[0]


def iter_hfile(path: str) -> Iterator[tuple[bytes, bytes, bytes, int, bytes]]:
    """Full scan, index-ordered: yields (row, family, qualifier, ts, value)."""
    with open(path, "rb") as f:
        t = read_trailer(f)
        for off, _size, _key in read_data_index(f, t):
            plain = _read_block(f, off, t.compression, DATA_MAGIC)
            yield from _decode_cells(plain)


def decode_cells_arrow(
    plain: bytes,
    binary: bool = False,
    want_family: bool = True,
    want_qualifier: bool = True,
    want_ts: bool = True,
    want_value: bool = True,
):
    """Vectorized columnar cell decode: the mirror of
    ``HFileWriter.add_many_arrow``. One Python loop walks only the
    8-byte length headers to recover cell offsets (the offset chain is
    inherently sequential); every field is then extracted with numpy
    gathers and materialized as Arrow binary arrays built directly from
    offset+data buffers — no per-cell Python objects. ``binary=False``
    casts to utf8 (validated, like the scalar path's ``.decode()``).

    Returns a dict of ``pa.Array`` keyed ``rowkey/family/qualifier/ts/
    value`` (pruned columns absent). Its caller (the ``scan_hfiles``
    mapInArrow task) feeds Arrow, so measured end-to-end (decode THROUGH an Arrow
    record batch, 32 warm workers) this is ~1.4x the scalar
    decode-to-lists+pa.array path it replaced; feed it a whole split's
    concatenated block payloads, not single 64 KB blocks, or the
    per-call setup eats the win."""
    import numpy as np
    import pyarrow as pa

    u_ii = struct.Struct(">ii").unpack_from
    starts_l: list[int] = []
    klen_l: list[int] = []
    vlen_l: list[int] = []
    # the offset chain is inherently sequential — keep the loop minimal:
    # bound-method hoisting (r11, measured ~10% off the walk, which is
    # ~30% of a chunk decode). Two more variants A/B'd SLOWER (r11,
    # min-of-11 on a 10.5 MB/90k-cell buffer) — don't retry:
    # - one ">q" unpack + bigint shifts (k = q>>32; v = q&0xffffffff):
    #   28.2 ms vs 13.9 ms — Python bigint ops cost more than the
    #   struct tuple unpack they replace;
    # - 1-list walk (drop the k/v appends, recover klen/vlen by
    #   vectorized byte-gathers at starts): 17.0 ms vs 13.0 ms — two
    #   list appends are cheaper than 8 random-access gather passes
    #   over the buffer (cache misses).
    s_app, k_app, v_app = starts_l.append, klen_l.append, vlen_l.append
    pos = 0
    end = len(plain)
    while pos < end:
        k, v = u_ii(plain, pos)
        s_app(pos)
        k_app(k)
        v_app(v)
        pos += 8 + k + v
    n = len(starts_l)
    out_type = pa.binary() if binary else pa.string()
    if n == 0:
        cols = {"rowkey": pa.array([], out_type)}
        for name, want in (
            ("family", want_family),
            ("qualifier", want_qualifier),
            ("ts", want_ts),
            ("value", want_value),
        ):
            if want:
                cols[name] = pa.array([], pa.int64() if name == "ts" else out_type)
        return cols

    # index dtype stays int64: int32 index arrays were A/B'd in r11 and
    # changed nothing — numpy advanced indexing converts indices to
    # intp (int64) internally, so narrower indexes only add a cast
    i64 = np.int64
    buf = np.frombuffer(plain, np.uint8)
    st = np.array(starts_l, i64)
    klen = np.array(klen_l, i64)
    vlen = np.array(vlen_l, i64)
    rl = (buf[st + 8].astype(i64) << 8) | buf[st + 9]
    fl = buf[st + 10 + rl].astype(i64)

    # one shared ramp for every variable-width gather (profiling the
    # sf0.1 scan-back: a fresh np.arange per field was 0.61 s of a
    # 1.87 s per-region decode — the ramp is field-independent, build
    # the longest once and slice)
    _ramp: list = [None]

    def ramp(total: int) -> "np.ndarray":
        r = _ramp[0]
        if r is None or r.size < total:
            r = np.arange(total, dtype=i64)
            _ramp[0] = r
        return r[:total]

    def gather(field_starts: "np.ndarray", lens: "np.ndarray") -> pa.Array:
        total = int(lens.sum())
        # int64 cumsum lands in int32 Arrow offsets: guard the wrap —
        # unreachable today (callers bound payload via split_bytes) but
        # a silent wrap would yield garbage columns, not an error
        if total > 0x7FFFFFFF:
            raise ValueError(
                f"decoded payload {total} B exceeds int32 binary offsets; "
                "split the block batch"
            )
        width = int(lens[0])
        fixed = bool((lens == width).all())
        if fixed and width == 0:  # all-empty field (and arange step 0 raises)
            offsets = np.zeros(n + 1, np.int32)
        elif fixed:
            offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
        else:
            offsets = np.empty(n + 1, np.int32)
            offsets[0] = 0
            offsets[1:] = np.cumsum(lens)
        if total and fixed:
            # constant-width field (every hex rowkey, the family
            # literal, short qualifiers): broadcast-add builds the
            # index without np.repeat — ~2.5x the ragged path on the
            # bench cell shape (np.repeat was 0.58 s/region)
            data = buf[(field_starts[:, None] + ramp(width)).ravel()]
        elif total:
            idx = np.repeat(field_starts - (offsets[:-1].astype(i64)), lens)
            idx += ramp(total)
            data = buf[idx]
        else:
            data = np.empty(0, np.uint8)
        # pa.py_buffer wraps the ndarrays zero-copy (buffer protocol,
        # keeps them alive) — .tobytes() here was one avoidable memcpy
        # of the whole column per field
        arr = pa.Array.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
        )
        return arr if binary else arr.cast(pa.string())

    cols = {"rowkey": gather(st + 10, rl)}
    if want_family:
        cols["family"] = gather(st + 11 + rl, fl)
    if want_qualifier:
        cols["qualifier"] = gather(st + 11 + rl + fl, klen - 12 - rl - fl)
    if want_ts:
        ts_at = st + 8 + klen - 9
        ts2d = buf[np.add.outer(ts_at, np.arange(8, dtype=i64))]
        cols["ts"] = pa.array(
            np.ascontiguousarray(ts2d).view(">i8").ravel().astype(np.int64),
            pa.int64(),
        )
    if want_value:
        cols["value"] = gather(st + 8 + klen, vlen)
    return cols


def _row_span(first_rows: list[bytes], row: bytes) -> range:
    """Index entries that may hold cells of ``row``: from the last entry
    whose first row is strictly below ``row`` (entry 0 if none is)
    through the last whose first row is <= ``row``. HBase rolls blocks
    at cell boundaries, so a row may straddle blocks and begin in the
    entry before one whose first row it is. Empty if ``row`` sorts
    before every entry."""
    return range(
        max(bisect_left(first_rows, row) - 1, 0), bisect_right(first_rows, row)
    )


def hfile_get(path: str, row: bytes) -> list[tuple[bytes, int, bytes]]:
    """Point Get (`Table.get`): [(qualifier, ts, value)] for ``row``, []
    if absent — :func:`hfile_multi_get` of one row. A row whose cells
    straddle data blocks (HBase's writer rolls blocks at cell
    boundaries; this package's rolls at row boundaries) comes back
    whole."""
    return [(q, ts, v) for _r, _f, q, ts, v in hfile_multi_get(path, [row])]


def hfile_multi_get(
    path: str, rows: Iterable[bytes]
) -> list[tuple[bytes, bytes, bytes, int, bytes]]:
    """Point-get a batch of rows against one file (`Table.get(List<Get>)`).
    Returns [(row, family, qualifier, ts, value)] in row order over the
    distinct requested rows; absent rows contribute nothing.

    Per row: the row bloom, when the file has one, answers "absent" from
    one small block read with no index or data IO (BloomType.ROW). A
    present row walks the index tree down the entries :func:`_row_span`
    names at each level (one block read per level, O(log n) IO, unless
    the row starts an index entry and so may straddle into it), then
    seeks inside each candidate data block the way
    `HFileReaderImpl.blockSeek` does: it steps over the 8-byte cell
    headers and compares each key's length-prefixed row in place, so
    only the cells it returns are decoded. The length prefix keeps a
    row from matching a longer row it is a prefix of.

    Trailer, bloom and root index are read at most once per call; index
    blocks and plain (verified, decompressed) data blocks are cached by
    offset across the batch — the open-file analog of HBase's block
    cache. (HBase serves bloom and index from that cache across calls;
    here each call re-reads them.)"""
    out: list[tuple[bytes, bytes, bytes, int, bytes]] = []
    unpack_ii = _UNPACK_II
    with open(path, "rb") as f:
        t = read_trailer(f)
        bloom = read_bloom(f, t)
        # index blocks by offset; the root (key -1) is read on the first
        # row the bloom lets through
        index_cache: dict[int, tuple[list, list[bytes]]] = {}
        # bounded block cache: rows are visited in sorted order, so hits
        # are overwhelmingly on the most recent block; FIFO eviction at
        # 256 entries (~16 MB of 64 KB blocks) bounds task memory on
        # degenerate all-keys batches
        plain_cache: dict[int, bytes] = {}

        def data_blocks(row: bytes, off: int, depth: int) -> Iterator[int]:
            cached = index_cache.get(off)
            if cached is None:
                child = (
                    read_root_index(f, t) if off < 0 else
                    _parse_index_entries(_read_block(f, off, t.compression, None))
                )
                cached = (child, [decode_key(k)[0] for _, _, k in child])
                index_cache[off] = cached
            entries, first_rows = cached
            for j in _row_span(first_rows, row):
                if depth == 1:
                    yield entries[j][0]
                else:
                    yield from data_blocks(row, entries[j][0], depth - 1)

        for row in sorted(set(rows)):
            if bloom is not None and not bloom_may_contain(bloom, row):
                continue
            rl = len(row)
            head = _PACK_H(rl) + row
            matched = False
            for off in data_blocks(row, -1, t.index_levels):
                plain = plain_cache.get(off)
                if plain is None:
                    plain = _read_block(f, off, t.compression, DATA_MAGIC)
                    if len(plain_cache) >= 256:
                        plain_cache.pop(next(iter(plain_cache)))
                    plain_cache[off] = plain
                pos, end = 0, len(plain)
                while pos < end:
                    klen, vlen = unpack_ii(plain, pos)
                    k = pos + 8
                    pos = k + klen + vlen
                    if plain.startswith(head, k):
                        matched = True
                        fs = k + 3 + rl
                        qs = fs + plain[k + 2 + rl]
                        kend = k + klen
                        out.append((
                            row, plain[fs:qs], plain[qs : kend - 9],
                            _UNPACK_Q(plain, kend - 9)[0], plain[kend:pos],
                        ))
                    elif matched:  # a row's cells are contiguous
                        break
                else:
                    continue  # block ended inside or before the row
                break
    return out


# ---------------------------------------------------------------------------
# Split (LoadIncrementalHFiles.splitStoreFile analog)
# ---------------------------------------------------------------------------

def split_hfile(
    src: str, split_row: bytes, bottom_path: str, top_path: str
) -> tuple[dict | None, dict | None]:
    """Rewrite ``src`` as bottom (< split_row) + top (>= split_row) in
    :data:`TABLE_CODEC` — what `LoadIncrementalHFiles.splitStoreFile`
    does via Reference halves + `copyHFileHalf` when a file straddles a
    region boundary. Returns the non-empty halves' manifests."""
    bottom = HFileWriter(bottom_path)
    top = HFileWriter(top_path)
    for row, fam, qual, ts, value in iter_hfile(src):
        (bottom if row < split_row else top).add(row, fam, qual, ts, value)
    results = []
    for w in (bottom, top):
        if w.entry_count:
            results.append(w.close())
        else:
            w._f.close()
            os.unlink(w.path)
            results.append(None)
    return results[0], results[1]
