"""Avro record scan (SURVEY.md §2.1 op 5) without spark-avro.

The reference's fourth input format is Avro (`AvroKeyInputFormat<PWData>`,
`BulkImporterFromAvro.java:91`; schema `pw_schema.avsc` — a record of 9
``["null","string"]`` unions). This container ships no spark-avro jar and
installs are off-limits, so this module implements the public Avro 1.x
*Object Container File* spec directly (magic `Obj\\x01`, metadata map,
sync-marker-delimited blocks, zigzag-varint primitives) for the subset
the engine needs: records of primitives and ``["null", primitive]``
unions, null + deflate + snappy codecs (deflate = raw RFC-1951 per the
spec, stdlib zlib; snappy = raw snappy + 4-byte big-endian CRC32 of the
uncompressed data, per the spec's snappy codec section; blocks compress
independently so the split reader below
works on compressed containers unchanged — sync markers sit between
compressed blocks).

Spark integration is source-shaped, not driver-shaped:

- **write** (fixture materialization only): each partition of the record
  frame writes one ``part-N.avro`` via ``mapPartitionsWithIndex`` — the
  executors produce the files in parallel, the driver only coordinates.
- **read** (the actual scan operator): a sync-marker SPLIT reader —
  the driver reads only each file's header (schema + sync marker +
  data offset), carves byte-range splits, and executors decode the
  blocks whose start falls inside their range (scanning forward to
  the first sync, Hadoop input-split protocol). Intra-file
  parallelism no longer depends on file sizing: one misaligned 10 GB
  file becomes ``size/split_size`` tasks. ``scan_splits`` is the
  operator; ``iter_ocf`` reads a whole file through the same split
  reader.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from collections.abc import Iterable, Iterator

MAGIC = b"Obj\x01"
BLOCK_ROWS = 4096
CODECS = (b"null", b"", b"deflate", b"snappy")


def _deflate(payload: bytes) -> bytes:
    c = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw deflate, no zlib wrapper
    return c.compress(payload) + c.flush()


def _inflate(payload: bytes) -> bytes:
    return zlib.decompress(payload, -15)


def _snappy(payload: bytes) -> bytes:
    """Avro snappy block: raw-snappy data + 4-byte big-endian CRC32 of
    the UNCOMPRESSED data (Avro spec, "snappy codec")."""
    import pyarrow as pa

    comp = pa.Codec("snappy").compress(payload, asbytes=True)
    return comp + struct.pack(">I", zlib.crc32(payload) & 0xFFFFFFFF)


def _unsnappy(raw: bytes) -> bytes:
    import pyarrow as pa

    comp, (crc,) = raw[:-4], struct.unpack(">I", raw[-4:])
    # raw snappy's preamble is a LE varint of the uncompressed length —
    # parse it ourselves since pyarrow wants the size up front
    n = shift = 0
    for b in comp:
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    plain = pa.Codec("snappy").decompress(comp, n, asbytes=True)
    if zlib.crc32(plain) & 0xFFFFFFFF != crc:
        raise ValueError("avro snappy block CRC mismatch")
    return plain


#: codec name -> block decoder (None = stored uncompressed)
_DECODERS = {b"null": None, b"": None, b"deflate": _inflate, b"snappy": _unsnappy}


# ---------------------------------------------------------------------------
# Primitive codecs (Avro spec: zigzag varint longs, length-prefixed bytes)
# ---------------------------------------------------------------------------

def _enc_long(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)  # zigzag
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _dec_long(buf, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return (acc >> 1) ^ -(acc & 1), pos
        shift += 7


def _enc_value(v, typ) -> bytes:
    if isinstance(typ, list):  # union — branch index then value
        if v is None:
            return _enc_long(typ.index("null"))
        branch = next(i for i, t in enumerate(typ) if t != "null")
        return _enc_long(branch) + _enc_value(v, typ[branch])
    if typ == "string" or typ == "bytes":
        raw = v.encode("utf-8") if typ == "string" else v
        return _enc_long(len(raw)) + raw
    if typ == "long" or typ == "int":
        return _enc_long(int(v))
    if typ == "double":
        return struct.pack("<d", v)
    if typ == "float":
        return struct.pack("<f", v)
    if typ == "boolean":
        return b"\x01" if v else b"\x00"
    if typ == "null":
        return b""
    raise NotImplementedError(f"avro type {typ!r}")


def _dec_value(buf, pos: int, typ):
    if isinstance(typ, list):
        branch, pos = _dec_long(buf, pos)
        return _dec_value(buf, pos, typ[branch])
    if typ == "string":
        n, pos = _dec_long(buf, pos)
        return bytes(buf[pos : pos + n]).decode("utf-8"), pos + n
    if typ == "bytes":
        n, pos = _dec_long(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n
    if typ == "long" or typ == "int":
        return _dec_long(buf, pos)
    if typ == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if typ == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if typ == "boolean":
        b = buf[pos]
        return bool(b), pos + 1
    if typ == "null":
        return None, pos
    raise NotImplementedError(f"avro type {typ!r}")


# ---------------------------------------------------------------------------
# Schema helpers
# ---------------------------------------------------------------------------

def nullable_string_record(name: str, fields: list[str]) -> dict:
    """The pw_schema.avsc shape: a record of ``["null","string"]`` unions
    (`pw_schema.avsc:6-51`)."""
    return {
        "type": "record",
        "name": name,
        "fields": [{"name": f, "type": ["null", "string"]} for f in fields],
    }


def _field_types(schema: dict) -> list:
    return [f["type"] for f in schema["fields"]]


# ---------------------------------------------------------------------------
# Container file write / read
# ---------------------------------------------------------------------------

def _sync_marker(schema_json: str) -> bytes:
    # spec says "randomly generated"; a schema-derived marker is valid and
    # keeps fixture bytes reproducible run-to-run
    import hashlib

    return hashlib.md5(schema_json.encode()).digest()


def write_ocf(
    path: str, schema: dict, rows: Iterable[tuple], codec: str = "null"
) -> int:
    """Write one OCF (null, deflate, or snappy codec). ``rows`` are
    value tuples in field order. Returns the row count."""
    if codec not in ("null", "deflate", "snappy"):
        raise NotImplementedError(f"avro codec {codec!r}")
    schema_json = json.dumps(schema)
    sync = _sync_marker(schema_json)
    types = _field_types(schema)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}

    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(_enc_long(len(meta)))
        for k, v in meta.items():
            kb = k.encode()
            f.write(_enc_long(len(kb)) + kb + _enc_long(len(v)) + v)
        f.write(_enc_long(0))  # end of metadata map
        f.write(sync)

        n_total = 0
        block = io.BytesIO()
        n_block = 0

        def flush():
            nonlocal n_block
            if n_block:
                payload = block.getvalue()
                if codec == "deflate":
                    payload = _deflate(payload)
                elif codec == "snappy":
                    payload = _snappy(payload)
                f.write(_enc_long(n_block) + _enc_long(len(payload)))
                f.write(payload)
                f.write(sync)
                block.seek(0)
                block.truncate()
                n_block = 0

        for row in rows:
            for v, t in zip(row, types):
                block.write(_enc_value(v, t))
            n_block += 1
            n_total += 1
            if n_block >= BLOCK_ROWS:
                flush()
        flush()
    return n_total


def _read_header(buf: memoryview) -> tuple[dict[str, bytes], int]:
    """Parse the OCF header's metadata map; returns (meta, position past
    the header sync marker)."""
    if bytes(buf[:4]) != MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:  # metadata map: possibly multiple negative/positive blocks
        cnt, pos = _dec_long(buf, pos)
        if cnt == 0:
            break
        if cnt < 0:  # negative count is followed by a byte size; skip it
            _, pos = _dec_long(buf, pos)
            cnt = -cnt
        for _ in range(cnt):
            kn, pos = _dec_long(buf, pos)
            key = bytes(buf[pos : pos + kn]).decode()
            pos += kn
            vn, pos = _dec_long(buf, pos)
            meta[key] = bytes(buf[pos : pos + vn])
            pos += vn
    return meta, pos + 16  # skip the header sync marker


def header_info(path: str) -> tuple[dict, bytes, int, int, str]:
    """Read ONLY the container header: returns (schema, sync_marker,
    data_start, file_size, codec). The header is a few hundred bytes;
    this is the only per-file driver-side I/O the split planner needs."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        head = f.read(min(size, 1 << 20))  # headers are tiny; 1 MB is generous
    meta, data_start = _read_header(memoryview(head))
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null")
    if codec not in CODECS:
        raise NotImplementedError(f"avro codec {codec!r}")
    sync = head[data_start - 16 : data_start]
    return schema, sync, data_start, size, (codec or b"null").decode()


def iter_ocf_range(
    path: str,
    start: int,
    end: int,
    data_start: int,
    sync: bytes,
    types: list,
    codec: str = "null",
) -> Iterator[tuple]:
    """Decode the blocks whose start offset falls in ``[start, end)`` —
    the Hadoop input-split protocol: seek to the range, scan forward to
    the first sync marker (the range holding ``data_start`` owns the
    first block), then decode sequential blocks, reading past ``end``
    only to finish the last owned block. A sync-pattern collision
    inside a block payload mis-anchors the scan (the same accepted risk
    as Avro's own splittable readers; 2^-128 per byte)."""
    sl = len(sync)
    with open(path, "rb") as f:
        lo = data_start if start <= data_start else start - sl
        f.seek(lo)
        buf = bytearray(f.read(max(end - lo, 0)))
        if start <= data_start:
            pos = 0
        else:
            i = bytes(buf).find(sync)
            if i == -1 or lo + i + sl >= end:
                return  # no block starts in this range
            pos = i + sl
        while lo + pos < end and pos < len(buf):
            if len(buf) - pos < 20:  # two varints worst-case
                buf += f.read(20)
            n_rows, p = _dec_long(buf, pos)
            block_size, p = _dec_long(buf, p)
            missing = p + block_size + sl - len(buf)
            if missing > 0:
                buf += f.read(missing)
            decode_block = _DECODERS[codec.encode() if isinstance(codec, str) else codec]
            if decode_block is not None:
                src: bytes | bytearray = decode_block(bytes(buf[p : p + block_size]))
                rp = 0
            else:
                src, rp = buf, p
            for _ in range(n_rows):
                row = []
                for t in types:
                    v, rp = _dec_value(src, rp, t)
                    row.append(v)
                yield tuple(row)
            pos = p + block_size + sl


def iter_ocf(path: str) -> Iterator[tuple]:
    """Decode one whole OCF into value tuples: :func:`iter_ocf_range`
    over the file's whole data region."""
    schema, sync, data_start, size, codec = header_info(path)
    return iter_ocf_range(
        path, data_start, size, data_start, sync, _field_types(schema), codec
    )


def scan_splits(spark, path: str, split_size: int | None = None):
    """The Avro scan operator (op 5): sync-marker byte-range splits →
    one Arrow-batched ``mapInPandas`` decode stage.

    The driver reads one tiny header per file (schema, sync, data
    offset) and plans byte-range splits
    (`sources.split_planning.byte_split_frame`), so scan parallelism
    tracks DATA volume, not file count — a single misaligned 10 GB
    container becomes ~80 tasks at a 128 MB split. ``split_size=None``
    (default) sizes splits adaptively à la Spark's own file planner
    (min(128 MB, max(1 MB, bytes/core))), so a small table still fans
    out across every core of the CPU-bound Python decode instead of one
    task per file.
    All files must share one record schema (the reference's
    `AvroKeyInputFormat<PWData>` assumes the same). Returns a DataFrame
    of the record fields as nullable strings/primitives per the schema.
    """
    import glob as _glob

    import pandas as pd

    from hbase_bulkload_spark.sources.split_planning import byte_split_frame

    files = sorted(_glob.glob(os.path.join(path, "*.avro")))
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")

    headers = [(p, header_info(p)) for p in files]
    schema = headers[0][1][0]
    types = _field_types(schema)
    names = [f["name"] for f in schema["fields"]]
    # header_info: (schema, sync, data_start, size, codec)
    sdf = byte_split_frame(spark, [(p, *h[1:]) for p, h in headers], split_size)

    def decode(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                rows = list(
                    iter_ocf_range(
                        r.path, r.start, r.end, r.data_start,
                        bytes.fromhex(r.sync), types, r.codec,
                    )
                )
                yield pd.DataFrame(rows, columns=names, dtype=object)

    out_schema = ", ".join(f"{n} {spark_type(t)}" for n, t in zip(names, types))
    return sdf.mapInPandas(decode, out_schema)


def spark_type(t) -> str:
    """Avro field type → Spark DDL type (nullable-union unwrapped;
    int→long / float→double widenings are deliberate)."""
    if isinstance(t, list):  # union: type of the non-null branch
        t = next(x for x in t if x != "null")
    return {
        "string": "string", "int": "long", "long": "long",
        "float": "double", "double": "double",
        "boolean": "boolean", "bytes": "binary",
    }[t]


def write_partitioned(df, path: str, schema: dict) -> int:
    """Materialize a DataFrame as one OCF file per partition (executor-side
    parallel write; the driver never sees the rows). Column order must
    match ``schema['fields']``."""
    os.makedirs(path, exist_ok=True)
    cols = [f["name"] for f in schema["fields"]]
    df = df.select(*cols)

    def write_part(idx: int, rows) -> Iterator[int]:
        part = os.path.join(path, f"part-{idx:05d}.avro")
        yield write_ocf(part, schema, (tuple(r) for r in rows))

    total = df.rdd.mapPartitionsWithIndex(write_part).sum()
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass
    return total
