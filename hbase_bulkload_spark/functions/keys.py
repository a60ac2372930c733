"""Key-derivation scalar functions (SURVEY.md §2.3).

Reference semantics being re-expressed (file:line in /root/reference):

- MD5 digest of a field's UTF-8 bytes — `Md5Utils.java:12-20`. The
  reference emits 16 raw digest bytes; we canonicalize to the 32-char
  lowercase hex form (`F.md5`), which sorts identically to the raw bytes
  (hex is an order-preserving byte encoding) and avoids the reference's
  unsigned-byte-ordering trap.
- Composite row key: 4 digests concatenated, `KEY_WIDTH = 4 * 16` —
  `RowKeyConverter.java:7,13-30`. Here: 128 hex chars.
- Reversed-string key (Avro path spreads sequential ids across the
  `'0'..'9'` region splits) — `BulkImporterFromAvro.java:59`.
- Salt / bucket id, designed-but-disabled in the reference
  (`hashCode % REGION_COUNT`, left-padded; `REGION_COUNT = 10`) —
  `RowKeyConverter.java:8,20-25`.

All are pure `pyspark.sql.functions` column expressions: JVM-side,
whole-stage-codegen'd, zero Python in the hot path — at 100 TB these run
inside the scan stage with no extra pass.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

REGION_COUNT = 10  # reference: RowKeyConverter.java:8


def sql_name(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def md5_hex_sql(name: str) -> str:
    """SQL text of :func:`md5_hex` over the column ``name``."""
    return f"md5(coalesce(CAST({sql_name(name)} AS STRING), ''))"


def composite_rowkey_sql(*names: str) -> str:
    """SQL text of :func:`composite_rowkey` over the columns ``names``."""
    if not names:
        raise ValueError("composite_rowkey needs at least one column")
    return f"concat({', '.join(md5_hex_sql(c) for c in names)})"


def raw_binary_rowkey_sql(*names: str) -> str:
    """SQL text of :func:`raw_binary_rowkey` over the columns ``names``."""
    if not names:
        raise ValueError("raw_binary_rowkey needs at least one column")
    return f"concat({', '.join(f'unhex({md5_hex_sql(c)})' for c in names)})"


def md5_hex(name: str) -> Column:
    """32-char lowercase hex MD5 of the column's UTF-8 bytes.

    Matches `Md5Utils.java:12-20` (hex canonical form). Nulls hash as the
    empty string so a composite key is always full-width.
    """
    return F.expr(md5_hex_sql(name))


def composite_rowkey(*names: str) -> Column:
    """Concatenation of per-field MD5 digests → one fixed-width key.

    `RowKeyConverter.java:13-30` packs 4 × 16 raw bytes; we produce
    4 × 32 hex chars. Uniformly distributed by construction — the
    anti-hotspot property the reference bought with hashed keys.

    Like :func:`md5_hex` and :func:`raw_binary_rowkey`, it is built
    from its SQL text (:func:`composite_rowkey_sql`): one ``expr`` call
    per key instead of a JVM call per Column node, and one definition
    for callers that compose the text into a larger ``selectExpr``.
    The key functions take column names.
    """
    return F.expr(composite_rowkey_sql(*names))


def raw_binary_rowkey(*names: str) -> Column:
    """Reference-fidelity opt-in: the 64 RAW digest bytes,
    byte-identical to `RowKeyConverter.makeRowKey`
    (`RowKeyConverter.java:7,26-29`: `KEY_WIDTH = 4 * 16`, four
    16-byte MD5 digests packed back to back). Produces a `binary`
    column; Spark's unsigned lexicographic binary ordering matches
    HBase's `Bytes.compareTo`, so sorted output preserves the exact
    byte order a legacy consumer of the reference would see. The hex
    form (:func:`composite_rowkey`) remains the default — it sorts
    identically (hex is order-preserving) and is debuggable."""
    return F.expr(raw_binary_rowkey_sql(*names))


def positional_qualifier_bytes(i: int) -> bytes:
    """Reference-fidelity qualifier: `Bytes.toBytes(i)` — the 4-byte
    big-endian int the text/CSV/RC importers use as the column
    qualifier (`BulkImporterFromText.java:65`)."""
    import struct

    return struct.pack(">i", i)


def reverse_key(col: Column | str) -> Column:
    """Digit/string reversal key (`BulkImporterFromAvro.java:59`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.reverse(c.cast("string"))


def mod_bucket(col: Column | str, n: int = REGION_COUNT) -> Column:
    """Non-negative modulo bucket id — the reference's disabled salt
    (`RowKeyConverter.java:20-25`: `hashCode % REGION_COUNT`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(c, F.lit(n)).cast("int")


def salted_key(bucket: Column, key: Column, width: int = 2) -> Column:
    """Left-padded bucket prefix + key — the reference's commented-out
    salted-key layout (`RowKeyConverter.java:20-25`)."""
    return F.concat(F.lpad(bucket.cast("string"), width, "0"), F.lit("|"), key)


def _spread_bits32(c: Column) -> Column:
    """Spread a 32-bit value's bits to the even positions of a 64-bit
    lane (0babcd → 0b0a0b0c0d) with the classic mask-and-shift ladder —
    five shift/AND steps, all JVM codegen'd, no per-bit loop."""
    x = c.cast("bigint").bitwiseAND(F.lit(0xFFFFFFFF))
    x = x.bitwiseOR(F.shiftleft(x, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x3333333333333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return x


def zvalue(a: Column | str, b: Column | str) -> Column:
    """Z-order (Morton) curve value of two dimensions: bit interleave,
    ``a`` on even positions, ``b`` on odd. Sorting or
    range-partitioning by this single key co-locates rows that are
    close in BOTH dimensions, so parquet min/max row-group stats prune
    2-D range predicates — the multi-dimensional clustering trick
    (Delta/Iceberg `ZORDER BY`) expressed as one pure column expression.

    Lanes are 32-bit (64-bit zval): wide surrogate keys — l_partkey
    clears 16 bits above scale factor ~0.3 — interleave without
    wraparound, so the clustering property survives scale-up instead of
    silently degrading (a 16-bit mask wraps, shuffling far-apart keys
    into the same curve cell). Inputs are masked to 32 bits; keep ``b``
    under 2^31 so its top bit cannot reach the sign bit. For values
    below 2^16 the spread is bit-identical to a 16-bit ladder, so
    narrow-dimension layouts are unchanged."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return _spread_bits32(ca).bitwiseOR(F.shiftleft(_spread_bits32(cb), 1))


def hex_bucket(key: Column | str, chars: int = 1) -> Column:
    """Bucket = first hex char(s) of the key → 16**chars uniform buckets.

    The rebuild's replacement for the reference's region-split scheme: the
    DDL splits on ASCII '0'..'9' (`create_table.rb:1`) while raw MD5 keys
    are uniform over 0x00-0xFF — most data would land in 2 regions
    (SURVEY.md §2.14 note). Bucketing on the hex prefix balances exactly.
    """
    c = F.col(key) if isinstance(key, str) else key
    return F.substring(c, 1, chars)
