"""Seeded input generators for the workload benchmark.

Every generator takes the workload seed, runs in the calling process
(no threads, no Spark), writes plain files under ``out_dir`` and returns
the *expected* facts the output checks need. The expectations are derived
here, independently of the package: the arity gate, the MD5 composite
rowkey and the shingle sets are recomputed with the standard library, so a
bug shared by the program's writer and reader cannot hide.

The Avro writer below is a deliberately separate, minimal OCF encoder
(zigzag varints, ``["null","string"]`` unions, raw-deflate blocks) so the
package's decoder is checked against bytes it did not produce.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import zlib

N_COLUMNS = 9
KEY_COLS = 4
COLS = [f"z{i}" for i in range(N_COLUMNS)]
WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
]


def rowkey(fields) -> str:
    """The composite rowkey: concatenated lowercase hex MD5 of each key
    field's UTF-8 bytes (a missing field hashes as the empty string)."""
    return "".join(
        hashlib.md5((f or "").encode()).hexdigest() for f in fields[:KEY_COLS]
    )


def _record(rng: random.Random, i: int) -> list[str]:
    return [
        f"r{rng.randrange(500):03d}",
        f"u{rng.randrange(10**7):07d}",
        f"2026-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}",
        str(i),
        rng.choice(WORDS) + "-" + rng.choice(WORDS),
        str(rng.randrange(10**6)),
        f"{rng.random() * 1000:.3f}",
        " ".join(rng.choice(WORDS) for _ in range(rng.randrange(1, 6))),
        rng.choice(WORDS).upper(),
    ]


def csv_records(
    out_dir: str,
    seed: int,
    n_rows: int,
    bad_arity: float = 0.01,
    empty_last: float = 0.005,
    empty_mid: float = 0.02,
    dup_keys: float = 0.05,
) -> dict:
    """One 9-column comma-separated file with planted defects:

    - ``bad_arity``: rows with 8 or 10 fields (skipped by the arity gate);
    - ``empty_last``: rows whose last field is empty (trailing empty fields
      are dropped before the gate, so these are skipped too);
    - ``empty_mid``: rows with one empty middle value field (kept; the
      empty string becomes a cell);
    - ``dup_keys``: rows reusing an earlier row's key tuple (same rowkey,
      new values).

    Returns the path, byte size, line counts, and ``cells``: the expected
    rowkey → sorted [(qualifier, value)] map of every valid row."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "records.csv")
    cells: dict[str, list[tuple[str, str]]] = {}
    keys_seen: list[list[str]] = []
    n_valid = n_dup = 0
    lines = []
    for i in range(n_rows):
        rec = _record(rng, i)
        u = rng.random()
        if keys_seen and u < dup_keys:
            rec[:KEY_COLS] = rng.choice(keys_seen)
            n_dup += 1
        elif u < dup_keys + empty_mid:
            rec[rng.randrange(KEY_COLS, N_COLUMNS - 1)] = ""
        elif u < dup_keys + empty_mid + empty_last:
            rec[-1] = ""
        elif u < dup_keys + empty_mid + empty_last + bad_arity:
            if rng.random() < 0.5:
                rec.pop(rng.randrange(KEY_COLS, N_COLUMNS))
            else:
                rec.insert(rng.randrange(KEY_COLS, N_COLUMNS), "x")
        line = ",".join(rec)
        lines.append(line)
        # the reference's gate: split on ',' after dropping trailing
        # empty fields; keep iff exactly N_COLUMNS fields
        fields = line.rstrip(",").split(",")
        if len(fields) == N_COLUMNS:
            n_valid += 1
            keys_seen.append(fields[:KEY_COLS])
            cells.setdefault(rowkey(fields), []).extend(zip(COLS, fields))
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    for v in cells.values():
        v.sort()
    return {
        "path": path,
        "bytes": os.path.getsize(path),
        "n_input": n_rows,
        "n_valid": n_valid,
        "n_dup_key_rows": n_dup,
        "n_cells": n_valid * N_COLUMNS,
        "cells": cells,
    }


# ---------------------------------------------------------------------------
# Avro OCF (independent minimal encoder)
# ---------------------------------------------------------------------------

def _zz(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _avro_str(s: str) -> bytes:
    b = s.encode()
    return _zz(len(b)) + b


def _write_ocf(path: str, rows: list[list[str | None]], sync: bytes, block_rows: int):
    schema = {
        "type": "record",
        "name": "Rec",
        "fields": [{"name": c, "type": ["null", "string"]} for c in COLS],
    }
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": b"deflate"}
    with open(path, "wb") as f:
        f.write(b"Obj\x01" + _zz(len(meta)))
        for k, v in meta.items():
            f.write(_avro_str(k) + _zz(len(v)) + v)
        f.write(_zz(0) + sync)
        for s in range(0, len(rows), block_rows):
            block = rows[s : s + block_rows]
            raw = b"".join(
                b"\x00" if v is None else b"\x02" + _avro_str(v)
                for r in block
                for v in r
            )
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = c.compress(raw) + c.flush()
            f.write(_zz(len(block)) + _zz(len(payload)) + payload + sync)


def avro_records(
    out_dir: str, seed: int, n_rows: int, null_share: float = 0.03,
    block_rows: int = 2000,
) -> dict:
    """Deflate Avro container files of 9 nullable string fields (one holds
    48 random hex characters, so blocks do not compress away): one file
    holds two thirds of the rows and spans more than one 1 MiB scan split,
    the rest are spread over three smaller files. ``null_share`` of value
    fields are null and yield no cell. Returns paths, sizes, the expected
    cell count and the set of expected rowkeys."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows = []
    n_cells = 0
    for i in range(n_rows):
        rec: list[str | None] = list(_record(rng, i))
        rec[7] = rng.randbytes(24).hex()
        for j in range(KEY_COLS, N_COLUMNS):
            if rng.random() < null_share:
                rec[j] = None
        n_cells += sum(v is not None for v in rec)
        rows.append(rec)
    big = 2 * n_rows // 3
    parts = [rows[:big]]
    step = (n_rows - big + 2) // 3
    parts += [rows[s : s + step] for s in range(big, n_rows, step)]
    files = []
    for k, part in enumerate(parts):
        p = os.path.join(out_dir, f"part-{k:02d}.avro")
        _write_ocf(p, part, rng.randbytes(16), block_rows)
        files.append(p)
    sizes = [os.path.getsize(p) for p in files]
    return {
        "path": out_dir,
        "files": len(files),
        "bytes": sum(sizes),
        "largest_file_bytes": max(sizes),
        "n_input": n_rows,
        "n_cells": n_cells,
        "rowkeys": {rowkey(r) for r in rows},
    }


# ---------------------------------------------------------------------------
# Near-duplicate corpus
# ---------------------------------------------------------------------------

def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams of single-space tokenized text."""
    w = text.split(" ")
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def corpus(
    out_dir: str,
    seed: int,
    n_docs: int,
    threshold: float,
    cluster_share: float = 0.15,
    cluster_sizes: tuple[int, ...] = (2, 3, 4),
    mutate: float = 0.04,
    vocab: int = 20000,
) -> dict:
    """A parquet corpus (doc_id long, text string) of random word
    sequences with planted near-duplicate clusters: ``cluster_share`` of
    the documents are members of clusters whose other members are copies
    with ``mutate`` of their words replaced. Planted pairs are the
    within-cluster pairs whose exact shingle Jaccard is ≥ ``threshold``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    def doc() -> list[str]:
        return [f"w{rng.randrange(vocab)}" for _ in range(rng.randrange(40, 80))]

    texts: list[str] = []
    clusters: list[list[int]] = []
    n_clustered_target = int(n_docs * cluster_share)
    while sum(map(len, clusters)) < n_clustered_target:
        base = doc()
        members = []
        for _ in range(rng.choice(cluster_sizes)):
            w = list(base)
            for _ in range(max(1, int(len(w) * mutate))):
                w[rng.randrange(len(w))] = f"w{rng.randrange(vocab)}"
            members.append(len(texts))
            texts.append(" ".join(w))
        clusters.append(members)
    while len(texts) < n_docs:
        texts.append(" ".join(doc()))
    # shuffle ids so cluster members are not adjacent
    order = list(range(len(texts)))
    rng.shuffle(order)
    new_id = {old: new for new, old in enumerate(order)}
    texts = [texts[old] for old in order]
    clusters = [sorted(new_id[m] for m in c) for c in clusters]
    planted = set()
    for c in clusters:
        for i, a in enumerate(c):
            for b in c[i + 1 :]:
                if jaccard(shingles(texts[a]), shingles(texts[b])) >= threshold:
                    planted.add((a, b))
    path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        path,
    )
    sizes: dict[int, int] = {}
    for c in clusters:
        sizes[len(c)] = sizes.get(len(c), 0) + 1
    return {
        "path": path,
        "n_docs": len(texts),
        "texts": texts,
        "planted_pairs": planted,
        "cluster_sizes": sizes,
    }
